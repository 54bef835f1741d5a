package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Kernels

/** Byte-pair-encoding tokenizer TRAINING at corpus scale (Sennrich et al.
  * 2016) — the vocabulary-learning step every LLM data pipeline runs
  * before token counting, packing or budget selection can be meaningful.
  *
  * The Spark-first shape is the one every production trainer
  * (sentencepiece, HF tokenizers) uses: BPE training is a pure function
  * of the WORD-FREQUENCY table, not the corpus — so the only distributed
  * work is ONE map-side-combined `groupBy(word).count` (plus an optional
  * top-`maxVocabWords` cap, a `TakeOrderedAndProject`), and the merge
  * loop runs on the driver over that bounded table. 100 TB of text
  * becomes a few million (word, count) rows before the loop starts; the
  * driver never sees a document.
  *
  * Determinism contract (what makes the result reproducible across
  * partitionings and engines): the merge chosen each round is the
  * max-count pair with `(left, right)` LEXICOGRAPHIC tie-break, and the
  * word table is capped by `(count DESC, word ASC)` — both total orders.
  *
  * Application ([[encode]]) is the standard greedy lowest-rank merging,
  * compiled ([[graft.functions.Kernels.bpeEncode]]) — a zero-shuffle map
  * stage; `encode(train(corpus), corpus)` is how q30-style token budgets
  * would be computed under a LEARNED vocabulary instead of the regex
  * heuristic.
  *
  * Reference surface parity note: the reference engine has no tokenizer
  * surface; this is part of the beyond-the-reference LLM-pipeline
  * mandate (SURVEY §2.13).
  */
object Bpe {

  /** Learn `numMerges` merge rules from the corpus. Words are the
    * engine-wide `\s+`-run convention; symbols start as code points.
    * `minCount` drops hapax noise before the cap; `maxVocabWords` bounds
    * the driver table (the ONLY collect in the operator — capped by
    * construction).
    */
  def train(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 1L,
      maxVocabWords: Int = 1000000): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxVocabWords > 0, s"maxVocabWords must be positive, got $maxVocabWords")
    val words = df
      .select(explode(filter(split(col(textCol), "\\s+"), w => w =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount)
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxVocabWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainOnWordCounts(words, numMerges)
  }

  /** The driver merge loop, exposed for spec-level verification against
    * hand-computed goldens. `words` is (word, frequency).
    *
    * INCREMENTAL algorithm (the one every production trainer uses): the
    * weighted adjacent-pair table is built ONCE, then each round (a)
    * pops the argmax from a lazy-deletion max-heap ordered by
    * `(count DESC, left, right)` code-point order, and (b) touches ONLY
    * the words containing the merged pair (a `pair -> word ids` index),
    * delta-updating the pair table for those words. Cost per round is
    * O(total length of affected words + log #pairs) instead of
    * O(vocab × word length) — the difference between hours and minutes
    * at production vocab sizes (30k–50k merges over millions of words).
    *
    * The selection order is IDENTICAL to a full rescan: the heap
    * comparator is the same total order the rescan argmax used, and the
    * pair table always holds exact global counts (each touched word
    * subtracts its full before-state and adds its full after-state).
    */
  def trainOnWordCounts(
      words: Array[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    type Pair = (String, String)
    // symbol sequences as mutable buffers; counts parallel array
    val syms = words.map { case (w, _) =>
      val b = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b
    }
    val counts = words.map(_._2)

    // exact global pair counts; java.lang.Long values for null-checks
    val pairCount = new java.util.HashMap[Pair, java.lang.Long]()
    // pair -> word ids that contained it at some point (lazy — stale ids
    // are skipped at processing time; buckets may hold duplicates, a
    // per-round seen-set dedupes)
    val pairWords = new java.util.HashMap[Pair, scala.collection.mutable.ArrayBuffer[Int]]()
    // lazy-deletion max-heap: every count CHANGE pushes the new value, so
    // the live (count, pair) entry is always present; popped entries are
    // valid iff they match the current table value
    final case class Entry(c: Long, l: String, r: String)
    val heap = new java.util.PriorityQueue[Entry](
      math.max(64, words.length),
      new java.util.Comparator[Entry] {
        def compare(x: Entry, y: Entry): Int = {
          if (x.c != y.c) java.lang.Long.compare(y.c, x.c)
          else {
            val l = cmpCodePoints(x.l, y.l)
            if (l != 0) l else cmpCodePoints(x.r, y.r)
          }
        }
      })

    def indexWord(p: Pair, w: Int): Unit = {
      var b = pairWords.get(p)
      if (b == null) {
        b = scala.collection.mutable.ArrayBuffer.empty[Int]
        pairWords.put(p, b)
      }
      b += w
    }
    // delta-update a pair's global count and keep the heap's live entry
    def bump(p: Pair, delta: Long): Unit = {
      val prev = pairCount.get(p)
      val nv = (if (prev == null) 0L else prev.longValue) + delta
      if (nv <= 0L) pairCount.remove(p)
      else {
        pairCount.put(p, java.lang.Long.valueOf(nv))
        heap.add(Entry(nv, p._1, p._2))
      }
    }

    // build the initial table in one pass; heap seeded with one entry
    // per distinct pair (not per occurrence)
    {
      val seenInWord = new java.util.HashSet[Pair]()
      var w = 0
      while (w < syms.length) {
        val s = syms(w)
        val c = counts(w)
        seenInWord.clear()
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          val prev = pairCount.get(k)
          pairCount.put(k,
            java.lang.Long.valueOf((if (prev == null) 0L else prev.longValue) + c))
          if (seenInWord.add(k)) indexWord(k, w)
          i += 1
        }
        w += 1
      }
      val it = pairCount.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        heap.add(Entry(e.getValue.longValue, e.getKey._1, e.getKey._2))
      }
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    val seenWord = new java.util.HashSet[Integer]()
    val newPairSeen = new java.util.HashSet[Pair]()
    while (round < numMerges && !exhausted) {
      // argmax with (count DESC, left ASC, right ASC); string order is
      // CODE-POINT order (== UTF-8 byte order), not UTF-16 code units,
      // so any engine's binary collation replays the same tie-break
      var best: Pair = null
      var popping = true
      while (popping) {
        val e = heap.poll()
        if (e == null) { exhausted = true; popping = false }
        else {
          val cur = pairCount.get((e.l, e.r))
          if (cur != null && cur.longValue == e.c) {
            best = (e.l, e.r)
            popping = false
          } // else stale — the live entry is still in the heap
        }
      }
      if (!exhausted) {
        merges += best
        val merged = best._1 + best._2
        val bucket = pairWords.remove(best)
        seenWord.clear()
        if (bucket != null) {
          var bi = 0
          while (bi < bucket.length) {
            val w = bucket(bi)
            if (seenWord.add(w)) {
              val s = syms(w)
              // stale-index skip: the word may no longer contain the pair
              var has = false
              var i = 0
              while (!has && i < s.length - 1) {
                if (s(i) == best._1 && s(i + 1) == best._2) has = true
                i += 1
              }
              if (has) {
                val c = counts(w)
                // subtract this word's full before-state ...
                i = 0
                while (i < s.length - 1) { bump((s(i), s(i + 1)), -c); i += 1 }
                // ... apply the SAME left-to-right non-overlapping merge
                // pass as always (the output contract must not move) ...
                i = 0
                while (i < s.length - 1) {
                  if (s(i) == best._1 && s(i + 1) == best._2) {
                    s(i) = merged
                    s.remove(i + 1)
                  }
                  i += 1
                }
                // ... and add back the full after-state. Only pairs
                // touching the NEW symbol need (re-)indexing — every
                // other pair in the word was already indexed.
                newPairSeen.clear()
                i = 0
                while (i < s.length - 1) {
                  val p = (s(i), s(i + 1))
                  bump(p, c)
                  if ((p._1 == merged || p._2 == merged) && newPairSeen.add(p))
                    indexWord(p, w)
                  i += 1
                }
              }
            }
            bi += 1
          }
        }
        // the left-to-right pass removes every adjacent occurrence, so
        // the merged pair must be gone from the global table. Explicit
        // throw (NOT scala `assert`): the guard that the incremental
        // pair table stayed consistent with rescan semantics must
        // survive -Xdisable-assertions production builds.
        if (pairCount.get(best) != null)
          throw new IllegalStateException(
            s"BPE invariant violated: merged pair $best still has count ${pairCount.get(best)}")
        round += 1
      }
    }
    merges.toSeq
  }

  /** Code-point-order string comparison (== UTF-8 binary collation). */
  private def cmpCodePoints(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** BPE token array of the text under the trained merges (compiled,
    * zero shuffle).
    */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    Kernels.bpeEncode(text, merges)

  /** Token count under the learned vocabulary. */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column =
    size(encode(text, merges))

  /** The merges as a (rank, left, right) DataFrame — the persistable
    * vocabulary artifact.
    */
  def mergesTable(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
  }
}
