package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Kernels, SpTables}

/** SentencePiece UNIGRAM-LM tokenizer (Kudo 2018; the sentencepiece
  * `--model_type=unigram` family behind T5/Gemma/LLaMA exports) — the
  * other production tokenizer family next to the BPE pair ([[Bpe]]
  * word-level Sennrich, [[ByteBpe]] byte-level GPT-2): instead of a
  * merge list, the model is a PIECE VOCABULARY with unigram
  * log-probabilities, trained by EM over segmentation lattices and
  * applied by Viterbi (max-likelihood segmentation).
  *
  * Spark-first shape (the [[Bpe]] argument verbatim): unigram training
  * is a pure function of the WORD-FREQUENCY table — with
  * sentencepiece's default `split_by_whitespace=true`, pieces never
  * cross word boundaries, so both the EM lattices and the Viterbi
  * decompose per word. The ONLY distributed work is one
  * map-side-combined `groupBy(word).count` (+ the top-`maxVocabWords`
  * cap); EM runs on the driver over that bounded table; encoding is a
  * compiled zero-shuffle map pass ([[Kernels.spEncodePieces]]).
  *
  * Faithfulness notes (documented deviations, the adasyn convention):
  *  - seeding takes the `seedMultiplier * vocabSize` most frequent
  *    substrings (count-weighted, length-capped) where sentencepiece
  *    uses a suffix-array enumeration — same family, simpler cap;
  *  - pruning drops the multi-char pieces with the LOWEST expected
  *    count each round (25% per round, Kudo's shrink factor) instead
  *    of ranking by exact likelihood loss;
  *  - out-of-vocabulary codepoints encode as single-char fallback
  *    pieces at a constant penalty (the byte_fallback analog) rather
  *    than a trained <unk> — encoding is total and decode lossless up
  *    to whitespace normalization.
  * Everything else is the paper's algorithm: forward-backward expected
  * counts in log space, maximum-likelihood M-step, Viterbi encode with
  * a pinned tie-break (strict >, ascending split points — ties go to
  * the longest final piece).
  *
  * Determinism contract: the word table is capped by (count DESC, word
  * ASC); seed selection by (count DESC, piece ASC); every EM
  * accumulation iterates pieces and words in their sorted order — so
  * the trained model is a pure function of the word-frequency table.
  */
object SentencePiece {

  /** A trained unigram vocabulary: (piece, natural-log prob), sorted by
    * piece; single codepoints of the training corpus are always kept
    * (full character coverage).
    */
  final case class Model(pieces: Seq[(String, Double)], fallbackLogProb: Double) {
    private[text] lazy val tables =
      new SpTables(pieces.map(_._1).toArray, pieces.map(_._2).toArray, fallbackLogProb)
    def vocabSize: Int = pieces.length
  }

  /** Learn a unigram vocabulary of (up to) `vocabSize` pieces. */
  def train(
      df: DataFrame,
      textCol: String,
      vocabSize: Int,
      maxPieceLen: Int = 8,
      seedMultiplier: Int = 4,
      emIters: Int = 2,
      pruneRounds: Int = 10,
      minCount: Long = 1L,
      maxVocabWords: Int = 1000000): Model = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val words = df
      .select(explode(filter(split(col(textCol), "\\s+"), w => w =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount)
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxVocabWords)
      .collect()
      .map(r => ("\u2581" + r.getString(0), r.getLong(1)))
    trainOnWordCounts(words, vocabSize, maxPieceLen, seedMultiplier, emIters, pruneRounds)
  }

  /** The driver EM + prune loop, exposed for spec-level verification.
    * `words` already carry the '▁' prefix.
    */
  def trainOnWordCounts(
      words: Array[(String, Long)],
      vocabSize: Int,
      maxPieceLen: Int = 8,
      seedMultiplier: Int = 4,
      emIters: Int = 2,
      pruneRounds: Int = 10): Model = {
    require(words.nonEmpty, "cannot train a SentencePiece model on an empty corpus")
    // ---- seed: single codepoints (always kept) + frequent substrings ----
    val subCount = new java.util.HashMap[String, java.lang.Long]()
    words.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var j = i
        var cps = 0
        while (j < w.length && cps < maxPieceLen) {
          j = w.offsetByCodePoints(j, 1)
          cps += 1
          val sub = w.substring(i, j)
          val prev = subCount.get(sub)
          subCount.put(sub,
            java.lang.Long.valueOf((if (prev == null) 0L else prev.longValue) + c))
        }
        i = w.offsetByCodePoints(i, 1)
      }
    }
    val all = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val it = subCount.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue.longValue)) }
      buf.toArray
    }
    val isSingle = (p: String) => p.codePointCount(0, p.length) == 1
    val singles = all.filter(t => isSingle(t._1)).map(_._1).sorted
    val seedBudget = math.max(0, seedMultiplier * vocabSize - singles.length)
    val multiSeed = all.filter(t => !isSingle(t._1))
      .sortBy { case (p, c) => (-c, p) }
      .take(seedBudget)
      .map(_._1)
    // working vocabulary: sorted piece array + parallel log-probs,
    // initialized from the seed counts (count-proportional)
    var pieces: Array[String] = (singles ++ multiSeed).sorted
    var logProbs: Array[Double] = {
      val tot = pieces.map(p => subCount.get(p).longValue.toDouble).sum
      pieces.map(p => math.log(subCount.get(p).longValue.toDouble / tot))
    }
    val targetMulti = math.max(0, vocabSize - singles.length)

    def runEm(iters: Int): Array[Double] = {
      var expected: Array[Double] = null
      var it = 0
      while (it < iters) {
        expected = emExpectedCounts(words, pieces, logProbs, maxPieceLen)
        val tot = expected.sum
        // keep every piece strictly positive (add-epsilon floor) so the
        // lattice never loses a seed piece mid-EM; pruning is explicit
        val floor = 1e-12
        logProbs = expected.map(c => math.log((c + floor) / (tot + floor * expected.length)))
        it += 1
      }
      expected
    }

    var round = 0
    var done = false
    while (!done && round < pruneRounds) {
      val expected = runEm(emIters)
      val multiIdx = pieces.indices.filter(i => !isSingle(pieces(i)))
      if (multiIdx.length <= targetMulti) done = true
      else {
        // prune the lowest-expected-count quarter (ties on the piece
        // string), but never below the target
        val keepCount = math.max(targetMulti, (multiIdx.length * 3) / 4)
        val ranked = multiIdx.sortBy(i => (-expected(i), pieces(i)))
        val keep = ranked.take(keepCount).toSet
        val keptIdx = pieces.indices.filter(i => isSingle(pieces(i)) || keep.contains(i))
        pieces = keptIdx.map(pieces).toArray
        logProbs = keptIdx.map(logProbs).toArray
        // renormalize after pruning
        val mx = logProbs.max
        val z = math.log(logProbs.map(lp => math.exp(lp - mx)).sum) + mx
        logProbs = logProbs.map(_ - z)
      }
      round += 1
    }
    runEm(1) // final re-estimation on the pruned vocabulary
    // fallback penalty: well below the worst in-vocab piece
    val fallback = logProbs.min - 10.0
    Model(pieces.zip(logProbs).toSeq, fallback)
  }

  /** Forward-backward expected piece counts over every word's
    * segmentation lattice (log space, natural log), weighted by word
    * frequency. Returns counts parallel to `pieces`.
    */
  private def emExpectedCounts(
      words: Array[(String, Long)],
      pieces: Array[String],
      logProbs: Array[Double],
      maxPieceLen: Int): Array[Double] = {
    val idx = new java.util.HashMap[String, Integer](pieces.length * 2)
    pieces.indices.foreach(i => idx.put(pieces(i), Integer.valueOf(i)))
    val maxLen = pieces.foldLeft(1)((m, p) => math.max(m, p.length))
    val out = new Array[Double](pieces.length)
    words.foreach { case (w, freq) =>
      val L = w.length
      @inline def boundary(i: Int): Boolean =
        i == 0 || i == L || !Character.isLowSurrogate(w.charAt(i))
      // forward
      val alpha = Array.fill(L + 1)(Double.NegativeInfinity)
      alpha(0) = 0.0
      var i = 1
      while (i <= L) {
        if (boundary(i)) {
          var j = math.max(0, i - maxLen)
          while (j < i) {
            if (boundary(j) && alpha(j) != Double.NegativeInfinity) {
              val pi = idx.get(w.substring(j, i))
              if (pi != null) {
                val v = alpha(j) + logProbs(pi.intValue)
                alpha(i) = logAdd(alpha(i), v)
              }
            }
            j += 1
          }
        }
        i += 1
      }
      if (alpha(L) != Double.NegativeInfinity) {
        // backward
        val beta = Array.fill(L + 1)(Double.NegativeInfinity)
        beta(L) = 0.0
        i = L - 1
        while (i >= 0) {
          if (boundary(i)) {
            var j = i + 1
            val cap = math.min(L, i + maxLen)
            while (j <= cap) {
              if (boundary(j) && beta(j) != Double.NegativeInfinity) {
                val pi = idx.get(w.substring(i, j))
                if (pi != null) {
                  val v = beta(j) + logProbs(pi.intValue)
                  beta(i) = logAdd(beta(i), v)
                }
              }
              j += 1
            }
          }
          i -= 1
        }
        // posterior counts
        val z = alpha(L)
        i = 0
        while (i < L) {
          if (boundary(i) && alpha(i) != Double.NegativeInfinity) {
            var j = i + 1
            val cap = math.min(L, i + maxLen)
            while (j <= cap) {
              if (boundary(j) && beta(j) != Double.NegativeInfinity) {
                val pi = idx.get(w.substring(i, j))
                if (pi != null) {
                  val post = math.exp(alpha(i) + logProbs(pi.intValue) + beta(j) - z)
                  out(pi.intValue) += freq * post
                }
              }
              j += 1
            }
          }
          i += 1
        }
      }
      ()
    }
    out
  }

  @inline private def logAdd(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else if (a >= b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))

  /** Viterbi piece array of the text under the trained model (compiled,
    * zero shuffle): array<string>, '▁'-prefixed word starts.
    */
  def encodePieces(text: Column, model: Model): Column =
    Kernels.spEncodePieces(text, model.tables)

  /** Piece count under the trained model. */
  def tokenCount(text: Column, model: Model): Column =
    size(encodePieces(text, model))

  /** Inverse of [[encodePieces]] up to whitespace normalization
    * (driver-side): concat pieces, '▁' back to space, trim the leading
    * one.
    */
  def decode(pieces: Seq[String]): String =
    pieces.mkString.replace('\u2581', ' ').stripPrefix(" ")

  /** The vocabulary as a (piece, log_prob) DataFrame — the persistable
    * artifact shape.
    */
  def vocabTable(spark: org.apache.spark.sql.SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.pieces.toDF("piece", "log_prob")
  }
}
