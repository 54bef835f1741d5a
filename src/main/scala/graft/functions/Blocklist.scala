package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Multi-pattern blocklist matching — the mechanism behind C4-style
  * "page contains a listed word" filters (Raffel et al. 2020 §2.2 drop
  * pages containing any entry of a public word list; only the MECHANISM
  * is implemented here, callers supply their own list) and
  * URL/boilerplate blocklists generally.
  *
  * One Aho-Corasick automaton over the whole pattern set (Aho &
  * Corasick, CACM 1975) matches every pattern in a single O(len) pass:
  * at 100 TB a K-pattern blocklist must NOT cost K text scans (K
  * chained `contains` calls, or K regexps), and the classic automaton
  * is exactly the collapse of those K scans into one. The automaton is
  * built ONCE per plan on the driver and ships to executors inside the
  * expression (reference-object plumbing, not per-row state); matching
  * allocates nothing. Transitions are stored over a COMPACT alphabet —
  * one class per distinct folded pattern byte plus one shared class
  * for every byte no pattern contains (all such bytes provably reset
  * toward the root identically) — so a node costs (A+1)*4 bytes for A
  * distinct pattern bytes, ~1.3 MB for a thousand-word English list
  * (~8k nodes x ~40 classes), not the 1 KiB/node of a full 256-way
  * table. The pattern-byte cap (2^18) bounds the worst case (~242 MB
  * at the impossible all-230-classes extreme, tens of MB realistically)
  * well under executor broadcast budgets.
  *
  * Matching conventions (engine-portable, shared with the C4 kernels):
  *  - ASCII case fold only (A-Z -> a-z), applied bytewise to the text;
  *    patterns are folded at build. Non-ASCII bytes participate as-is
  *    (exact UTF-8 byte matches — self-synchronizing, so a multibyte
  *    pattern matches exactly and never mid-codepoint).
  *  - `wordBounded = true` counts a match only when the matched span is
  *    not adjacent to an ASCII letter/digit on either side (the "word
  *    appears" convention; a non-ASCII neighbor does not block, same
  *    ASCII-word convention as the [a-z0-9]+ tokenizer).
  *  - every (pattern, position) occurrence counts, including overlaps
  *    between patterns and self-overlapping patterns ("aa" hits "aaa"
  *    twice) — the count is the exhaustive occurrence count over the
  *    DISTINCT folded patterns (duplicate list entries are collapsed at
  *    build, so listing a word twice cannot double its hits), and a >0
  *    test is exact containment.
  */
final class AcAutomaton private (
    byteClass: Array[Int],
    delta: Array[Array[Int]],
    outLens: Array[Array[Int]]) extends Serializable {

  @inline private def fold(b: Byte): Int = {
    val c = b & 0xFF
    if (c >= 'A' && c <= 'Z') c + 32 else c
  }

  @inline private def isWordByte(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** Total (pattern, position) occurrence count in `s`; see class doc
    * for the fold / boundary conventions. Null-handling lives in the
    * expression.
    */
  def countHits(s: UTF8String, wordBounded: Boolean): Int = {
    val bytes = s.getBytes
    val len = bytes.length
    var state = 0
    var hits = 0
    var i = 0
    while (i < len) {
      val c = byteClass(fold(bytes(i)))
      state = delta(state)(c)
      val lens = outLens(state)
      if (lens.length > 0) {
        var j = 0
        while (j < lens.length) {
          val L = lens(j)
          if (!wordBounded) hits += 1
          else {
            val start = i - L + 1
            val leftOk = start == 0 || !isWordByte(fold(bytes(start - 1)))
            val rightOk = i == len - 1 || !isWordByte(fold(bytes(i + 1)))
            if (leftOk && rightOk) hits += 1
          }
          j += 1
        }
      }
      i += 1
    }
    hits
  }
}

object AcAutomaton {

  /** Build the goto/fail automaton (as a compact-alphabet DFA with
    * fail-closure output lists) over the DISTINCT ASCII-folded patterns.
    * Bytes that appear in no pattern all share one alphabet class: from
    * any state such a byte's transition resolves along the fail chain
    * to the root's (which is the root itself), so one column represents
    * all of them exactly.
    *
    * BEHAVIOR CHANGE (round 9): the pattern-byte cap was TIGHTENED from
    * 2^22 to 2^18 — lists between 256 KiB and 4 MiB of pattern bytes
    * that built before now fail fast here. Rationale: the DFA's
    * worst-case memory is states x alphabet (~totalLen x 257 ints), so
    * a 4 MiB list could demand ~4 GiB of transition table per plan
    * reference object; 2^18 bounds that at ~270 MB, which is already
    * generous for a blocklist (real lists are KBs). Callers with a
    * genuinely larger list should shard it across several automata (hit
    * counts are additive) rather than lifting the cap.
    */
  def build(patterns: Seq[String]): AcAutomaton = {
    require(patterns.nonEmpty, "blocklist must contain at least one pattern")
    val pats = patterns.map { p =>
      require(p != null && p.nonEmpty, "blocklist patterns must be non-empty")
      p.getBytes("UTF-8").map { b =>
        val c = b & 0xFF
        (if (c >= 'A' && c <= 'Z') c + 32 else c).toByte
      }.toSeq
    }.distinct.map(_.toArray) // collapse duplicate entries: one output per distinct pattern
    val totalLen = pats.map(_.length).sum
    require(totalLen <= (1 << 18),
      s"blocklist too large: $totalLen pattern bytes (max ${1 << 18})")
    // compact alphabet: class 0 = "no pattern contains this byte"
    val byteClass = new Array[Int](256)
    var nClasses = 1
    pats.foreach(_.foreach { b =>
      val c = b & 0xFF
      if (byteClass(c) == 0) { byteClass(c) = nClasses; nClasses += 1 }
    })
    // trie over classes
    val goto = scala.collection.mutable.ArrayBuffer(Array.fill(nClasses)(-1))
    val ends = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    pats.foreach { p =>
      var s = 0
      p.foreach { b =>
        val c = byteClass(b & 0xFF)
        if (goto(s)(c) < 0) {
          goto += Array.fill(nClasses)(-1)
          ends += Nil
          goto(s)(c) = goto.length - 1
        }
        s = goto(s)(c)
      }
      ends(s) = p.length :: ends(s)
    }
    // BFS fail links; complete goto into a DFA and close outputs over fails
    val n = goto.length
    val fail = new Array[Int](n)
    val queue = scala.collection.mutable.Queue.empty[Int]
    (0 until nClasses).foreach { c =>
      val t = goto(0)(c)
      if (t < 0) goto(0)(c) = 0
      else { fail(t) = 0; queue += t }
    }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      ends(s) = ends(s) ::: ends(fail(s))
      (0 until nClasses).foreach { c =>
        val t = goto(s)(c)
        if (t < 0) goto(s)(c) = goto(fail(s))(c)
        else { fail(t) = goto(fail(s))(c); queue += t }
      }
    }
    new AcAutomaton(byteClass, goto.toArray, ends.map(_.toArray).toArray)
  }
}
