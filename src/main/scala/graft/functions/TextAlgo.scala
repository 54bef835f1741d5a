package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled single-pass kernels behind the text/vector Catalyst expressions
  * (declared in [[Kernels]]).
  *
  * Spark's higher-order functions (`transform`/`aggregate`) are
  * CodegenFallback — interpreted tree-walks per element. A minhash built
  * from them re-shingles the text once per hash function (32x) and walks an
  * expression tree per shingle; at corpus scale that is the difference
  * between scan-speed and hours. These kernels do one pass per document in
  * tight JVM loops: rolling polynomial shingle hashes (O(1) per shingle),
  * splitmix64 finalization, primitive arrays throughout. The expressions
  * call them via static-forwarder methods from generated Java, so the whole
  * operator stays inside whole-stage codegen.
  */
object TextAlgo {

  private final val GOLDEN = 0x9E3779B97F4A7C15L
  private final val POLY = 0x100000001B3L // FNV-64 prime, odd multiplier

  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  @inline private def mix64(zIn: Long): Long = {
    var z = zIn
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** lowercase + keep only [a-z0-9 ] — the same normalization as
    * [[TextFunctions.charShingles]] (`regexp_replace(lower(c), "[^a-z0-9 ]", "")`)
    * without the regex engine.
    */
  def normalize(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c0 = s.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ') sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** 64-bit hashes of every k-char shingle of the normalized text: rolling
    * polynomial over the window + splitmix64 finalizer. O(n) for all
    * shingles together. Empty when the normalized text is shorter than k.
    */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    val t = normalize(text)
    val n = t.length - k + 1
    if (n <= 0) return Array.emptyLongArray
    val out = new Array[Long](n)
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= POLY; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * POLY + t.charAt(i); i += 1 }
    out(0) = mix64(h)
    i = 1
    while (i < n) {
      h = (h - t.charAt(i - 1) * pow) * POLY + t.charAt(i + k - 1)
      out(i) = mix64(h)
      i += 1
    }
    out
  }

  /** md5-60 of a string: the first 60 bits of the md5 of its UTF-8
    * bytes, i.e. its first 15 hex digits as a non-negative long — the
    * portable hash every engine replays as
    * `CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)`. Resets `md`,
    * so one digest serves a whole document.
    */
  private[graft] def md5Hash60(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var b = 0
    while (b < 8) { h = (h << 8) | (d(b) & 0xFFL); b += 1 }
    h >>> 4
  }

  /** md5-60 hashes ([[md5Hash60]]) of every k-char shingle of the
    * normalized text, in order — the portable twin of [[shingleHashes]]
    * behind the portable winnowing, MinHash and set kernels. Empty when
    * the normalized text is shorter than k.
    */
  def portableShingleHashes(text: String, k: Int): Array[Long] = {
    val t = normalize(text)
    val n = t.length - k + 1
    if (n <= 0) return Array.emptyLongArray
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = md5Hash60(md, t.substring(i, i + k)); i += 1 }
    hs
  }

  /** MinHash signature: slot j keeps the minimum over shingles of an
    * independent remix of the shingle hash (j- and seed-keyed). Values are
    * masked to 63 bits (non-negative). Empty array when no shingles.
    */
  def minhashSig(text: String, k: Int, numHashes: Int, seed: Long): Array[Long] = {
    val hs = shingleHashes(text, k)
    if (hs.isEmpty) return Array.emptyLongArray
    val keys = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) { keys(j) = mix64(seed + (j + 1) * GOLDEN); j += 1 }
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      j = 0
      while (j < numHashes) {
        val v = mix64(h ^ keys(j)) >>> 1
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Sorted distinct shingle hashes — a set representation supporting exact
    * Jaccard by merge-intersection ([[jaccardSorted]]). 64-bit hashes make
    * collision error negligible (~n^2/2^64).
    */
  def shingleHashSet(text: String, k: Int): Array[Long] =
    sortedDistinct(shingleHashes(text, k))

  /** The distinct values of `hs`, ascending. Sorts `hs` in place and
    * returns it when nothing repeats.
    */
  private def sortedDistinct(hs: Array[Long]): Array[Long] = {
    if (hs.length <= 1) return hs
    java.util.Arrays.sort(hs)
    var w = 1
    var i = 1
    while (i < hs.length) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): the minimum shingle hash of every window of `w`
    * consecutive k-shingles, rightmost-min tie-break, deduplicated and
    * sorted. Guarantees any shared substring of length >= k + w - 1
    * yields a shared fingerprint — the standard robust document
    * fingerprint for plagiarism/near-dup detection. O(n) via a monotone
    * deque.
    */
  def winnowing(text: String, k: Int, w: Int): Array[Long] =
    winnowSelect(shingleHashes(text, k), w)

  /** The winnowing SELECTION on a precomputed hash sequence: the sorted
    * distinct set of per-window minima (windows of `w` consecutive hashes;
    * a sequence no longer than `w` contributes its single global min).
    * O(n) via a monotone deque. The output is a pure function of the hash
    * VALUES, so any engine producing the same hashes reproduces it.
    */
  private def winnowSelect(hs: Array[Long], w: Int): Array[Long] = {
    if (hs.isEmpty) return hs
    if (hs.length <= w) {
      var m = hs(0)
      var i = 1
      while (i < hs.length) { if (hs(i) <= m) m = hs(i); i += 1 }
      return Array(m)
    }
    val out = new scala.collection.mutable.ArrayBuffer[Long](hs.length / w + 1)
    val deque = new java.util.ArrayDeque[Int]()
    var i = 0
    while (i < hs.length) {
      while (!deque.isEmpty && hs(deque.peekLast()) >= hs(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst() <= i - w) deque.pollFirst()
      if (i >= w - 1) {
        val m = hs(deque.peekFirst())
        if (out.isEmpty || out.last != m) out += m
      }
      i += 1
    }
    sortedDistinct(out.toArray)
  }

  /** Portable winnowing: identical selection over the md5-60 shingle
    * hashes of [[portableShingleHashes]] — computable in any engine with
    * md5 + hex arithmetic, so the whole fingerprint set is
    * oracle-checkable. ~10x the hashing cost of the rolling-hash
    * [[winnowing]]; use that one in production, this one where
    * cross-engine verification matters.
    */
  def winnowingPortable(text: String, k: Int, w: Int): Array[Long] =
    winnowSelect(portableShingleHashes(text, k), w)

  def winnowingPortableData(s: UTF8String, k: Int, w: Int): ArrayData =
    new GenericArrayData(winnowingPortable(s.toString, k, w))

  private val MersennePrime31 = 2147483647L // 2^31 - 1

  /** Portable MinHash signature: per hash function i, the minimum over all
    * k-shingles of `(a_i * (md5_60(shingle) mod p) + b_i) mod p` with
    * p = 2^31 - 1 and seeded constants a_i in [1, p-1], b_i in [0, p-1].
    * Every step is overflow-free int64 arithmetic any SQL engine
    * reproduces exactly (a_i * hp <= (2^31)^2 < 2^63), and the base hash
    * is md5 — so the whole signature, banding, and candidate set are
    * oracle-checkable. ~10x the hashing cost of [[minhashSig]]'s
    * splitmix64 path, which remains the production kernel.
    */
  def minhashPortableSig(text: String, k: Int, numHashes: Int, seed: Long): Array[Long] = {
    val hs = portableShingleHashes(text, k)
    if (hs.isEmpty) return hs
    val p = MersennePrime31
    val (as, bs) = minhashPortableConsts(numHashes, seed)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val hp = hs(i) % p
      var j = 0
      while (j < numHashes) {
        val v = (as(j) * hp + bs(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    mins
  }

  /** The seeded permutation constants — exposed so the oracle SQL can
    * embed the identical (i, a, b) rows as literals.
    */
  def minhashPortableConsts(numHashes: Int, seed: Long): (Array[Long], Array[Long]) = {
    val p = MersennePrime31
    val rng = new scala.util.Random(seed)
    val as = Array.fill(numHashes)(1L + rng.nextInt((p - 1).toInt))
    val bs = Array.fill(numHashes)(rng.nextInt(p.toInt).toLong)
    (as, bs)
  }

  /** Sorted distinct md5-60 shingle hashes — the portable twin of
    * [[shingleHashSet]] for exact-Jaccard verification that an oracle can
    * replay.
    */
  def shingleHashSetPortable(text: String, k: Int): Array[Long] =
    sortedDistinct(portableShingleHashes(text, k))

  def minhashPortableSigData(s: UTF8String, k: Int, numHashes: Int, seed: Long): ArrayData =
    new GenericArrayData(minhashPortableSig(s.toString, k, numHashes, seed))

  /** Portable 60-bit SimHash: whitespace tokens of the ASCII-lowercased
    * text, token hash = md5-60, bit b of the output = 1 iff the sum over
    * tokens of +-1 (per bit b of the token hash) is positive. NULL when
    * the text has no tokens — the DuckDB oracle's `WHERE term <> ''`
    * drops token-less docs entirely, so emitting a sketch (any sketch)
    * for them would pair empty docs the oracle never sees. Tokenization
    * is the Java-regex `\s` class ([[isJavaWs]]), NOT
    * Character.isWhitespace: the oracle splits on '\s+', which does not
    * match Unicode spaces like U+3000. Same sketch family as
    * [[simhash64]] (which stays the production kernel) but
    * byte-reproducible in SQL.
    */
  def simhash60Portable(text: String): java.lang.Long = {
    val counts = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    var any = false
    var start = -1
    def flush(end: Int): Unit = if (start >= 0) {
      val sb = new java.lang.StringBuilder(end - start)
      var j = start
      while (j < end) {
        val c = text.charAt(j)
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
        j += 1
      }
      val h = md5Hash60(md, sb.toString)
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      any = true
      start = -1
    }
    var i = 0
    while (i < text.length) {
      if (isJavaWs(text.charAt(i))) flush(i)
      else if (start < 0) start = i
      i += 1
    }
    flush(text.length)
    if (!any) return null
    var out = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  def simhash60PortableStr(s: UTF8String): java.lang.Long = simhash60Portable(s.toString)

  def shingleHashSetPortableData(s: UTF8String, k: Int): ArrayData =
    new GenericArrayData(shingleHashSetPortable(s.toString, k))

  def winnowingData(s: UTF8String, k: Int, w: Int): ArrayData =
    new GenericArrayData(winnowing(s.toString, k, w))

  /** Exact Jaccard of two SORTED distinct long arrays (merge-intersect). */
  /** Positions where two equal-length long arrays agree — the MinHash
    * jaccard ESTIMATE numerator (est = matches / numHashes). Compiled
    * kernel for the candidate prefilter ([[Kernels.sigMatchCount]]): at
    * corpus scale the banded join emits ~10-100M candidate rows and this
    * runs on every one, in-stage, before anything wide is attached.
    */
  def sigMatchCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var m = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) m += 1
      i += 1
    }
    m
  }

  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val n1 = a.numElements()
    val n2 = b.numElements()
    if (n1 == 0 && n2 == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < n1 && j < n2) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (n1 + n2 - inter).toDouble
  }

  /** 64-bit SimHash over whitespace tokens of the lowercased text: bit b is
    * set when the sum over tokens of +-1 (per bit b of the token hash) is
    * positive. One pass, no allocation beyond the 64 counters.
    */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    val n = text.length
    var i = 0
    var tokenHash = 0L
    var inToken = false
    def flush(): Unit = if (inToken) {
      val h = mix64(tokenHash)
      var b = 0
      while (b < 64) {
        counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      tokenHash = 0L
      inToken = false
    }
    while (i < n) {
      val c0 = text.charAt(i)
      if (Character.isWhitespace(c0)) flush()
      else {
        val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else Character.toLowerCase(c0)
        tokenHash = tokenHash * POLY + c
        inToken = true
      }
      i += 1
    }
    flush()
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Dense dot product of two double arrays (codegen entry point). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Squared Euclidean distance of two double arrays (the SMOTE/ADASYN
    * neighbor metric — sqrt deferred to callers that need true distance).
    */
  def dist2(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { val d = a.getDouble(i) - b.getDouble(i); s += d * d; i += 1 }
    s
  }

  /** Cosine similarity of two double arrays; 0 when either norm is 0. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dotAB = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dotAB += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dotAB / denom
  }

  /** Java-regex `\s` membership — the split class `split(trim(s), "\\s+")`
    * uses; kept exact (NOT Character.isWhitespace, which adds unicode
    * spaces) for oracle parity with the Column implementation.
    */
  @inline private def isJavaWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Original-case whitespace-delimited tokens (Java-regex `\s` class via
    * [[isJavaWs]]) — the ONE scanner shared by the n-gram/chunk kernels so
    * their tokenization can never drift apart (oracle parity depends on
    * all of them matching `split(trim(s), "\\s+")`).
    */
  private def wsTokens(str: String): scala.collection.mutable.ArrayBuffer[String] = {
    val words = new scala.collection.mutable.ArrayBuffer[String](64)
    var i = 0
    val len = str.length
    while (i < len) {
      while (i < len && isJavaWs(str.charAt(i))) i += 1
      val start = i
      while (i < len && !isJavaWs(str.charAt(i))) i += 1
      if (i > start) words += str.substring(start, i)
    }
    words
  }

  /** `toks(from until until)` joined with single spaces — the one window
    * join of the n-gram, chunk, passage and DSIR bigram kernels.
    * Unambiguous because no tokenizer here emits a token with a space.
    */
  private def joinTokens(
      toks: scala.collection.mutable.ArrayBuffer[String], from: Int, until: Int): String = {
    val sb = new java.lang.StringBuilder(16 * (until - from))
    var j = from
    while (j < until) {
      if (j > from) sb.append(' ')
      sb.append(toks(j))
      j += 1
    }
    sb.toString
  }

  // --- Unicode tokenization tier -----------------------------------------
  // The engine-wide ASCII conventions (`\s+` runs, `[a-z0-9]+` runs)
  // silently degenerate on non-Latin corpora: CJK text has no spaces (one
  // giant "word" per sentence) and zero [a-z0-9] runs (empty BM25 token
  // streams). This tier is the standard CC-pipeline compromise: tokens are
  // maximal runs of Unicode letter/mark/number codepoints (\p{L}\p{M}\p{N}
  // — marks keep Devanagari matras etc. inside words), EXCEPT that
  // codepoints in the CJK ranges below each become a SINGLE token (no
  // dictionary segmentation — the deterministic, engine-replayable
  // choice). Case folding is ASCII-ONLY (A-Z -> a-z): full Unicode
  // lowercasing differs between engines (JDK vs utf8proc on U+0130 et
  // al.), so the portable tier leaves non-ASCII case alone. The DuckDB
  // replay is:  regexp_extract_all(translate(regexp_replace(text,
  // '(<cjkClass>)', ' \1 ', 'g'), 'A..Z', 'a..z'), '[\p{L}\p{M}\p{N}]+')
  // (q98) — note a CJK-RANGE codepoint that is not \p{L} (unassigned
  // gaps) is spaced out and then NOT extracted, i.e. dropped; the kernel
  // reproduces exactly that.

  /** The CJK single-token ranges, as a Java/RE2-shared character class —
    * public so queries and oracles quote the SAME class.
    */
  final val CjkClass: String =
    "[\\x{1100}-\\x{11FF}\\x{2E80}-\\x{2FDF}\\x{3040}-\\x{30FF}" +
      "\\x{3130}-\\x{318F}\\x{31F0}-\\x{31FF}\\x{3400}-\\x{4DBF}" +
      "\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7AF}\\x{F900}-\\x{FAFF}" +
      "\\x{FF66}-\\x{FF9F}\\x{20000}-\\x{2FA1F}]"

  @inline private def isCjkSingleCp(cp: Int): Boolean =
    (cp >= 0x1100 && cp <= 0x11FF) || (cp >= 0x2E80 && cp <= 0x2FDF) ||
      (cp >= 0x3040 && cp <= 0x30FF) || (cp >= 0x3130 && cp <= 0x318F) ||
      (cp >= 0x31F0 && cp <= 0x31FF) || (cp >= 0x3400 && cp <= 0x4DBF) ||
      (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0xAC00 && cp <= 0xD7AF) ||
      (cp >= 0xF900 && cp <= 0xFAFF) || (cp >= 0xFF66 && cp <= 0xFF9F) ||
      (cp >= 0x20000 && cp <= 0x2FA1F)

  /** \p{L}\p{M}\p{N} membership via the JDK category tables (RE2's
    * tables agree on every assigned codepoint of the stable scripts;
    * divergence is confined to codepoints newly assigned between the two
    * libraries' Unicode versions).
    */
  @inline private def isWordCp(cp: Int): Boolean =
    if (Character.isLetter(cp)) true
    else {
      val t = Character.getType(cp)
      t == Character.NON_SPACING_MARK || t == Character.COMBINING_SPACING_MARK ||
      t == Character.ENCLOSING_MARK || t == Character.DECIMAL_DIGIT_NUMBER ||
      t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
    }

  /** Character n-grams for language identification: normalize to
    * ASCII-folded letter/mark/number codepoints with every other run
    * collapsed to ONE space (leading/trailing trimmed), then emit all
    * codepoint n-grams — the fastText LID feature family (Joulin et
    * al. 2016 use char n-grams precisely because script + morphology
    * live at the character level). ONLY ASCII A-Z case-fold (the
    * unicode-tier convention): full Unicode lowercasing is
    * engine-divergent (contextual final sigma, Turkish I), while the
    * ASCII fold + [\p{L}\p{M}\p{N}] replace is exactly replayable as
    * `translate` + `regexp_replace` in another engine (the q98
    * contract). Returns the empty array when the normalized text is
    * shorter than n codepoints.
    */
  def charNgramsLid(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    // normalized codepoint stream
    val cps = new java.lang.StringBuilder(str.length)
    var i = 0
    var pendingSpace = false
    val len = str.length
    while (i < len) {
      val cp = str.codePointAt(i)
      if (isWordCp(cp)) {
        if (pendingSpace && cps.length() > 0) cps.append(' ')
        pendingSpace = false
        if (cp >= 'A' && cp <= 'Z') cps.append((cp + 32).toChar)
        else cps.appendCodePoint(cp)
      } else pendingSpace = true
      i += Character.charCount(cp)
    }
    val norm = cps.toString
    // n-gram emission over CODEPOINTS (norm may hold surrogate pairs)
    val total = norm.codePointCount(0, norm.length)
    if (total < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](total - n + 1)
    var start = 0
    var g = 0
    while (g < total - n + 1) {
      val end = norm.offsetByCodePoints(start, n)
      out(g) = UTF8String.fromString(norm.substring(start, end))
      start = norm.offsetByCodePoints(start, 1)
      g += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Unicode-tier tokens of a string (see the tier comment above): runs
    * of letter/mark/number codepoints, CJK codepoints as single tokens,
    * ASCII-only lowercasing. Shared by every unicode-mode kernel AND the
    * driver-side query-term validation in [[graft.text.Search]].
    */
  private[graft] def unicodeTokenize(str: String): scala.collection.mutable.ArrayBuffer[String] = {
    val toks = new scala.collection.mutable.ArrayBuffer[String](64)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val len = str.length
    while (i < len) {
      val cp = str.codePointAt(i)
      if (isCjkSingleCp(cp)) {
        if (sb.length > 0) { toks += sb.toString; sb.setLength(0) }
        // an unassigned codepoint inside a CJK block is spaced out by the
        // replay's replace but not matched by [\p{L}\p{M}\p{N}]+ — drop it
        if (isWordCp(cp)) toks += new String(Character.toChars(cp))
      } else if (isWordCp(cp)) {
        if (cp >= 'A' && cp <= 'Z') sb.append((cp + 32).toChar)
        else sb.appendCodePoint(cp)
      } else {
        if (sb.length > 0) { toks += sb.toString; sb.setLength(0) }
      }
      i += Character.charCount(cp)
    }
    if (sb.length > 0) toks += sb.toString
    toks
  }

  /** Unicode-tier tokens as ArrayData — the kernel behind
    * [[Kernels.unicodeTokens]] / `TextFunctions.unicodeTokens`.
    */
  def unicodeTokens(s: UTF8String): ArrayData = {
    val toks = unicodeTokenize(s.toString)
    val out = new Array[AnyRef](toks.length)
    var j = 0
    while (j < toks.length) { out(j) = UTF8String.fromString(toks(j)); j += 1 }
    ArrayData.toArrayData(out)
  }

  /** Iterate whitespace-delimited tokens of lowercase(trim(s)) without
    * allocating the token array; calls f(token) per token. Returns token
    * count.
    */
  private def foreachLowerToken(s: String, f: String => Unit): Int = {
    var i = 0
    val n = s.length
    var count = 0
    val sb = new java.lang.StringBuilder(16)
    while (i <= n) {
      val atEnd = i == n
      val c = if (atEnd) ' ' else s.charAt(i)
      if (atEnd || isJavaWs(c)) {
        if (sb.length() > 0) {
          count += 1
          f(sb.toString)
          sb.setLength(0)
        }
      } else {
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else Character.toLowerCase(c))
      }
      i += 1
    }
    count
  }

  /** Duplicate word-n-gram fraction: `1 - distinct/total` over the
    * whitespace-token n-grams of the document (original case), 0 when the
    * document has fewer than n tokens — the standard intra-document
    * repetition signal LLM-corpus quality filters threshold on. Exact
    * n-gram strings (not hashes) so the DuckDB oracle can replay it
    * verbatim; one pass, one HashSet per row.
    */
  def dupNgramFraction(s: UTF8String, n: Int): Double = {
    val words = wsTokens(s.toString)
    val total = words.length - n + 1
    if (total <= 0) return 0.0
    val seen = new java.util.HashSet[String](total * 2)
    var p = 0
    while (p < total) { seen.add(joinTokens(words, p, p + n)); p += 1 }
    1.0 - seen.size.toDouble / total
  }

  /** DISTINCT word-n-grams of the document (original case, space-joined,
    * insertion order) — the exact-string twin of the hashed shingle set,
    * kept oracle-replayable for set-similarity baselines. `unicode = true`
    * swaps the `\s+`-run token convention for the unicode tier
    * ([[unicodeTokenize]] — codepoint-class runs, CJK singles), so CJK
    * documents contribute real n-grams instead of one giant "word".
    */
  def wordNgrams(s: UTF8String, n: Int, unicode: Boolean): ArrayData = {
    val words = if (unicode) unicodeTokenize(s.toString) else wsTokens(s.toString)
    val total = words.length - n + 1
    if (total <= 0) return ArrayData.toArrayData(Array.empty[UTF8String])
    val seen = new java.util.LinkedHashSet[String](total * 2)
    var p = 0
    while (p < total) { seen.add(joinTokens(words, p, p + n)); p += 1 }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    ArrayData.toArrayData(out)
  }

  /** Non-overlapping `n`-word chunks of the document in order (space-joined,
    * last chunk may be shorter) — the unit of chunk-granular exact substring
    * dedup ([[graft.dedup.ChunkDedup]]). Same whitespace tokenization as
    * [[wordNgrams]], NOT distinct: position matters for reconstruction.
    */
  def wordChunks(s: UTF8String, n: Int): ArrayData = {
    val words = wsTokens(s.toString)
    if (words.isEmpty) return ArrayData.toArrayData(Array.empty[UTF8String])
    val nChunks = (words.length + n - 1) / n
    val out = new Array[AnyRef](nChunks)
    var c = 0
    while (c < nChunks) {
      out(c) = UTF8String.fromString(
        joinTokens(words, c * n, math.min(c * n + n, words.length)))
      c += 1
    }
    ArrayData.toArrayData(out)
  }

  /** All consecutive token bigrams of the document in order (space-joined,
    * NON-distinct — counts matter for LM estimation), tokenized exactly
    * like `split(lower(text), "[^a-z0-9]+")`: lowercase (ASCII A-Z — the
    * corpus assumption shared with the portable kernels), tokens are runs
    * of [a-z0-9]. A compiled map-side pass replacing the
    * posexplode + per-doc lead-window plan, which shuffled the full token
    * stream once before any aggregation.
    */
  private def asciiTokenize(str: String): scala.collection.mutable.ArrayBuffer[String] = {
    val toks = new scala.collection.mutable.ArrayBuffer[String](64)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val len = str.length
    while (i <= len) {
      val c = if (i < len) str.charAt(i) else ' '
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) sb.append(lc)
      else if (sb.length > 0) { toks += sb.toString; sb.setLength(0) }
      i += 1
    }
    toks
  }

  /** Lowercased-alnum tokens in order (non-distinct) — the tokenization
    * shared with [[wordNgramStream]] so LM vocabulary and n-gram streams
    * agree.
    */
  def asciiTokens(s: UTF8String): ArrayData = {
    val toks = asciiTokenize(s.toString)
    val out = new Array[AnyRef](toks.length)
    var j = 0
    while (j < toks.length) { out(j) = UTF8String.fromString(toks(j)); j += 1 }
    ArrayData.toArrayData(out)
  }

  /** Hashed n-gram stream for LM estimation at scale: one
    * (gram, prefix) pair of 64-bit hashes per consecutive n-gram of the
    * shared tokenization — gram over all n tokens, prefix over the
    * first n-1 — so higher-order LM counting never shuffles strings
    * (at 5M docs the exact-string trigram tier's three string-keyed
    * exchanges went 21x/decade; hashes are fixed-width). Token hash =
    * splitmix64 of the token's char polynomial (length-salted); the
    * gram hash CHAINS token hashes through mix64, so the prefix value
    * is the chain state after n-1 tokens — a pure function of the
    * prefix tokens, as the conditional-probability denominator
    * requires. JVM-hash-specific by design: the q120 golden VALUES pin
    * the outputs, the exact-string tier (q117) verifies the algorithm,
    * and `SearchLmSpec` proves hashed == exact on randomized corpora.
    */
  def ngramHashPairs(s: UTF8String, n: Int, unicode: Boolean): ArrayData = {
    val toks = if (unicode) unicodeTokenize(s.toString) else asciiTokenize(s.toString)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      var h = 0L
      var j = 0
      while (j < t.length) { h = h * POLY + t.charAt(j); j += 1 }
      th(i) = mix64(h ^ (t.length.toLong << 32))
      i += 1
    }
    val out = new Array[Any](toks.length - n + 1)
    i = 0
    while (i < out.length) {
      var c = 0L
      var p = 0L
      var k = 0
      while (k < n) {
        c = mix64(c ^ th(i + k) ^ (k.toLong * 0x9E3779B97F4A7C15L))
        if (k == n - 2) p = c // chain state after the n-1 prefix tokens
        k += 1
      }
      out(i) = org.apache.spark.sql.catalyst.InternalRow(c, p)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** All consecutive space-joined word n-grams IN ORDER, non-distinct
    * (the [[asciiTokens]] / [[unicodeTokenize]] tokenization; n = 2 is
    * the bigram stream) — the map-side n-gram stream for LM
    * estimation. Distinct-set semantics live in [[wordNgrams]]; this is
    * the occurrence stream. Space-joining is unambiguous because tokens
    * never contain spaces.
    */
  def wordNgramStream(s: UTF8String, n: Int, unicode: Boolean): ArrayData = {
    val toks = if (unicode) unicodeTokenize(s.toString) else asciiTokenize(s.toString)
    if (toks.length < n) return ArrayData.toArrayData(Array.empty[UTF8String])
    val out = new Array[AnyRef](toks.length - n + 1)
    var j = 0
    while (j < out.length) {
      out(j) = UTF8String.fromString(joinTokens(toks, j, j + n))
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Overlapping passage chunks in one compiled pass: windows of
    * `window` whitespace tokens advancing by `stride`, single-space
    * rejoined, as array<struct<n_tokens, chunk_text>> in chunk order
    * (the array index IS the chunk index under posexplode). Chunk-count
    * arithmetic (`1 + ceil((n-window)/stride)`, 1 when 0 < n <= window)
    * and tokenization ([[wsTokens]]) are bit-identical to the
    * split/filter/sequence/slice/array_join Column chain it replaces,
    * whose HOF filter and per-chunk slice re-walked the token array
    * interpreted, once per chunk.
    */
  def passageChunks(s: UTF8String, window: Int, stride: Int, unicode: Boolean): ArrayData = {
    // unicode tier: window/stride count CODEPOINT-CLASS tokens (CJK
    // singles), so a context budget means the same thing on every script;
    // chunk_text still rejoins with single spaces (the embedding-input
    // canonicalization — spaces between ideographs are the standard
    // segmented-CJK form)
    val toks = if (unicode) unicodeTokenize(s.toString) else wsTokens(s.toString)
    val n = toks.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val nChunks = if (n <= window) 1 else 1 + ((n - window + stride - 1) / stride)
    val out = new Array[Any](nChunks)
    var i = 0
    while (i < nChunks) {
      val start = i * stride
      val end = math.min(start + window, n)
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        (end - start).toLong, UTF8String.fromString(joinTokens(toks, start, end)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** DSIR hashed feature-bucket stream: md5-60 mod `numBuckets` over the
    * unigrams then the consecutive bigrams of the alnum tokenization —
    * ONE tokenization and one MessageDigest per document, replacing the
    * interpreted `transform(concat(asciiTokens, bigram stream), md5…)`
    * higher-order chain (CodegenFallback) with a single compiled pass.
    * Element order (unigrams first, then bigrams) and the md5-60 value
    * ([[md5Hash60]]) are bit-identical to the Column chain it replaces,
    * so q82's oracle is untouched.
    */
  def dsirBuckets(s: UTF8String, numBuckets: Int): ArrayData = {
    val toks = asciiTokenize(s.toString)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = toks.length
    val out = new Array[Long](if (n < 2) n else 2 * n - 1)
    var j = 0
    while (j < n) { out(j) = md5Hash60(md, toks(j)) % numBuckets; j += 1 }
    var k = 0
    while (k < n - 1) {
      out(n + k) = md5Hash60(md, joinTokens(toks, k, k + 2)) % numBuckets
      k += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Left-to-right fold of `ratios(bucket)` over a bucket array — the
    * compiled scoring half of DSIR (same accumulation order as the
    * `aggregate` HOF it replaces, so results are bit-identical).
    */
  def dsirScore(arr: ArrayData, ratios: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = arr.numElements()
    while (i < n) { acc += ratios(arr.getLong(i).toInt); i += 1 }
    acc
  }

  /** Count of lowercased whitespace tokens that are members of `set`, and
    * the total token count — the fused kernel behind stopwordRatio.
    * Returns (matches, tokens) packed in a long (matches << 32 | tokens).
    */
  def tokenSetStats(s: UTF8String, set: java.util.HashSet[String]): Long = {
    var matches = 0
    val tokens = foreachLowerToken(s.toString, t => if (set.contains(t)) matches += 1)
    (matches.toLong << 32) | (tokens.toLong & 0xFFFFFFFFL)
  }

  /** Single-pass language-ID: per-language marker-set hit counts over the
    * lowercased tokens, argmax in declaration order, 'und' when all zero —
    * identical semantics to the Column when-ladder it replaces.
    */
  def langGuess(
      s: UTF8String,
      sets: Array[java.util.HashSet[String]],
      codes: Array[UTF8String],
      unicode: Boolean): UTF8String = {
    val hits = new Array[Int](sets.length)
    val count = { (t: String) =>
      var i = 0
      while (i < sets.length) { if (sets(i).contains(t)) hits(i) += 1; i += 1 }
    }
    if (unicode) {
      // multilingual tier: unicode tokens (CJK singles — so ideograph
      // and Hangul-syllable markers are matchable at all) with a full
      // per-token lowercase for the marker lookup, mirroring the ascii
      // tier's per-char Character.toLowerCase
      val toks = unicodeTokenize(s.toString)
      var j = 0
      while (j < toks.length) {
        count(toks(j).toLowerCase(java.util.Locale.ROOT))
        j += 1
      }
    } else {
      foreachLowerToken(s.toString, count)
    }
    var best = 0
    var bestIdx = -1
    var i = 0
    while (i < hits.length) {
      if (hits(i) > best) { best = hits(i); bestIdx = i }
      i += 1
    }
    if (bestIdx < 0) UTF8String.fromString("und") else codes(bestIdx)
  }

  /** Query-directed multi-probe buckets: the base sign-sketch bucket plus
    * the buckets reached by flipping the `probes` bits whose hyperplane
    * margin |vec . plane| is smallest — the bits a true near neighbor just
    * across a plane is most likely to differ on (standard multi-probe LSH).
    * Returns 1 + min(probes, numBits) distinct bucket keys, base first.
    * Same plane layout and sign convention as [[hyperplaneBucket]].
    */
  def hyperplaneProbes(vec: ArrayData, planes: Array[Double], dim: Int, probes: Int): ArrayData = {
    val numBits = planes.length / dim
    val n = math.min(vec.numElements(), dim)
    val dots = new Array[Double](numBits)
    var base = 0L
    var b = 0
    while (b < numBits) {
      var s = 0.0
      var i = 0
      val off = b * dim
      while (i < n) { s += vec.getDouble(i) * planes(off + i); i += 1 }
      dots(b) = s
      if (s >= 0) base |= (1L << b)
      b += 1
    }
    val p = math.min(probes, numBits)
    val order = Array.range(0, numBits).sortBy(i => math.abs(dots(i)))
    val out = new Array[Long](1 + math.max(p, 0))
    out(0) = base
    var j = 0
    while (j < p) { out(j + 1) = base ^ (1L << order(j)); j += 1 }
    new GenericArrayData(out)
  }

  /** Sign-sketch bucket: bit i of the result is the sign of vec . planes(i).
    * planes is row-major: numBits rows of dim doubles.
    */
  def hyperplaneBucket(vec: ArrayData, planes: Array[Double], dim: Int): Long = {
    val numBits = planes.length / dim
    val n = math.min(vec.numElements(), dim)
    var out = 0L
    var b = 0
    while (b < numBits) {
      var s = 0.0
      var i = 0
      val off = b * dim
      while (i < n) { s += vec.getDouble(i) * planes(off + i); i += 1 }
      if (s >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Indexes of the `nProbe` nearest centroids (euclidean) to `vec`.
    * `centroids` is row-major (nLists x dim). Selection sort over the
    * distance array — nLists is small (hundreds), nProbe smaller.
    */
  /** Euclidean distance to the NEAREST centroid (same scan order as
    * [[nearestCentroids]]: index-ordered squared-diff accumulation, strict-<
    * argmin) — the per-row cluster-quality term of
    * [[graft.similarity.Similarity.kmeansClusterProfile]].
    */
  def nearestCentroidDist(vec: ArrayData, centroids: Array[Double], dim: Int): Double = {
    val nLists = centroids.length / dim
    val n = math.min(vec.numElements(), dim)
    var bestD = Double.MaxValue
    var c = 0
    while (c < nLists) {
      var s = 0.0
      var i = 0
      val off = c * dim
      while (i < n) { val d = vec.getDouble(i) - centroids(off + i); s += d * d; i += 1 }
      if (s < bestD) bestD = s
      c += 1
    }
    math.sqrt(bestD)
  }

  def nearestCentroids(vec: ArrayData, centroids: Array[Double], dim: Int, nProbe: Int): ArrayData = {
    val nLists = centroids.length / dim
    val n = math.min(vec.numElements(), dim)
    val d2 = new Array[Double](nLists)
    var c = 0
    while (c < nLists) {
      var s = 0.0
      var i = 0
      val off = c * dim
      while (i < n) { val d = vec.getDouble(i) - centroids(off + i); s += d * d; i += 1 }
      d2(c) = s
      c += 1
    }
    val p = math.min(nProbe, nLists)
    val out = new Array[Int](p)
    val taken = new Array[Boolean](nLists)
    var j = 0
    while (j < p) {
      var best = -1
      var bestD = Double.MaxValue
      c = 0
      while (c < nLists) {
        if (!taken(c) && d2(c) < bestD) { bestD = d2(c); best = c }
        c += 1
      }
      taken(best) = true
      out(j) = best
      j += 1
    }
    new GenericArrayData(out.map(_.toLong))
  }

  /** ADC (asymmetric distance computation) scores for product-quantized
    * codes: `tables` is row-major (Q queries x m subspaces x ksub codes)
    * of per-subspace squared distances between each query's subvector
    * and each codebook centroid; the result is the array of Q
    * approximate squared L2 distances `sum_j tables(q, j, codes(j))`,
    * summed in ascending subspace order (deterministic doubles — the
    * oracle replays the same left-to-right sum).
    */
  def pqAdcDists(codes: ArrayData, tables: Array[Double], m: Int, ksub: Int): ArrayData = {
    val nq = tables.length / (m * ksub)
    val out = new Array[Double](nq)
    var q = 0
    while (q < nq) {
      var s = 0.0
      var j = 0
      val qOff = q * m * ksub
      while (j < m) {
        s += tables(qOff + j * ksub + codes.getLong(j).toInt)
        j += 1
      }
      out(q) = s
      q += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Single ADC score for PQ codes against table `idx` of a packed
    * (P x m x ksub) table block — the per-(query, probed-cell) lookup of
    * residual IVF+PQ, where the table index arrives as a JOIN column
    * (broadcast probe pairs) rather than being enumerated per row as in
    * [[pqAdcDists]]. Same ascending-j accumulation from 0.0.
    */
  def pqAdcDistAt(codes: ArrayData, tables: Array[Double], m: Int, ksub: Int, idx: Long): Double = {
    // idx is a public join column ([[Kernels.pqAdcDistAt]]): validate against
    // the packed table count — a silent Long->Int truncation would read a
    // wrong table (or wrap) instead of failing loudly
    val nTables = tables.length / (m * ksub)
    require(idx >= 0 && idx < nTables,
      s"ADC table index $idx out of range: the packed block holds $nTables tables (m=$m, ksub=$ksub)")
    var s = 0.0
    var j = 0
    val off = idx.toInt * m * ksub
    while (j < m) {
      s += tables(off + j * ksub + codes.getLong(j).toInt)
      j += 1
    }
    s
  }

  /** SentencePiece unigram-LM encoding (Kudo 2018, "Subword
    * Regularization" — the sentencepiece `--model_type=unigram` family
    * T5/Gemma/LLaMA exports ship): Viterbi-segment each
    * whitespace-delimited word (the `split_by_whitespace=true` default
    * — pieces never cross word boundaries) into the vocabulary pieces
    * maximizing the summed log-probabilities. Words carry the '▁'
    * (LOWER ONE EIGHTH BLOCK) prefix in place of their leading space —
    * the SentencePiece whitespace-as-symbol convention, which makes
    * decode a plain concat + replace.
    *
    * Determinism contract: the DP maximizes with a STRICT > update over
    * ascending split points, so ties resolve to the SMALLEST start —
    * the longest final piece. Codepoints outside the vocabulary encode
    * as single-char pieces at `fallbackLogProb` (char-fallback, the
    * byte_fallback analog one level up — total, no UNK), so encoding
    * never fails and decode is lossless up to whitespace normalization.
    */
  def spEncodePieces(s: UTF8String, t: SpTables): ArrayData = {
    val text = s.toString
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](16)
    val n = text.length
    var i = 0
    val sb = new java.lang.StringBuilder(16)
    while (i <= n) {
      val atEnd = i == n
      val c = if (atEnd) ' ' else text.charAt(i)
      if (atEnd || isJavaWs(c)) {
        if (sb.length() > 0) {
          spEncodeWord("\u2581" + sb.toString, t, out)
          sb.setLength(0)
        }
      } else sb.append(c)
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  private def spEncodeWord(w: String, t: SpTables,
      out: scala.collection.mutable.ArrayBuffer[AnyRef]): Unit = {
    val L = w.length
    @inline def boundary(i: Int): Boolean =
      i == 0 || i == L || !Character.isLowSurrogate(w.charAt(i))
    val dp = Array.fill(L + 1)(Double.NegativeInfinity)
    dp(0) = 0.0
    val back = new Array[Int](L + 1)
    // window of at least 2 UTF-16 units so an astral codepoint can take
    // the single-char fallback even when every vocab piece is shorter
    val maxLen = math.max(t.maxPieceChars, 2)
    var i = 1
    while (i <= L) {
      if (boundary(i)) {
        var j = math.max(0, i - maxLen)
        while (j < i) {
          if (boundary(j) && dp(j) != Double.NegativeInfinity) {
            val piece = w.substring(j, i)
            val got = t.lookup.get(piece)
            val lp: Double =
              if (got != null) got.doubleValue
              else if (i - j == 1 ||
                (i - j == 2 && Character.isHighSurrogate(w.charAt(j))))
                t.fallbackLogProb
              else Double.NaN
            if (!java.lang.Double.isNaN(lp)) {
              val sc = dp(j) + lp
              if (sc > dp(i)) { dp(i) = sc; back(i) = j }
            }
          }
          j += 1
        }
      }
      i += 1
    }
    // walk back and append in order
    val stack = new scala.collection.mutable.ArrayBuffer[String](8)
    var pos = L
    while (pos > 0) {
      val j = back(pos)
      stack += w.substring(j, pos)
      pos = j
    }
    var k = stack.length - 1
    while (k >= 0) { out += UTF8String.fromString(stack(k)); k -= 1 }
  }

  /** y = v R for a row-major (dim x dim) matrix reference block:
    * y(j) = sum_i v(i) * R(i*dim + j), ascending-i accumulation — the
    * OPQ rotation primitive (oracle replays each output as
    * list_dot_product of v with R's column j).
    */
  def matVec(vec: ArrayData, r: Array[Double], dim: Int): ArrayData = {
    val n = math.min(vec.numElements(), dim)
    val out = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      var s = 0.0
      var i = 0
      while (i < n) { s += vec.getDouble(i) * r(i * dim + j); i += 1 }
      out(j) = s
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Residual of a vector against centroid `cell` of the row-major
    * (nLists x dim) centroid block: out(i) = vec(i) - centroids(cell*dim+i)
    * — the IVF residual-encoding primitive (FAISS IVFPQ: PQ codes are
    * learned on and assigned to v - centroid(cell), so codes spend their
    * resolution on WITHIN-cell structure).
    */
  def centroidResidual(vec: ArrayData, cell: Long, centroids: Array[Double], dim: Int): ArrayData = {
    val n = math.min(vec.numElements(), dim)
    val out = new Array[Double](n)
    val off = cell.toInt * dim
    var i = 0
    while (i < n) {
      out(i) = vec.getDouble(i) - centroids(off + i)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Unicode SIMPLE case folding (approximated as
    * toLowerCase(toUpperCase(cp)) per codepoint — the classic 1:1
    * simple-fold construction): the dedup-key tier above L61's
    * ASCII-only fold, so CAFE-vs-cafe-class corpora in any script and
    * final-vs-medial sigma collapse to one key. 1:1 by construction
    * (no SpecialCasing expansions — German sharp-s stays itself, as
    * simple folding specifies). Documented divergences from ICU full
    * folding: dotted capital I folds to plain 'i' under the JDK's
    * simple map (full folding emits i + combining dot), and ligatures
    * stay unexpanded — acceptable for a dedup KEY, where any
    * deterministic canonical choice works.
    */
  def caseFoldSimple(s: UTF8String): UTF8String = {
    val str = s.toString
    val sb = new java.lang.StringBuilder(str.length)
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      sb.appendCodePoint(Character.toLowerCase(Character.toUpperCase(cp)))
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  /** Largest |x| of an array<double> vector; 0 for empty. */
  def vecMaxAbs(v: ArrayData): Double = {
    var m = 0.0
    var i = 0
    val n = v.numElements()
    while (i < n) {
      val a = math.abs(v.getDouble(i))
      if (a > m) m = a
      i += 1
    }
    m
  }

  /** Symmetric int8 quantization: floor(x * 127 / maxAbs) per element
    * (floor, not round — identical semantics in any SQL engine, so the
    * oracle can replay it; round() half-way rules differ between JVM and
    * DuckDB). All-zero vectors quantize to zeros. Kept in [-127, 127].
    * The expression form is [[graft.functions.Kernels.quantizeInt8]].
    */
  def quantizeInt8(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val m = vecMaxAbs(v)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      out(i) = if (m == 0.0) 0
        else math.floor(v.getDouble(i) * 127.0 / m).toByte
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Sum of the int8-quantized elements (same floor rule as
    * [[quantizeInt8]]) — a compact scalar fingerprint of the quantized
    * vector for parity checks, without shipping the byte array.
    */
  def quantSumInt8(v: ArrayData): Int = {
    val n = v.numElements()
    val m = vecMaxAbs(v)
    var s = 0
    var i = 0
    while (i < n) {
      if (m != 0.0) s += math.floor(v.getDouble(i) * 127.0 / m).toInt
      i += 1
    }
    s
  }

  /** The Gopher required-stopword set (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", app. A1.1): a document must contain at least two
    * DISTINCT members to pass the rule-based quality gate.
    */
  val GopherStopwords: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  /** Single-pass raw counters for the Gopher rule-based quality gate
    * (Rae et al. 2021, app. A1.1 — the standard pretraining-corpus filter
    * family), as array<long>:
    *
    *   [0] whitespace-token count            [1] sum of token lengths (code points)
    *   [2] tokens containing an ASCII letter [3] '#' characters
    *   [4] non-overlapping "..." runs        [5] U+2026 '…' characters
    *   [6] nonempty lines (space-trimmed)    [7] bullet lines (-, *, •)
    *   [8] lines ending in "..." or "…"      [9] distinct [[GopherStopwords]] present
    *
    * ONE scan for tokens + symbols, one for lines; the rule thresholds
    * (word-count window, mean-word-length window, symbol/bullet/ellipsis
    * ratios, alpha fraction, stopword minimum) are cheap codegen'd Column
    * arithmetic on top — see `TextFunctions.gopherFlags`. Tokenization is
    * the engine-wide `\s`-run contract ([[isJavaWs]]); lengths are code
    * points so the DuckDB oracle's `length()` replays them exactly.
    */
  def gopherCounters(s: UTF8String, unicode: Boolean): ArrayData = {
    val str = s.toString
    var nWords = 0L; var sumLen = 0L; var nAlpha = 0L
    var nHash = 0L; var nEllU = 0L
    val stopMask = new Array[Boolean](GopherStopwords.length)
    // unicode tier: "words" are codepoint-class tokens (CJK singles) and
    // the alpha rule tests ANY \p{L} letter, not ASCII-only — otherwise
    // every CJK word fails fail_alpha and the gate rejects whole scripts.
    // Char-level (#/ellipsis) and line-level counters are tokenization-
    // independent and stay identical across the tiers.
    val words = if (unicode) unicodeTokenize(str) else wsTokens(str)
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      nWords += 1
      sumLen += w.codePointCount(0, w.length)
      var j = 0; var alpha = false
      if (unicode) {
        while (j < w.length && !alpha) {
          val cp = w.codePointAt(j)
          if (Character.isLetter(cp)) alpha = true
          j += Character.charCount(cp)
        }
      } else {
        while (j < w.length && !alpha) {
          val c = w.charAt(j)
          if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) alpha = true
          j += 1
        }
      }
      if (alpha) nAlpha += 1
      // ASCII-fold lowercase compare against the pure-ASCII stopword set:
      // a token whose unicode lowering differs can never equal one anyway
      var si = 0
      while (si < GopherStopwords.length) {
        if (!stopMask(si)) {
          val sw = GopherStopwords(si)
          if (sw.length == w.length) {
            var m = 0; var ok = true
            while (m < w.length && ok) {
              var c = w.charAt(m)
              if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
              ok = c == sw.charAt(m)
              m += 1
            }
            if (ok) stopMask(si) = true
          }
        }
        si += 1
      }
      wi += 1
    }
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c == '#') nHash += 1
      else if (c == '…') nEllU += 1
      i += 1
    }
    var nEll3 = 0L
    var p = str.indexOf("...")
    while (p >= 0) { nEll3 += 1; p = str.indexOf("...", p + 3) }
    // line pass: split on '\n', trim 0x20 only (the oracle's trim(l, ' '))
    var nLines = 0L; var nBullet = 0L; var nEllEnd = 0L
    var start = 0
    var done = false
    while (!done) {
      val nl = str.indexOf('\n', start)
      val end = if (nl < 0) str.length else nl
      var a = start; var b = end
      while (a < b && str.charAt(a) == ' ') a += 1
      while (b > a && str.charAt(b - 1) == ' ') b -= 1
      if (b > a) {
        nLines += 1
        val first = str.charAt(a)
        if (first == '-' || first == '*' || first == '•') nBullet += 1
        if (str.charAt(b - 1) == '…' ||
          (b - a >= 3 && str.charAt(b - 1) == '.' && str.charAt(b - 2) == '.' && str.charAt(b - 3) == '.'))
          nEllEnd += 1
      }
      if (nl < 0) done = true else start = nl + 1
    }
    var nStop = 0L
    var si = 0
    while (si < stopMask.length) { if (stopMask(si)) nStop += 1; si += 1 }
    new GenericArrayData(Array(nWords, sumLen, nAlpha, nHash, nEll3, nEllU,
      nLines, nBullet, nEllEnd, nStop))
  }

  /** Unicode NFC normalization (java.text.Normalizer — the JDK implements
    * the same Unicode Standard Annex #15 algorithm DuckDB's utf8proc
    * does, so NFC output is an engine-portable contract). Fast path:
    * `isNormalized` is a cheap quick-check scan and almost all real text
    * IS already NFC, so the common case allocates nothing.
    *
    * Why this matters for dedup: composed ("café" as U+00E9) and
    * decomposed ("cafe" + U+0301) byte sequences render identically and
    * appear interchangeably in web text (macOS filenames, some CMSes
    * emit NFD), so a byte-level fingerprint splits what is visually ONE
    * document into distinct dedup keys. NFC-first makes the key
    * canonical — see `TextFunctions.fingerprint(nfc = true)`.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** C4-style line retention (Raffel et al. 2020, "Exploring the Limits of
    * Transfer Learning", §2.2; the public TFDS `c4_utils` pins the end-mark
    * set to `. ? ! "`): a line is KEPT iff, after stripping leading and
    * trailing line-whitespace (`[ \t\f\r]` — the [[isJavaWs]] class
    * minus '\n', as an EXPLICIT set so the oracle replays it with a shared
    * Java/RE2 regexp rather than String.trim's <= U+0020 rule), it
    *  (a) ends in a terminal punctuation mark (`.`, `?`, `!`, `"`),
    *  (b) has at least `minWords` whitespace-run words, and
    *  (c) does not contain "javascript" (ASCII-only case fold — full
    *      Unicode lowering is engine-divergent, see the unicode-tier note).
    * Kept lines are rejoined with '\n' in order (STRIPPED form — the rule
    * evaluated and the text emitted must agree, or downstream counts drift
    * from what the gate saw). Page-level C4 rules (lorem ipsum, curly
    * brace, minimum kept lines, caller blocklists) are cheap Column
    * predicates over builtins — see `TextFunctions.c4Flags`.
    */
  def c4KeepLines(s: UTF8String, minWords: Int): UTF8String = {
    val str = s.toString
    val lines = str.split("\n", -1)
    val sb = new java.lang.StringBuilder(str.length)
    var first = true
    var i = 0
    while (i < lines.length) {
      val t = stripLineWs(lines(i))
      if (c4LineKept(t, minWords)) {
        if (!first) sb.append('\n')
        sb.append(t)
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  @inline private def isLineWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\u000B' || c == '\f' || c == '\r'

  private def stripLineWs(line: String): String = {
    var a = 0
    var b = line.length
    while (a < b && isLineWs(line.charAt(a))) a += 1
    while (b > a && isLineWs(line.charAt(b - 1))) b -= 1
    line.substring(a, b)
  }

  private def c4LineKept(t: String, minWords: Int): Boolean = {
    if (t.isEmpty) return false
    val last = t.charAt(t.length - 1)
    if (last != '.' && last != '?' && last != '!' && last != '"') return false
    // word count: maximal non-line-whitespace runs (no '\n' inside a line)
    var words = 0
    var i = 0
    val len = t.length
    while (i < len && words < minWords) {
      while (i < len && isLineWs(t.charAt(i))) i += 1
      if (i < len) { words += 1; while (i < len && !isLineWs(t.charAt(i))) i += 1 }
    }
    if (words < minWords) return false
    // ASCII-case-insensitive "javascript" scan, allocation-free
    val needle = "javascript"
    var p = 0
    val limit = len - needle.length
    while (p <= limit) {
      var q = 0
      var ok = true
      while (ok && q < needle.length) {
        var c = t.charAt(p + q)
        if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
        if (c != needle.charAt(q)) ok = false else q += 1
      }
      if (ok) return false
      p += 1
    }
    true
  }

  /** Order-preserving removal of repeated lines within one document (exact
    * string equality, first occurrence wins) — the within-doc half of
    * boilerplate removal in CCNet/RefinedWeb-style pipelines (nav bars,
    * cookie banners, repeated headers). Map-side, zero shuffle: the
    * corpus-level sibling is chunk-granular dedup (`dedup/ChunkDedup`).
    */
  def dedupLines(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.indexOf('\n') < 0) return s
    val seen = new java.util.LinkedHashSet[String]()
    val parts = str.split("\n", -1)
    var i = 0
    while (i < parts.length) { seen.add(parts(i)); i += 1 }
    UTF8String.fromString(String.join("\n", seen))
  }

  /** Remove the tokens covered by `spans` ([start,end) token-index pairs,
    * the `SpanDedup.duplicatedSpans` output shape) and rejoin the kept
    * tokens with single spaces — the cleaning half of exact-substring
    * dedup. Tokens are the engine-wide `\s+`-run convention ([[wsTokens]]),
    * so indices line up with `SpanDedup.positionalGramHashes` exactly.
    * Spans may overlap or arrive unsorted (coverage is a per-token mark,
    * not a sweep); out-of-range positions are clamped; null span elements
    * or null bounds are skipped. NOTE the output is whitespace-NORMALIZED
    * (any `\s+` run becomes one space) even where no span matched — the
    * same normalization either side of a cut would force anyway.
    */
  def removeSpans(text: UTF8String, spans: ArrayData): UTF8String = {
    val toks = wsTokens(text.toString)
    val covered = new Array[Boolean](toks.length)
    val n = spans.numElements()
    var i = 0
    while (i < n) {
      if (!spans.isNullAt(i)) {
        val r = spans.getStruct(i, 2)
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          // clamp IN Long space before narrowing — a start above
          // Int.MaxValue must clamp to the token count, not wrap
          val nToks = toks.length.toLong
          var p = math.min(math.max(r.getLong(0), 0L), nToks).toInt
          val e = math.min(math.max(r.getLong(1), 0L), nToks).toInt
          while (p < e) { covered(p) = true; p += 1 }
        }
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder(text.numBytes())
    var j = 0
    var first = true
    while (j < toks.length) {
      if (!covered(j)) {
        if (!first) sb.append(' ')
        sb.append(toks(j))
        first = false
      }
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** BPE-encode the text against a learned merge table (key `"left right"` -> rank): each `\s+`-run word starts as its code-point
    * symbols, then the LOWEST-rank adjacent pair present is merged (all
    * its occurrences in the word) until no mergeable pair remains — the
    * standard greedy-by-rank application every BPE runtime uses, so a
    * vocabulary trained anywhere with the same ranks tokenizes
    * identically. Map-side, zero shuffle; the merge table rides the plan
    * as a codegen reference object.
    */
  def bpeEncode(s: UTF8String, ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val words = wsTokens(s.toString)
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](words.length * 2)
    var w = 0
    while (w < words.length) {
      val word = words(w)
      // code-point symbols (surrogate-pair safe)
      var syms = new scala.collection.mutable.ArrayBuffer[String](word.length)
      var ci = 0
      while (ci < word.length) {
        val cp = word.codePointAt(ci)
        syms += new String(Character.toChars(cp))
        ci += Character.charCount(cp)
      }
      var done = syms.length < 2
      while (!done) {
        // find the lowest-rank adjacent pair
        var best = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          val r = ranks.get(syms(i) + " " + syms(i + 1))
          if (r != null && r < best) best = r
          i += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          // merge every occurrence of the best pair, left to right
          val merged = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && {
              val r = ranks.get(syms(i) + " " + syms(i + 1))
              r != null && r == best
            }) {
              merged += syms(i) + syms(i + 1)
              i += 2
            } else {
              merged += syms(i)
              i += 1
            }
          }
          syms = merged
          done = syms.length < 2
        }
      }
      var j = 0
      while (j < syms.length) { out += UTF8String.fromString(syms(j)); j += 1 }
      w += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  // ---- byte-level BPE (the GPT-2 / tiktoken tokenizer family) ----

  /** GPT-2's bytes_to_unicode table (Radford et al. 2019, encoder.py —
    * a public algorithm): every byte maps to a PRINTABLE BMP char so
    * byte sequences round-trip through the string-keyed merge
    * machinery. Printable bytes (33-126, 161-172, 174-255) map to
    * themselves; the other 68 bytes map to 256+n in byte order — which
    * is why space is the famous 'Ġ' (U+0120) and newline 'Ċ' (U+010A).
    */
  val Gpt2ByteToChar: Array[Char] = {
    val printable = new Array[Boolean](256)
    ((33 to 126) ++ (161 to 172) ++ (174 to 255)).foreach(printable(_) = true)
    val arr = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if (printable(b)) arr(b) = b.toChar
      else { arr(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    arr
  }

  /** Inverse of [[Gpt2ByteToChar]], indexed by char (max mapped cp is
    * 256+67 = 323); -1 for chars outside the byte alphabet.
    */
  val Gpt2CharToByte: Array[Int] = {
    val arr = Array.fill(324)(-1)
    var b = 0
    while (b < 256) { arr(Gpt2ByteToChar(b)) = b; b += 1 }
    arr
  }

  /** GPT-2's pre-tokenizer regex (public): contractions, optional-space
    * letter/number/punct runs, and whitespace runs that donate their
    * last space to the following word (`\s+(?!\S)` — a lookahead, which
    * Java regex supports; RE2/DuckDB does NOT, which is why the
    * byte-BPE queries pin golden VALUES instead of a CTE replay).
    * Compiled with UNICODE_CHARACTER_CLASS so `\s`/`\S` match Unicode
    * whitespace (U+00A0 etc.) as in the Python `regex` module GPT-2 /
    * tiktoken use — Java's default ASCII `\s` would absorb non-ASCII
    * whitespace into punct runs and diverge from the real tokenizer
    * family (ADVICE round 10).
    */
  private val Gpt2Pretok = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+",
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  def gpt2PretokensRaw(text: String): Array[String] = {
    val m = Gpt2Pretok.matcher(text)
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) out += m.group()
    out.toArray
  }

  def gpt2Pretokens(s: UTF8String): ArrayData =
    new GenericArrayData(gpt2PretokensRaw(s.toString)
      .map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])

  /** A pre-token's byte-level form: UTF-8 bytes mapped through
    * [[Gpt2ByteToChar]] — the symbol alphabet the byte-level merge loop
    * and encoder operate on. Total (no UNK): every byte has a char.
    */
  def gpt2ByteForm(word: String): String = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) { sb.append(Gpt2ByteToChar(bytes(i) & 0xff)); i += 1 }
    sb.toString
  }

  /** Mapped token string back to text bytes (round-trip inverse of
    * [[gpt2ByteForm]]). Throws on chars outside the byte alphabet.
    */
  def gpt2BytesOf(token: String): Array[Byte] = {
    val out = new Array[Byte](token.length)
    var i = 0
    while (i < token.length) {
      val c = token.charAt(i)
      val b = if (c < 324) Gpt2CharToByte(c) else -1
      require(b >= 0, s"char U+${Integer.toHexString(c)} is not in the GPT-2 byte alphabet")
      out(i) = b.toByte
      i += 1
    }
    out
  }

  /** Byte-level BPE token ids: split on special tokens (leftmost-first,
    * longest-at-tie — specials are atomic and never byte-split), GPT-2
    * pre-tokenize each segment, map pre-tokens to byte-char form, apply
    * the merge table greedy-by-lowest-rank (the same application loop
    * as [[bpeEncode]]), and look each final symbol up in `vocab`
    * (base-256 byte alphabet + one entry per merge + specials — total
    * by construction, so no UNK path exists). Map-side, zero shuffle.
    */
  def byteBpeEncodeIds(s: UTF8String, model: ByteBpeTables): ArrayData = {
    val text = s.toString
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var pos = 0
    while (pos < text.length) {
      // next special occurrence (leftmost; longest wins at the same start)
      var spStart = -1
      var spIdx = -1
      var k = 0
      while (k < model.specials.length) {
        val at = text.indexOf(model.specials(k), pos)
        if (at >= 0 && (spStart < 0 || at < spStart ||
            (at == spStart && model.specials(k).length > model.specials(spIdx).length))) {
          spStart = at
          spIdx = k
        }
        k += 1
      }
      val segEnd = if (spStart < 0) text.length else spStart
      if (segEnd > pos) {
        val toks = gpt2PretokensRaw(text.substring(pos, segEnd))
        var t = 0
        while (t < toks.length) {
          encodeWord(gpt2ByteForm(toks(t)), model, out)
          t += 1
        }
      }
      if (spStart >= 0) {
        out += model.specialIds(spIdx)
        pos = spStart + model.specials(spIdx).length
      } else pos = text.length
    }
    ArrayData.toArrayData(out.toArray)
  }

  private def encodeWord(mapped: String, model: ByteBpeTables,
      out: scala.collection.mutable.ArrayBuffer[Long]): Unit = {
    var syms = new scala.collection.mutable.ArrayBuffer[String](mapped.length)
    var i = 0
    while (i < mapped.length) { syms += String.valueOf(mapped.charAt(i)); i += 1 }
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue
      i = 0
      while (i < syms.length - 1) {
        val r = model.ranks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val merged = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && {
            val r = model.ranks.get(syms(i) + " " + syms(i + 1))
            r != null && r == best
          }) {
            merged += syms(i) + syms(i + 1)
            i += 2
          } else {
            merged += syms(i)
            i += 1
          }
        }
        syms = merged
        done = syms.length < 2
      }
    }
    i = 0
    while (i < syms.length) {
      val id = model.vocab.get(syms(i))
      if (id == null)
        throw new IllegalStateException(s"byte-BPE symbol '${syms(i)}' missing from vocab")
      out += id.longValue
      i += 1
    }
  }

  // ---- UTF8String/ArrayData adapters called from generated code ----

  def minhashSigData(s: UTF8String, k: Int, numHashes: Int, seed: Long): ArrayData =
    new GenericArrayData(minhashSig(s.toString, k, numHashes, seed))

  def shingleHashSetData(s: UTF8String, k: Int): ArrayData =
    new GenericArrayData(shingleHashSet(s.toString, k))

  def simhash64Str(s: UTF8String): Long = simhash64(s.toString)
}
