package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextAlgo

/** Per-domain boilerplate line removal — the CCNet/OSCAR-family trick:
  * a line occurring in a large fraction of a DOMAIN's pages is site
  * chrome (nav bars, cookie banners, copyright footers), not content,
  * and should be stripped before dedup/quality scoring. The
  * within-document sibling is `TextFunctions.dedupLines`; this one
  * needs CROSS-document evidence, so it is a (bounded) shuffle
  * operator, not a kernel alone.
  *
  * Scale shape (the 100 TB contract):
  *  - the counting side shuffles ONLY (domain, line-fp, doc-id) rows
  *    with 8-byte md5-60 fps — line TEXT never leaves its partition;
  *  - the boilerplate set per domain is small BY CONSTRUCTION (each
  *    entry recurs in >= minFrac of the domain's docs, so a domain
  *    contributes at most lines-per-page / minFrac entries), collected
  *    into one sorted fp array per domain and joined back broadcast
  *    (`broadcastFps = false` for pathological domain counts);
  *  - removal is ONE compiled kernel pass per document
  *    ([[graft.functions.Kernels.stripLinesByFp]], binary-search
  *    against the sorted fp array) — document bodies are never
  *    reshuffled.
  *
  * Conventions (engine-portable, all replayed by the q113 oracle):
  * lines split on '\n'; vote/removal key is the line stripped of ASCII
  * [ \t\x0B\f\r] at both ends; blank-stripped lines are never
  * boilerplate (and never removed); kept lines keep their ORIGINAL
  * bytes and order; fp = md5-60 of the stripped line (the portable
  * convention shared with KMV/winnowing). A line is boilerplate in a
  * domain when its distinct-doc frequency df satisfies
  * df >= minDocs AND df >= minFrac * domainDocs.
  */
object Boilerplate {

  private[dedup] val StripHeadRe = "^[ \\t\\x0B\\f\\r]+"
  private[dedup] val StripTailRe = "[ \\t\\x0B\\f\\r]+$"

  private def isStrip(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\u000B' || c == '\f' || c == '\r'

  /** JVM twin of the oracle's regexp strip (ASCII class, both ends). */
  private[graft] def stripAscii(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isStrip(s.charAt(a))) a += 1
    while (b > a && isStrip(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** md5-60 of a line: [[TextAlgo.md5Hash60]], the hash of the other
    * portable kernels.
    */
  private[graft] def lineFp60(s: String): Long =
    TextAlgo.md5Hash60(java.security.MessageDigest.getInstance("MD5"), s)

  /** Binary search over the ArrayData in place — no materialization. */
  @inline private def containsFp(fps: ArrayData, n: Int, key: Long): Boolean = {
    var lo = 0
    var hi = n - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = fps.getLong(mid)
      if (v < key) lo = mid + 1
      else if (v > key) hi = mid - 1
      else return true
    }
    false
  }

  /** Kernel body: drop lines whose stripped form is non-blank and whose
    * fp is in `fps`; keep original bytes/order. Returns
    * (cleaned, n_lines, n_removed) — counts computed here so an
    * all-lines-removed result is not confused with one kept blank line.
    *
    * CONTRACT: `fps` must be sorted ascending — both producers
    * ([[domainBoilerplateFps]] via `sort_array`, and any caller of
    * [[stripLinesByFp]]) are required to pass sorted arrays, and the
    * kernel binary-searches the ArrayData directly with no per-row
    * allocation. A cheap O(k) is-sorted scan guards the contract; on
    * the (out-of-contract) unsorted path it falls back to a one-off
    * copy + sort rather than returning silently wrong results.
    */
  def stripByFp(text: UTF8String, fps: ArrayData): InternalRow = {
    val nFps = fps.numElements()
    var sortedIn = true
    var j = 1
    while (sortedIn && j < nFps) {
      if (fps.getLong(j - 1) > fps.getLong(j)) sortedIn = false
      j += 1
    }
    val fallback: Array[Long] =
      if (sortedIn) null
      else { val a = fps.toLongArray(); java.util.Arrays.sort(a); a }
    val lines = text.toString.split("\n", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val kept = new StringBuilder
    var removed = 0
    var first = true
    var i = 0
    while (i < lines.length) {
      val sl = stripAscii(lines(i))
      val drop = sl.nonEmpty && nFps > 0 &&
        (if (sortedIn) containsFp(fps, nFps, TextAlgo.md5Hash60(md, sl))
         else java.util.Arrays.binarySearch(fallback, TextAlgo.md5Hash60(md, sl)) >= 0)
      if (drop) removed += 1
      else {
        if (!first) kept.append('\n')
        kept.append(lines(i))
        first = false
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(kept.toString), lines.length, removed))
  }

  /** The [[graft.functions.Kernels.stripLinesByFp]] kernel:
    * struct(cleaned, n_lines, n_removed).
    */
  def stripLinesByFp(text: Column, fps: Column): Column =
    graft.functions.Kernels.stripLinesByFp(text, fps)

  /** The per-domain boilerplate fp sets: (domain, boiler_fps sorted
    * array<long>). Counting shuffles only (domain, fp, id); the
    * returned frame has one small row per domain that HAS boilerplate.
    */
  def domainBoilerplateFps(
      docs: DataFrame,
      textCol: String,
      domainCol: String,
      idCol: String,
      minFrac: Double = 0.5,
      minDocs: Int = 2): DataFrame = {
    require(minFrac > 0.0 && minFrac <= 1.0, s"minFrac must be in (0, 1], got $minFrac")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val stripped = regexp_replace(
      regexp_replace(col("__l"), StripHeadRe, ""), StripTailRe, "")
    val votes = docs
      .select(col(domainCol).as("__dom"), col(idCol).as("__id"),
        explode(split(coalesce(col(textCol), lit("")), "\n", -1)).as("__l"))
      .select(col("__dom"), col("__id"), stripped.as("__sl"))
      .where(col("__sl") =!= "")
      .select(col("__dom"), col("__id"),
        graft.sketch.Kmv.hash60(col("__sl")).as("__fp"))
      .distinct() // one vote per (domain, doc, line)
    val freq = votes.groupBy(col("__dom"), col("__fp"))
      .agg(count(lit(1)).as("__df"))
    val domDocs = docs.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__nd"))
    freq.join(broadcast(domDocs), "__dom")
      .where(col("__df") >= minDocs &&
        col("__df").cast("double") >= lit(minFrac) * col("__nd").cast("double"))
      .groupBy(col("__dom"))
      .agg(sort_array(collect_list(col("__fp"))).as("boiler_fps"))
      .select(col("__dom").as("domain"), col("boiler_fps"))
  }

  /** Strip per-domain boilerplate lines from every document: the input
    * columns plus struct fields cleaned / n_lines / n_removed.
    */
  def stripDomainBoilerplate(
      docs: DataFrame,
      textCol: String,
      domainCol: String,
      idCol: String,
      minFrac: Double = 0.5,
      minDocs: Int = 2,
      broadcastFps: Boolean = true): DataFrame = {
    val boiler0 = domainBoilerplateFps(docs, textCol, domainCol, idCol, minFrac, minDocs)
      .select(col("domain").as("__bdom"), col("boiler_fps"))
    val boiler = if (broadcastFps) broadcast(boiler0) else boiler0
    val emptyFps = array().cast("array<long>")
    docs.join(boiler, docs(domainCol) === boiler("__bdom"), "left")
      .drop("__bdom")
      .withColumn("__res", stripLinesByFp(col(textCol),
        coalesce(col("boiler_fps"), emptyFps)))
      .drop("boiler_fps")
      .withColumn("cleaned", col("__res.cleaned"))
      .withColumn("n_lines", col("__res.n_lines"))
      .withColumn("n_removed", col("__res.n_removed"))
      .drop("__res")
  }
}
