package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What more than one query area uses: the table reader, the pre-sort
  * cache, the captured-LM trainer and oracle SQL fragments (the
  * differential fuzz harness replays some of the fragments too).
  */
object Shared {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Persist a slim projected frame before a global ORDER BY when the
    * projection is expensive and MAP-ONLY: the range sort's boundary
    * sample is a full extra evaluation of the exchange child — with no
    * upstream shuffle stage for AQE to reuse, such a query pays its
    * whole kernel chain twice (measured on q101: two back-to-back
    * ~1.4 s single-stage jobs, r11). Guide §5's exact caching
    * criterion: reused (sample + exchange) AND expensive to recompute.
    * The cached rows are exactly the query's OUTPUT columns — slim for
    * most call sites, but text-bearing where text IS an output field
    * (q93's round-tripped text, q130's WET text): those are the
    * heaviest session-lifetime caches and the reason harnesses must
    * drain [[graft.etl.CacheTracker]] between queries (Bench/Verify do).
    * Queries with an aggregation/join exchange before the sort do NOT
    * need this — the sample reads the materialized shuffle output.
    */
  private[graft] def cacheBeforeSort(df: DataFrame): DataFrame =
    graft.etl.CacheTracker.persistTracked(df)

  /** DuckDB replay of [[graft.functions.TextFunctions.sentencesAbbrevGuard]]'s
    * mask fold — generated from the SAME
    * [[graft.functions.TextFunctions.abbrevMaskSteps]] the Spark side
    * folds over (one alternation pass for plain entries + per-entry
    * passes for dotted ones), so query and oracle can never drift.
    */
  private[graft] def abbrevMaskSql(expr: String): String =
    graft.functions.TextFunctions
      .abbrevMaskSteps(graft.functions.TextFunctions.DefaultAbbreviations)
      .foldLeft(expr) { case (acc, (pat, _, duckRep)) =>
        s"regexp_replace($acc, '$pat', '$duckRep', 'g')"
      }

  /** q107's fixture prefixes: the same visible string in NFC-composed and
    * NFD-decomposed encodings (é=U+00E9 vs e+U+0301, à vs a+U+0300,
    * ï vs i+U+0308). Normal (not triple-quoted) literals so the \\u
    * escapes are processed; shared by the Spark query and the oracle SQL
    * so both sides use byte-identical codepoints.
    */
  private[graft] val NfcComposedPrefix: String =
    "Caf\u00E9 d\u00E9j\u00E0 vu na\u00EFve r\u00E9sum\u00E9 "
  private[graft] val NfcDecomposedPrefix: String =
    "Cafe\u0301 de\u0301ja\u0300 vu nai\u0308ve re\u0301sume\u0301 "

  /** DuckDB replay of [[graft.functions.TextAlgo.unicodeTokens]] applied
    * to the SQL expression `textExpr`: space out CJK codepoints (they
    * become single tokens), ASCII-fold case, extract letter/mark/number
    * runs. The CJK class is quoted from [[graft.functions.TextAlgo.CjkClass]]
    * so kernel and oracle can never disagree on the ranges.
    */
  private[graft] def unicodeToksSql(textExpr: String): String =
    "regexp_extract_all(translate(regexp_replace(" + textExpr + ", '(" +
      graft.functions.TextAlgo.CjkClass + ")', ' \\1 ', 'g'), " +
      "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), " +
      "'[\\p{L}\\p{M}\\p{N}]+')"

  /** DuckDB CASE/IN replay of [[graft.functions.Url.registrableDomain]]
    * over the bundled [[graft.functions.PublicSuffix.Snapshot]]: the
    * suffix snapshot becomes literal IN lists (one per label count,
    * longest first), the candidate extraction the same anchored
    * Java/RE2-shared regex. `host` is the SQL expression holding the
    * already-lowercased host.
    */
  private[graft] def etld1OracleSql(host: String): String = {
    // the same rule split as both Spark tiers (Url.splitRules), so the
    // oracle ladder cannot drift from the engine's
    val (excRules, wildTails, normals) =
      graft.functions.Url.splitRules(graft.functions.PublicSuffix.Snapshot)
    val byLen = normals.groupBy(_.count(_ == '.') + 1)
    val wildByLen = wildTails.groupBy(_.count(_ == '.') + 2)
    val maxK = (byLen.keys ++ wildByLen.keys).foldLeft(2)(math.max)
    def lastK(k: Int) =
      s"regexp_extract($host, '([^.]+(?:[.][^.]+){${k - 1}})$$', 1)"
    def inList(set: Seq[String]) = set.sorted.map(s => s"'$s'").mkString(", ")
    // exception rules first (they prevail over every other match), then
    // descending k with normal IN-sets and wildcard tail matches OR'd
    val excWhens = excRules.groupBy(_.count(_ == '.') + 1).toSeq.sortBy(-_._1)
      .map { case (n, rules) =>
        s"WHEN ${lastK(n)} IN (${inList(rules)})\n      THEN ${lastK(n)}"
      }
    val kWhens = (maxK to 2 by -1).flatMap { k =>
      val conds =
        byLen.get(k).map(set => s"${lastK(k)} IN (${inList(set)})").toSeq ++
          wildByLen.get(k).map(tails =>
            s"(${lastK(k - 1)} IN (${inList(tails)}) AND ${lastK(k)} <> '')")
      if (conds.isEmpty) None
      else Some(s"WHEN ${conds.mkString(" OR ")}\n      THEN nullif(${lastK(k + 1)}, '')")
    }
    val whens = (excWhens ++ kWhens).mkString("\n    ")
    s"CASE WHEN NOT starts_with($host, '[') THEN\n  CASE $whens\n" +
      s"    ELSE nullif(${lastK(2)}, '') END\nEND"
  }

  /** A bounded hashed n-gram model trained once, collected to the driver:
    * `frame` is the (g, prob, unseen_prob) model that scores, `grams` and
    * `unseen` the (gram, prob) rows and the unseen floor an oracle replays
    * (the string form [[graft.text.UnigramLm.trainNgramModelHashedCaptured]]
    * carries, so the replay is engine-independent).
    */
  private[graft] final case class CapturedLm(
      frame: DataFrame, grams: Seq[(String, Double)], unseen: Double)

  /** Trains a [[CapturedLm]] on `textCol` of `slice`; `what` names the
    * training set in the empty-model error.
    */
  private[graft] def trainCapturedLm(s: SparkSession, slice: DataFrame, textCol: String,
      n: Int, maxGrams: Int, what: String): CapturedLm = {
    val modelRows = graft.text.UnigramLm.trainNgramModelHashedCaptured(
      slice, textCol, n = n, maxGrams = maxGrams).collect()
    require(modelRows.nonEmpty, s"$what produced an empty model")
    import s.implicits._
    CapturedLm(
      modelRows.map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
        .toSeq.toDF("g", "prob", "unseen_prob"),
      modelRows.map(r => (r.getString(1), r.getDouble(2))).toSeq,
      modelRows.head.getDouble(3))
  }
}
