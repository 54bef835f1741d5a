package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

import Shared._

/** Ingestion queries: HTML extraction, WARC, WET, JSONL and gzip round
  * trips, URL parsing and canonicalization, the ingest gate and the link
  * graph.
  */
object IngestQueries {

  val all: Seq[Query] = Seq(
    // q79: JSONL boundary roundtrip (graft.data.JsonLines) — sharded
    // lang-partitioned JSONL export then explicit-schema PERMISSIVE
    // read-back; the oracle is the source table itself, so a hash-green
    // run proves the interchange format is lossless INCLUDING newlines
    // and escapes in text, and that no line was dropped or quarantined
    Query.fixed("q79_jsonl_roundtrip", (s, dir) => {
      import org.apache.spark.sql.types._
      val out = Scratch.dir().toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
      graft.data.JsonLines.writeSharded(docs, out,
        partitionCols = Seq("lang"), orderCols = Seq(col("doc_id")),
        maxRecordsPerFile = 2000, shardsPerPartition = 2)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("n_chars", LongType), StructField("text", StringType),
        StructField("lang", StringType)))
      graft.data.JsonLines.read(s, out, schema)
        .where(col("_corrupt_line").isNull)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang, source, n_chars, text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // q88: HTML -> text extraction (TextFunctions.htmlToText, SURVEY+
    // L52) — each document wrapped into a full HTML page (head/style,
    // h1, comment, p, trailing script) and extracted back: block
    // removal, tag->space, entity decode, collapse. The whole operator
    // is a codegen'd regexp/replace chain over shared Java/RE2 syntax,
    // so the oracle replays extraction byte-for-byte.
    Query.fixed("q88_html_extract", (s, dir) =>
      // range-partitioned before the kernel (Shared): one kernel
      // evaluation and no cache, where a cache of the output would
      // have held the whole cleaned corpus
      t(s, dir, "documents")
        .repartitionByRange(col("doc_id"))
        .select(col("doc_id"),
          htmlPage.as("html"))
        .select(col("doc_id"),
          TextFunctions.htmlToText(col("html")).as("text_clean"))
        .orderBy(col("doc_id")),
      // HTML extraction replay: same regexp/replace chain (RE2-shared
      // syntax; 'g' flag = Spark's replace-all default; || = Spark concat
      // null semantics)
      """WITH h AS (SELECT doc_id,
        |  '<html><head><style>p { color: red }</style></head><body><h1>' || source ||
        |  '</h1><!-- id --><p>' || text ||
        |  '</p><script>var x = 1 &amp;&amp; 2;</script></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(html,
        |    '(?s)<[sS][cC][rR][iI][pP][tT][^>]*>.*?</[sS][cC][rR][iI][pP][tT]>', ' ', 'g'),
        |    '(?s)<[sS][tT][yY][lL][eE][^>]*>.*?</[sS][tT][yY][lL][eE]>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(t,
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', chr(39)), '&amp;', '&') AS t FROM s2)
        |SELECT doc_id,
        |  trim(regexp_replace(t, '[ \t\r\n\f]+', ' ', 'g'), ' ') AS text_clean
        |FROM s3 ORDER BY doc_id""".stripMargin),

    // q89: WARC record parsing (graft.data.Warc, SURVEY+ L53) — each
    // document synthesized into a two-record WARC cell (response +
    // metadata, byte-accurate Content-Length via octet_length) and
    // parsed back by the compiled kernel; the oracle is the identity
    // derivation straight off the documents table, so any framing or
    // byte-slicing error in the parser breaks the hash.
    Query.fixed("q89_warc_roundtrip", (s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("text").isNotNull && col("source").isNotNull)
      val blob = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://example.org/doc/"),
        col("doc_id"),
        lit("\r\nContent-Length: "), octet_length(col("text")),
        lit("\r\n\r\n"), col("text"), lit("\r\n\r\n"),
        lit("WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Target-URI: https://example.org/meta/"),
        col("doc_id"),
        lit("\r\nContent-Length: "), octet_length(col("source")),
        lit("\r\n\r\n"), col("source"), lit("\r\n\r\n"))
      docs.select(col("doc_id"),
          posexplode(graft.data.Warc.parseRecords(blob)).as(Seq("idx", "r")))
        .select(col("doc_id"), col("idx").cast("long").as("idx"),
          col("r.warc_type"), col("r.target_uri"),
          col("r.content_length"), col("r.payload"))
        .orderBy(col("doc_id"), col("idx"))
    },
      // WARC roundtrip: the parsed records must equal the identity
      // derivation off the source table (same synthesized fields)
      """WITH base AS (SELECT doc_id, text, source FROM documents
        |  WHERE text IS NOT NULL AND source IS NOT NULL)
        |SELECT doc_id, CAST(0 AS BIGINT) AS idx, 'response' AS warc_type,
        |  'https://example.org/doc/' || doc_id AS target_uri,
        |  CAST(strlen(text) AS BIGINT) AS content_length, text AS payload
        |FROM base
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT), 'metadata',
        |  'https://example.org/meta/' || doc_id,
        |  CAST(strlen(source) AS BIGINT), source
        |FROM base
        |ORDER BY doc_id, idx""".stripMargin),

    // q90: composed web-ingestion capstone — WARC parse -> HTML->text
    // extraction -> min-token quality gate -> per-source corpus stats,
    // all in one plan. The oracle rebuilds the page and REPLAYS
    // extraction+filter+agg but trusts no parser: if the WARC kernel
    // returned one wrong payload byte, extraction output diverges and
    // the hash breaks (q89 proves parse identity; this proves the
    // chain composes).
    Query.fixed("q90_ingest_chain", (s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("text").isNotNull && col("source").isNotNull)
      docs.select(col("doc_id"), col("source"),
          explode(graft.data.Warc.parseRecords(warcPageRecord)).as("r"))
        .where(col("r.warc_type") === "response")
        .select(col("source"),
          TextFunctions.htmlToText(col("r.payload")).as("clean"))
        .where(TextFunctions.tokenCount(col("clean")) >= 50)
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("clean"))).as("n_tokens"),
          sum(length(col("clean")).cast("long")).as("n_chars"))
        .orderBy(col("source"))
    },
      // ingestion-chain replay: rebuild the page, replay extraction +
      // token gate + agg — parse correctness is implied by equality
      """WITH h AS (SELECT source,
        |  '<html><head><style>p { color: red }</style></head><body><h1>' || source ||
        |  '</h1><!-- id --><p>' || text ||
        |  '</p><script>var x = 1 &amp;&amp; 2;</script></body></html>' AS html
        |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
        |s1 AS (SELECT source,
        |  regexp_replace(regexp_replace(regexp_replace(html,
        |    '(?s)<[sS][cC][rR][iI][pP][tT][^>]*>.*?</[sS][cC][rR][iI][pP][tT]>', ' ', 'g'),
        |    '(?s)<[sS][tT][yY][lL][eE][^>]*>.*?</[sS][tT][yY][lL][eE]>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT source, regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT source,
        |  replace(replace(replace(replace(replace(replace(t,
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', chr(39)), '&amp;', '&') AS t FROM s2),
        |c AS (SELECT source,
        |  trim(regexp_replace(t, '[ \t\r\n\f]+', ' ', 'g'), ' ') AS clean FROM s3),
        |w AS (SELECT source, clean,
        |  len(list_filter(string_split_regex(clean, '[\s\x0b]+'), x -> x <> '')) AS n_tok
        |  FROM c)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(clean)) AS BIGINT) AS n_chars
        |FROM w WHERE n_tok >= 50
        |GROUP BY source ORDER BY source""".stripMargin),

    // q91: the ingestion chain as the REUSABLE streaming transform
    // (graft.streaming.IngestPipeline.warcToCleanDocs, SURVEY+ L54) —
    // WARC parse -> HTML extraction -> full Gopher gate in one stateless
    // map pipeline, run here in batch and aggregated per source. The
    // gate is kept as a struct (requirePass=false) because the synthetic
    // corpus fails the stopword rule corpus-wide — the per-rule counts
    // carry the signal. The same transform over readStream is proven by
    // StreamingIngestSpec (restart recovery + replay idempotence).
    Query.fixed("q91_ingest_gate", (s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("text").isNotNull && col("source").isNotNull)
      gateCounts(graft.streaming.IngestPipeline.warcToCleanDocs(
          docs.select(col("source"), warcPageRecord.as("blob")), "blob",
          minWords = 50L, requirePass = false), "source")
    },
      // q91 replay: the q90 extraction CTEs composed with the q74 Gopher
      // gate CTEs, applied to the CLEANED text (the WARC roundtrip is
      // identity, oracle-verified by q89)
      ingestGateOracleSql("source", "source")),

    // q100: REAL-FILE .warc.gz ingestion (WarcFiles, SURVEY+ L63) — the
    // L57∘L53∘L52∘L38 composition over ACTUAL files: the fixture writer
    // serializes the q90/q91 page corpus into 8 gzipped WARC shard
    // files (driver-side, bounded, deterministic), then the query
    // ingests them through binaryFile -> gunzip -> WARC parse -> HTML
    // extraction -> Gopher gate and aggregates per shard. The oracle
    // replays extraction+gate from the PRE-compression truth keyed by
    // the same doc_id % 8 assignment — any byte lost in the gzip/file/
    // parse roundtrip breaks the hash. Streaming twin: the same files
    // read via the file stream source in StreamingIngestSpec.
    Query.fixed("q100_warcgz_ingest", (s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("text").isNotNull && col("source").isNotNull)
        .select(col("doc_id"), col("source"), col("text")).collect()
      val records = docs.toSeq.map { r =>
        val id = r.getLong(0)
        val page = "<html><head><style>p { color: red }</style></head><body><h1>" +
          r.getString(1) + "</h1><!-- id --><p>" + r.getString(2) +
          "</p><script>var x = 1 &amp;&amp; 2;</script></body></html>"
        id -> graft.data.WarcFiles.responseRecord(s"https://example.org/doc/$id", page)
      }
      val fixDir = Scratch.dir()
      graft.data.WarcFiles.writeShards(records, fixDir, nShards = 8)
      val blobs = graft.data.WarcFiles
        .readWarcGz(s, fixDir.toString)
        .select(regexp_extract(col("path"), "shard_([0-9]+)", 1)
          .cast("int").as("shard"), col("blob"))
      gateCounts(graft.streaming.IngestPipeline.warcToCleanDocs(
          blobs, "blob", minWords = 50L, requirePass = false), "shard")
    },
      // q100 replay: the SAME extraction+gate chain from the
      // PRE-compression truth, grouped by the shard assignment the fixture
      // writer used (doc_id % 8) — the gzip/file roundtrip must be
      // invisible to every count for the hash to match
      ingestGateOracleSql("CAST(doc_id % 8 AS INT)", "shard")),

    // q93: GZIP compress -> decompress roundtrip (graft.functions.Gzip,
    // SURVEY+ L57) — the compressed-TEXT codec of the web-ingestion
    // front, real (java.util.zip) where the media codecs are stubbed.
    // Oracle = identity on the text (one wrong byte anywhere in either
    // codec breaks the hash); the quarantine/zip-bomb semantics are
    // spec-covered (GzipSpec) and fuzz-covered (fz_gzip).
    Query.fixed("q93_gzip_roundtrip", (s, dir) =>
      // range-partitioned before the codec (Shared): one evaluation and
      // no cache, where a cache of text_rt would have held the corpus
      t(s, dir, "documents")
        .repartitionByRange(col("doc_id"))
        .select(col("doc_id"),
          graft.functions.Gzip.gunzipText(
            graft.functions.Gzip.gzip(col("text"))).as("text_rt"))
        .select(col("doc_id"), col("text_rt"),
          length(col("text_rt")).as("n_chars"))
        .orderBy(col("doc_id")),
      // gzip roundtrip: the oracle is the identity — the compressed bytes
      // are engine-specific, but the roundtripped TEXT must be byte-equal
      """SELECT doc_id, text AS text_rt, length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // q94: URL decomposition (graft.functions.Url, SURVEY+ L58) — the
    // per-domain-cap keying primitive over synthesized URLs exercising
    // case-folding, userinfo, ports, ccTLD-ish suffixes, queries and
    // fragments. Pure codegen'd regexp builtins under the Java/RE2
    // shared-syntax discipline, so the oracle replays the parse
    // byte-for-byte from the same construction — including the eTLD+1
    // public-suffix ladder (the suffix snapshot becomes IN lists in the
    // oracle) over ccTLD (co.uk), 3-label private
    // (s3.amazonaws.com), wildcard (*.ck -> '...example.ck' is itself a
    // public suffix) and exception (!www.ck -> registrable domain is the
    // rule itself, prevailing over the wildcard) rules.
    Query.fixed("q94_url_parts", (s, dir) => {
      val id = col("doc_id")
      val url = concat(
        element_at(array(lit("https"), lit("HTTP"), lit("ftp")),
          (id % 3 + 1).cast("int")),
        lit("://"),
        when(id % 7 === 0, lit("user:pw@")).otherwise(lit("")),
        lit("Sub"), id % 5, lit(".host"), id % 11, lit(".example."),
        element_at(array(lit("com"), lit("org"), lit("co.uk"), lit("s3.amazonaws.com"),
          lit("ck"), lit("www.ck")), (id % 6 + 1).cast("int")),
        when(id % 4 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), id,
        when(id % 2 === 0, lit("?q=x&n=1")).otherwise(lit("")),
        when(id % 6 === 0, lit("#frag")).otherwise(lit("")))
      // two projections: parts first, suffix ladder over the
      // materialized host attribute (registrableDomainOfHost scaladoc —
      // inlining the synthesized-URL derivation at every ladder
      // reference would blow the 64 KB codegen limit). The range
      // exchange carries only doc_id, so AQE would coalesce a default
      // range repartition into one partition and run the kernel in one
      // task; an explicit count (the session's shuffle partitions) is
      // not coalesced
      t(s, dir, "documents")
        .repartitionByRange(s.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
        .select(col("doc_id"), graft.functions.Url.urlParts(url).as("u"))
        .select(col("doc_id"), col("u.scheme").as("scheme"),
          col("u.host").as("host"), col("u.port").as("port"),
          col("u.path").as("path"), col("u.query").as("query"),
          col("u.domain").as("domain"),
          graft.functions.Url.registrableDomainOfHost(col("u.host")).as("etld1"))
        .orderBy(col("doc_id"))
    },
      // URL parse replay: identical construction, identical regexes (the
      // shared Java/RE2 syntax), identical ''-vs-NULL discipline; the
      // eTLD+1 ladder replays the PublicSuffix snapshot as IN lists
      ("""WITH u AS (SELECT doc_id,
        |  ['https','HTTP','ftp'][CAST(doc_id % 3 + 1 AS INT)] || '://' ||
        |  CASE WHEN doc_id % 7 = 0 THEN 'user:pw@' ELSE '' END ||
        |  'Sub' || (doc_id % 5) || '.host' || (doc_id % 11) || '.example.' ||
        |  ['com','org','co.uk','s3.amazonaws.com','ck','www.ck'][CAST(doc_id % 6 + 1 AS INT)] ||
        |  CASE WHEN doc_id % 4 = 0 THEN ':8080' ELSE '' END ||
        |  '/p/' || doc_id ||
        |  CASE WHEN doc_id % 2 = 0 THEN '?q=x&n=1' ELSE '' END ||
        |  CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |a AS (SELECT doc_id, url,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\r\n]*)', 1) AS auth_raw
        |  FROM u),
        |n AS (SELECT doc_id, url, auth_raw,
        |  regexp_extract(auth_raw, '(?:[^@]*@)?([^@]*)$', 1) AS no_user
        |  FROM a),
        |h AS (SELECT doc_id, url, auth_raw,
        |  nullif(lower(CASE WHEN starts_with(no_user, '[')
        |    THEN regexp_extract(no_user, '^(\[[^\]]*\])', 1)
        |    ELSE regexp_extract(no_user, '^([^:]*)', 1) END), '') AS host
        |  FROM n)
        |SELECT doc_id,
        |  nullif(lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '') AS scheme,
        |  host,
        |  CAST(nullif(regexp_extract(nullif(auth_raw, ''), ':([0-9]+)$', 1), '') AS INT) AS port,
        |  CASE WHEN nullif(auth_raw, '') IS NOT NULL
        |    THEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#\r\n]*([^?#]*)', 1) END AS path,
        |  CASE WHEN nullif(auth_raw, '') IS NOT NULL
        |    THEN nullif(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\?([^#]*)', 1), '') END AS query,
        |  CASE WHEN NOT starts_with(host, '[')
        |    THEN nullif(regexp_extract(host, '([^.]+[.][^.]+)$', 1), '') END AS domain,
        |""".stripMargin +
        etld1OracleSql("host") + " AS etld1\nFROM h ORDER BY doc_id")),

    // q97: per-domain cap keyed on the PARSED eTLD+1 — the L36+L58
    // composition run as one plan: synthesize target URIs (the q94
    // construction), extract the REGISTRABLE domain with the
    // public-suffix ladder (so `a.example.co.uk` caps under
    // `example.co.uk`, not the whole `co.uk` registry — the round-6
    // verdict's mis-keying fix), cap each domain with the portable md5
    // rank (map-side WindowGroupLimit). Proves the operators compose.
    Query.fixed("q97_url_domain_cap", (s, dir) => {
      val id = col("doc_id")
      val url = concat(
        element_at(array(lit("https"), lit("HTTP"), lit("ftp")),
          (id % 3 + 1).cast("int")),
        lit("://"),
        when(id % 7 === 0, lit("user:pw@")).otherwise(lit("")),
        lit("Sub"), id % 5, lit(".host"), id % 11, lit(".example."),
        element_at(array(lit("com"), lit("org"), lit("co.uk"), lit("s3.amazonaws.com"),
          lit("ck"), lit("www.ck")), (id % 6 + 1).cast("int")),
        when(id % 4 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), id,
        when(id % 2 === 0, lit("?q=x&n=1")).otherwise(lit("")),
        when(id % 6 === 0, lit("#frag")).otherwise(lit("")))
      // host materialized in its own projection, ladder over the
      // attribute (registrableDomainOfHost scaladoc)
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          graft.functions.Url.urlHost(url).as("host"))
        .select(col("doc_id"), col("n_chars"),
          graft.functions.Url.registrableDomainOfHost(col("host")).as("domain"))
      graft.etl.Mixing.capPerGroup(keyed, "domain", "doc_id", cap = 50)
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("domain"))
    },
      // L36+L58 composition replay: the q94 URL chain, the eTLD+1 suffix
      // ladder (IN-list replay of the PublicSuffix snapshot), then the
      // q72 md5-rank cap
      ("""WITH u AS (SELECT doc_id, n_chars,
        |  ['https','HTTP','ftp'][CAST(doc_id % 3 + 1 AS INT)] || '://' ||
        |  CASE WHEN doc_id % 7 = 0 THEN 'user:pw@' ELSE '' END ||
        |  'Sub' || (doc_id % 5) || '.host' || (doc_id % 11) || '.example.' ||
        |  ['com','org','co.uk','s3.amazonaws.com','ck','www.ck'][CAST(doc_id % 6 + 1 AS INT)] ||
        |  CASE WHEN doc_id % 4 = 0 THEN ':8080' ELSE '' END ||
        |  '/p/' || doc_id ||
        |  CASE WHEN doc_id % 2 = 0 THEN '?q=x&n=1' ELSE '' END ||
        |  CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |a AS (SELECT doc_id, n_chars,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\r\n]*)', 1) AS auth_raw
        |  FROM u),
        |n2 AS (SELECT doc_id, n_chars,
        |  regexp_extract(auth_raw, '(?:[^@]*@)?([^@]*)$', 1) AS no_user FROM a),
        |h AS (SELECT doc_id, n_chars,
        |  nullif(lower(CASE WHEN starts_with(no_user, '[')
        |    THEN regexp_extract(no_user, '^(\[[^\]]*\])', 1)
        |    ELSE regexp_extract(no_user, '^([^:]*)', 1) END), '') AS host
        |  FROM n2),
        |d AS (SELECT doc_id, n_chars,
        |""".stripMargin +
        etld1OracleSql("host") + " AS domain\n" +
        """  FROM h),
        |r AS (SELECT domain, n_chars,
        |  row_number() OVER (PARTITION BY domain
        |    ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
        |      doc_id) AS rk
        |  FROM d)
        |SELECT domain, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM r WHERE rk <= 50 GROUP BY domain ORDER BY domain""".stripMargin)),

    // q102: URL canonicalization (Url.canonicalize, SURVEY+ L64) — the
    // dedup / crawl-frontier key: lowercase scheme+host, drop userinfo,
    // drop default ports, "/" for empty paths, strip tracking params,
    // SORT the survivors, drop fragments. The synthesis plants exactly
    // the noise canonicalization must erase (shuffled param order,
    // utm/gclid params, :80/:443 on matching schemes, fragments), and
    // the n_distinct aggregate proves different-noise copies of the
    // same logical URL collapse to one key. Oracle replays the regex
    // chain + list_sort byte-for-byte.
    Query.fixed("q102_url_canonical", (s, dir) => {
      val id = col("doc_id")
      val url = concat(
        element_at(array(lit("http"), lit("HTTPS"), lit("http")),
          (id % 3 + 1).cast("int")),
        lit("://"),
        when(id % 7 === 0, lit("crawler:pw@")).otherwise(lit("")),
        lit("Host"), id % 11, lit(".example."),
        element_at(array(lit("com"), lit("org"), lit("co.uk")),
          (id % 3 + 1).cast("int")),
        element_at(array(lit(":80"), lit(":443"), lit(""), lit(":8080")),
          (id % 4 + 1).cast("int")),
        when(id % 5 === 0, lit("")).otherwise(concat(lit("/page/"), id % 50)),
        element_at(array(
          lit("?b=2&utm_source=feed&a=1"),
          lit("?a=1&gclid=XyZ123&b=2"),
          lit("?utm_campaign=x&utm_medium=y"),
          lit(""),
          lit("?b=2&a=1&fbclid=F00"),
          lit("?UTM_Source=Feed&a=1&b=2"), // uppercase tracking name
          lit("?b=2&fbclid&a=1")), // valueless tracking param
          (id % 7 + 1).cast("int")),
        when(id % 2 === 0, lit("#section-3")).otherwise(lit("")))
      // materialize the synthetic URL in its OWN projection before the
      // canonicalize ladder: canonicalize references its input ~12 times
      // (scheme/host/port/path/query each re-derive from it), and inlining
      // the concat/element_at decoration at every reference blew the
      // whole-stage-codegen method past the JVM's 64 KB limit — the stage
      // silently fell back to INTERPRETED eval (ERROR CodeGenerator in the
      // r11 baseline bench, 2.8 s -> codegen restored). An attribute
      // reference is one slot read; CollapseProject keeps the split
      // because the multiply-referenced alias is non-cheap.
      val canon = t(s, dir, "documents")
        .select(col("doc_id"), url.as("__url"))
        .select(col("doc_id"),
          graft.functions.Url.canonicalize(col("__url")).as("canonical"))
      canon
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_raw"), min(col("doc_id")).as("first_id"))
        .orderBy(col("canonical"))
    },
      // canonicalization replay: the q94 parse chain, then the SAME
      // tracking-strip regex chain + list_sort + default-port/path/query
      // assembly, aggregated by canonical key
      ("""WITH u AS (SELECT doc_id,
        |  ['http','HTTPS','http'][CAST(doc_id % 3 + 1 AS INT)] || '://' ||
        |  CASE WHEN doc_id % 7 = 0 THEN 'crawler:pw@' ELSE '' END ||
        |  'Host' || (doc_id % 11) || '.example.' ||
        |  ['com','org','co.uk'][CAST(doc_id % 3 + 1 AS INT)] ||
        |  [':80',':443','',':8080'][CAST(doc_id % 4 + 1 AS INT)] ||
        |  CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/page/' || (doc_id % 50) END ||
        |  ['?b=2&utm_source=feed&a=1','?a=1&gclid=XyZ123&b=2',
        |   '?utm_campaign=x&utm_medium=y','','?b=2&a=1&fbclid=F00',
        |   '?UTM_Source=Feed&a=1&b=2','?b=2&fbclid&a=1'][CAST(doc_id % 7 + 1 AS INT)] ||
        |  CASE WHEN doc_id % 2 = 0 THEN '#section-3' ELSE '' END AS url
        |  FROM documents),
        |a AS (SELECT doc_id, url,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\r\n]*)', 1) AS auth_raw
        |  FROM u),
        |n AS (SELECT doc_id, url, auth_raw,
        |  regexp_extract(auth_raw, '(?:[^@]*@)?([^@]*)$', 1) AS no_user FROM a),
        |h AS (SELECT doc_id,
        |  nullif(lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '') AS scheme,
        |  nullif(lower(CASE WHEN starts_with(no_user, '[')
        |    THEN regexp_extract(no_user, '^(\[[^\]]*\])', 1)
        |    ELSE regexp_extract(no_user, '^([^:]*)', 1) END), '') AS host,
        |  CAST(nullif(regexp_extract(nullif(auth_raw, ''), ':([0-9]+)$', 1), '') AS INT) AS port,
        |  CASE WHEN nullif(auth_raw, '') IS NOT NULL
        |    THEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#\r\n]*([^?#]*)', 1) END AS path,
        |  CASE WHEN nullif(auth_raw, '') IS NOT NULL
        |    THEN nullif(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\?([^#]*)', 1), '') END AS query
        |  FROM n),
        |sq AS (SELECT doc_id, scheme, host, port, path, query,
        |  array_to_string(list_sort(string_split(
        |    regexp_replace(regexp_replace(regexp_replace(query,
        |      '""".stripMargin +
        graft.functions.Url.TrackingStripRe + """', '\1', 'g'),
        |      '&&+', '&', 'g'),
        |      '^&+|&+$', '', 'g'), '&')), '&') AS sortedq
        |  FROM h),
        |c AS (SELECT doc_id,
        |  CASE WHEN scheme IS NOT NULL AND host IS NOT NULL THEN
        |    scheme || '://' || host ||
        |    CASE WHEN port IS NOT NULL
        |      AND NOT (scheme = 'http' AND port = 80)
        |      AND NOT (scheme = 'https' AND port = 443)
        |      THEN ':' || port ELSE '' END ||
        |    CASE WHEN path = '' THEN '/' ELSE path END ||
        |    CASE WHEN query IS NOT NULL AND sortedq <> '' THEN '?' || sortedq ELSE '' END
        |  END AS canonical
        |  FROM sq)
        |SELECT canonical, CAST(count(*) AS BIGINT) AS n_raw,
        |  min(doc_id) AS first_id
        |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin)),

    // q105: domain link graph + integer PageRank (graph.LinkGraph,
    // SURVEY+ L66) — href extraction from HTML, eTLD+1 edge resolution
    // (co.uk domains exercise the suffix ladder), self-loop drop (h=2
    // links to itself by construction), then 5 PageRank iterations in
    // scaled-integer arithmetic: Long sums are order-independent, so the
    // ranks are bit-identical across partitionings and replay exactly in
    // DuckDB's int64 arithmetic — a double-precision PageRank could
    // never survive a value-hash oracle.
    Query.fixed("q105_domain_pagerank", (s, dir) => {
      val id = col("doc_id")
      def tldOf(d: Column) = when(d % 3 === 0, lit("co.uk")).otherwise(lit("com"))
      def hostOf(d: Column) = concat(lit("dom"), d, lit("."), tldOf(d))
      val h = id % 11
      val a = (h + 1) % 11
      val b = (h * 3 + 7) % 11
      val pageUrl = concat(lit("https://www."), hostOf(h), lit("/page/"), id)
      val html = concat(
        lit("<html><body><p>Some page text.</p><a href=\"https://www."), hostOf(a),
        lit("/x\">one</a><a class=\"nav\" href=\"HTTPS://"), hostOf(b),
        lit(":443/y?q=1\">two</a><a href=\"/rel/path\">r</a>" +
          "<a href=\"mailto:x@y.example\">m</a>"),
        when(id % 4 === 0,
          lit("<a href=\"https://cdn.shared-assets.com/lib.js\">s</a>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      val pages = t(s, dir, "documents")
        .select(pageUrl.as("page_url"), html.as("html"))
      val edges = graft.graph.LinkGraph.domainEdges(pages, "page_url", "html")
      graft.graph.LinkGraph.pageRank(edges, iters = 5, checkpointEvery = 2)
        .select(col("node").as("domain"), col("rank"))
        .orderBy(col("domain"))
    },
      // PageRank replay: same decoration, href extraction via the same
      // shared-syntax regexp, hosts via the q94 parse chain, domains via
      // the eTLD+1 IN-ladder, then 5 UNROLLED iterations of the identical
      // integer arithmetic (// is DuckDB's integral divide; every sum is
      // CAST back to BIGINT because DuckDB sums integers into HUGEINT)
      {
      def hostSql(u: String): String =
        raw"""nullif(lower(CASE WHEN starts_with(regexp_extract(regexp_extract($u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\r\n]*)', 1), '(?:[^@]*@)?([^@]*)$$', 1), '[')
          |    THEN regexp_extract(regexp_extract(regexp_extract($u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\r\n]*)', 1), '(?:[^@]*@)?([^@]*)$$', 1), '^(\[[^\]]*\])', 1)
          |    ELSE regexp_extract(regexp_extract(regexp_extract($u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\r\n]*)', 1), '(?:[^@]*@)?([^@]*)$$', 1), '^([^:]*)', 1) END), '')""".stripMargin
      def iterSql(prev: String, cur: String): String =
        raw"""$cur AS (SELECT nb.node, nb.b + (85 * coalesce(i.inc, 0)) // 100 AS rank
          |  FROM nb LEFT JOIN (
          |    SELECT e.dst, CAST(sum((r.rank * e.w) // o.out_w) AS BIGINT) AS inc
          |    FROM $prev r JOIN e ON r.node = e.src JOIN outw o ON e.src = o.src
          |    GROUP BY e.dst) i ON nb.node = i.dst)""".stripMargin
      val iters = (1 to 5).map(k => iterSql(s"r${k - 1}", s"r$k")).mkString(",\n")
      raw"""WITH d AS (SELECT doc_id,
        |  'https://www.dom' || (doc_id % 11) || '.' ||
        |    CASE WHEN (doc_id % 11) % 3 = 0 THEN 'co.uk' ELSE 'com' END || '/page/' || doc_id AS page_url,
        |  '<html><body><p>Some page text.</p><a href="https://www.dom' || ((doc_id % 11 + 1) % 11) || '.' ||
        |    CASE WHEN ((doc_id % 11 + 1) % 11) % 3 = 0 THEN 'co.uk' ELSE 'com' END ||
        |    '/x">one</a><a class="nav" href="HTTPS://dom' || (((doc_id % 11) * 3 + 7) % 11) || '.' ||
        |    CASE WHEN (((doc_id % 11) * 3 + 7) % 11) % 3 = 0 THEN 'co.uk' ELSE 'com' END ||
        |    ':443/y?q=1">two</a><a href="/rel/path">r</a><a href="mailto:x@y.example">m</a>' ||
        |    CASE WHEN doc_id % 4 = 0 THEN '<a href="https://cdn.shared-assets.com/lib.js">s</a>' ELSE '' END ||
        |    '</body></html>' AS html
        |  FROM documents),
        |l AS (SELECT page_url,
        |  unnest(regexp_extract_all(html, '<[Aa][ \t\r\n][^>]*[Hh][Rr][Ee][Ff][ \t\r\n]*=[ \t\r\n]*"([^"]*)"', 1)) AS href
        |  FROM d),
        |hh AS (SELECT
        |  """.stripMargin + hostSql("page_url") + " AS src_host,\n  " +
        hostSql("href") + " AS dst_host FROM l),\n" +
        "dm AS (SELECT " + etld1OracleSql("src_host") + " AS src,\n  " +
        etld1OracleSql("dst_host") + " AS dst FROM hh),\n" +
        raw"""e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM dm
        |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst GROUP BY 1, 2),
        |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM e GROUP BY 1),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |nb AS (SELECT node, ((1000000000000 * 15) // 100) // n AS b,
        |  1000000000000 // n AS rr FROM nodes CROSS JOIN nn),
        |r0 AS (SELECT node, rr AS rank FROM nb),
        |""".stripMargin + iters + raw"""
        |SELECT node AS domain, CAST(rank AS BIGINT) AS rank FROM r5 ORDER BY domain""".stripMargin
    }),

    // q108: per-domain anchor-term profile (LinkGraph.anchorTermProfile,
    // SURVEY+ L69) — what the web calls each destination domain: anchor
    // texts of incoming links, tokenized through the unicode tier,
    // counted per (eTLD+1 domain, term), top-3 per domain with bytewise
    // tie-break. Extraction and domain resolution are map-side; the rank
    // filter is a map-side WindowGroupLimit. The oracle replays the zip
    // of the two capture groups with list_zip + numeric struct access.
    Query.fixed("q108_anchor_profile", (s, dir) => {
      val id = col("doc_id")
      def tldOf(d: Column) = when(d % 3 === 0, lit("co.uk")).otherwise(lit("com"))
      def hostOf(d: Column) = concat(lit("dom"), d, lit("."), tldOf(d))
      val h = id % 11
      val a = (h + 1) % 11
      val b = (h * 3 + 7) % 11
      val anchorA = element_at(array(
        lit("spark tutorials portal"), lit("data catalog home"),
        lit("fast queries portal")), (id % 3 + 1).cast("int"))
      val html = concat(
        lit("<html><body><a href=\"https://www."), hostOf(a), lit("/x\">"),
        anchorA,
        lit("</a><a class=\"nav\" href=\"HTTPS://"), hostOf(b),
        lit(":443/y?q=1\">official site</a>"),
        when(id % 4 === 0,
          lit("<a href=\"https://cdn.shared-assets.com/lib.js\">static assets</a>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      val pages = t(s, dir, "documents").select(html.as("html"))
      graft.graph.LinkGraph.anchorTermProfile(pages, "html", k = 3)
        .orderBy(col("domain"), col("rank"))
    },
      // anchor-profile replay: list_zip of the two capture groups (numeric
      // struct access — DuckDB zip structs are unnamed), the q94 host
      // chain, the eTLD+1 ladder, unicode-tier terms, count + rank
      {
      val anchorRe =
        "<[Aa][ \\t\\r\\n][^>]*[Hh][Rr][Ee][Ff][ \\t\\r\\n]*=[ \\t\\r\\n]*\"([^\"]*)\"[^>]*>([^<]*)</[Aa]>"
      def hostSql(u: String): String =
        raw"""nullif(lower(CASE WHEN starts_with(regexp_extract(regexp_extract($u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\r\n]*)', 1), '(?:[^@]*@)?([^@]*)$$', 1), '[')
          |    THEN regexp_extract(regexp_extract(regexp_extract($u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\r\n]*)', 1), '(?:[^@]*@)?([^@]*)$$', 1), '^(\[[^\]]*\])', 1)
          |    ELSE regexp_extract(regexp_extract(regexp_extract($u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\r\n]*)', 1), '(?:[^@]*@)?([^@]*)$$', 1), '^([^:]*)', 1) END), '')""".stripMargin
      raw"""WITH d AS (SELECT doc_id,
        |  '<html><body><a href="https://www.dom' || ((doc_id % 11 + 1) % 11) || '.' ||
        |    CASE WHEN ((doc_id % 11 + 1) % 11) % 3 = 0 THEN 'co.uk' ELSE 'com' END || '/x">' ||
        |    ['spark tutorials portal','data catalog home','fast queries portal'][CAST(doc_id % 3 + 1 AS INT)] ||
        |    '</a><a class="nav" href="HTTPS://dom' || (((doc_id % 11) * 3 + 7) % 11) || '.' ||
        |    CASE WHEN (((doc_id % 11) * 3 + 7) % 11) % 3 = 0 THEN 'co.uk' ELSE 'com' END ||
        |    ':443/y?q=1">official site</a>' ||
        |    CASE WHEN doc_id % 4 = 0 THEN '<a href="https://cdn.shared-assets.com/lib.js">static assets</a>' ELSE '' END ||
        |    '</body></html>' AS html
        |  FROM documents),
        |z AS (SELECT unnest(list_zip(
        |    regexp_extract_all(html, '$anchorRe', 1),
        |    regexp_extract_all(html, '$anchorRe', 2))) AS z
        |  FROM d),
        |p AS (SELECT z[1] AS href, z[2] AS anchor FROM z),
        |hh AS (SELECT
        |  """.stripMargin + hostSql("href") + " AS dst_host, anchor FROM p),\n" +
        "dm AS (SELECT " + etld1OracleSql("dst_host") + " AS domain, anchor FROM hh),\n" +
        raw"""t2 AS (SELECT domain, unnest(""".stripMargin +
        unicodeToksSql("anchor") + raw""") AS term FROM dm WHERE domain IS NOT NULL),
        |c AS (SELECT domain, term, CAST(count(*) AS BIGINT) AS n_links FROM t2 GROUP BY 1, 2),
        |r AS (SELECT domain, term, n_links,
        |  CAST(row_number() OVER (PARTITION BY domain ORDER BY n_links DESC, term) AS INTEGER) AS rank
        |  FROM c)
        |SELECT domain, term, n_links, rank FROM r WHERE rank <= 3
        |ORDER BY domain, rank""".stripMargin
    }),

    // q130: WET-format ingestion (SURVEY+ L85) — CommonCrawl's
    // pre-extracted-text sibling of WARC, the format most corpus users
    // start from. WET records are WARC `conversion` records, so the
    // reader is Warc.parseRecords verbatim + a type filter and the
    // payload IS the document. Fixture serializes the corpus into 8
    // real gzipped WET shards (with the leading warcinfo record every
    // real WET file carries — the reader must skip it); the query
    // round-trips binaryFile -> gunzip -> parse -> conversion filter
    // and emits the documents back. Oracle = the pre-compression truth
    // directly: any byte lost anywhere in the file roundtrip breaks
    // the text hash.
    Query.fixed("q130_wet_ingest", (s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), col("text")).collect()
      val nShards = 8
      val records: Seq[(Long, String)] = docs.toSeq.map { r =>
        val id = r.getLong(0)
        id -> graft.data.Wet.conversionRecord(s"https://example.org/doc/$id", r.getString(1))
      }
      // warcinfo first in each shard: sortKey s - nShards routes to
      // shard s (floorMod) and sorts before every doc id >= 0
      val info = (0 until nShards).map(sh =>
        (sh.toLong - nShards) -> graft.data.Wet.warcinfoRecord(s"shard_$sh.warc.wet.gz"))
      val fixDir = Scratch.dir()
      graft.data.WarcFiles.writeShards(info ++ records, fixDir, nShards)
      graft.data.Wet.docs(
          graft.data.Wet.readWetGz(s, fixDir.toString))
        .select(regexp_extract(col("target_uri"), "doc/([0-9]+)", 1)
            .cast("bigint").as("doc_id"),
          col("target_uri"), col("n_chars"), col("text"))
        .orderBy(col("doc_id"))
    },
      // q130: the WET roundtrip oracle is the pre-compression truth —
      // the gzip/file/parse path must hand back every byte
      """SELECT doc_id, 'https://example.org/doc/' || doc_id AS target_uri,
        |  CAST(length(text) AS INT) AS n_chars, text
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin))

  /** The synthetic HTML page q88, q90 and q91 wrap each document in. */
  private def htmlPage: Column = concat(
    lit("<html><head><style>p { color: red }</style></head><body><h1>"),
    col("source"), lit("</h1><!-- id --><p>"), col("text"),
    lit("</p><script>var x = 1 &amp;&amp; 2;</script></body></html>"))

  /** [[htmlPage]] framed as one WARC response record (q90, q91). */
  private def warcPageRecord: Column = {
    val page = htmlPage
    concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://example.org/doc/"),
      col("doc_id"), lit("\r\nContent-Length: "), octet_length(page),
      lit("\r\n\r\n"), page, lit("\r\n\r\n"))
  }

  /** Per-`key` document, token and Gopher-gate failure counts of a
    * `warcToCleanDocs` frame: the Spark side of [[ingestGateOracleSql]].
    */
  private def gateCounts(docs: DataFrame, key: String): DataFrame =
    docs.groupBy(col(key)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens").cast("long")).as("n_tokens"),
      sum(col("gate.fail_words").cast("long")).as("n_fail_words"),
      sum(col("gate.fail_word_len").cast("long")).as("n_fail_word_len"),
      sum(col("gate.fail_symbol").cast("long")).as("n_fail_symbol"),
      sum(col("gate.fail_bullet").cast("long")).as("n_fail_bullet"),
      sum(col("gate.fail_ellipsis").cast("long")).as("n_fail_ellipsis"),
      sum(col("gate.fail_alpha").cast("long")).as("n_fail_alpha"),
      sum(col("gate.fail_stopword").cast("long")).as("n_fail_stopword"),
      sum(col("gate.pass").cast("long")).as("n_pass"))
      .orderBy(col(key))

  /** DuckDB replay of the full ingestion gate (the q90 HTML-extraction
    * CTEs composed with the q74 Gopher-gate CTEs) grouped by `keyExpr`
    * — shared by q91 (key = source) and q100 (key = the fixture
    * writer's shard assignment), so the cell-based and file-based
    * ingestion fronts are pinned against the ONE replay.
    */
  private def ingestGateOracleSql(keyExpr: String, keyAlias: String): String =
    raw"""WITH h AS (SELECT $keyExpr AS $keyAlias,
      |  '<html><head><style>p { color: red }</style></head><body><h1>' || source ||
      |  '</h1><!-- id --><p>' || text ||
      |  '</p><script>var x = 1 &amp;&amp; 2;</script></body></html>' AS html
      |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
      |s1 AS (SELECT $keyAlias,
      |  regexp_replace(regexp_replace(regexp_replace(html,
      |    '(?s)<[sS][cC][rR][iI][pP][tT][^>]*>.*?</[sS][cC][rR][iI][pP][tT]>', ' ', 'g'),
      |    '(?s)<[sS][tT][yY][lL][eE][^>]*>.*?</[sS][tT][yY][lL][eE]>', ' ', 'g'),
      |    '(?s)<!--.*?-->', ' ', 'g') AS t FROM h),
      |s2 AS (SELECT $keyAlias, regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s1),
      |s3 AS (SELECT $keyAlias,
      |  replace(replace(replace(replace(replace(replace(t,
      |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |    '&#39;', chr(39)), '&amp;', '&') AS t FROM s2),
      |c AS (SELECT $keyAlias,
      |  trim(regexp_replace(t, '[ \t\r\n\f]+', ' ', 'g'), ' ') AS clean FROM s3),
      |cc AS (SELECT $keyAlias,
      |  list_filter(string_split_regex(clean, '[\s\x0b]+'), x -> x <> '') AS toks,
      |  list_filter(string_split(clean, chr(10)), l -> trim(l, ' ') <> '') AS nls,
      |  length(clean) - length(replace(clean, '#', '')) AS n_hash,
      |  (length(clean) - length(replace(clean, '...', ''))) // 3 AS n_ell3,
      |  length(clean) - length(replace(clean, '…', '')) AS n_ellu
      |  FROM c),
      |g AS (SELECT $keyAlias,
      |  len(toks) AS n_w,
      |  coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS sum_len,
      |  len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
      |  n_hash + n_ell3 + n_ellu AS n_sym,
      |  len(nls) AS n_lines,
      |  len(list_filter(nls, l -> substr(ltrim(l, ' '), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
      |  len(list_filter(nls, l -> ends_with(rtrim(l, ' '), '...') OR ends_with(rtrim(l, ' '), '…'))) AS n_ellend,
      |  len(list_filter(['the','be','to','of','and','that','have','with'],
      |    sw -> list_contains(list_transform(toks, x -> lower(x)), sw))) AS n_stop
      |  FROM cc),
      |f AS (SELECT $keyAlias, n_w,
      |  (n_w < 50 OR n_w > 100000) AS f_words,
      |  (n_w = 0 OR sum_len * 1.0 / n_w < 3.0 OR sum_len * 1.0 / n_w > 10.0) AS f_wlen,
      |  (n_w > 0 AND n_sym * 1.0 / n_w > 0.1) AS f_sym,
      |  (n_lines > 0 AND n_bullet * 1.0 / n_lines > 0.9) AS f_bul,
      |  (n_lines > 0 AND n_ellend * 1.0 / n_lines > 0.3) AS f_ell,
      |  (n_w = 0 OR n_alpha * 1.0 / n_w < 0.8) AS f_alpha,
      |  (n_stop < 2) AS f_stop
      |  FROM g)
      |SELECT $keyAlias, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_w) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN f_words THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_words,
      |  CAST(sum(CASE WHEN f_wlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_word_len,
      |  CAST(sum(CASE WHEN f_sym THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_symbol,
      |  CAST(sum(CASE WHEN f_bul THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_bullet,
      |  CAST(sum(CASE WHEN f_ell THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_ellipsis,
      |  CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
      |  CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stopword,
      |  CAST(sum(CASE WHEN NOT (f_words OR f_wlen OR f_sym OR f_bul OR f_ell OR f_alpha OR f_stop)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      |FROM f GROUP BY $keyAlias ORDER BY $keyAlias""".stripMargin
}
