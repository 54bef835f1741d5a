package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFunctions

import Shared._

/** Deduplication and decontamination queries: exact, MinHash, SimHash
  * and winnowing near-duplicates, span and line dedup, Bloom anti-joins
  * and incremental dedup against a saved state.
  */
object DedupQueries {

  val all: Seq[Query] = Seq(
    // q19: exact dedup by normalized content fingerprint (SURVEY+: dedup)
    Query.fixed("q19_dedup_exact", (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .select(col("fingerprint"), col("n_docs"), col("keep_id"))
        .orderBy(col("keep_id")),
      """SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
        |  count(*) AS n_docs, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),

    // q23: MinHash-LSH near-duplicate pairs, Jaccard-verified (SURVEY+:
    // fuzzy dedup). No SQL oracle (seeded xxhash64 signatures are
    // Spark-specific); invariants covered in ScalaTest.
    Query.golden("q23_minhash_neardup", (s, dir) =>
      Dedup.nearDuplicatePairs(t(s, dir, "documents"), "text", "doc_id", threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))),

    // q24: SimHash near-dup pairs (rows-only; xxhash64-specific)
    Query.golden("q24_simhash_neardup", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // q38: winnowing (MOSS) fingerprint candidate pairs — any shared
    // substring of length >= shingleSize + window - 1 guarantees a shared
    // fingerprint; explode + equi-join on 8-byte hashes, text never
    // shuffled (rows-only: fingerprints are seeded-hash-specific; the
    // guarantee properties are covered in DedupSpec)
    // The synthetic corpus draws words from a ~40-word vocabulary, so short
    // character shingles are all boilerplate (5-char shingles put every doc
    // pair over any threshold). 20-char shingles span ~4 words — rare across
    // unrelated docs, dense inside near-duplicates: k=20/w=4/minShared=10
    // recovers exactly the minhash near-dup band (25 pairs at sf0.01).
    // maxBucketSize=64: a fingerprint shared by more docs is template noise,
    // and keeping it makes the candidate join quadratic in the bucket size —
    // the skew cap IS the scale story of this operator.
    Query.golden("q38_winnowing_pairs", (s, dir) =>
      Dedup.winnowingCandidatePairs(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 20, window = 4, minShared = 10, maxBucketSize = 64)
        .orderBy(col("id_a"), col("id_b"))),

    // q41: exact word-5-gram Jaccard near-dup pairs with exact-string
    // BLOCKING — candidates must share at least one word-8-gram (rare
    // across unrelated docs, dense inside near-duplicates), so the pair
    // count follows block occupancy, not n^2. The fully-oracle-able twin of
    // the hashed MinHash-LSH path (q23): same plan shape, no seeds. Set ops
    // stay in codegen'd built-ins (array_intersect/array_union); only ids +
    // n-gram sets shuffle, never raw text.
    // (implementation factored into Dedup.jaccardPairs in round 7 so the
    // 64-id block cap's recall trade is MEASURED by BlockCapRecallSpec's
    // planted ladder — same plan, byte-identical output)
    Query.fixed("q41_jaccard_pairs", jaccardPairs,
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '') AS w
        |  FROM documents),
        |n AS (SELECT doc_id,
        |  list_distinct([array_to_string(list_slice(w, i, i + 4), ' ')
        |    for i in range(1, greatest(len(w) - 3, 1))]) AS ng,
        |  list_distinct([array_to_string(list_slice(w, i, i + 7), ' ')
        |    for i in range(1, greatest(len(w) - 6, 1))]) AS blk
        |  FROM w),
        |ex AS (SELECT doc_id, b8 FROM (SELECT doc_id, unnest(blk) AS b8 FROM n) e0
        |  QUALIFY row_number() OVER (PARTITION BY b8 ORDER BY doc_id) <= 64),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ex a JOIN ex b ON a.b8 = b.b8 AND a.doc_id < b.doc_id),
        |p AS (SELECT c.id_a, c.id_b,
        |  len(list_intersect(na.ng, nb.ng)) AS i,
        |  len(list_distinct(list_concat(na.ng, nb.ng))) AS u
        |  FROM cand c JOIN n na ON c.id_a = na.doc_id JOIN n nb ON c.id_b = nb.doc_id)
        |SELECT id_a, id_b,
        |  round(CASE WHEN u = 0 THEN 0.0 ELSE CAST(i AS DOUBLE) / u END, 6) AS jaccard
        |FROM p
        |WHERE round(CASE WHEN u = 0 THEN 0.0 ELSE CAST(i AS DOUBLE) / u END, 6) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin),

    // q58: PORTABLE winnowing fingerprints — q38's selection algorithm on
    // md5-derived hashes both engines can compute, making the whole
    // fingerprint SET oracle-checked (q38's rolling hash stays the
    // production path; this is its cross-engine verification twin).
    // ASCII corpus assumption: the JVM kernel lowercases A-Z only.
    Query.fixed("q58_winnowing_portable", (s, dir) =>
      t(s, dir, "documents").repartitionByRange(col("doc_id")).select(col("doc_id"),
        explode(TextFunctions.winnowingFingerprintsPortable(col("text"), 8, 4)).as("fp"))
        .orderBy(col("doc_id"), col("fp")),
      """WITH norm AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t FROM documents),
        |h AS (SELECT doc_id, pos,
        |    CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 8)), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM norm) q),
        |stats AS (SELECT doc_id, count(*) AS cnt FROM h GROUP BY 1),
        |win AS (SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh FROM h),
        |fps AS (
        |  SELECT DISTINCT w.doc_id, w.mh AS fp
        |  FROM win w JOIN stats USING (doc_id)
        |  WHERE stats.cnt > 4 AND w.pos <= stats.cnt - 3
        |  UNION
        |  SELECT h.doc_id, min(h.h) AS fp FROM h JOIN stats USING (doc_id)
        |  WHERE stats.cnt <= 4 GROUP BY h.doc_id)
        |SELECT doc_id, fp FROM fps ORDER BY doc_id, fp""".stripMargin),

    // q59: PORTABLE MinHash-LSH near-dup — q23's operator
    // (Dedup.minhashPairs, the body of nearDuplicatePairs) run on md5-base
    // hashes + affine permutations mod 2^31-1 (overflow-free arithmetic
    // DuckDB reproduces exactly), candidates verified by exact Jaccard on
    // md5 shingle sets. Only the kernels differ from q23, so the oracle
    // checks the production banding, hot-bucket guard, candidate
    // checkpoint, id prune and verify. estFloor = 0.0 turns the estimate
    // prefilter off: the 0.2 threshold sits where it would change results
    // (BENCHNOTES round 7).
    Query.fixed("q59_minhash_portable", (s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id",
          TextFunctions.minhashPortableSignature(col("text"), 5, 32, 42L),
          TextFunctions.shingleHashSetPortable(col("text"), 5),
          threshold = 0.2, bands = 8, rowsPerBand = 4, estFloor = 0.0,
          maxBucketSize = 1000)
        .orderBy(col("id_a"), col("id_b")),
      {
      val (as, bs) = graft.functions.TextAlgo.minhashPortableConsts(32, 42L)
      val constRows = (0 until 32).map(i => s"($i, ${as(i)}, ${bs(i)})").mkString(",\n  ")
      s"""WITH norm AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t FROM documents),
         |h AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 15)) AS BIGINT) % 2147483647 AS hp
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS pos FROM norm) q),
         |consts(i, a, b) AS (VALUES
         |  $constRows),
         |sig AS (SELECT h.doc_id, c.i, min((c.a * h.hp + c.b) % 2147483647) AS mh
         |  FROM h CROSS JOIN consts c GROUP BY h.doc_id, c.i),
         |band AS (SELECT doc_id, i // 4 AS band,
         |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
         |  FROM sig GROUP BY doc_id, i // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |sets AS (SELECT doc_id, list_sort(list_distinct(list_transform(
         |    range(1, len(t) - 3),
         |    pos -> CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 15)) AS BIGINT)))) AS sh
         |  FROM norm),
         |p AS (SELECT c.id_a, c.id_b,
         |    len(list_intersect(sa.sh, sb.sh)) AS i2,
         |    len(list_distinct(list_concat(sa.sh, sb.sh))) AS u
         |  FROM cand c JOIN sets sa ON c.id_a = sa.doc_id JOIN sets sb ON c.id_b = sb.doc_id)
         |SELECT id_a, id_b, round(CAST(i2 AS DOUBLE) / u, 6) AS jaccard
         |FROM p WHERE CAST(i2 AS DOUBLE) / u >= 0.2
         |ORDER BY id_a, id_b""".stripMargin
    }),

    // q60: PORTABLE SimHash Hamming-ball near-dup — q24's operator
    // (Dedup.hammingPairs64, block4 scheme) on a 60-bit md5-token SimHash
    // DuckDB reproduces bit-for-bit. The oracle blocks on 4 x 15 bits,
    // the operator on 4 x 16; both are pigeonhole-complete for
    // hamming <= 3, so both yield every such pair.
    Query.fixed("q60_simhash_portable", (s, dir) =>
      Dedup.hammingPairs64(
          t(s, dir, "documents")
            .select(col("doc_id"), TextFunctions.simhash60Portable(col("text")).as("sim")),
          "doc_id", "sim", maxHamming = 3, blockScheme = "block4")
        .orderBy(col("id_a"), col("id_b")),
      """WITH tok AS (
        |  SELECT doc_id, t.term
        |  FROM documents, unnest(string_split_regex(lower(text), '[\s\x0b]+')) AS t(term)
        |  WHERE t.term <> ''),
        |th AS (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h FROM tok),
        |bits AS (SELECT doc_id, b.b,
        |    sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) b
        |  GROUP BY doc_id, b.b),
        |sh AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sim
        |  FROM bits GROUP BY doc_id),
        |blocks AS (SELECT doc_id, sim, blk.i AS blk, (sim >> (blk.i * 15)) & 32767 AS key
        |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS i) blk),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    bit_count(xor(a.sim, b.sim)) AS hamming
        |  FROM blocks a JOIN blocks b
        |    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
        |FROM cand WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin),

    // q61: benchmark decontamination (SURVEY+ L23) — docs with doc_id % 17
    // == 3 play the held-out benchmark; training docs sharing any distinct
    // word-5-gram with it are flagged with hit counts. The benchmark n-gram
    // set broadcasts; the corpus match is map-side (no corpus shuffle).
    Query.fixed("q61_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(pmod(col("doc_id"), lit(17)) === 3)
      val train = docs.where(pmod(col("doc_id"), lit(17)) =!= 3)
      graft.text.Decontaminate.overlapReport(train, bench, "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    },
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '') AS w
        |  FROM documents),
        |n AS (SELECT doc_id,
        |  list_distinct([array_to_string(list_slice(w, i, i + 4), ' ')
        |    for i in range(1, greatest(len(w) - 3, 1))]) AS ng
        |  FROM w),
        |bench AS (SELECT DISTINCT unnest(ng) AS g FROM n WHERE doc_id % 17 = 3),
        |tr AS (SELECT doc_id, ng FROM n WHERE doc_id % 17 <> 3),
        |ex AS (SELECT doc_id, unnest(ng) AS g FROM tr),
        |h AS (SELECT ex.doc_id, count(*) AS n_hits FROM ex JOIN bench USING (g) GROUP BY ex.doc_id)
        |SELECT tr.doc_id, CAST(len(tr.ng) AS BIGINT) AS n_ngrams, h.n_hits,
        |  round(CAST(h.n_hits AS DOUBLE) / len(tr.ng), 6) AS frac
        |FROM tr JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin),

    // q62: bloom-prefiltered exact anti-join (SURVEY+ L24) — strip from the
    // non-src0 corpus every document whose normalized content fingerprint
    // already appears in src0 (cross-source exact contamination). The bloom
    // probe short-circuits definitely-clean rows past the join; the exact
    // confirm restores plain-anti-join semantics, so the oracle is the
    // plain anti-join.
    Query.fixed("q62_bloom_antijoin", (s, dir) => {
      val fp = TextFunctions.fingerprint(col("text"))
      val docs = t(s, dir, "documents").withColumn("__fp", fp)
      val corpus = docs.where(col("source") =!= "src0")
      val block = docs.where(col("source") === "src0").select(col("__fp"))
      graft.etl.BloomFilters.antiJoin(corpus, "__fp", block, "__fp",
          expectedItems = 20000L)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
      """WITH f AS (SELECT doc_id, lang, source,
        |    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |  FROM documents)
        |SELECT doc_id, lang, source FROM f
        |WHERE source <> 'src0'
        |  AND NOT EXISTS (SELECT 1 FROM f b WHERE b.source = 'src0' AND b.fp = f.fp)
        |ORDER BY doc_id""".stripMargin),

    // q63: chunk-granular exact substring dedup (SURVEY+ L25, Lee et al.
    // 2021 at chunk granularity) — repeated 10-word chunks removed
    // everywhere but their first (doc_id, position) occurrence, documents
    // reassembled from the survivors.
    Query.fixed("q63_chunk_dedup", (s, dir) =>
      graft.dedup.ChunkDedup.dedupSpans(t(s, dir, "documents"), "doc_id", "text", n = 10)
        .orderBy(col("doc_id")),
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '') AS w
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  [array_to_string(list_slice(w, i, i + 9), ' ')
        |    for i in range(1, len(w) + 1, 10)] AS chunks
        |  FROM w),
        |e AS (SELECT doc_id, unnest(chunks) AS chunk, generate_subscripts(chunks, 1) AS idx FROM c),
        |k AS (SELECT doc_id, idx, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
        |  FROM e),
        |kept AS (SELECT doc_id, idx, chunk FROM k WHERE rn = 1),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY idx) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, CAST(len(c.chunks) AS BIGINT) AS n_chunks,
        |  coalesce(agg.n_kept, 0) AS n_kept, coalesce(agg.clean_text, '') AS clean_text
        |FROM c LEFT JOIN agg USING (doc_id) ORDER BY c.doc_id""".stripMargin),

    // q69: canonical document per near-dup cluster (SURVEY+ L33) — closes
    // the dedup loop: q41's exact-Jaccard pairs -> connected components ->
    // keep the highest-quality doc per cluster (ties to the lower id).
    // The winner rank is a window PARTITIONED BY component (components are
    // tiny — the safe high-cardinality window case).
    Query.fixed("q69_canonical_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = jaccardPairs(s, dir).select(col("id_a"), col("id_b"))
      val comps = graft.dedup.Components.connectedComponents(
          pairs, "id_a", "id_b", docs.select(col("doc_id")), "doc_id")
        .select(col("id").as("doc_id"), col("component"))
      val quality = docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component")).orderBy(col("quality").desc, col("doc_id"))
      comps.join(quality, Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_docs", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("component"))))
        .where(col("rn") === 1)
        .select(col("component"), col("n_docs"), col("doc_id").as("keep_id"), col("quality"))
        .orderBy(col("component"))
    },
      """WITH RECURSIVE
        |w AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '') AS w
        |  FROM documents),
        |n AS (SELECT doc_id,
        |  list_distinct([array_to_string(list_slice(w, i, i + 4), ' ')
        |    for i in range(1, greatest(len(w) - 3, 1))]) AS ng,
        |  list_distinct([array_to_string(list_slice(w, i, i + 7), ' ')
        |    for i in range(1, greatest(len(w) - 6, 1))]) AS blk
        |  FROM w),
        |ex AS (SELECT doc_id, b8 FROM (SELECT doc_id, unnest(blk) AS b8 FROM n) e0
        |  QUALIFY row_number() OVER (PARTITION BY b8 ORDER BY doc_id) <= 64),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ex a JOIN ex b ON a.b8 = b.b8 AND a.doc_id < b.doc_id),
        |pr AS (SELECT c.id_a, c.id_b,
        |  len(list_intersect(na.ng, nb.ng)) AS i,
        |  len(list_distinct(list_concat(na.ng, nb.ng))) AS u
        |  FROM cand c JOIN n na ON c.id_a = na.doc_id JOIN n nb ON c.id_b = nb.doc_id),
        |p AS (SELECT id_a, id_b FROM pr
        |  WHERE round(CASE WHEN u = 0 THEN 0.0 ELSE CAST(i AS DOUBLE) / u END, 6) >= 0.2),
        |edges AS (SELECT id_a AS s, id_b AS t FROM p UNION ALL SELECT id_b AS s, id_a AS t FROM p),
        |reach(id, lab) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT edges.t, reach.lab FROM reach JOIN edges ON reach.id = edges.s),
        |comp AS (SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY id),
        |q AS (SELECT doc_id,
        |  round(CAST(
        |    (CASE WHEN (len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> ''))) BETWEEN 10 AND 100000
        |          THEN 0.4 ELSE 0.0 END)
        |    + (CASE WHEN (CASE WHEN length(text) = 0 THEN 0
        |           ELSE (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1.0 / length(text) END) < 0.2
        |          THEN 0.3 ELSE 0.0 END)
        |    + (CASE WHEN (CASE WHEN len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) = 0 THEN 0
        |    ELSE len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) * 1.0
        |      / len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) END) > 0.01
        |          THEN 0.3 ELSE 0.0 END) AS DOUBLE), 2) AS quality
        |  FROM documents),
        |j AS (SELECT comp.component, comp.doc_id, q.quality,
        |    row_number() OVER (PARTITION BY comp.component
        |      ORDER BY q.quality DESC, comp.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY comp.component) AS n_docs
        |  FROM comp JOIN q USING (doc_id))
        |SELECT component, n_docs, doc_id AS keep_id, quality
        |FROM j WHERE rn = 1 ORDER BY component""".stripMargin),

    // q75: within-document repeated-line removal (CCNet/RefinedWeb
    // boilerplate stripping) — map-side compiled kernel, zero shuffle;
    // reports the line/char deltas per document.
    Query.fixed("q75_line_dedup", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), "\n", -1)).cast("long").as("n_lines"),
          TextFunctions.dedupLines(col("text")).as("__clean"))
        .select(col("doc_id"), col("n_lines"),
          size(split(col("__clean"), "\n", -1)).cast("long").as("n_kept"),
          length(col("__clean")).cast("long").as("n_chars_after"))
        .orderBy(col("doc_id")),
      """WITH l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
        |k AS (SELECT doc_id, len(ls) AS n_lines,
        |  list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kept FROM l)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS n_chars_after
        |FROM k ORDER BY doc_id""".stripMargin),

    // q84: cross-doc duplicated-span detection (graft.dedup.SpanDedup,
    // SURVEY+ L49) — Lee-et-al-style exact-substring spans via word-8-gram
    // anchors (md5-60 portable hash for the oracle; xxhash64 default in
    // production): positions whose gram occurs in >=2 distinct docs,
    // merged per doc into maximal overlap-or-abut token runs.
    Query.fixed("q84_duplicated_spans", (s, dir) =>
      graft.dedup.SpanDedup.duplicatedSpans(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
        n = 8, minDocs = 2, hash = graft.dedup.SpanDedup.portableHash60)
        .orderBy(col("doc_id"), col("span_start")),
      // duplicated-span replay: same \s+ word convention (q80), md5-60 gram
      // hashes, df>=2 over DISTINCT docs, gaps-and-islands merge with the
      // same ">n breaks" rule (abutting windows merge)
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '') AS w
        |  FROM documents),
        |gr AS (SELECT doc_id, i - 1 AS pos,
        |  CAST(concat('0x', substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS g
        |  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM w) s),
        |d AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM gr) t
        |  GROUP BY g HAVING count(*) >= 2),
        |p AS (SELECT gr.doc_id, gr.pos FROM gr JOIN d USING (g)),
        |m AS (SELECT doc_id, pos,
        |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |       THEN 1 ELSE 0 END AS brk FROM p),
        |i AS (SELECT doc_id, pos,
        |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM m)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 8 AS BIGINT) AS span_end
        |FROM i GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin),

    // q85: span removal — the cleaning half of L49: q84's spans cut out
    // of every document by the compiled single-pass remove_spans
    // kernel (spans pack into one small array per affected doc; plain
    // equi-join; no corpus explode, no window). Output is the full
    // cleaned text, so the oracle is a byte-exact string compare.
    Query.fixed("q85_strip_spans", (s, dir) => {
      val docs = t(s, dir, "documents")
      val spans = graft.dedup.SpanDedup.duplicatedSpans(
        docs, idCol = "doc_id", textCol = "text", n = 8, minDocs = 2,
        hash = graft.dedup.SpanDedup.portableHash60)
      graft.dedup.SpanDedup.stripSpans(
          docs.select(col("doc_id"), col("text")), "doc_id", "text", spans)
        .select(col("doc_id"), col("clean_text"))
        .orderBy(col("doc_id"))
    },
      // span-removal replay: q84's span pipeline + keep tokens not covered
      // by any [s,e) span, rejoined with single spaces (the kernel's
      // whitespace normalization) — byte-exact string compare
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '') AS w
        |  FROM documents),
        |gr AS (SELECT doc_id, i - 1 AS pos,
        |  CAST(concat('0x', substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS g
        |  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM w) s),
        |d AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM gr) t
        |  GROUP BY g HAVING count(*) >= 2),
        |p AS (SELECT gr.doc_id, gr.pos FROM gr JOIN d USING (g)),
        |m AS (SELECT doc_id, pos,
        |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |       THEN 1 ELSE 0 END AS brk FROM p),
        |isl AS (SELECT doc_id, pos,
        |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM m),
        |spn AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
        |  FROM isl GROUP BY doc_id, island),
        |sl AS (SELECT doc_id, list({'s': s, 'e': e}) AS sp FROM spn GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CASE WHEN w.w IS NULL THEN NULL
        |       -- array_to_string([]) is NULL in DuckDB; a fully-covered
        |       -- doc must compare as '' like the kernel emits
        |       ELSE coalesce(array_to_string([w.w[i] for i in range(1, len(w.w) + 1)
        |         if sl.sp IS NULL OR len(list_filter(sl.sp, r -> r.s <= i - 1 AND i - 1 < r.e)) = 0],
        |         ' '), '') END AS clean_text
        |FROM w LEFT JOIN sl USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin),

    // q96: n-gram CONTAINMENT pairs (Dedup.containmentPairs, SURVEY+
    // L60) — Broder's asymmetric resemblance axis: a short doc quoted
    // whole inside a long one scores ~0 Jaccard but containment ~1.
    // Same capped blocking discipline as q41; oracle extends the q41
    // replay with both containment directions.
    Query.fixed("q96_containment_pairs", (s, dir) =>
      graft.dedup.Dedup.containmentPairs(
          t(s, dir, "documents"), "doc_id", "text",
          n = 5, blockN = 8, blockCap = 64, minContainment = 0.5)
        .orderBy(col("id_a"), col("id_b")),
      // containment replay: the q41 CTE chain with both asymmetric
      // directions; filter on the ROUNDED values exactly like the query
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '') AS w
        |  FROM documents),
        |n AS (SELECT doc_id,
        |  list_distinct([array_to_string(list_slice(w, i, i + 4), ' ')
        |    for i in range(1, greatest(len(w) - 3, 1))]) AS ng,
        |  list_distinct([array_to_string(list_slice(w, i, i + 7), ' ')
        |    for i in range(1, greatest(len(w) - 6, 1))]) AS blk
        |  FROM w),
        |ex AS (SELECT doc_id, b8 FROM (SELECT doc_id, unnest(blk) AS b8 FROM n) e0
        |  QUALIFY row_number() OVER (PARTITION BY b8 ORDER BY doc_id) <= 64),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ex a JOIN ex b ON a.b8 = b.b8 AND a.doc_id < b.doc_id),
        |p AS (SELECT c.id_a, c.id_b,
        |  CAST(len(list_intersect(na.ng, nb.ng)) AS DOUBLE) AS i,
        |  CAST(len(na.ng) AS DOUBLE) AS sa,
        |  CAST(len(nb.ng) AS DOUBLE) AS sb,
        |  CAST(len(list_distinct(list_concat(na.ng, nb.ng))) AS DOUBLE) AS u
        |  FROM cand c JOIN n na ON c.id_a = na.doc_id JOIN n nb ON c.id_b = nb.doc_id)
        |SELECT id_a, id_b,
        |  round(i / sa, 6) AS cont_a_in_b,
        |  round(i / sb, 6) AS cont_b_in_a,
        |  round(i / u, 6) AS jaccard
        |FROM p
        |WHERE round(i / sa, 6) >= 0.5 OR round(i / sb, 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // q106: FUZZY decontamination (Decontaminate.fuzzyOverlapReport,
    // SURVEY+ L67) — MinHash-LSH near-dup matching of the corpus against
    // a benchmark set, the tier above q61's exact-n-gram hygiene. The
    // bench fixture takes every 83rd doc, perturbing odd multiples with
    // an appended suffix (paraphrase-ish contamination exact n-grams at
    // n=8 would still catch less reliably at shingle granularity). The
    // PORTABLE md5 hash family makes signature, banding, candidate join
    // and Jaccard verify all engine-replayable; the production kernel
    // path shares every plan shape (bench bands + bench sets broadcast,
    // candidate-id prune — the corpus never shuffles).
    Query.fixed("q106_fuzzy_decontam", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 83 === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 166 === 0, col("text"))
            .otherwise(concat(col("text"),
              lit(" benchmark held out split marker tokens"))).as("text"))
      graft.text.Decontaminate.fuzzyOverlapReport(
          docs, bench, "doc_id", "text", threshold = 0.5, portable = true)
        .orderBy(col("doc_id"), col("bench_doc_id"))
    },
      // cross-corpus portable-minhash replay: the q59 pipeline with a bench
      // side (derived from the same corpus fixture), band join WITHOUT the
      // id_a < id_b constraint (different relations), md5 shingle-set verify
      {
      val (as, bs) = graft.functions.TextAlgo.minhashPortableConsts(32, 42L)
      val constRows = (0 until 32).map(i => s"($i, ${as(i)}, ${bs(i)})").mkString(",\n  ")
      s"""WITH norm AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t FROM documents),
         |btext AS (SELECT doc_id AS bench_id,
         |    CASE WHEN doc_id % 166 = 0 THEN text
         |      ELSE text || ' benchmark held out split marker tokens' END AS text
         |  FROM documents WHERE doc_id % 83 = 0),
         |bnorm AS (SELECT bench_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t FROM btext),
         |consts(i, a, b) AS (VALUES
         |  $constRows),
         |h AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 15)) AS BIGINT) % 2147483647 AS hp
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS pos FROM norm) q),
         |bh AS (SELECT bench_id,
         |    CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 15)) AS BIGINT) % 2147483647 AS hp
         |  FROM (SELECT bench_id, t, unnest(range(1, len(t) - 3)) AS pos FROM bnorm) q),
         |sig AS (SELECT h.doc_id, c.i, min((c.a * h.hp + c.b) % 2147483647) AS mh
         |  FROM h CROSS JOIN consts c GROUP BY h.doc_id, c.i),
         |bsig AS (SELECT bh.bench_id, c.i, min((c.a * bh.hp + c.b) % 2147483647) AS mh
         |  FROM bh CROSS JOIN consts c GROUP BY bh.bench_id, c.i),
         |band AS (SELECT doc_id, i // 4 AS band,
         |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
         |  FROM sig GROUP BY doc_id, i // 4),
         |bband AS (SELECT bench_id, i // 4 AS band,
         |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
         |  FROM bsig GROUP BY bench_id, i // 4),
         |cand AS (SELECT DISTINCT t2.doc_id, b2.bench_id
         |  FROM band t2 JOIN bband b2 ON t2.band = b2.band AND t2.key = b2.key),
         |sets AS (SELECT doc_id, list_sort(list_distinct(list_transform(
         |    range(1, len(t) - 3),
         |    pos -> CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 15)) AS BIGINT)))) AS sh
         |  FROM norm),
         |bsets AS (SELECT bench_id, list_sort(list_distinct(list_transform(
         |    range(1, len(t) - 3),
         |    pos -> CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 15)) AS BIGINT)))) AS sh
         |  FROM bnorm),
         |p AS (SELECT c.doc_id, c.bench_id,
         |    len(list_intersect(sa.sh, sb.sh)) AS i2,
         |    len(list_distinct(list_concat(sa.sh, sb.sh))) AS u
         |  FROM cand c JOIN sets sa ON c.doc_id = sa.doc_id JOIN bsets sb ON c.bench_id = sb.bench_id)
         |SELECT doc_id, bench_id AS bench_doc_id,
         |  round(CAST(i2 AS DOUBLE) / u, 6) AS jaccard
         |FROM p WHERE CAST(i2 AS DOUBLE) / u >= 0.5
         |ORDER BY doc_id, bench_id""".stripMargin
    }),

    // q107: NFC-normalized dedup keys (TextFunctions.fingerprint(nfc =
    // true), SURVEY+ L68) — composed (U+00E9) and decomposed (e+U+0301)
    // encodings of the same visible text are byte-distinct but ONE
    // document; real web text mixes them (NFD from macOS/CMS exports).
    // The fixture doubles the corpus into composed/decomposed twins;
    // NFC-first fingerprinting must collapse every pair to its even
    // (composed) twin. Oracle replays with DuckDB's nfc_normalize —
    // both engines implement UAX #15, so NFC bytes are a portable
    // contract (verified on combining/fullwidth/Hangul edge cases).
    Query.fixed("q107_nfc_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val a = docs.select((col("doc_id") * 2).as("doc_id"),
        concat(lit(NfcComposedPrefix), col("text")).as("text"))
      val b = docs.select((col("doc_id") * 2 + 1).as("doc_id"),
        concat(lit(NfcDecomposedPrefix), col("text")).as("text"))
      graft.dedup.Dedup.exact(a.union(b), "text", "doc_id",
          unicode = true, nfc = true)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },
      // NFC dedup replay: DuckDB's nfc_normalize implements the same UAX
      // #15 composition as java.text.Normalizer; the fingerprint is the
      // q98 unicode-token formula over the normalized text, winners the
      // same min-id-per-key rank
      (
      "WITH c AS (\n" +
        s"  SELECT doc_id * 2 AS doc_id, '$NfcComposedPrefix' || text AS text FROM documents WHERE text IS NOT NULL\n" +
        "  UNION ALL\n" +
        s"  SELECT doc_id * 2 + 1 AS doc_id, '$NfcDecomposedPrefix' || text AS text FROM documents WHERE text IS NOT NULL),\n" +
        "f AS (SELECT doc_id, text,\n" +
        "  md5(array_to_string(" + unicodeToksSql("nfc_normalize(text)") + ", '')) AS fp FROM c),\n" +
        "k AS (SELECT doc_id, text, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f)\n" +
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM k WHERE rn = 1 ORDER BY doc_id")),

    // q119: CROSS-CRAWL incremental exact dedup (SURVEY+ L78) — crawl 1
    // (doc_id % 3 == 0) produces a persistable fingerprint-state
    // artifact which round-trips through PARQUET (save + schema-checked
    // load, into a query scratch directory) before crawl 2 dedups
    // against it: the prior crawl is never rescanned. Oracle replays
    // fingerprints (the q19 md5 convention), the NOT IN state prune and
    // the within-batch first-per-fp keep directly over the same split.
    Query.fixed("q119_incremental_dedup", (s, dir) => {
      import graft.dedup.DedupState
      val docs = t(s, dir, "documents")
      val crawl1 = docs.where(col("doc_id") % 3 === 0)
      val crawl2 = docs.where(col("doc_id") % 3 =!= 0)
      val stateDir = Scratch.dir().toString
      DedupState.saveFingerprintState(
        DedupState.fingerprintState(crawl1, "text"), stateDir)
      val state = DedupState.loadFingerprintState(s, stateDir)
      DedupState.exactVsState(crawl2, "text", "doc_id", state)
        .select(col("doc_id"),
          graft.functions.TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    },
      // q119: the q19 fingerprint convention + state prune + first-per-fp
      // keep, replayed directly over the same crawl split (the parquet
      // roundtrip on the Spark side must be invisible to every value)
      """WITH f AS (SELECT doc_id,
        |    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
        |  FROM documents),
        |c1 AS (SELECT DISTINCT fingerprint FROM f
        |  WHERE doc_id % 3 = 0 AND fingerprint IS NOT NULL),
        |c2 AS (SELECT doc_id, fingerprint FROM f WHERE doc_id % 3 <> 0),
        |fresh AS (SELECT doc_id, fingerprint FROM c2
        |  WHERE fingerprint IS NULL
        |     OR fingerprint NOT IN (SELECT fingerprint FROM c1)),
        |r AS (SELECT doc_id, fingerprint, row_number() OVER (
        |    PARTITION BY coalesce(fingerprint, '__graft_null__:' || doc_id)
        |    ORDER BY doc_id) AS rk
        |  FROM fresh)
        |SELECT doc_id, fingerprint FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin))

  /** q41's frame, which q69 clusters. */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.jaccardPairs(
        t(s, dir, "documents"), "doc_id", "text",
        n = 5, blockN = 8, blockCap = 64, minJaccard = 0.2)
      .orderBy(col("id_a"), col("id_b"))
}
