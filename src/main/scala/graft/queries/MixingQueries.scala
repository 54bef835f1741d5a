package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

import Shared._

/** Sampling, mixing and sketch queries: weighted and temperature mixes,
  * splits, token budgets, domain caps, and KMV, HLL and heavy-hitter
  * sketches.
  */
object MixingQueries {

  val all: Seq[Query] = Seq(
    // q50: weighted corpus mixing (LLM data recipe) — upweight English,
    // downsample the rest; md5-hash selection makes the exact subset
    // reproducible in DuckDB (graft.etl.Mixing)
    Query.fixed("q50_weighted_mix", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.etl.Mixing.weightedMix(
        Seq(
          d.where(col("lang") === "en") -> 0.9,
          d.where(col("lang") =!= "en") -> 0.25),
        idCol = "doc_id", salt = "mix")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    },
      """WITH sel AS (
        |  SELECT * FROM documents WHERE lang = 'en'
        |    AND CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'mix0')), 1, 8)) AS BIGINT)
        |        < 0.9 * 4294967296.0
        |  UNION ALL
        |  SELECT * FROM documents WHERE lang <> 'en'
        |    AND CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'mix1')), 1, 8)) AS BIGINT)
        |        < 0.25 * 4294967296.0)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM sel GROUP BY lang ORDER BY lang""".stripMargin),

    // q53: deterministic train/val/test split (graft.etl.Mixing.assignSplit)
    // — hash-uniform assignment, proportions hold within every language
    // stratum without a stratified pass; oracle replays the md5 draw and
    // the exact cumulative-boundary doubles
    Query.fixed("q53_split_assign", (s, dir) =>
      graft.etl.Mixing.assignSplit(
        t(s, dir, "documents"), idCol = "doc_id",
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "sp")
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("split")),
      {
      // cumulative boundaries computed EXACTLY as assignSplit computes them
      // (0.8 + 0.1 in binary is not the literal 0.9), embedded via
      // Double.toString which round-trips through DuckDB's parser
      val cums = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        .scanLeft(0.0)(_ + _._2).tail
      s"""WITH u AS (SELECT lang,
         |  CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'sp')), 1, 8)) AS BIGINT) AS DOUBLE)
         |    / 4294967296.0 AS u
         |  FROM documents),
         |s AS (SELECT lang,
         |  CASE WHEN u < CAST('${java.lang.Double.toString(cums(0))}' AS DOUBLE) THEN 'train'
         |       WHEN u < CAST('${java.lang.Double.toString(cums(1))}' AS DOUBLE) THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM u)
         |SELECT lang, split, count(*) AS n_docs
         |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin
    }),

    // q64: token-budget selection (SURVEY+ L26) — keep the highest-quality
    // documents until 20% of the corpus token mass is spent. The running
    // total is Packing's range-split cumsum (no single-partition window);
    // the integer comparison cum*5 <= total sidesteps double-literal
    // fraction drift between engines. The 1-row global-total broadcast is
    // the allowed scalar-BNL pattern (q09/q17).
    Query.fixed("q64_token_budget", (s, dir) => {
      // persisted: the running-total machinery (boundary sample, range
      // counts, final pass) plus the corpus-total aggregate evaluate this
      // map-only frame four times, and its sort key is a kernel output.
      // Measured (4 cores, 5 alternating pairs, BENCHNOTES "One pre-sort
      // rule"): with no cache, 2.29 s against 1.43 s at sf0.1 (parent
      // spread 0.06 s) and 6.19 s against 3.19 s at 10x sf0.1 (0.16 s).
      // The cached rows are the three slim fields.
      val scored = graft.etl.CacheTracker.persistTracked(t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.qualityScore(col("text")).as("quality")))
      val total = scored.agg(sum(col("n_tokens")).as("__total"))
      graft.etl.Packing
        .withRunningTotal(scored, Seq(negate(col("quality")), col("doc_id")),
          "n_tokens", "cum_tokens")
        .crossJoin(broadcast(total))
        .where(col("cum_tokens") * 5 <= col("__total"))
        .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    },
      """WITH s AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) AS BIGINT) AS n_tokens,
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
        |r AS (SELECT doc_id, quality, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
        |  sum(n_tokens) OVER () AS total
        |  FROM s)
        |SELECT doc_id, quality, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM r WHERE cum_tokens * 5 <= total ORDER BY doc_id""".stripMargin),

    // q66: exact-N stratified corpus sample (SURVEY+ L28) — exactly 60
    // docs proportional over languages (largest-remainder quotas), rows
    // picked by the portable md5 rank; salted two-level selection never
    // ranks a whole stratum in one task.
    Query.fixed("q66_stratified_sample", (s, dir) =>
      graft.etl.Stratified.exactProportionalSample(
          t(s, dir, "documents"), "lang", "doc_id", total = 60L)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id")),
      """WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |tot AS (SELECT sum(c) AS t FROM cnt),
        |q0 AS (SELECT lang, c, (60 * c) // t AS base, (60 * c) % t AS rem FROM cnt, tot),
        |deficit AS (SELECT 60 - sum(base) AS d FROM q0),
        |q AS (SELECT lang,
        |    base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang) <= d
        |                THEN 1 ELSE 0 END AS quota
        |  FROM q0, deficit),
        |r AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
        |        doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.source
        |FROM r JOIN q USING (lang) WHERE r.rn <= q.quota
        |ORDER BY r.doc_id""".stripMargin),

    // q67: token-weighted language mixing (SURVEY+ L29) — each language
    // consumes corpus token mass up to its weight share (en 4/10, fr 2/10,
    // de 2/10, es 1/10, zh 1/10 of TOTAL tokens), documents admitted in
    // portable-md5 order. The per-language running total is the grouped
    // range-split cumsum — languages are few and huge, exactly the shape
    // where Window.partitionBy(lang) would sort a third of the corpus in
    // one task. All-integer budget test (cum*10 <= total*w10): no
    // fraction-literal drift.
    Query.fixed("q67_token_mix", (s, dir) => {
      import s.implicits._
      // persisted: the grouped running total and the corpus-total
      // aggregate evaluate this map-only frame several times (as in q64).
      // Measured: with no cache, 1.47 s against 1.43 s at sf0.1 (parent
      // spread 0.16 s, a tie) but 2.98 s against 2.27 s at 10x sf0.1
      // (0.17 s). The cached rows are the four slim fields.
      val scored = graft.etl.CacheTracker.persistTracked(t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        graft.etl.Stratified.md5Rank(col("doc_id")).as("__rk")))
      val total = scored.agg(sum(col("n_tokens")).as("__total"))
      val weights = broadcast(Seq(("en", 4), ("fr", 2), ("de", 2), ("es", 1), ("zh", 1))
        .toDF("lang", "__w10"))
      graft.etl.Packing
        .withGroupedRunningTotal(scored, Seq("lang"), Seq(col("__rk"), col("doc_id")),
          "n_tokens", "cum_tokens")
        .join(weights, Seq("lang"))
        .crossJoin(broadcast(total))
        .where(col("cum_tokens") * 10 <= col("__total") * col("__w10"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_sel"))
        .orderBy(col("lang"))
    },
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) AS BIGINT) AS n_tokens,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS rk
        |  FROM documents),
        |t AS (SELECT sum(n_tokens) AS total FROM s),
        |r AS (SELECT lang, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY rk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s),
        |w(lang, w10) AS (VALUES ('en', 4), ('fr', 2), ('de', 2), ('es', 1), ('zh', 1)),
        |sel AS (SELECT r.lang, r.n_tokens FROM r JOIN w USING (lang) CROSS JOIN t
        |  WHERE r.cum * 10 <= t.total * w.w10)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tok_sel
        |FROM sel GROUP BY lang ORDER BY lang""".stripMargin),

    // q70: cross-source corpus overlap via KMV sketches (SURVEY+ L34) —
    // ONE scan builds a k-minimum-values sketch of each source's 5-shingle
    // set (graft.sketch.KmvSketchAgg: bounded TypedImperativeAggregate
    // state, <= k longs per source per map partition, order-independent);
    // pairwise distinct-count and Jaccard estimates are then plain Column
    // math over the tiny aggregated result — cross-source overlap with NO
    // join of raw data. Portable md5-60 hashes => DuckDB replays the
    // sketches and estimators bit-for-bit.
    Query.fixed("q70_kmv_source_overlap", (s, dir) => {
      import graft.sketch.Kmv
      val k = 256
      val sh = t(s, dir, "documents").select(col("source"),
        TextFunctions.shingleHashSetPortable(col("text"), 5).as("hs"))
      val sk = sh.groupBy(col("source")).agg(Kmv.sketch(col("hs"), k).as("sk"))
      val a = sk.select(col("source").as("source_a"), col("sk").as("ska"))
      val b = sk.select(col("source").as("source_b"), col("sk").as("skb"))
      // pair join runs on the AGGREGATED frame: one row per source, so the
      // non-equi (<) join is |sources|^2 over sketch ids — tiny by
      // construction, same class as the documented exact baselines
      a.join(b, col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          round(Kmv.distinctEstimate(col("ska"), k), 4).as("est_distinct_a"),
          round(Kmv.distinctEstimate(col("skb"), k), 4).as("est_distinct_b"),
          round(Kmv.jaccardEstimate(col("ska"), col("skb"), k), 4).as("est_jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    },
      // q70: full KMV replay — per-source k-smallest-distinct md5-60 shingle
      // hashes (the same norm + substr derivation as the q58/q59 portable
      // twins), then the identical closed-form estimators. 2^60 and
      // 255 * 2^60 are exactly representable doubles, so the divisions are
      // bit-identical across engines.
      """WITH norm AS (SELECT source, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t FROM documents),
        |h AS (SELECT source,
        |    CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT source, t, unnest(range(1, len(t) - 3)) AS pos FROM norm) q),
        |sk AS (SELECT source, list_slice(list_sort(list(DISTINCT h)), 1, 256) AS sk FROM h GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b, a.sk AS ska, b.sk AS skb
        |  FROM sk a JOIN sk b ON a.source < b.source),
        |u AS (SELECT *, list_slice(list_sort(list_distinct(list_concat(ska, skb))), 1, 256) AS un FROM p)
        |SELECT source_a, source_b,
        |  round(CASE WHEN len(ska) < 256 THEN CAST(len(ska) AS DOUBLE)
        |        ELSE 255.0 * 1152921504606846976.0 / CAST(ska[256] AS DOUBLE) END, 4) AS est_distinct_a,
        |  round(CASE WHEN len(skb) < 256 THEN CAST(len(skb) AS DOUBLE)
        |        ELSE 255.0 * 1152921504606846976.0 / CAST(skb[256] AS DOUBLE) END, 4) AS est_distinct_b,
        |  round(CASE WHEN len(un) = 0 THEN 0.0
        |        ELSE CAST(len(list_intersect(list_intersect(un, ska), skb)) AS DOUBLE)
        |             / CAST(len(un) AS DOUBLE) END, 4) AS est_jaccard
        |FROM u ORDER BY source_a, source_b""".stripMargin),

    // q73: hierarchical KMV rollup (SURVEY+ L34) — per-source sketches
    // re-aggregated into ONE corpus sketch by feeding the sketch arrays
    // back through the same aggregate (KmvSpec proves rollup == direct).
    // This is the 100 TB maintenance pattern: keep tiny per-partition
    // sketches fresh incrementally, answer corpus-wide distinct questions
    // from the rollup without touching raw data. Oracle = the direct
    // global sketch, which equals the rollup by the merge property.
    Query.fixed("q73_kmv_rollup", (s, dir) => {
      import graft.sketch.Kmv
      val k = 256
      val sh = t(s, dir, "documents").select(col("source"),
        TextFunctions.shingleHashSetPortable(col("text"), 5).as("hs"))
      val perSource = sh.groupBy(col("source")).agg(Kmv.sketch(col("hs"), k).as("sk"))
      perSource.agg(
          // count over non-null sources = DuckDB count(DISTINCT source)
          // semantics (a NULL-source group would otherwise be counted)
          count(col("source")).as("n_sources"),
          Kmv.sketch(col("sk"), k).as("g"))
        .select(col("n_sources"),
          size(col("g")).cast("long").as("sketch_size"),
          element_at(col("g"), 1).as("h_min"),
          element_at(col("g"), size(col("g"))).as("h_kth"),
          round(Kmv.distinctEstimate(col("g"), k), 4).as("est_distinct_shingles"))
    },
      // q73: the rollup equals the direct global sketch (KMV merge
      // property), so the oracle skips the per-source level entirely
      """WITH norm AS (SELECT source, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t FROM documents),
        |h AS (SELECT source,
        |    CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT source, t, unnest(range(1, len(t) - 3)) AS pos FROM norm) q),
        |g AS (SELECT list_slice(list_sort(list(DISTINCT h)), 1, 256) AS g FROM h),
        |ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents)
        |SELECT ns.n_sources, len(g.g) AS sketch_size,
        |  g.g[1] AS h_min, g.g[len(g.g)] AS h_kth,
        |  round(CASE WHEN len(g.g) < 256 THEN CAST(len(g.g) AS DOUBLE)
        |        ELSE 255.0 * 1152921504606846976.0 / CAST(g.g[256] AS DOUBLE) END, 4) AS est_distinct_shingles
        |FROM g, ns""".stripMargin),

    // q72: per-domain document cap (SURVEY+ L36) — keep at most 15 docs
    // per source, rows picked by the portable md5 rank. The rank filter is
    // rewritten by Spark 4 into a map-side WindowGroupLimit (asserted in
    // MixingSpec), so the exchange carries <= cap rows per group per map
    // task — never the whole domain.
    Query.fixed("q72_domain_cap", (s, dir) =>
      graft.etl.Mixing.capPerGroup(t(s, dir, "documents"), "source", "doc_id", cap = 15)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source")),
      // q72: the cap is a plain rank filter over the portable md5 rank —
      // the Spark side differs only in WHERE the rank is computed (map-side
      // WindowGroupLimit), never in which rows survive.
      """WITH r AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
        |      doc_id) AS rk
        |  FROM documents)
        |SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM r WHERE rk <= 15 GROUP BY source ORDER BY source""".stripMargin),

    // q81: SpaceSaving heavy-hitters sketch (graft.sketch.SpaceSaving,
    // SURVEY+ L46) — per-source top-10 bigrams from a bounded-memory
    // mergeable summary. Per-document bigram ARRAYS feed the aggregate
    // (no corpus-token explode); capacity 131072 exceeds the fixture
    // bigram vocabulary at every gate scale THROUGH sf10 (the scaled-up
    // corpora's decorrelation mutations grow it to ~91k/source at sf10;
    // 4096 left the exact regime at sf1), so counts are exact (err 0)
    // and the oracle is the exact ranking. Buffers allocate lazily —
    // memory tracks distinct-seen, not capacity — and the
    // eviction/merge-bound regime is spec-covered (SpaceSavingSpec).
    Query.fixed("q81_heavy_hitters", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(graft.sketch.SpaceSaving.summary(
          TextFunctions.wordNgramStream(col("text"), 2), 131072).as("sk"))
        .select(col("source"),
          posexplode(graft.sketch.SpaceSaving.topK(col("sk"), 10)))
        .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
          col("col.term").as("bigram"), col("col.count").as("est_count"),
          col("col.err").as("err"))
        .orderBy(col("source"), col("rank")),
      // exact ranking replay of the no-eviction regime (capacity 4096 >>
      // fixture vocabulary): same (count desc, bigram asc) tie-break
      """WITH w AS (SELECT source,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
        |  FROM documents),
        |b AS (SELECT source,
        |  unnest([w[i] || ' ' || w[i + 1] for i in range(1, greatest(len(w), 1))]) AS bigram
        |  FROM w),
        |c AS (SELECT source, bigram, count(*) AS cnt FROM b GROUP BY 1, 2),
        |r AS (SELECT source, bigram, cnt,
        |  row_number() OVER (PARTITION BY source ORDER BY cnt DESC, bigram) AS rank
        |  FROM c)
        |SELECT source, CAST(rank AS BIGINT) AS rank, bigram,
        |  CAST(cnt AS BIGINT) AS est_count, CAST(0 AS BIGINT) AS err
        |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin),

    // q109: HyperLogLog per-source distinct-shingle accounting (SURVEY+
    // L70) — fixed 2 KiB register state per source regardless of
    // cardinality (the complement to q70's KMV: millions of group
    // sketches stay resident and mergeable at 100 TB), ONE scan, one
    // hash-agg shuffle of 2 KiB buffers. The '__all__' row re-aggregates
    // the per-source REGISTER ARRAYS through Hll.mergeSketches
    // (elementwise max == union sketch; HllSpec proves rollup == direct)
    // without re-touching raw data. Registers are pure integer functions
    // of the md5-60 hashes, so DuckDB replays them exactly (index = top
    // 11 bits, rho via binary-string length); v_zero / s_int /
    // reg_checksum pin the register content in exact integer arithmetic,
    // and the estimate is deterministic double division of those integers
    // (+ the standard linear-counting branch), compared after round(4).
    // This is the SKETCH-ONLY plan — the exact-distinct accuracy
    // yardstick lives in q109v (untimed, Bench-excluded like q35): a
    // corpus-wide exploded count_distinct riding the timed query would
    // be exactly the cost the sketch exists to avoid at 100 TB.
    Query.fixed("q109_hll_source_distinct", (s, dir) => {
      import graft.sketch.Hll
      val p = 11
      val sh = t(s, dir, "documents").select(col("source"),
        TextFunctions.shingleHashSetPortable(col("text"), 5).as("hs"))
      val perSrc = sh.groupBy(col("source")).agg(Hll.sketch(col("hs"), p).as("reg"))
      val allRow = perSrc.agg(Hll.mergeSketches(col("reg"), p).as("reg"))
        .select(lit("__all__").as("source"), col("reg"))
      perSrc.unionByName(allRow)
        .select(col("source"),
          Hll.zeroCount(col("reg")).as("v_zero"),
          Hll.harmonicSum(col("reg"), p).as("s_int"),
          Hll.checksum(col("reg")).as("reg_checksum"),
          round(Hll.estimate(col("reg"), p), 4).as("est_distinct"))
        .orderBy(col("source"))
    },
      // q109: full HLL register replay — the same md5-60 shingle hashes as
      // q70, register index = top 11 bits (h // 2^49), rho = 50 minus the
      // bit length of the 49-bit suffix (format('{:b}') is exact string
      // formatting — no float log). The '__all__' row is computed from ALL
      // hashes directly: by the elementwise-max merge property that equals
      // the Spark side's register rollup. v_zero/s_int/reg_checksum are
      // exact integer pins of the register content; the estimator repeats
      // the identical double arithmetic (alpha literal with the same
      // left-assoc op order) and rounds to 4. Sketch-only — the exact-
      // distinct yardstick is q109v's.
      """WITH norm AS (SELECT source, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t FROM documents),
        |h AS (SELECT source,
        |    CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT source, t, unnest(range(1, len(t) - 3)) AS pos FROM norm) q),
        |hs AS (SELECT source, h FROM h UNION ALL SELECT '__all__' AS source, h FROM h),
        |rho AS (SELECT source, h // 562949953421312 AS idx,
        |    CASE WHEN h % 562949953421312 = 0 THEN 50
        |         ELSE 50 - length(format('{:b}', h % 562949953421312)) END AS rho
        |  FROM hs),
        |reg0 AS (SELECT source, idx, max(rho) AS mj FROM rho GROUP BY source, idx),
        |grid AS (SELECT s.source, g.idx FROM (SELECT DISTINCT source FROM hs) s,
        |         (SELECT unnest(range(0, 2048)) AS idx) g),
        |reg AS (SELECT grid.source, grid.idx, coalesce(reg0.mj, 0) AS mj
        |  FROM grid LEFT JOIN reg0 ON grid.source = reg0.source AND grid.idx = reg0.idx),
        |agg AS (SELECT source,
        |    CAST(count(*) FILTER (mj = 0) AS INTEGER) AS v_zero,
        |    CAST(sum(1::BIGINT << (50 - mj)) AS BIGINT) AS s_int,
        |    CAST(sum((idx + 1) * mj) AS BIGINT) AS reg_checksum
        |  FROM reg GROUP BY source),
        |est AS (SELECT source, v_zero, s_int, reg_checksum,
        |    0.7213/(1+1.079/2048.0)*2048*2048*1125899906842624.0 / CAST(s_int AS DOUBLE) AS raw
        |  FROM agg)
        |SELECT source, v_zero, s_int, reg_checksum,
        |  round(CASE WHEN v_zero > 0 AND raw <= 5120.0
        |        THEN 2048.0 * ln(2048.0 / CAST(v_zero AS DOUBLE))
        |        ELSE raw END, 4) AS est_distinct
        |FROM est
        |ORDER BY source""".stripMargin),

    // q109v: the HLL ACCURACY yardstick — sketch estimate joined to the
    // exact distinct count, per source and global. Untimed validation
    // (Bench-excluded, the q35 pattern): the exact side is a corpus-wide
    // exploded count_distinct, affordable only at gate/validation scale
    // and deliberately kept OUT of q109's timed plan. cube(source)
    // computes the per-source AND global rollup in ONE shingle pass —
    // two separate aggregates each re-shingled the corpus (measured
    // 4.5s -> ~2.5s at sf0.1).
    Query.fixed("q109v_hll_accuracy", (s, dir) => {
      import graft.sketch.Hll
      val p = 11
      val sh = t(s, dir, "documents").select(col("source"),
        TextFunctions.shingleHashSetPortable(col("text"), 5).as("hs"))
      val perSrc = sh.groupBy(col("source")).agg(Hll.sketch(col("hs"), p).as("reg"))
      val allRow = perSrc.agg(Hll.mergeSketches(col("reg"), p).as("reg"))
        .select(lit("__all__").as("source"), col("reg"))
      val exact = sh.select(col("source"), explode(col("hs")).as("h"))
        .cube(col("source"))
        .agg(count_distinct(col("h")).as("exact_distinct"))
        .select(coalesce(col("source"), lit("__all__")).as("source"),
          col("exact_distinct"))
      perSrc.unionByName(allRow)
        .select(col("source"),
          round(Hll.estimate(col("reg"), p), 4).as("est_distinct"))
        .join(exact, Seq("source"))
        .orderBy(col("source"))
    },
      // q109v: the accuracy yardstick — same register replay reduced to
      // the estimate, joined to the exact distinct count per source and
      // global.
      """WITH norm AS (SELECT source, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t FROM documents),
        |h AS (SELECT source,
        |    CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT source, t, unnest(range(1, len(t) - 3)) AS pos FROM norm) q),
        |hs AS (SELECT source, h FROM h UNION ALL SELECT '__all__' AS source, h FROM h),
        |rho AS (SELECT source, h // 562949953421312 AS idx,
        |    CASE WHEN h % 562949953421312 = 0 THEN 50
        |         ELSE 50 - length(format('{:b}', h % 562949953421312)) END AS rho
        |  FROM hs),
        |reg0 AS (SELECT source, idx, max(rho) AS mj FROM rho GROUP BY source, idx),
        |grid AS (SELECT s.source, g.idx FROM (SELECT DISTINCT source FROM hs) s,
        |         (SELECT unnest(range(0, 2048)) AS idx) g),
        |reg AS (SELECT grid.source, grid.idx, coalesce(reg0.mj, 0) AS mj
        |  FROM grid LEFT JOIN reg0 ON grid.source = reg0.source AND grid.idx = reg0.idx),
        |agg AS (SELECT source,
        |    CAST(count(*) FILTER (mj = 0) AS INTEGER) AS v_zero,
        |    CAST(sum(1::BIGINT << (50 - mj)) AS BIGINT) AS s_int
        |  FROM reg GROUP BY source),
        |ex AS (SELECT source, count(DISTINCT h) AS exact_distinct FROM hs GROUP BY source),
        |est AS (SELECT source, v_zero,
        |    0.7213/(1+1.079/2048.0)*2048*2048*1125899906842624.0 / CAST(s_int AS DOUBLE) AS raw
        |  FROM agg)
        |SELECT e.source,
        |  round(CASE WHEN e.v_zero > 0 AND e.raw <= 5120.0
        |        THEN 2048.0 * ln(2048.0 / CAST(e.v_zero AS DOUBLE))
        |        ELSE e.raw END, 4) AS est_distinct,
        |  ex.exact_distinct
        |FROM est e JOIN ex ON e.source = ex.source
        |ORDER BY e.source""".stripMargin),

    // q114: temperature-resampled corpus mix (SURVEY+ L75) — the
    // multilingual-LM flattening rule (share proportional to count^0.5;
    // Arivazhagan et al. 2019, mT5) over the lang strata. Exactness
    // chain: sqrt is IEEE-correctly-rounded in BOTH engines, the 2^20
    // weight scale + floor are exact, so integer weights, the
    // largest-remainder split and the availability cap replay
    // bit-identically; row choice is the shared portable md5 rank.
    Query.fixed("q114_temperature_mix", (s, dir) => {
      graft.etl.Stratified.exactTemperatureSample(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source")),
          "lang", "doc_id", total = 90, alpha = 0.5)
        .orderBy(col("doc_id"))
    },
      // q114: q66's integer largest-remainder replay with the temperature
      // weight CTE in front (sqrt exact-rounded, power-of-two scale, floor
      // — all engine-exact) and the availability cap via least()
      """WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |w AS (SELECT lang, c, CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576) AS BIGINT) AS wt FROM cnt),
        |tw AS (SELECT sum(wt) AS tw FROM w),
        |q0 AS (SELECT lang, c, (90 * wt) // tw AS base, (90 * wt) % tw AS rem FROM w, tw),
        |deficit AS (SELECT 90 - sum(base) AS d FROM q0),
        |q AS (SELECT lang,
        |    least(c, base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang) <= d
        |                         THEN 1 ELSE 0 END) AS quota
        |  FROM q0, deficit),
        |r AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
        |        doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.source
        |FROM r JOIN q USING (lang) WHERE r.rn <= q.quota
        |ORDER BY r.doc_id""".stripMargin))
}
