package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-document duplicated-SPAN detection — the exact-substring dedup
  * modality of Lee et al. 2021 ("Deduplicating Training Data Makes
  * Language Models Better"): find the contiguous token runs of each
  * document that also occur verbatim in other documents (boilerplate,
  * licences, templated headers), at TOKEN-RUN granularity rather than
  * whole-doc (L1/L2), fixed-chunk (L25) or within-doc-line (L39).
  *
  * Their suffix-array construction is a single-machine algorithm; the
  * Spark-first equivalent anchors on word n-grams: a token position is
  * duplicated iff the n-gram starting there occurs in >= `minDocs`
  * DISTINCT documents, and maximal duplicated runs are the merged
  * overlap-or-abut unions of those [pos, pos+n) windows — exactly the
  * spans a suffix-array pass of match length >= n would emit, n-gram
  * granularity aside.
  *
  * Shape at 100 TB, stage by stage:
  *  1. per-row kernel: whitespace tokens -> hashed positional n-grams
  *     (one `transform` over `sequence`, all codegen'd builtins) — the
  *     payload that leaves the map stage is (id, pos, 8-byte gram hash),
  *     never token arrays or text;
  *  2. document frequency per gram WITHOUT `countDistinct`: two-level
  *     hash-agg ((gram,id) -> gram), both map-side combined — the L43
  *     pattern;
  *  3. equi-join positions against the df>=minDocs gram set — SALTED
  *     (`gramSaltBuckets`, the L20 machinery): a power-law gram
  *     distribution (one viral boilerplate line in 30% of docs) would
  *     otherwise concentrate that gram's positions in ONE join task when
  *     the dup-gram set is too large to broadcast. The dup-gram side is
  *     one row per gram, so replication costs `|dupGrams| x buckets`
  *     small rows while the position side spreads uniformly
  *     (skew bound measured in `SkewInjectionSpec`). No pair explosion
  *     exists in this operator — output is bounded by token positions,
  *     not df^2, so no hot-gram cap is needed;
  *  4. per-document gaps-and-islands merge: windows partitioned by doc id
  *     (thousands of rows each at worst — no single-partition window).
  *
  * The default `hash` is xxhash64 (8-byte shuffle keys); pass
  * [[SpanDedup.portableHash60]] for the md5-60 convention shared with the
  * portable dedup twins, making the whole pipeline engine-replayable
  * (the q84 oracle).
  */
object SpanDedup {

  /** The repo-wide portable 60-bit gram hash (q59/KMV convention) —
    * delegates to [[graft.sketch.Kmv.hash60]] so the convention cannot
    * drift between the sketch and span surfaces.
    */
  def portableHash60(c: Column): Column = graft.sketch.Kmv.hash60(c)

  /** (id, pos, gram-hash) for every word-n-gram start position; `pos` is
    * the 0-based TOKEN index. Tokens are whitespace-split, empties
    * dropped — the corpus-wide word convention (q41/q80).
    */
  def positionalGramHashes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      hash: Column => Column): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val toks = filter(split(col(textCol), "\\s+"), w => w =!= "")
    val grams = transform(
      sequence(lit(0), size(col("__graft_toks")) - n),
      i => hash(array_join(slice(col("__graft_toks"), i + 1, lit(n)), " ")))
    df.select(col(idCol), toks.as("__graft_toks"))
      .where(size(col("__graft_toks")) >= n)
      .select(col(idCol), posexplode(grams).as(Seq("pos", "g")))
  }

  /** Maximal duplicated token spans: one row per (document, merged run),
    * as `(idCol, span_start, span_end)` with `span_end` exclusive.
    * Every n-token WINDOW anchoring the span occurs in at least
    * `minDocs - 1` OTHER documents; overlapping or exactly-abutting
    * windows merge into one span. NOTE the merged run as a whole need
    * not occur verbatim in any single other document — adjacent anchors
    * may be witnessed by different docs (n-gram-anchor evidence, the
    * standard approximation of the suffix-array pass; choose n as the
    * minimum run length worth acting on).
    */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2,
      hash: Column => Column = xxhash64(_),
      gramSaltBuckets: Int = 8): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(gramSaltBuckets >= 1, s"gramSaltBuckets must be >= 1, got $gramSaltBuckets")
    // PERSIST the positional-gram stream: it feeds BOTH the document-
    // frequency agg and the dup-gram join below, and without the cache
    // each leg re-runs the full tokenize+hash scan (the portable md5
    // tier pays an md5 per token position). Without it (Bench, best of
    // 2, local[4] on 4 cores, 5 alternating pairs) q84 took 3.39 s
    // against 3.04 s and q85 3.25 s against 2.38 s at sf0.1, and 12.89 s
    // against 9.07 s and 12.03 s against 9.42 s on a 10x ScaleUp of the
    // documents (at most 1/5 pairs faster). Slim (id, pos, 8-byte g)
    // rows, MEMORY_AND_DISK via the shared tracker.
    val pos = graft.etl.CacheTracker.persistTracked(
      positionalGramHashes(df, idCol, textCol, n, hash))
    // document frequency >= minDocs, no countDistinct: (g, id) -> g.
    // (both aggs are skew-safe: the distinct shuffles by the TWO-part
    // (g, id) key, and the per-gram count combines map-side)
    val dupGrams = pos.select(col("g"), col(idCol)).distinct()
      .groupBy("g").agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocs)
      .select("g")
    // viral-gram-safe join: salt the position side, replicate the one-
    // row-per-gram side (identical output, measured spread bound)
    val dupPos = (if (gramSaltBuckets > 1)
        graft.etl.SkewJoin.saltedEquiJoin(pos, dupGrams, Seq("g"), gramSaltBuckets)
      else pos.join(dupGrams, "g"))
      .select(col(idCol), col("pos"))
    val w = Window.partitionBy(idCol).orderBy("pos")
    dupPos
      // windows [p, p+n) and [q, q+n), q > p, overlap or abut iff q-p <= n
      .withColumn("__brk",
        when(col("pos") - lag("pos", 1).over(w) > n, 1).otherwise(0))
      .withColumn("__island", sum("__brk").over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + n).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Cut the given spans out of each document — the cleaning half of
    * exact-substring dedup. `spans` is a `duplicatedSpans`-shaped frame
    * (idCol, span_start, span_end); the caller chooses the removal POLICY
    * by filtering it first (e.g. anti-join the per-cluster canonical doc
    * to keep one occurrence, Lee et al. style). Returns `df` plus a
    * `clean_text` column; documents with no spans keep all tokens.
    *
    * Shape: spans aggregate to one small array per affected doc (far
    * fewer rows than the corpus), the join is a plain equi-join on the id,
    * and the cut itself is the compiled single-pass
    * [[graft.functions.TextFunctions.removeSpans]] kernel — no explode of
    * the corpus, no window. NOTE `clean_text` is whitespace-normalized
    * (any `\s+` run becomes one space) even where nothing was removed.
    */
  def stripSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame): DataFrame = {
    val packed = spans.groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__graft_spans"))
    df.join(packed, Seq(idCol), "left")
      .withColumn("clean_text",
        graft.functions.TextFunctions.removeSpans(col(textCol),
          coalesce(col("__graft_spans"),
            array().cast("array<struct<span_start:bigint,span_end:bigint>>"))))
      .drop("__graft_spans")
  }

  /** Per-document duplication profile over the spans: span count, total
    * duplicated tokens, and the duplicated-token fraction — the
    * drop-or-keep signal a curation pipeline thresholds on. Documents
    * with no duplicated span report zeros (not dropped rows).
    */
  def spanStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2,
      hash: Column => Column = xxhash64(_),
      gramSaltBuckets: Int = 8): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, n, minDocs, hash, gramSaltBuckets)
      .groupBy(idCol)
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("span_end") - col("span_start")).as("dup_tokens"))
    val toks = filter(split(col(textCol), "\\s+"), w => w =!= "")
    // coalesce: a NULL-text doc reports n_tokens 0 (the documented
    // "zeros" contract), not a NULL that silently escapes threshold
    // filters downstream
    df.select(col(idCol),
        // greatest also guards the legacy size(NULL) = -1 session config
        greatest(coalesce(size(toks).cast("long"), lit(0L)), lit(0L)).as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") > 0,
          coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)).as("dup_fraction"))
  }
}
