package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Kernels, TextFunctions}

/** DSIR-style data selection with importance resampling weights (Xie et
  * al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw document by how much more likely its
  * hashed n-gram features are under a TARGET distribution (e.g. "docs
  * that look like the high-quality subset") than under the RAW corpus
  * distribution. The weight is the standard hashed-feature log ratio
  *
  *   log w(x) = sum over features f of x of
  *              ln( p_target(bucket(f)) / p_raw(bucket(f)) )
  *
  * with add-1 smoothed bucket probabilities `p(b) = (count_b + 1) /
  * (total + B)`. Features are unigrams + consecutive bigrams of the
  * engine-wide lowercased-alnum tokenization (the compiled
  * [[TextFunctions.asciiTokens]] / [[TextFunctions.wordNgramStream]]
  * kernels); `bucket(f)` is the portable md5-60 hash mod `numBuckets`,
  * the same engine-replayable convention as the KMV sketch
  * ([[graft.sketch.Kmv.hash60]]).
  *
  * Plan shape / 100 TB — two passes, ONE tiny shuffle, ZERO per-document
  * shuffle:
  *  1. bucket histogram: explode carries only (bucket int, is-target
  *     boolean) — never text — into a `numBuckets`-group map-side-combined
  *     hash-agg; `numBuckets` rows (default 1024) come to the driver,
  *     a bounded collect by construction.
  *  2. scoring is a pure MAP STAGE: the per-bucket log-ratios ship as a
  *     `numBuckets`-element array literal in the plan, and each document
  *     folds `ratio[bucket(f)]` over its own feature array with the
  *     `aggregate` HOF — no join, no exchange, no state. At 100 TB pass 2
  *     is embarrassingly parallel and pass 1's exchange is `numBuckets *
  *     partitions` ints.
  *
  * Determinism: bucket counts are exact integers; the log-ratio per
  * bucket is a fixed IEEE double expression mirrored by the DuckDB
  * oracle; per-document summation folds in document feature order, and
  * the published result is rounded to 6 dp so cross-engine
  * summation-order noise (~1e-12 relative) cannot surface (the q77 BM25
  * precedent).
  *
  * Reference surface parity note: the reference engine has no data-
  * selection surface; this is part of the beyond-the-reference
  * LLM-pipeline mandate (SURVEY §2.13).
  */
object Dsir {

  /** Unigram + bigram feature stream of a text column (array<string>). */
  def features(text: Column): Column =
    concat(TextFunctions.asciiTokens(text), TextFunctions.wordNgramStream(text, 2))

  /** Portable hash bucket per feature: md5-60 mod numBuckets (array<long>),
    * unigrams first then bigrams — ONE compiled pass
    * ([[graft.functions.Kernels.dsirBuckets]]); bit-identical to
    * `transform(features, Kmv.hash60(_) % numBuckets)` which as an
    * interpreted HOF chain cost 2.3x the wall time at sf0.1.
    */
  def featureBuckets(text: Column, numBuckets: Int): Column = {
    Kernels.dsirBuckets(text, numBuckets)
  }

  /** (doc_id, n_features, dsir_logw) for every document with at least one
    * feature, deterministic 6-dp weights; see object doc for semantics.
    *
    * `targetPred` marks the target-distribution documents (evaluated
    * against `df`'s columns, e.g. `col("lang") === "en"`); the raw
    * distribution is the whole corpus.
    */
  def importanceWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      numBuckets: Int = 1024): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")

    // pass 1: bucket histogram (raw + target) — numBuckets rows to the
    // driver, a bounded collect by construction
    val hist = df
      .select(targetPred.as("__tgt"),
        explode(featureBuckets(col(textCol), numBuckets)).as("__b"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__rb"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__tb"))
      .collect()

    var rawTotal = 0L
    var tgtTotal = 0L
    hist.foreach { r => rawTotal += r.getLong(1); tgtTotal += r.getLong(2) }
    // log-ratio per bucket, in EXACTLY the oracle's double-op order:
    // ln((CAST(tb+1 AS DOUBLE)/(t+B)) / (CAST(rb+1 AS DOUBLE)/(r+B)));
    // unseen buckets get the same formula with counts 0 (they can only be
    // hit by documents outside the histogram's corpus, e.g. a caller
    // scoring NEW data against a frozen histogram — supported shape)
    val ratios = Array.fill(numBuckets)(
      math.log((1.0 / (tgtTotal + numBuckets)) / (1.0 / (rawTotal + numBuckets))))
    hist.foreach { r =>
      val b = r.getLong(0).toInt
      val rb = r.getLong(1)
      val tb = r.getLong(2)
      ratios(b) = math.log(((tb + 1).toDouble / (tgtTotal + numBuckets)) /
        ((rb + 1).toDouble / (rawTotal + numBuckets)))
    }
    // pass 2: pure map stage — compiled fold of ratio[bucket] over the
    // document's own feature array; no join, no exchange. The ratio table
    // ships as a codegen reference object, not a numBuckets-wide literal.
    val buckets = featureBuckets(col(textCol), numBuckets)
    // persisted (tracked — graft.etl.CacheTracker.unpersistCaches): the
    // final range sort's boundary sample would otherwise re-evaluate the
    // whole map-only scoring chain a second time (no upstream shuffle
    // stage exists for AQE to reuse); the cached rows are the three slim
    // output fields. Without it (Bench, best of 2, local[4] on 4 cores,
    // 5 alternating pairs) q82 took 1.19 s against 0.89 s at sf0.1 and
    // 3.20 s against 2.16 s on a 10x ScaleUp of the documents (0/5
    // pairs faster at each)
    graft.etl.CacheTracker.persistTracked(
      df.select(col(idCol).as("doc_id"), buckets.as("__bs"))
        .where(size(col("__bs")) > 0)
        .select(col("doc_id"),
          size(col("__bs")).cast("long").as("n_features"),
          round(
            Kernels.dsirScore(col("__bs"), ratios.toIndexedSeq),
            6).as("dsir_logw")))
      .orderBy(col("doc_id"))
  }
}
