package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Ranking

/** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
  * Extracting High Quality Monolingual Datasets from Web Crawl Data"):
  * score every document with a language-model cross-entropy, then
  * split EACH LANGUAGE into equal head / middle / tail thirds by
  * score — the standard web-corpus quality partition (head = most
  * fluent; downstream mixes sample the tiers differently).
  *
  * Composition of two verified pieces: an n-gram cross-entropy score
  * (`ngramOrder` 1 -> [[UnigramLm.crossEntropy]], 2/3 ->
  * [[UnigramLm.ngramCrossEntropy]];
  * CCNet proper uses a KenLM 5-gram — the trigram tier is the same
  * compiled-kernel shape two conditioning levels up from q57's
  * unigram) and [[Ranking.withGroupedNtile]] (exact per-language NTILE
  * from the scalable global rank — no per-language window task).
  *
  * Bucket assignment is RANK-based, never cut-value-based: comparing
  * raw double scores against a percentile cut is knife-edged across
  * engines (the sums behind xent agree to ~6 digits, not bitwise), so
  * documents are ordered by (round(xent, roundDigits), doc_id) — a
  * total order both engines reproduce exactly — and the tercile is
  * pure integer arithmetic on the rank. The q115 oracle replays it
  * with a plain `ntile(3) OVER (PARTITION BY lang ORDER BY ...)`.
  *
  * Output: (doc_id, lang, n_tokens, xent, bucket 1..k) — one row per
  * document that HAS scoreable units (token-less docs — or, at higher
  * orders, docs shorter than the n-gram — carry no score, same
  * contract as q57). At `ngramOrder` > 1, n_tokens carries the scored
  * UNIT count (bigrams/trigrams), keeping the schema stable across
  * orders.
  *
  * [[partition]] registers the scored-frame cache with
  * [[graft.etl.CacheTracker]] — long-lived sessions should call
  * `CacheTracker.unpersistCaches()` after materializing the result.
  */
object PerplexityBuckets {

  /** Scale steer on the DEFAULTS: `model = None` scores with a
    * CORPUS-TRAINED tier — correct and oracle-exact, but it re-estimates
    * the LM over the scoring corpus every run and pays corpus-sized
    * model exchanges (measured at 5M docs: exact strings 21x/decade,
    * hashed 12x, vs 2.0x/decade for model scoring; the q126 capstone
    * halved from 188.3 s to 93.6 s at sf100 by switching). Corpus-scale
    * callers must pass `model = Some(...)` — train once on a bounded
    * reference set ([[UnigramLm.trainNgramModelHashed]] /
    * [[UnigramLm.trainSliceModel]], or load a persisted artifact via
    * [[graft.model.ModelState.loadLmModel]]) and reuse it across runs.
    * The corpus-trained default exists as the self-contained/oracle
    * shape for bounded corpora and gate-scale verification.
    *
    * @param model pre-trained bounded (g, prob, unseen_prob) frame
    *   ([[UnigramLm.trainNgramModelHashed]]'s artifact) — THE
    *   corpus-scale default: scoring becomes a broadcast map-side pass
    *   ([[UnigramLm.scoreNgramsWithModel]], measured 2.0x/decade at 5M
    *   docs) where the corpus-trained tiers re-estimate per run and pay
    *   corpus-sized model exchanges (exact strings 21x/decade, hashed
    *   12x). Requires ngramOrder >= 2 (the model keys are n-gram chain
    *   hashes); buckets equal the corpus-trained tiers' when the model
    *   is the full unpruned table of the same corpus (spec-pinned).
    *   For a corpus-scale run, train once on a bounded reference slice
    *   and pass it here.
    * @param hashedLm score with the fixed-width hashed tier
    *   ([[UnigramLm.ngramCrossEntropyHashed]] — the q120 mid path)
    *   instead of the exact-string oracle tier; buckets are identical
    *   wherever the 64-bit hashes are injective on the observed grams
    *   (spec-pinned). Requires ngramOrder >= 2 — the unigram tier is
    *   already fixed-width per term, so a hashed order-1 request is
    *   rejected rather than silently served by a different plan.
    */
  def partition(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      k: Int = 3,
      unicode: Boolean = false,
      roundDigits: Int = 6,
      ngramOrder: Int = 1,
      hashedLm: Boolean = false,
      model: Option[DataFrame] = None): DataFrame = {
    require(!(hashedLm && ngramOrder == 1),
      "hashedLm requires ngramOrder >= 2 (the unigram tier has no hashed variant)")
    require(model.isEmpty || ngramOrder >= 2,
      "model scoring requires ngramOrder >= 2 (model keys are n-gram chain hashes)")
    require(model.isEmpty || !hashedLm,
      "pass either a pre-trained model or hashedLm, not both")
    val scored0 = (ngramOrder, hashedLm, model) match {
      case (n, false, Some(m)) if n >= 2 =>
        UnigramLm.scoreNgramsWithModel(df, idCol, textCol, m, n, unicode)
          .withColumnRenamed("n_ngrams", "n_tokens")
      case (1, false, None) => UnigramLm.crossEntropy(df, idCol, textCol, unicode)
      case (n, true, None) if n >= 2 =>
        UnigramLm.ngramCrossEntropyHashed(df, idCol, textCol, n, unicode)
          .withColumnRenamed("n_ngrams", "n_tokens")
      case (n, false, None) if n == 2 || n == 3 =>
        UnigramLm.ngramCrossEntropy(df, idCol, textCol, n, unicode)
          .withColumnRenamed("n_ngrams", "n_tokens")
      case (o, _, _) => throw new IllegalArgumentException(
        s"exact-string tiers support ngramOrder 1, 2 or 3, got $o " +
          "(any n >= 2 via hashedLm or a pre-trained model)")
    }
    val scored = scored0.withColumn("xent", round(col("xent"), roundDigits))
    // PERSIST the scored frame (one slim row per doc) before ranking:
    // the range-split rank machinery evaluates its input several times
    // (boundary-sample job, per-range counts, group extents, final
    // output) — the right trade for a cheap scan, a 3x wall-clock
    // multiplier on the expensive LM chain (measured 226 s -> the
    // re-measured figure in BENCHNOTES at 5M docs). Tracked in the
    // shared cache queue — callers running many partitions in one
    // session should call graft.etl.CacheTracker.unpersistCaches after
    // materializing (see its scaladoc for the contract).
    val withLang = graft.etl.CacheTracker.checkpointTracked(scored.join(
      df.select(col(idCol).as("doc_id"), col(langCol).as("lang")), "doc_id"))
    Ranking.withGroupedNtile(withLang, Seq("lang"),
      Seq(col("xent"), col("doc_id")), k, "bucket")
  }
}
