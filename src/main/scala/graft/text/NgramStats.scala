package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus n-gram frequency statistics — the profiling pass behind
  * vocabulary construction, boilerplate discovery ("which phrases
  * dominate?"), and repetition auditing of a training corpus.
  *
  * Plan: compiled map-side n-gram stream at n = 2
  * ([[TextFunctions.wordNgramStream]] — non-distinct, `[a-z0-9]` tokens,
  * the tokenization shared with the LM scorers) -> explode -> per-(doc, ngram) counts [shuffle 1, map-side
  * combined] -> per-ngram totals + document frequency in ONE second agg
  * (`sum` + `count` over the distinct-by-construction first level, no
  * `countDistinct` expansion) -> global top-k by occurrences.
  *
  * Scale notes: the n-gram vocabulary at 100 TB is billions of keys — both
  * aggregations are plain hash-aggs with map-side partial combine (zipf
  * head collapses before the exchange), and the top-k is
  * `TakeOrderedAndProject` (per-partition partial top-k, k rows to the
  * driver) — never a full sort of the vocabulary. Ties at the cut break
  * on the n-gram string, so the result is deterministic cross-engine
  * (ASCII tokens order identically under UTF8 binary collation).
  */
object NgramStats {

  /** Top-`k` corpus bigrams: (bigram, n_occurrences, n_docs), most
    * frequent first.
    */
  def topBigrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.select(col(idCol).as("doc_id"),
        explode(TextFunctions.wordNgramStream(col(textCol), 2)).as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("bigram"))
      .agg(sum(col("c")).as("n_occurrences"),
        count(lit(1)).cast("long").as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("bigram"))
      .limit(k)
  }
}
