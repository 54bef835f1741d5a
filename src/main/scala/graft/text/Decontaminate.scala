package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Benchmark decontamination — flag training documents that share word
  * n-grams with an evaluation/benchmark set, the standard pre-training
  * hygiene step (GPT-3 App. C / PaLM / Llama all ship a variant: a doc is
  * contaminated when any of its n-grams appears verbatim in a benchmark).
  *
  * Plan shape for 100 TB: the benchmark side is TINY relative to the
  * corpus (benchmarks are at most millions of n-grams), so its distinct
  * n-gram set aggregates to a small relation that BROADCASTS — the corpus
  * explode-and-match runs entirely map-side against the broadcast hash
  * relation, no corpus shuffle at all. The only exchange is the per-doc
  * hit-count aggregation, which ships (doc_id, count) pairs — partial
  * aggregation collapses them before the wire. Raw text never shuffles.
  *
  * N-grams are exact strings (not hashes): equality must be
  * engine-portable for the oracle and hash-free for auditability; the
  * broadcast side is small enough that hashing would save nothing.
  */
object Decontaminate {

  /** Per-document contamination report against `bench`: documents from
    * `train` sharing at least one distinct word-`n`-gram with any
    * benchmark document, with `n_hits` (distinct shared n-grams),
    * `n_ngrams` (the doc's distinct n-gram count) and the contamination
    * fraction. Clean documents are absent; `ngramCol` semantics follow
    * [[TextFunctions.wordNgrams]] (whitespace tokens, exact strings).
    */
  def overlapReport(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      unicode: Boolean = false): DataFrame = {
    val benchGrams = bench
      .select(explode(TextFunctions.wordNgrams(col(textCol), n, unicode)).as("__g"))
      .distinct()
      .withColumn("__hit", lit(1))
    // ONE tokenization pass: the exploded distinct n-grams left-join the
    // broadcast bench set with a hit marker, then n_ngrams (count of
    // exploded grams — wordNgrams is already distinct) and n_hits fall out
    // of the same per-doc aggregate. Docs in the report always have
    // n_ngrams >= 1 by construction (a hit requires an n-gram).
    train
      .select(col(idCol), explode(TextFunctions.wordNgrams(col(textCol), n, unicode)).as("__g"))
      .join(broadcast(benchGrams), Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"), count(col("__hit")).as("n_hits"))
      .where(col("n_hits") > 0)
      .withColumn("frac",
        round(col("n_hits").cast("double") / col("n_ngrams").cast("double"), 6))
  }

  /** FUZZY decontamination — near-duplicate matching of the corpus
    * against a benchmark set via MinHash-LSH, the tier above
    * [[overlapReport]]'s exact-n-gram hygiene: a benchmark item that was
    * lightly paraphrased, truncated, or reformatted before landing in
    * the crawl shares few exact n-grams but keeps high shingle Jaccard
    * (the Llama/GPT-4-report style "near-dedup against evals").
    *
    * Plan shape for 100 TB — deliberately NOT q23's self-join: the
    * benchmark side is tiny, so its banded signature table and its
    * shingle sets both BROADCAST. The corpus computes signatures and
    * band keys map-side, hash-joins the broadcast band table map-side,
    * and only VERIFIED-candidate rows (bounded by the bench size times
    * bucket occupancy) ever reach an exchange. The corpus is scanned
    * once; raw text never shuffles.
    *
    * `portable = true` swaps the splitmix64 kernels for the md5-based
    * portable family (q59's), making every stage — signature, banding,
    * candidate join, Jaccard verify — replayable in an engine-
    * independent oracle; production runs keep the (faster) default.
    *
    * Output: `(idCol, bench_<idCol>, jaccard)` for pairs at or above
    * `threshold`.
    *
    * Registers the candidate-pair cache with
    * [[graft.etl.CacheTracker]] — long-lived sessions should call
    * `CacheTracker.unpersistCaches()` after materializing the result.
    */
  def fuzzyOverlapReport(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      shingleSize: Int = 5,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      seed: Long = 42L,
      portable: Boolean = false): DataFrame = {
    val nH = bands * rowsPerBand
    def sigOf(c: org.apache.spark.sql.Column) =
      if (portable) TextFunctions.minhashPortableSignature(c, shingleSize, nH, seed)
      else TextFunctions.minhashSignature(c, shingleSize, nH, seed)
    def setOf(c: org.apache.spark.sql.Column) =
      if (portable) TextFunctions.shingleHashSetPortable(c, shingleSize)
      else TextFunctions.shingleHashSet(c, shingleSize)
    def banded(df: DataFrame, id: String): DataFrame = {
      val sig = df.select(col(id), sigOf(col(textCol)).as("__sig"))
        .where(size(col("__sig")) > 0)
      val bandCols = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand)
            .cast("array<string>")).as("key"))
      }
      sig.select(col(id), explode(array(bandCols: _*)).as("__bk"))
        .select(col(id), col("__bk.band").as("__band"), col("__bk.key").as("__key"))
    }
    val benchBands = banded(bench.select(col(idCol).as("__bench_id"), col(textCol)), "__bench_id")
    val benchSets = bench.select(col(idCol).as("__bench_id"), setOf(col(textCol)).as("__bsh"))
    // persisted (tracked — see graft.etl.CacheTracker.unpersistCaches):
    // read twice, for the candidate-id prune and the verify join. The
    // persist loses at sf0.1 and wins at 10x: without it (Bench, best of
    // 2, local[4] on 4 cores, 5 alternating pairs) q106 took 2.25 s
    // against 2.88 s at sf0.1 (5/5 pairs faster) and 7.68 s against
    // 5.79 s on a 10x ScaleUp of the documents (0/5)
    val cands = graft.etl.CacheTracker.persistTracked(banded(train, idCol)
      .join(broadcast(benchBands), Seq("__band", "__key"))
      .select(col(idCol), col("__bench_id"))
      .distinct())
    // candidate-id prune: only flagged ids' shingle sets are computed into
    // the verify join — the corpus itself never shuffles
    val candIds = broadcast(cands.select(col(idCol)).distinct())
    val trainSets = train.join(candIds, Seq(idCol))
      .select(col(idCol), setOf(col(textCol)).as("__tsh"))
    cands
      .join(trainSets, Seq(idCol))
      .join(broadcast(benchSets), Seq("__bench_id"))
      .withColumn("jaccard", TextFunctions.jaccardSorted(col("__tsh"), col("__bsh")))
      .where(col("jaccard") >= threshold)
      .select(col(idCol), col("__bench_id").as(s"bench_$idCol"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** The corpus with contaminated documents REMOVED — `overlapReport`'s
    * flagged ids anti-joined out. The report side carries only ids, so
    * the anti-join ships ids; with a bounded benchmark the flagged set is
    * bounded too and Spark's AQE converts this to a broadcast anti-join.
    */
  def removeContaminated(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      unicode: Boolean = false): DataFrame = {
    val flagged = overlapReport(train, bench, idCol, textCol, n, unicode).select(col(idCol))
    train.join(flagged, Seq(idCol), "left_anti")
  }
}
