package graft.cli

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.data.Export
import graft.dedup.{ChunkDedup, Dedup}
import graft.etl.Mixing
import graft.functions.TextFunctions
import graft.text.Decontaminate

/** End-to-end corpus curation CLI — the LLM-pipeline counterpart of the
  * reference's experiment drivers: one command that takes a raw document
  * table to a cleaned, decontaminated, deduplicated, split and sharded
  * training export, chaining the library's curation operators in their
  * canonical order (quality filter first — it is the cheapest and prunes
  * the most; dedup before decontamination so the n-gram match runs on the
  * smaller corpus; split assignment last so ratios hold post-cleaning).
  *
  * {{{
  * runMain graft.cli.CurateCorpus <inDir> <outDir>
  *   [--min-quality 0.7] [--chunk-words 10] [--bench-mod 17]
  *   [--ngram 5] [--max-per-file 100000] [--max-per-source 0] [--unicode false]
  * }}}
  *
  * Stages (each a constant number of shuffles, none quadratic):
  *  1. quality gate: heuristic `qualityScore >= minQuality`;
  *  2. exact dedup on normalized fingerprints (first doc_id wins);
  *  3. chunk-granular substring dedup (repeated 10-word spans removed
  *     everywhere but their first occurrence);
  *  4. benchmark decontamination (docs sharing a word n-gram with the
  *     held-out slice `doc_id % benchMod == benchMod - 1` are dropped);
  *  5. per-source cap (`--max-per-source`, 0 = off): at most N surviving
  *     docs per source by portable md5 rank — the anti-domination rule,
  *     applied after cleaning so caps fill with clean documents;
  *  6. deterministic train/val/test assignment (md5 split, 80/10/10);
  *  7. sharded parquet export partitioned by (split, lang), size-bounded.
  */
object CurateCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CurateCorpus <inDir> <outDir> [--min-quality q] [--chunk-words n] [--bench-mod m] [--ngram n] [--max-per-file n] [--max-per-source n]")
    val inDir = args(0)
    val outDir = args(1)
    val flags = Cli.flags(args.toSeq.drop(2), Set("--min-quality", "--chunk-words", "--bench-mod",
      "--ngram", "--max-per-file", "--max-per-source", "--unicode"))
    val minQuality = flags.getOrElse("--min-quality", "0.7").toDouble
    val chunkWords = flags.getOrElse("--chunk-words", "10").toInt
    val benchMod = flags.getOrElse("--bench-mod", "17").toInt
    val ngram = flags.getOrElse("--ngram", "5").toInt
    val maxPerFile = flags.getOrElse("--max-per-file", "100000").toInt
    val maxPerSource = flags.getOrElse("--max-per-source", "0").toInt
    val unicode = flags.getOrElse("--unicode", "false").toBoolean

    val spark = Cli.session()
    try {
      val docs = spark.read.parquet(s"$inDir/documents.parquet")
      val stats = run(docs, outDir, minQuality, chunkWords, benchMod, ngram, maxPerFile,
        maxPerSource, unicode)
      println(stats.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    } finally spark.stop()
  }

  /** The pipeline body, separated for testing: returns per-stage row
    * counts and writes the sharded export under `outDir`. Each counted
    * stage is `localCheckpoint`ed: the count action and every downstream
    * stage read the materialized result instead of re-running the whole
    * upstream chain (without it the chunk-dedup aggregate alone would
    * execute four times — for its own count, the decontamination stages,
    * and the export).
    */
  def run(
      docs: DataFrame,
      outDir: String,
      minQuality: Double = 0.7,
      chunkWords: Int = 10,
      benchMod: Int = 17,
      ngram: Int = 5,
      maxPerFile: Int = 100000,
      maxPerSource: Int = 0,
      unicode: Boolean = false): Seq[(String, Long)] = {
    val input = docs.count()

    // 1. quality gate — cheapest filter first, map-side only.
    // --unicode threads the multilingual tier through the gate's token
    // count and the decontamination n-grams (stage 4): on CJK corpora
    // the ascii conventions score every doc below the gate and see no
    // n-grams at all. Span dedup (stage 3) stays \s-token-based — its
    // CJK modality is a separate operator concern, documented.
    val quality = docs.where(
        TextFunctions.qualityScore(col("text"), unicode) >= minQuality)
      .localCheckpoint()
    val nQuality = quality.count()

    // 2. exact dedup — one shuffle on uniform fingerprint keys
    val exact = Dedup.exact(quality, "text", "doc_id", unicode).localCheckpoint()
    val nExact = exact.count()

    // 3. chunk-granular substring dedup; drop docs left with no content
    val spans = ChunkDedup.dedupSpans(exact, "doc_id", "text", chunkWords)
      .where(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text"))
    val chunked = exact.drop("text", "n_chars")
      .join(spans, Seq("doc_id"))
      .withColumnRenamed("clean_text", "text")
      .localCheckpoint()
    val nChunked = chunked.count()

    // 4. decontamination against the held-out benchmark slice
    val bench = chunked.where(pmod(col("doc_id"), lit(benchMod)) === benchMod - 1)
    val train = chunked.where(pmod(col("doc_id"), lit(benchMod)) =!= benchMod - 1)
    val clean = Decontaminate.removeContaminated(train, bench, "doc_id", "text", ngram,
        unicode)
      .localCheckpoint()
    val nClean = clean.count()

    // 5. per-source cap (anti-domination); rank-filter plan gets the
    // map-side WindowGroupLimit rewrite, so no source ever funnels whole
    // through one task
    val capped =
      if (maxPerSource > 0)
        Mixing.capPerGroup(clean, "source", "doc_id", maxPerSource).localCheckpoint()
      else clean
    val nCapped = if (maxPerSource > 0) capped.count() else nClean

    // 6. deterministic split assignment (engine- and retry-stable)
    val split = Mixing.assignSplit(capped, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), outCol = "split")

    // 7. sharded export: one directory tree per (split, lang)
    Export.writeSharded(split, outDir, Seq("split", "lang"),
      Seq(col("doc_id")), maxPerFile)

    Seq("input" -> input, "quality" -> nQuality, "exact_dedup" -> nExact,
      "span_dedup" -> nChunked, "decontaminated" -> nClean,
      "per_source_cap" -> nCapped)
  }
}
