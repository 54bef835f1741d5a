package graft.cli

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CurateCorpusSpec extends SparkSpec {
  import spark.implicits._

  test("curation pipeline runs end-to-end on the sf0.001 fixture") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = tempDir("graft_curate").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val stats = CurateCorpus.run(docs, out,
      minQuality = 0.5, chunkWords = 10, benchMod = 17, ngram = 5,
      maxPerFile = 1000).toMap
    // the stage checkpoints are released once the export is written
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === before)

    // monotone funnel: every stage only removes rows
    assert(stats("input") == 500L)
    assert(stats("quality") <= stats("input"))
    assert(stats("exact_dedup") <= stats("quality"))
    assert(stats("span_dedup") <= stats("exact_dedup"))
    assert(stats("decontaminated") <= stats("span_dedup"))
    assert(stats("decontaminated") > 300L, s"over-aggressive pipeline: $stats")

    // export: hive tree split=/lang=, losslessly readable, counts match
    val back = spark.read.parquet(out)
    assert(back.count() == stats("decontaminated"))
    val splits = back.select($"split").distinct().as[String].collect().toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
    // the benchmark slice was held out, never exported
    assert(back.where(pmod($"doc_id", lit(17)) === 16).count() == 0)
    // no document survived with a duplicated 10-word chunk across corpus
    val dupChunks = back
      .select(explode(graft.functions.TextFunctions.wordChunks($"text", 10)).as("c"))
      .groupBy($"c").count().where($"count" > 1).count()
    assert(dupChunks == 0L, s"$dupChunks duplicated chunks survived")
  }

  test("--unicode leg: a CJK corpus survives the gate and gets decontaminated") {
    // Per-doc text: the common base chopped into 4-ideograph groups
    // (shared runs < 5, so NO shared 5-grams across docs) joined by a
    // per-doc disambiguator ideograph. Ascii tier: each doc is one
    // giant \s-"word" (quality 0.3, zero n-grams); unicode tier: ~49
    // tokens (quality 0.7) and real n-grams. Bench slice = doc_id % 17
    // == 16 (docs 16, 33); TRAIN doc 20 quotes doc 16's text wholesale
    // and must be the one decontamination removes.
    val base = "机器学习模型需要大量高质量的训练数据才能表现良好这是数据工程的核心问题所在因此必须"
    val pool = "零一二三四五六七八九十百千万亿甲乙丙丁戊己庚辛壬癸子丑寅卯辰巳午未申酉戌亥金木水火土东西南北中春夏秋冬雨雪"
    def text(i: Long): String =
      base.grouped(4).mkString(pool(i.toInt).toString)
    val docs = (0L until 50L).map { i =>
      val t = if (i == 20L) text(16L) + "补" else text(i)
      (i, t, "src" + (i % 3), "zh", t.length.toLong)
    }.toDF("doc_id", "text", "source", "lang", "n_chars")
    val outA = tempDir("graft_curate_a").toString
    val ascii = CurateCorpus.run(docs, outA, minQuality = 0.7).toMap
    assert(ascii("quality") === 0L, s"ascii tier should gate out every CJK doc: $ascii")
    val outU = tempDir("graft_curate_u").toString
    val uni = CurateCorpus.run(docs, outU, minQuality = 0.7, unicode = true).toMap
    assert(uni("quality") === 50L, s"unicode tier should admit every CJK doc: $uni")
    assert(uni("decontaminated") === uni("span_dedup") - 3,
      s"expected exactly bench(2) + quoted(1) removed from the funnel: $uni")
    // doc 20 (quoting bench doc 16) is gone; the bench slice is held out
    val kept = spark.read.parquet(outU).select($"doc_id").as[Long].collect().toSet
    assert(!kept.contains(20L), "contaminated doc survived")
    assert(!kept.contains(16L) && !kept.contains(33L), "bench docs leaked into the export")
    assert(kept.size === 47)
  }

  test("per-source cap stage bounds every source and stays monotone") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = tempDir("graft_curate_cap").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val stats = CurateCorpus.run(docs, out,
      minQuality = 0.5, maxPerFile = 1000, maxPerSource = 5).toMap
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === before)
    assert(stats("per_source_cap") <= stats("decontaminated"))
    val back = spark.read.parquet(out)
    assert(back.count() == stats("per_source_cap"))
    val maxPerSrc = back.groupBy($"source").count()
      .agg(max($"count")).collect()(0).getLong(0)
    assert(maxPerSrc <= 5L, s"a source exceeded the cap: $maxPerSrc")
  }
}
