package graft.data

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ExportSpec extends SparkSpec {
  import spark.implicits._

  test("writeSharded: hive layout, bounded files, in-file order, lossless") {
    val rng = new scala.util.Random(3)
    val rows = (0 until 2000).map(i => (i.toLong, s"lang${rng.nextInt(3)}", s"doc $i"))
    val df = rows.toDF("doc_id", "lang", "text").repartition(13)
    val out = tempDir("graft_export").toString
    Export.writeSharded(df, out, Seq("lang"), Seq(col("doc_id")), maxRecordsPerFile = 150)

    // hive-style partition directories
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("lang=lang0", "lang=lang1", "lang=lang2"))

    // per-file: row bound respected and doc_id runs are sorted
    val files = dirs.flatMap(d => new java.io.File(s"$out/$d").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => s"$out/$d/${f.getName}"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val ids = spark.read.parquet(f).select($"doc_id").as[Long].collect()
      assert(ids.length <= 150, s"$f holds ${ids.length} rows > maxRecordsPerFile")
      assert(ids.sameElements(ids.sorted), s"$f is not sorted by doc_id")
    }

    // no small-files explosion: file count is near total/maxRecordsPerFile,
    // not tasks x partitions (13 x 3 would already be 39)
    assert(files.length <= 3 + 2000 / 150,
      s"${files.length} files — repartition-before-write failed")

    // lossless read-back
    val back = spark.read.parquet(out)
    assert(back.count() == 2000)
    assert(back.select(sum($"doc_id")).as[Long].head() == rows.map(_._1).sum)
  }

  test("shardsPerPartition spreads a hot partition over parallel writers") {
    // one hot partition value holding everything
    val df = (0 until 1200).map(i => (i.toLong, "hot", s"doc $i")).toDF("doc_id", "lang", "text")
    val out = tempDir("graft_export_hot").toString
    // explicit numWriters: AQE would otherwise coalesce these tiny test
    // shuffle partitions back into one writer, which is exactly the
    // behavior numWriters exists to override
    Export.writeSharded(df, out, Seq("lang"), Seq(col("doc_id")),
      maxRecordsPerFile = 10000, shardsPerPartition = 16, numWriters = 8)
    val files = new java.io.File(s"$out/lang=hot").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => s"$out/lang=hot/${f.getName}")
    assert(files.length >= 2, "hot partition should be written by multiple shards")
    files.foreach { f =>
      val ids = spark.read.parquet(f).select($"doc_id").as[Long].collect()
      assert(ids.sameElements(ids.sorted), s"$f not sorted within shard")
    }
    assert(spark.read.parquet(out).count() == 1200)
  }
}
