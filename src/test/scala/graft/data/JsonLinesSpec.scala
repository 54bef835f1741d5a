package graft.data

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class JsonLinesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("body", StringType)))

  test("roundtrip is lossless including newlines, escapes, and unicode") {
    import spark.implicits._
    val out = tempDir("graft_jsonl_rt").toString
    val rows = Seq(
      (0L, "plain ascii"),
      (1L, "line one\nline two\ttabbed"),
      (2L, "quotes \" and \\ backslash"),
      (3L, "unicode é　☃ snowman"),
      (4L, null.asInstanceOf[String]))
    val df = rows.toDF("id", "body")
    JsonLines.writeSharded(df, out, partitionCols = Seq.empty,
      orderCols = Seq(col("id")), maxRecordsPerFile = 100)
    val back = JsonLines.read(spark, out, schema).cache()
    try {
      assert(back.where(col("_corrupt_line").isNotNull).count() === 0L)
      val got = back.select("id", "body").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
      assert(got === rows.toMap)
    } finally back.unpersist()
  }

  test("partitioned write: directory layout, file bounds, in-file order") {
    import spark.implicits._
    val out = tempDir("graft_jsonl_part").toString
    val df = (0 until 300).map(i => (i.toLong, if (i % 2 == 0) "a" else "b", s"doc $i"))
      .toDF("id", "grp", "body")
    JsonLines.writeSharded(df, out, partitionCols = Seq("grp"),
      orderCols = Seq(col("id")), maxRecordsPerFile = 40)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("grp=a", "grp=b"))
    // every data file holds at most 40 lines, lines are id-ordered in-file
    val files = dirs.flatMap(d => new java.io.File(s"$out/$d").listFiles()
      .filter(f => f.getName.startsWith("part-")))
    assert(files.nonEmpty)
    files.foreach { f =>
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
      assert(lines.size <= 40, s"${f.getName}: ${lines.size} lines")
      val ids = lines.map(l => "\"id\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
      assert(ids === ids.sorted, s"${f.getName} not id-ordered")
    }
    val partSchema = StructType(Seq(
      StructField("id", LongType), StructField("body", StringType),
      StructField("grp", StringType)))
    val back = JsonLines.read(spark, out, partSchema).cache()
    try assert(back.where(col("_corrupt_line").isNull).count() === 300L)
    finally back.unpersist()
  }

  test("unpartitioned export keeps writer parallelism (no single-task funnel)") {
    import spark.implicits._
    val out = tempDir("graft_jsonl_par").toString
    val df = (0 until 90).map(i => (i.toLong, s"doc $i")).toDF("id", "body")
    JsonLines.writeSharded(df, out, partitionCols = Seq.empty,
      orderCols = Seq(col("id")), maxRecordsPerFile = 1000, numWriters = 3)
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    assert(parts.length === 3, s"expected 3 writer files, got ${parts.map(_.getName).toSeq}")
  }

  test("malformed lines are quarantined in PERMISSIVE, fatal in strict") {
    val out = tempDir("graft_jsonl_bad").toString
    Files.write(Paths.get(out, "data.jsonl"),
      java.util.Arrays.asList(
        """{"id": 1, "body": "ok"}""",
        """{"id": 2 "body": "missing comma"}""",
        """{"id": 3, "body": "fine"}"""))
    val back = JsonLines.read(spark, out, schema).cache()
    try {
      assert(back.where(col("_corrupt_line").isNull).count() === 2L)
      val bad = back.where(col("_corrupt_line").isNotNull)
        .select("_corrupt_line").collect().map(_.getString(0))
      assert(bad.length === 1 && bad.head.contains("missing comma"))
      intercept[org.apache.spark.SparkException] {
        JsonLines.readStrict(spark, out, schema).count()
      }
    } finally back.unpersist()
  }

  test("read refuses a schema that collides with the corrupt column") {
    intercept[IllegalArgumentException] {
      JsonLines.read(spark, "/nonexistent",
        schema.add(StructField("_corrupt_line", StringType)))
    }
  }
}
