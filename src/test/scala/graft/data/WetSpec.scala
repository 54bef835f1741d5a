package graft.data

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WetSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): java.nio.file.Path =
    tempDir("graft_wet_spec")

  test("WET roundtrip through real gzipped shards: byte-exact, warcinfo skipped") {
    val docsIn = Seq(
      (0L, "plain ascii body"),
      (1L, "multi-byte: café 漢字 😀 end"),
      (2L, "embedded\r\nCRLF and WARC/1.0 lookalike inside"),
      (3L, ""))
    val records = docsIn.map { case (id, text) =>
      id -> Wet.conversionRecord(s"https://example.org/doc/$id", text)
    }
    val info = (0 until 2).map(sh =>
      (sh.toLong - 2) -> Wet.warcinfoRecord(s"shard_$sh.warc.wet.gz"))
    val dir = tmpDir()
    WarcFiles.writeShards(info ++ records, dir, nShards = 2)
    val got = Wet.docs(Wet.readWetGz(spark, dir.toString))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val want = docsIn.map { case (id, text) =>
      (s"https://example.org/doc/$id", text.codePointCount(0, text.length), text)
    }.toSet
    assert(got === want) // warcinfo records contribute nothing
  }

  test("conversion record framing: octet-accurate Content-Length for multi-byte text") {
    val text = "é漢" // 2 chars, 5 UTF-8 octets
    val rec = Wet.conversionRecord("https://x/1", text)
    assert(rec.contains("Content-Length: 5\r\n"))
    assert(rec.contains("WARC-Type: conversion\r\n"))
    val parsed = Seq((0L, rec)).toDF("id", "blob")
      .select(explode(Warc.parseRecords(col("blob"))).as("r"))
      .select(col("r.warc_type"), col("r.payload"))
      .collect()
    assert(parsed.length === 1)
    assert(parsed(0).getString(0) === "conversion")
    assert(parsed(0).getString(1) === text)
  }

  test("WET FILE stream: new shards arrive exactly-once across restart; stream == batch") {
    import org.apache.spark.sql.streaming.OutputMode
    val src = tempDir("graft_wet_src").toString
    val out = tempDir("graft_wet_out").toString
    val ckpt = tempDir("graft_wet_ckpt").toString

    def writeShard(shard: Long, rows: Seq[(Long, String)]): Unit =
      WarcFiles.writeShards(
        (-1L, Wet.warcinfoRecord(s"crawl_$shard.warc.wet.gz")) +:
          rows.map { case (id, text) =>
            (id, Wet.conversionRecord(s"https://example.org/w/$id", text))
          },
        java.nio.file.Paths.get(src), nShards = 1)
        .ensuring(_ => new java.io.File(src, "shard_0.warc.gz")
          .renameTo(new java.io.File(src, s"crawl_$shard.warc.gz")))

    def startQuery() =
      Wet.docs(Wet.streamWetGz(spark, src + "/*.warc.gz"))
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    def uris(): Seq[String] =
      spark.read.parquet(out).select("target_uri").collect()
        .map(_.getString(0)).toSeq.sorted

    writeShard(0, Seq((1L, "first document body"), (2L, "second body 漢字")))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(uris() === Seq("https://example.org/w/1", "https://example.org/w/2"))

    // a new crawl shard lands while the job is down; restart picks it up
    // from the offset log without re-emitting shard 0's docs
    writeShard(1, Seq((3L, "third body")))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(uris() === Seq("https://example.org/w/1", "https://example.org/w/2",
      "https://example.org/w/3"))

    // stream output == the batch binaryFile read of the same dir
    val batch = Wet.docs(Wet.readWetGz(spark, src))
      .select("target_uri").collect().map(_.getString(0)).toSeq.sorted
    assert(batch === uris(), "file-stream and batch reads of the same shards diverged")
  }

  test("corrupt tail quarantines: the valid record prefix survives") {
    val good = Wet.conversionRecord("https://x/ok", "good body here")
    val truncated = "WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "WARC-Target-URI: https://x/bad\r\nContent-Length: 99999\r\n\r\nshort"
    val got = Wet.docs(Seq((0L, good + truncated)).toDF("id", "blob"), "blob")
      .collect()
    assert(got.length === 1)
    assert(got(0).getString(0) === "https://x/ok")
  }
}
