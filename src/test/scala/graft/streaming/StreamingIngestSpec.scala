package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The ingestion front (WARC → HTML → Gopher gate) as a Structured
  * Streaming job — proving the q90/q91 chain composes with the engine's
  * streaming guarantees: (a) streaming output == batch output over the
  * same files (the kernels are stateless map stages, so parity must be
  * exact), (b) state-free restart recovery across a kill at a batch
  * boundary, (c) replayed-batch idempotence when the checkpoint's commit
  * marker is lost after the sink committed (the ReplayIdempotenceSpec
  * crash window).
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    tempDir(prefix).toString

  /** One syntactically-valid WARC response record around an HTML page. */
  private def warcBlob(uri: String, html: String): String = {
    val n = html.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
      s"Content-Length: $n\r\n\r\n$html\r\n\r\n"
  }

  private def page(text: String): String =
    s"<html><head><style>h1 { color: blue }</style></head><body>" +
      s"<h1>Title</h1><!-- boilerplate --><p>$text</p>" +
      s"<script>var x = 1;</script></body></html>"

  // 66 words, mean word length ~4, five Gopher stopwords, all-alpha —
  // passes every rule with minWords=50
  private val goodText = Seq.fill(6)(
    "the data and model have learned with that care over time").mkString(" ")
  private val shortText = "too short to pass" // fails the word-count rule

  private def dropLatestCommit(ckpt: String): Long = {
    val dir = new java.io.File(ckpt, "commits")
    val ids = dir.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    val latest = ids.max
    assert(new java.io.File(dir, latest.toString).delete(),
      s"could not delete commits/$latest")
    new java.io.File(dir, s".$latest.crc").delete()
    latest
  }

  private def multiset(rows: Seq[String]): Map[String, Int] =
    rows.groupBy(identity).map { case (k, v) => (k, v.length) }

  test("WARC ingestion stream: batch parity, restart recovery, replay idempotence") {
    val src = tmp("graft_ing_src"); val out = tmp("graft_ing_out")
    val ckpt = tmp("graft_ing_ckpt")

    def writeBlobs(rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, text) =>
        (id, warcBlob(s"https://example.org/d/$id", page(text)))
      }.toDF("id", "blob").coalesce(1).write.mode("append").parquet(src)

    def startQuery() = {
      val blobs = spark.readStream.schema("id LONG, blob STRING").parquet(src)
      IngestPipeline.warcToCleanDocs(blobs, "blob", minWords = 50L)
        .select(col("id"), col("target_uri"), col("clean"), col("n_tokens"))
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    }
    def readDocs(dir: String): Seq[String] =
      spark.read.parquet(dir).select("id", "target_uri", "clean", "n_tokens")
        .collect().map(_.toString).toSeq.sorted

    // batch 0: two passing docs, one failing
    writeBlobs(Seq((1L, goodText), (2L, shortText), (3L, goodText)))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(readDocs(out).length === 2, "gate should keep exactly the two good docs")

    // kill/restart: batch 1 arrives only after the restart
    writeBlobs(Seq((4L, goodText), (5L, shortText)))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val committed = readDocs(out)
    assert(committed.length === 3, s"expected docs 1,3,4 after restart: $committed")

    // streaming == batch parity over the same files (stateless kernels)
    val batchOut = IngestPipeline.warcToCleanDocs(
        spark.read.schema("id LONG, blob STRING").parquet(src), "blob", minWords = 50L)
      .select(col("id"), col("target_uri"), col("clean"), col("n_tokens"))
      .collect().map(_.toString).toSeq.sorted
    assert(multiset(committed) === multiset(batchOut),
      "streaming output diverged from the batch run of the same transform")

    // crash window: sink committed batch 1, checkpoint commit marker lost
    val replayed = dropLatestCommit(ckpt)
    info(s"replaying batch $replayed from the offset log")
    val q3 = startQuery()
    try q3.processAllAvailable() finally q3.stop()
    assert(multiset(readDocs(out)) === multiset(committed),
      "replayed batch re-emitted already-committed documents")

    // extracted content sanity: boilerplate stripped, entities/tags gone
    val one = spark.read.parquet(out).where(col("id") === 1L)
      .select("clean", "n_tokens", "target_uri").collect()(0)
    assert(one.getString(0).startsWith("Title the data and model"))
    assert(!one.getString(0).contains("<"))
    assert(!one.getString(0).contains("var x"))
    assert(one.getInt(1) === 67) // "Title" + 66 words
    assert(one.getString(2) === "https://example.org/d/1")
  }

  test(".warc.gz FILE stream: real shard files arrive, kill/restart keeps exactly-once") {
    val src = tmp("graft_wgz_src"); val out = tmp("graft_wgz_out")
    val ckpt = tmp("graft_wgz_ckpt")

    def writeShard(shard: Long, rows: Seq[(Long, String)]): Unit =
      graft.data.WarcFiles.writeShards(
        rows.map { case (id, text) =>
          // shard assignment is the file we write it to, so key % 1
          (0L, graft.data.WarcFiles.responseRecord(
            s"https://example.org/d/$id", page(text)))
        },
        java.nio.file.Paths.get(src), nShards = 1)
        .ensuring(_ => new java.io.File(src, "shard_0.warc.gz")
          .renameTo(new java.io.File(src, s"crawl_$shard.warc.gz")))

    def startQuery() = {
      val blobs = graft.data.WarcFiles.streamWarcGz(spark, src + "/*.warc.gz")
      IngestPipeline.warcToCleanDocs(blobs, "blob", minWords = 50L)
        .select(col("target_uri"), col("n_tokens"))
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    }
    def uris(): Seq[String] =
      spark.read.parquet(out).select("target_uri").collect()
        .map(_.getString(0)).toSeq.sorted

    // shard 0 lands: two passing docs, one gated out
    writeShard(0, Seq((1L, goodText), (2L, shortText), (3L, goodText)))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(uris() === Seq("https://example.org/d/1", "https://example.org/d/3"))

    // a NEW crawl shard arrives while the job is down; restart picks it
    // up from the offset log without re-emitting shard 0's docs
    writeShard(1, Seq((4L, goodText)))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(uris() === Seq("https://example.org/d/1", "https://example.org/d/3",
      "https://example.org/d/4"))

    // file-stream output == the batch binaryFile read of the same dir
    val batch = IngestPipeline.warcToCleanDocs(
        graft.data.WarcFiles.readWarcGz(spark, src),
        "blob", minWords = 50L)
      .select("target_uri").collect().map(_.getString(0)).toSeq.sorted
    assert(batch === uris(), "file-stream and batch reads of the same shards diverged")
  }
}
