package graft.streaming

import graft.SparkSpec
import graft.dedup.Dedup
import graft.similarity.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Replayed-batch idempotence for the Append-mode pair sinks — the dual of
  * RestartRecoverySpec. That spec proves STATE survives a kill at a batch
  * boundary; this one proves OUTPUT is not duplicated when a batch is
  * RE-EXECUTED after a crash in the window between the sink committing its
  * files and the checkpoint recording the batch as done.
  *
  * The crash window is injected deterministically: after a clean run, the
  * checkpoint's `commits/<lastBatch>` marker is deleted while `offsets/
  * <lastBatch>` and the sink's `_spark_metadata` are left intact — exactly
  * the on-disk state a real crash leaves. On restart Spark re-executes the
  * batch from the offset log (the stateful operator re-emits its pairs from
  * the pre-batch state version), and the parquet sink's metadata log must
  * recognize the batch id as already committed and drop the re-emission.
  * The assertion compares the exact output MULTISET of the broken run
  * against an unbroken twin — any replay leak shows up as a doubled row.
  */
class ReplayIdempotenceSpec extends SparkSpec {

  private def tmp(prefix: String) =
    tempDir(prefix).toString

  /** Delete the checkpoint commit marker of the latest batch, simulating a
    * crash after the sink committed but before the checkpoint did.
    */
  private def dropLatestCommit(ckpt: String): Long = {
    val dir = new java.io.File(ckpt, "commits")
    val ids = dir.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    val offs = new java.io.File(ckpt, "offsets").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    info(s"pre-drop commits=${ids.sorted.mkString(",")} offsets=${offs.sorted.mkString(",")}")
    val latest = ids.max
    assert(new java.io.File(dir, latest.toString).delete(),
      s"could not delete commits/$latest")
    // Hadoop's local ChecksumFs shadows every log file with a hidden
    // .N.crc twin and renames them as a pair — leaving the crc behind
    // would make the replayed commit fail its rename, a test artifact a
    // real crash (which goes through the checkpoint manager) never has.
    new java.io.File(dir, s".$latest.crc").delete()
    latest
  }

  private def multiset(rows: Seq[String]): Map[String, Int] =
    rows.groupBy(identity).map { case (k, v) => (k, v.length) }

  test("minhash near-dup sink does not re-emit pairs when the last batch replays") {
    import spark.implicits._
    val src = tmp("graft_rp_src"); val out = tmp("graft_rp_out")
    val ckpt = tmp("graft_rp_ckpt")
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "completely unrelated content about distributed query engines at scale"

    def writeDocs(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("id", "ts", "text").withColumn("ts", to_timestamp(col("ts")))
        .coalesce(1).write.mode("append").parquet(src)
    def startQuery() = {
      val docs = spark.readStream
        .schema("id LONG, ts TIMESTAMP, text STRING").parquet(src)
      Dedup.streamingNearDupPairs(docs, "text", "id", "ts",
        delayMs = 3600000L, threshold = 0.8)
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    }
    def readPairs(dir: String): Seq[String] =
      spark.read.parquet(dir).select("id_a", "id_b", "est_jaccard")
        .collect().map(_.toString).toSeq.sorted

    // batch 0 stores doc 1's signature; batch 1 brings the near-dup and
    // emits the pair (1, 3).
    writeDocs(Seq(
      (1L, "2024-01-01 10:00:00", textA),
      (2L, "2024-01-01 10:00:30", textB)))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    writeDocs(Seq((3L, "2024-01-01 10:01:00", textA)))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val committed = readPairs(out)
    assert(committed.length === 1, s"expected one pair pre-replay: $committed")

    // crash window: sink committed the pair batch, checkpoint did not
    val replayed = dropLatestCommit(ckpt)
    info(s"replaying batch $replayed from the offset log")
    val q3 = startQuery()
    try q3.processAllAvailable() finally q3.stop()

    assert(multiset(readPairs(out)) === multiset(committed),
      "replayed batch re-emitted already-committed pairs")

    // unbroken twin from scratch — same multiset end-to-end
    val src2 = tmp("graft_rp_src2"); val out2 = tmp("graft_rp_out2")
    Seq((1L, "2024-01-01 10:00:00", textA), (2L, "2024-01-01 10:00:30", textB),
      (3L, "2024-01-01 10:01:00", textA))
      .toDF("id", "ts", "text").withColumn("ts", to_timestamp(col("ts")))
      .coalesce(1).write.mode("append").parquet(src2)
    val q4 = spark.readStream.schema("id LONG, ts TIMESTAMP, text STRING")
      .parquet(src2)
      .transform(d => Dedup.streamingNearDupPairs(d.toDF(), "text", "id", "ts",
        delayMs = 3600000L, threshold = 0.8).toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", out2)
      .option("checkpointLocation", tmp("graft_rp_ckpt2")).start()
    try q4.processAllAvailable() finally q4.stop()
    assert(multiset(readPairs(out)) === multiset(readPairs(out2)))
  }

  test("cosine near-dup sink does not re-emit pairs when the last batch replays") {
    import spark.implicits._
    val src = tmp("graft_rpc_src"); val out = tmp("graft_rpc_out")
    val ckpt = tmp("graft_rpc_ckpt")
    val vA = Seq(1.0, 0.5, 0.0, 0.25)
    val vB = Seq(-0.5, 1.0, -1.0, 0.0) // far from vA

    def writeVecs(rows: Seq[(Long, Seq[Double], String)]): Unit =
      rows.toDF("id", "emb", "ts").withColumn("ts", to_timestamp(col("ts")))
        .coalesce(1).write.mode("append").parquet(src)
    def startQuery() = {
      val vecs = spark.readStream
        .schema("id LONG, emb ARRAY<DOUBLE>, ts TIMESTAMP").parquet(src)
      Similarity.streamingCosineNearDupPairs(vecs, "id", "emb", "ts",
        delayMs = 3600000L, threshold = 0.95, dim = 4)
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    }
    def readPairs(dir: String): Seq[String] =
      spark.read.parquet(dir).select("id_a", "id_b", "cosine")
        .collect().map(_.toString).toSeq.sorted

    writeVecs(Seq(
      (1L, vA, "2024-01-01 10:00:00"),
      (2L, vB, "2024-01-01 10:00:30")))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    writeVecs(Seq((3L, vA, "2024-01-01 10:01:00"))) // identical to 1 → pair
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val committed = readPairs(out)
    assert(committed.length === 1, s"expected one pair pre-replay: $committed")

    val replayed = dropLatestCommit(ckpt)
    info(s"replaying batch $replayed from the offset log")
    val q3 = startQuery()
    try q3.processAllAvailable() finally q3.stop()

    assert(multiset(readPairs(out)) === multiset(committed),
      "replayed batch re-emitted already-committed pairs")
  }
}
