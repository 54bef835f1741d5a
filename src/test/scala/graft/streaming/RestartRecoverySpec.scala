package graft.streaming

import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Checkpoint/kill/restart recovery — the property a continuous 100 TB
  * pipeline actually needs. Prior streaming specs exercise each operator
  * within ONE query run; these stop a checkpointed query mid-stream, start
  * a NEW query object from the same checkpoint, and prove the final output
  * is identical to an unbroken run.
  *
  * Sources/sinks are the production-shaped ones: a replayable file source
  * and the exactly-once parquet file sink (the memory sink refuses Append-
  * mode recovery by design, so it cannot test this). State under test:
  * the `flatMapGroupsWithState` session store (open sessions spanning the
  * kill) and the `dropDuplicatesWithinWatermark` fingerprint store
  * (duplicates straddling the kill).
  */
class RestartRecoverySpec extends SparkSpec {

  private def tmp(prefix: String) =
    tempDir(prefix).toString

  test("sessionize recovers flatMapGroupsWithState state across a kill/restart") {
    import spark.implicits._
    val src = tmp("graft_rr_src")
    val out = tmp("graft_rr_out")
    val ckpt = tmp("graft_rr_ckpt")
    val gap = 1000L
    val t0 = 1000000000L // stay well above the epoch-0 initial watermark

    // Sessions are closed by GAP events (in-function, deterministic), never
    // by watermark timeout — so output cannot depend on micro-batch timing
    // and the broken and unbroken runs must agree exactly.
    val batch1 = Seq( // opens: user 1 (2 events), user 2 (1 event)
      (1L, t0, 1.0), (1L, t0 + 10, 2.0), (2L, t0 + 5, 9.0))
    val batch2 = Seq( // gap events close both open sessions mid-state
      (1L, t0 + gap * 3, 5.0), (2L, t0 + gap * 4, 7.0))

    def writeBatch(rows: Seq[(Long, Long, Double)]): Unit =
      rows.toDF("_1", "_2", "_3").coalesce(1)
        .write.mode("append").parquet(src) // file source picks up new files
    def startQuery(sourceDir: String, outDir: String, ckptDir: String) = {
      val events = spark.readStream
        .schema("_1 LONG, _2 LONG, _3 DOUBLE").parquet(sourceDir)
        .as[(Long, Long, Double)]
      EventPipeline.sessionize(events, gapMs = gap)
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .start()
    }

    // --- broken run: batch 1, kill, batch 2, restart from checkpoint
    writeBatch(batch1)
    val q1 = startQuery(src, out, ckpt)
    try q1.processAllAvailable() finally q1.stop() // the "kill"
    writeBatch(batch2)
    val q2 = startQuery(src, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val recovered = spark.read.parquet(out)
      .as[EventPipeline.SessionSummary].collect().sortBy(s => (s.userId, s.startMs))

    // --- unbroken run: same data, fresh checkpoint, never killed
    val src2 = tmp("graft_rr_src2"); val out2 = tmp("graft_rr_out2")
    (batch1 ++ batch2).toDF("_1", "_2", "_3").coalesce(1)
      .write.mode("append").parquet(src2)
    val q3 = startQuery(src2, out2, tmp("graft_rr_ckpt2"))
    try q3.processAllAvailable() finally q3.stop()
    val unbroken = spark.read.parquet(out2)
      .as[EventPipeline.SessionSummary].collect().sortBy(s => (s.userId, s.startMs))

    assert(recovered.toSeq === unbroken.toSeq)
    // And the recovered output proves state genuinely survived the restart:
    // user 1's closed session must merge BOTH pre-kill events (state lost ->
    // nEvents would be 0-or-1 and totalValue would miss batch-1 values).
    val u1 = recovered.find(_.userId == 1L).get
    assert(u1.nEvents === 2L && u1.totalValue === 3.0 &&
      u1.startMs === t0 && u1.endMs === t0 + 10)
    val u2 = recovered.find(_.userId == 2L).get
    assert(u2.nEvents === 1L && u2.totalValue === 9.0)
  }

  test("streaming exact dedup recovers the fingerprint store across a kill/restart") {
    import spark.implicits._
    val src = tmp("graft_rrd_src")
    val out = tmp("graft_rrd_out")
    val ckpt = tmp("graft_rrd_ckpt")

    def writeDocs(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("id", "ts", "text").withColumn("ts", to_timestamp(col("ts")))
        .coalesce(1).write.mode("append").parquet(src)
    def startQuery() = {
      val docs = spark.readStream
        .schema("id LONG, ts TIMESTAMP, text STRING").parquet(src)
      Dedup.streamingExactDedup(docs, "text", "ts", delay = "1 hour")
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    }

    // batch 1 dedups within itself; the kill lands between the batches; the
    // duplicates in batch 2 straddle the restart — only recovered state can
    // drop them.
    writeDocs(Seq(
      (1L, "2024-01-01 10:00:00", "the quick brown fox"),
      (2L, "2024-01-01 10:01:00", "The  Quick Brown FOX"), // dup of 1 (normalized)
      (3L, "2024-01-01 10:02:00", "an entirely different doc")))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() === 2) // pre-kill: 1 dup dropped

    writeDocs(Seq(
      (4L, "2024-01-01 10:10:00", "the quick brown fox"), // dup across the kill
      (5L, "2024-01-01 10:11:00", "a genuinely new doc")))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val kept = spark.read.parquet(out).select("id").as[Long].collect().sorted
    // ids 1,3 from batch 1 (2 is an in-batch dup), 5 from batch 2 (4 is a
    // cross-restart dup — dropped only because the fingerprint store was
    // recovered from the checkpoint).
    assert(kept.toSeq === Seq(1L, 3L, 5L))
  }

  test("streaming minhash near-dup recovers bucket state across a kill/restart") {
    import spark.implicits._
    val src = tmp("graft_rrn_src")
    val out = tmp("graft_rrn_out")
    val ckpt = tmp("graft_rrn_ckpt")

    // long enough to shingle (>= 5 words), identical across the kill so the
    // minhash match is exact (similarity estimate 1.0)
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

    // batch 1 stores doc 1's signature in bucket state; the near-dup
    // arrives only AFTER the kill — the pair exists iff state recovered.
    writeDocs(Seq(
      (1L, "2024-01-01 10:00:00", textA),
      (2L, "2024-01-01 10:00:30", textB)))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() === 0) // no pairs yet

    writeDocs(Seq((3L, "2024-01-01 10:01:00", textA)))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val pairs = spark.read.parquet(out)
      .select("id_a", "id_b", "est_jaccard").collect()
    assert(pairs.length === 1, s"expected the cross-restart pair, got ${pairs.toSeq}")
    assert(pairs(0).getLong(0) === 1L && pairs(0).getLong(1) === 3L)
    assert(pairs(0).getDouble(2) === 1.0)
  }
}
