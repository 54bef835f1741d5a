package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EventPipelineSpec extends SparkSpec {

  test("hourlyAggregates batch/stream parity: same function, same results as q15 shape") {
    import spark.implicits._
    val events = Seq(
      ("2024-01-01 10:05:00", "click", 1L, 2.0, "{}"),
      ("2024-01-01 10:45:00", "click", 2L, 3.0, "{}"),
      ("2024-01-01 11:05:00", "click", 1L, 5.0, "{}"),
      ("2024-01-01 10:30:00", "view", 3L, 1.0, "{}")
    ).toDF("ts", "event_type", "user_id", "value", "props")
      .withColumn("ts", to_timestamp(col("ts")))
    val out = EventPipeline.hourlyAggregates(events)
      .orderBy("hour_start", "event_type").collect()
    assert(out.length === 3)
    assert(out(0).getLong(2) === 2L) // 10:00 clicks
    assert(out(0).getDouble(3) === 5.0)
  }

  test("streaming end-to-end: file source -> watermarked agg -> memory sink") {
    import spark.implicits._
    val dir = tempDir("graft_stream").toString
    val ckpt = tempDir("graft_ckpt").toString
    Seq(
      ("2024-01-01 10:05:00", "click", 1L, 2.0, "{}"),
      ("2024-01-01 10:45:00", "click", 2L, 3.0, "{}"),
      ("2024-01-01 11:05:00", "view", 1L, 5.0, "{}")
    ).toDF("ts", "event_type", "user_id", "value", "props")
      .withColumn("ts", to_timestamp(col("ts")))
      .write.mode("overwrite").parquet(dir)

    val q = EventPipeline.start(spark, dir, queryName = "t_hourly", checkpointDir = ckpt)
    q.awaitTermination(60000)
    val result = spark.sql("SELECT * FROM t_hourly ORDER BY hour_start, event_type").collect()
    assert(result.length === 2)
    assert(result(0).getString(1) === "click")
    assert(result(0).getLong(2) === 2L)
  }

  test("sessionize runs as a real stream: gap-closed sessions emit incrementally") {
    import spark.implicits._
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, Long, Double)]
    val ckpt = tempDir("graft_sess_ckpt").toString
    val gap = 1000L
    // keep event times well above epoch 0: the initial watermark is 0 and
    // an event AT the watermark is dropped as late
    val t0 = 1000000000L
    val q = EventPipeline.sessionize(source.toDS(), gapMs = gap)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_sessions")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // batch 0: user 1 opens a session
      source.addData((1L, t0, 1.0), (1L, t0 + 10, 1.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM t_sessions").count() === 0) // still open
      // batch 1: an event past the gap closes it in-function and opens a new one
      source.addData((1L, t0 + gap * 3, 5.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM t_sessions ORDER BY startMs").collect()
      assert(rows.length === 1)
      assert(rows(0).getLong(0) === 1L)       // userId
      assert(rows(0).getLong(1) === 2L)       // nEvents
      assert(rows(0).getDouble(2) === 2.0)
      assert(rows(0).getLong(3) === t0 && rows(0).getLong(4) === t0 + 10)
      // batch 2: another user far in the future advances the WATERMARK past
      // user 1's open-session timeout -> event-time flush. The timeout batch
      // runs asynchronously after processAllAvailable, so poll briefly.
      source.addData((2L, t0 + gap * 20, 7.0))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      while (spark.sql("SELECT * FROM t_sessions").count() < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val flushed = spark.sql("SELECT * FROM t_sessions ORDER BY startMs").collect()
      assert(flushed.length === 2)
      assert(flushed(1).getLong(0) === 1L)
      assert(flushed(1).getLong(1) === 1L)
      assert(flushed(1).getLong(3) === t0 + gap * 3)
    } finally q.stop()
  }

  test("sessionize splits on inactivity gaps (batch execution of the stateful operator)") {
    import spark.implicits._
    // user 1: events at t=0,10,20 then 100,110 (gap 80 > 50) -> one closed
    // session (3 events), one open (unemitted). user 2: single open session.
    val events = Seq(
      (1L, 0L, 1.0), (1L, 10L, 1.0), (1L, 20L, 1.0),
      (1L, 100L, 2.0), (1L, 110L, 2.0),
      (2L, 5L, 9.0)
    ).toDS()
    val closed = EventPipeline.sessionize(events, gapMs = 50L).collect()
    assert(closed.length === 1)
    assert(closed(0).userId === 1L)
    assert(closed(0).nEvents === 3L)
    assert(closed(0).totalValue === 3.0)
    assert(closed(0).startMs === 0L && closed(0).endMs === 20L)
  }
}
