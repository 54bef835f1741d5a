package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table shape
  * (ts, event_type, user_id, value, props).
  *
  * The reference engine is pure batch (SURVEY §2.10) — this module is part
  * of the training-data-pipeline surface: the same aggregations a batch user
  * writes (q15/q16) expressed as an incremental pipeline with event-time
  * watermarks, plus a custom sessionizer via mapGroupsWithState. Batch and
  * stream share the SAME transformation functions (DataFrame -> DataFrame),
  * so correctness is testable in batch and the streaming path only adds
  * watermark/trigger/state plumbing.
  */
object EventPipeline {

  val eventSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("user_id", LongType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Hourly tumbling-window counts/sums per event type — the streaming twin
    * of query q15 (`queries.RelationalQueries`). Pure transformation: works
    * on batch or streaming input alike.
    */
  def hourlyAggregates(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n_events"), col("sum_value"))
  }

  /** One finished session row. */
  final case class SessionSummary(
      userId: Long,
      nEvents: Long,
      totalValue: Double,
      startMs: Long,
      endMs: Long)

  /** Open-session state carried between micro-batches. NOT private: the
    * streaming state encoder's generated code must construct it (a private
    * case class fails codegen at runtime; batch execution never serializes
    * state, so only a real streamed run exposes this).
    */
  final case class SessionState(
      nEvents: Long, totalValue: Double, startMs: Long, lastMs: Long)

  /** Custom stateful operator: per-user session windows with an inactivity
    * gap, via `flatMapGroupsWithState` (SURVEY's KeyValueGroupedDataset
    * custom-state route — there is no built-in per-session summary with
    * timeout emission). Each micro-batch merges new events into the open
    * session, emits every session CLOSED by a gap, and keeps the still-open
    * one in state with an EVENT-time timeout at `lastMs + gapMs`: the open
    * session flushes when the WATERMARK passes its gap — deterministic,
    * replayable, and no wall-clock timer churn (a processing-time timeout
    * makes the micro-batch engine spin empty batches to poll timers). In
    * batch execution the same code emits all gap-closed sessions; timeouts
    * never fire, so the final open session stays unemitted —
    * streaming-consistent semantics.
    */
  def sessionize(
      events: org.apache.spark.sql.Dataset[(Long, Long, Double)], // (userId, tsMs, value)
      gapMs: Long): org.apache.spark.sql.Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    // event-time column + watermark (lateness = the gap) so EventTimeTimeout
    // has a clock; withWatermark is a no-op in batch execution
    val withEventTime = events.toDF("_1", "_2", "_3")
      .withColumn("__et", timestamp_millis(col("_2")))
      .withWatermark("__et", s"$gapMs milliseconds")
      .as[(Long, Long, Double, java.sql.Timestamp)]
    // captured OUTSIDE the closure: in batch execution there is no watermark
    // (getCurrentWatermarkMs throws) and timeouts are meaningless
    val streaming = events.isStreaming
    withEventTime.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionSummary(userId, s.nEvents, s.totalValue, s.startMs, s.lastMs))
          } else {
            val sorted = rows.toSeq.sortBy(_._2)
            var open = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionSummary]
            sorted.foreach { case (_, ts, v, _) =>
              open match {
                case Some(s) if ts - s.lastMs > gapMs =>
                  closed += SessionSummary(userId, s.nEvents, s.totalValue, s.startMs, s.lastMs)
                  open = Some(SessionState(1, v, ts, ts))
                case Some(s) =>
                  // a late-but-within-watermark event can precede the
                  // recorded start: min() it like lastMs is max()ed, or
                  // the summary's startMs (and duration) is wrong
                  open = Some(SessionState(s.nEvents + 1, s.totalValue + v,
                    math.min(s.startMs, ts), math.max(s.lastMs, ts)))
                case None =>
                  open = Some(SessionState(1, v, ts, ts))
              }
            }
            open.foreach { s =>
              state.update(s)
              // flush when the watermark passes lastMs + gap; must stay
              // strictly ahead of the current watermark
              if (streaming)
                state.setTimeoutTimestamp(
                  math.max(s.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** End-to-end incremental pipeline: parquet/json file source -> hourly
    * aggregates -> sink. `sinkFormat` "memory" (tests; Update mode, so a
    * consumer must read latest-per-window, and multi-batch runs re-emit
    * updated windows) or a file format like "parquet" (production; Append
    * mode — a window is written once, when the watermark closes it —
    * `sinkPath` required).
    */
  def start(
      spark: SparkSession,
      sourceDir: String,
      sourceFormat: String = "parquet",
      queryName: String = "graft_events_hourly",
      checkpointDir: String,
      watermark: String = "2 hours",
      sinkFormat: String = "memory",
      sinkPath: Option[String] = None): StreamingQuery = {
    val stream = spark.readStream
      .format(sourceFormat)
      .schema(eventSchema)
      .load(sourceDir)
    val agg = hourlyAggregates(stream, watermark)
    val writer =
      if (sinkFormat == "memory")
        agg.writeStream.outputMode(OutputMode.Update())
          .format("memory").queryName(queryName)
      else {
        val path = sinkPath.getOrElse(
          throw new IllegalArgumentException(s"sinkPath required for sink '$sinkFormat'"))
        agg.writeStream.outputMode(OutputMode.Append())
          .format(sinkFormat).option("path", path).queryName(queryName)
      }
    writer
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
