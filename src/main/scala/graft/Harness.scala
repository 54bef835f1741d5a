package graft

import org.apache.spark.sql.SparkSession
import graft.etl.CacheTracker
import graft.queries.Scratch

/** The measurement policy every query-running main shares (Bench, Verify,
  * QBench, ExplainAudit, ScaleUp, FuzzDiff): one session configuration and
  * one query loop that drains operator caches between queries.
  */
object Harness {

  /** Bench's session configuration: `local[$SPARK_GRAFT_CPUS]` (default
    * 32), one shuffle partition per core, UI off, UTC, AQE on, and
    * TIMESTAMP(NANOS) parquet read as longs (events.parquet needs it).
    */
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
  }

  def session(): SparkSession = start(builder())

  def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` once per query, in name order, and returns each outcome in
    * that order: the body's result, or what it threw. A stderr line names
    * each query before it runs, so log lines between two markers belong to
    * the first. After every query, thrown or not, the tracked operator
    * caches are drained (blocking) and the query's scratch directories
    * deleted — outside anything the body times, so a later query or pass
    * never reads an earlier one's blocks or files and no checkpoint
    * outlives its query.
    */
  def eachQuery[Q, T](queries: Iterable[(String, Q)])(
      body: (String, Q) => T): Seq[(String, Either[Throwable, T])] =
    queries.toSeq.sortBy(_._1).map { case (name, q) =>
      System.err.println(s"=== query $name")
      System.err.flush()
      val outcome =
        try Right(body(name, q))
        catch { case t: Throwable => Left(t) }
        finally try CacheTracker.unpersistCaches(blocking = true) finally Scratch.release()
      name -> outcome
    }
}
