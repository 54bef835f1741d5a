package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer-by-layer timing from outside the program.
  *
  * A span is a named interval around one call to a public entry point.
  * Spans nest (one client thread, so a stack) and stay in memory until
  * [[writeJson]]. Spark jobs are attributed to the innermost span open
  * when they were submitted: the span id rides along as a thread-local
  * Spark property, which Spark copies into every job's start event, also
  * for jobs that SQL runs on its own threads. Shuffle bytes follow the
  * job through its stages. A QueryExecutionListener records each SQL
  * action's duration and planning time with its end time, which places it
  * among the spans in the span file.
  *
  * With `enabled = false` a span only runs its body, so workloads share
  * one code path between the plain and the traced run.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.ArrayBuffer.empty[Int]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
  private var spark: SparkSession = _

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(jobListener)
    s.listenerManager.register(queryListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.lastOption.getOrElse(-1)
      val sp = Span(id, name, parent, nowMs())
      spans += sp
      stack += id
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        sp.endMs = nowMs()
        stack.remove(stack.length - 1)
        sc.setLocalProperty(SpanKey, stack.lastOption.map(_.toString).orNull)
      }
    }

  /** Index of the first span recorded after this call (window boundary). */
  def mark: Int = spans.length

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, Job(e.jobId, sid, e.time.toDouble))
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
          j.shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      actions.add(Action(nowMs(), funcName, durationNs / 1e6, planMs.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Wait until the listener bus has delivered every job end. */
  def settle(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 5000
    while (jobs.values.asScala.exists(_.endMs.isNaN) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  /** Per-span-name totals over the spans recorded since `from`. */
  def totals(from: Int): Map[String, Totals] = {
    settle()
    val window = spans.drop(from).filter(!_.endMs.isNaN)
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    window.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.endMs - s.startMs)
    val jobsBySpan = jobs.values.asScala.groupBy(_.span)
    window.groupBy(_.name).map { case (name, ss) =>
      var self, busy, mb = 0.0
      var n = 0
      ss.foreach { s =>
        self += (s.endMs - s.startMs) - childMs(s.id)
        val js = jobsBySpan.getOrElse(s.id, Nil).toSeq.filter(!_.endMs.isNaN)
        n += js.size
        busy += unionMs(js.map(j => (j.startMs, j.endMs)))
        mb += js.map(_.shuffleBytes.get).sum / 1048576.0
      }
      name -> Totals(self / 1000.0, n, math.max(0.0, self - busy) / 1000.0, mb, ss.size)
    }
  }

  /** Spans (name, start, end, parent) and actions as a JSON document. */
  def writeJson(path: java.nio.file.Path): Unit = if (enabled) {
    settle()
    val sb = new StringBuilder("{\"spans\":[")
    sb ++= spans.map(s =>
      f"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
      .mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      f"""{"job":${j.id},"span":${j.span},"start_ms":${j.startMs}%.3f,"end_ms":${j.endMs}%.3f,"shuffle_bytes":${j.shuffleBytes.get}}""")
      .mkString(",")
    sb ++= "],\"actions\":["
    sb ++= actions.asScala.toSeq.map(a =>
      f"""{"end_ms":${a.endMs}%.3f,"func":${Json.str(a.func)},"duration_ms":${a.durationMs}%.3f,"planning_ms":${a.planMs}%.3f}""")
      .mkString(",")
    sb ++= "]}"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  private val SpanKey = "perfbench.span"
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  final case class Span(id: Int, name: String, parent: Int, startMs: Double) {
    var endMs: Double = Double.NaN
  }
  final case class Job(id: Int, span: Int, startMs: Double) {
    var endMs: Double = Double.NaN
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  }
  final case class Action(endMs: Double, func: String, durationMs: Double, planMs: Double)

  /** Summed self time, job count, time with no job running and shuffle
    * MB of every span with one name; `calls` is how many spans that was.
    */
  final case class Totals(selfS: Double, jobs: Int, driverS: Double, shuffleMb: Double, calls: Int)

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
