package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed unit of work. `run` does the work and returns the check of
  * its output, which runs after the op's timing stops and returns a
  * failure message when the output is wrong. An exception counts as a
  * failure too.
  */
final case class Op(name: String, items: Long, run: () => Op.Check)

object Op {
  type Check = () => Option[String]
  val ok: Check = () => None
}

/** A workload: set-up, a fixed pass of ops, and checks after the window. */
trait Workload {
  /** Make the inputs. Runs before the warm-up pass. */
  def setup(): Unit
  /** The ops of one pass, in order. */
  def pass: Seq[Op]
  /** The untimed first pass. Failures found here count once each. */
  def warmup(): Seq[String] = pass.flatMap(op => Main.attempt(() => op.run()()))
  /** Counts reported next to the span metrics in the traced run. */
  def traceCounts: Map[String, Double] = Map.empty
}

final case class Ctx(
    spark: SparkSession,
    seed: Long,
    repo: String,
    work: Path,
    tracer: Tracer,
    smoke: Boolean,
    corrupt: Boolean)

/** The benchmark JVM: `Main <workload> <seed> <seconds> <trace 0|1>
  * <repo dir> <work dir> [smoke] [corrupt]`. It runs the workload's
  * warm-up pass, then whole passes until `seconds` have gone, and writes
  * what it measured to `<work>/result.json` for run.py to report.
  */
object Main {

  def describe(t: Throwable): String = s"${t.getClass.getSimpleName}: ${t.getMessage}"

  def attempt(run: () => Option[String]): Option[String] =
    try run()
    catch { case t: Throwable => Some(describe(t)) }

  def main(args: Array[String]): Unit = {
    val startMs = Tracer.nowMs()
    // the result file's numbers must use '.' whatever the host locale
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(workload, seedArg, secondsArg, traceArg, repo, workArg) = args.take(6)
    val flags = args.drop(6).toSet
    val work = Paths.get(workArg).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(traceArg == "1")
    tracer.attach(spark)
    val ctx = Ctx(spark, seedArg.toLong, repo, work, tracer, flags("smoke"), flags("corrupt"))
    val w: Workload = workload match {
      case "fair-cv" => new FairCv(ctx)
      case "demv-bulk" => new DemvBulk(ctx)
      case "curate" => new Curate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    try {
      val t0 = Tracer.nowMs()
      w.setup()
      val t1 = Tracer.nowMs()
      val warmFailures = w.warmup()
      drain(ctx, None)
      val phases = f""""session_ms":${t0 - startMs}%.1f,"inputs_ms":${t1 - t0}%.1f,"warmup_ms":${Tracer.nowMs() - t1}%.1f"""

      val seconds = secondsArg.toDouble
      val timed = mutable.ArrayBuffer.empty[String]
      val passS = mutable.ArrayBuffer.empty[Double]
      val cache = mutable.ArrayBuffer.empty[(Double, Long)]
      val mark = tracer.mark
      val firstOpMs = Tracer.nowMs()
      while (Tracer.nowMs() - firstOpMs < seconds * 1000) {
        val passStart = Tracer.nowMs()
        w.pass.foreach { op =>
          val t0 = Tracer.nowMs()
          val check = tracer.span(s"op.${op.name}") {
            try Right(op.run()) catch { case t: Throwable => Left(t) }
          }
          val dt = (Tracer.nowMs() - t0) / 1000.0
          val err = check.fold(t => Some(describe(t)), c => attempt(c))
          val error = err.map(e => s""","error":${Json.str(e)}""").getOrElse("")
          timed += f"""{"name":${Json.str(op.name)},"s":$dt%.6f,"items":${op.items},"ok":${err.isEmpty}$error}"""
          drain(ctx, Some(cache))
        }
        passS += (Tracer.nowMs() - passStart) / 1000.0
      }
      val windowS = (Tracer.nowMs() - firstOpMs) / 1000.0
      val rssMb = peakRssMb()
      val spanTotals = tracer.totals(mark)
      tracer.writeJson(work.resolve(s"trace-$workload.json"))

      // means per call of the span, so a layer reads the same whichever
      // workload calls it and however often
      val perLayer = spanTotals.toSeq.filterNot(_._1.startsWith("op.")).flatMap { case (name, t) =>
        Seq(s"$name.self_s" -> t.selfS / t.calls, s"$name.jobs" -> t.jobs.toDouble / t.calls,
          s"$name.driver_s" -> t.driverS / t.calls, s"$name.shuffle_mb" -> t.shuffleMb / t.calls)
      } ++ w.traceCounts ++ (if (cache.isEmpty) Nil else Seq(
        "etl.cache.mb_before_drain" -> cache.map(_._1).sum / cache.size,
        "etl.cache.blocks_after_drain" -> cache.map(_._2.toDouble).sum / cache.size))

      val out = new StringBuilder("{")
      out ++= s""""workload":${Json.str(workload)},"seed":${ctx.seed},"trace":${tracer.enabled},"""
      out ++= s""""phases":{$phases},"""
      out ++= f""""first_op_epoch_ms":$firstOpMs%.3f,"window_s":$windowS%.6f,"peak_rss_mb":$rssMb%.3f,"""
      out ++= s""""ops":[${timed.mkString(",")}],"pass_s":[${passS.map(d => f"$d%.6f").mkString(",")}],"""
      out ++= s""""check_failures":[${warmFailures.map(Json.str).mkString(",")}],"""
      out ++= s""""per_layer":{${perLayer.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}}}"""
      Files.writeString(work.resolve("result.json"), out.toString)
    } finally spark.stop()
  }

  /** Release the program's tracked caches, as a long-lived session must
    * after each materialized result. In the traced run, the executor
    * storage MB before and the storage blocks left after are recorded.
    */
  private def drain(ctx: Ctx, record: Option[mutable.ArrayBuffer[(Double, Long)]]): Unit = {
    def storage(): (Double, Long) = {
      val infos = ctx.spark.sparkContext.getRDDStorageInfo
      (infos.map(i => i.memSize + i.diskSize).sum / 1048576.0, infos.map(_.numCachedPartitions.toLong).sum)
    }
    val before = if (ctx.tracer.enabled) storage() else (0.0, 0L)
    ctx.tracer.span("etl.CacheTracker.unpersistCaches") {
      graft.etl.CacheTracker.unpersistCaches(blocking = true)
    }
    if (ctx.tracer.enabled) record.foreach(_ += ((before._1, storage()._2)))
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
