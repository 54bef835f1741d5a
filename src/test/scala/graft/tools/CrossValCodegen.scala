package graft.tools

import java.security.MessageDigest

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.Harness
import graft.data.Datasets
import graft.eval.CrossVal

/** The generated classes that `CrossVal.crossVal(method = "demv",
  * "logistic")` compiles, per call, in one session: `calls` identical
  * calls, the first a warm-up. For each call it prints its compile count,
  * compile time and job count, and for each call after the first one line per
  * compiled class:
  *
  *   call <i> <kind> shape=<hash> source=<hash> [uid] [rand]
  *
  * `kind` is the generated class (`GeneratedIteratorForCodegenStage`,
  * `SpecificUnsafeProjection`, ...); `source` hashes its Java source and
  * `shape` the same source with every number replaced by `0`, so classes
  * that differ only in an inlined constant share a shape. `uid` marks a
  * source holding an ml uid suffix (`_<12 hex digits>`), `rand` one that
  * seeds `XORShiftRandom`. With `rows`, each call's MetricRows follow.
  * The dataset is loaded as the benchmark's fair-cv loads it (2 features).
  *
  *   Test/runMain graft.tools.CrossValCodegen <dataDir> <dataset> <k> <seed> <calls> [rows]
  */
object CrossValCodegen {

  def main(args: Array[String]): Unit = {
    val Array(dataDir, dataset, k, seed, calls) = args.take(5)
    val spark = Harness.session()
    val spec = Datasets.get(spark, dataset, dataDir, 2)
    val sources = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val compileMs = new java.util.concurrent.atomic.DoubleAdder()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator").asInstanceOf[CoreLogger]
    val tap = new AbstractAppender("codegen-tap", null, null, true, Property.EMPTY_ARRAY) {
      // DEBUG: each compiled source; INFO: "Code generated in <t> ms"
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        CompileTime.findFirstMatchIn(m) match {
          case Some(t) => compileMs.add(t.group(1).toDouble)
          case None => sources.add(m)
        }
      }
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    tap.start()
    logger.addAppender(tap)
    logger.setAdditive(false)
    Configurator.setLevel(logger.getName, Level.DEBUG)
    try (1 to calls.toInt).foreach { call =>
      sources.clear()
      compileMs.reset()
      jobs.set(0)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val rows = CrossVal.crossVal(spec, "logistic", method = "demv", k = k.toInt, seed = seed.toLong)
      val ms = (System.nanoTime() - t0) / 1e6
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      Thread.sleep(2000) // the listener bus is asynchronous
      println(f"call $call compiled $compiled classes (${compileMs.sum}%.0f ms compiling) " +
        f"in a $ms%.0f ms call of ${jobs.get} jobs")
      if (call > 1) sources.forEach(s => println(s"call $call ${describe(s)}"))
      if (args.drop(5).contains("rows")) rows.foreach(r => println(s"call $call $r"))
    } finally {
      logger.removeAppender(tap)
      spark.stop()
    }
  }

  private val CompileTime = """Code generated in ([\d.]+) ms""".r
  private val Kind = """(GeneratedIteratorForCodegenStage|Specific\w+)""".r
  private val Uid = """_[0-9a-f]{12}\b""".r

  private def describe(source: String): String = {
    // drop the formatter's `/* 001 */` line numbers
    val code = source.linesIterator.map(_.replaceFirst("""^/\* \d+ \*/""", "")).mkString("\n")
    val kind = Kind.findFirstIn(code).getOrElse("?")
    val marks = Seq("uid" -> Uid.findFirstIn(code).isDefined,
      "rand" -> code.contains("XORShiftRandom")).collect { case (m, true) => s" $m" }.mkString
    s"$kind shape=${hash(code.replaceAll("""\d+""", "0"))} source=${hash(code)}$marks"
  }

  private def hash(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8")).take(5).map("%02x".format(_)).mkString
}
