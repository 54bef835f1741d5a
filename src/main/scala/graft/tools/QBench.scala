package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.Harness
import graft.queries.Queries

/** Dev profiling harness: run ONE declared query with the bench's exact
  * session/config/noop-sink methodology and print a per-JOB time
  * breakdown (job id, duration, the last stage's name and the stage count)
  * so the expensive action inside a multi-job query is attributable —
  * guide §1's "decide whether the time is going to shuffle read /
  * compute / scheduler" step, in a UI-less sandbox.
  *
  *   runMain graft.tools.QBench <queryName> [sfDir] [passes]
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val query = Queries.select(Seq(args(0))).head
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    // A/B knob: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overrides any of the
    // shared session's settings
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(";"))
    val spark = Harness.start(extraConf.foldLeft(Harness.builder()) { (b, kv) =>
      val Array(k, v) = kv.split("=", 2)
      b.config(k.trim, v.trim)
    })
    // per-job bookkeeping
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.lastOption.map(si =>
          si.name.take(60) + s" [${e.stageInfos.size} stages]").getOrElse("?")
        jobStart.put(e.jobId, (e.time, site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobStart.get(e.jobId)).foreach { case (t0, site) =>
          lines.add(f"job ${e.jobId}%3d  ${(e.time - t0) / 1000.0}%7.3f s  $site")
        }
      }
    })
    // warmup parity with Bench
    if (new java.io.File(s"$sfDir/lineitem.parquet").exists())
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    (1 to passes).foreach { p =>
      lines.clear()
      Harness.eachQuery(Seq(query.name -> query)) { (name, q) =>
        val t0 = System.nanoTime()
        q.build(spark, sfDir).frame.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"== pass $p: $name $sec%.3f s")
        lines.forEach(l => println("   " + l))
      }.foreach { case (_, outcome) => outcome.fold(throw _, identity) }
    }
    spark.stop()
  }
}
