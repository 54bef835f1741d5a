package graft.tools

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import graft.{Harness, SparkEntry}
import graft.cli.CurateCorpus
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Prints the compiled kernel calls in the whole-stage-codegen source of
  * every action a query runs: each `graft.*` static call and each method
  * call on a plan reference object, with generated variable names and
  * reference slots normalized, so two builds of the same plan print the
  * same lines. `curate` names `CurateCorpus.run` (every stage's actions).
  *
  *   Test/runMain graft.tools.KernelCalls <sfDir> <outDir> [query... | curate]
  */
object KernelCalls {

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Harness.session()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val runs: Seq[(String, () => Unit)] = args.drop(2).toSeq.map {
      case "curate" => "curate" -> (() => {
        CurateCorpus.run(spark.read.parquet(s"$sfDir/documents.parquet"), s"$outDir/curate")
        ()
      })
      case q => q -> (() =>
        SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save())
    }
    Harness.eachQuery(runs) { (name, run) =>
      seen.clear()
      run()
      // listener events arrive on the bus thread: wait until they stop
      var last = -1
      while (last != seen.size) { last = seen.size; Thread.sleep(3000) }
      val calls = seen.asScala.toSeq.flatMap(qe => kernelCalls(qe.executedPlan))
      calls.groupBy(identity).toSeq.sortBy(_._1).foreach { case (c, n) =>
        println(s"$name\t${n.size}x\t$c")
      }
    }.foreach {
      case (name, Left(e)) => println(s"$name\tFAILED\t${e.getMessage}")
      case _ =>
    }
    spark.stop()
  }

  private val CallStart =
    """(graft\.[\w.$]+\.\w+)\(|(\(\([\w.$\[\]]+\) references\[\d+\] /\* \w+ \*/\)\.\w+)\(""".r
  private val Ref = """\(\(([\w.$\[\]]+)\) references\[\d+\] /\* \w+ \*/\)""".r
  private val GeneratedName = """\b[a-z][A-Za-z0-9]*_[A-Za-z0-9_]*\b""".r

  /** The normalized graft kernel calls of every whole-stage-codegen subtree. */
  def kernelCalls(plan: SparkPlan): Seq[String] =
    PlanWalk.collectDeep(plan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => callsIn(w.doCodeGen()._2.body))

  private def callsIn(src: String): Seq[String] =
    CallStart.findAllMatchIn(src).map { m =>
      var depth = 1
      var i = m.end
      while (depth > 0 && i < src.length) {
        src.charAt(i) match { case '(' => depth += 1; case ')' => depth -= 1; case _ => }
        i += 1
      }
      val call = src.substring(m.start, i).replaceAll("\\s+", " ")
      GeneratedName.replaceAllIn(Ref.replaceAllIn(call, r => Regex.quoteReplacement(s"ref<${r.group(1)}>")), "v")
    }.filter(c => c.startsWith("graft.") || c.startsWith("ref<graft.")).toSeq
}
