package graft.cli

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Queries

class CliSpec extends AnyFunSuite {

  test("the flag parser rejects a typoed flag against GenerateCM's flags") {
    val e = intercept[IllegalArgumentException](
      Cli.flags(Seq("--fold", "5"), GenerateCM.valueFlags))
    assert(e.getMessage.contains("'--fold'"))
    assert(Cli.flags(Seq("--folds", "5"), GenerateCM.valueFlags) === Map("--folds" -> "5"))
  }

  test("the flag parser rejects a value flag with no value") {
    intercept[IllegalArgumentException](
      Cli.flags(Seq("--classifier", "logistic", "--folds"), GenerateCM.valueFlags))
    intercept[IllegalArgumentException](
      Cli.flags(Seq("--folds", "--reps", "2"), GenerateMetrics.valueFlags))
  }

  test("the flag parser accepts GenerateMetrics' --sweep switch") {
    val flags = Cli.flags(Seq("--folds", "3", "--sweep", "--reps", "2"),
      GenerateMetrics.valueFlags, switches = Set("--sweep"))
    assert(flags === Map("--folds" -> "3", "--sweep" -> "true", "--reps" -> "2"))
    intercept[IllegalArgumentException](
      Cli.flags(Seq("--sweep"), GenerateMetrics.valueFlags))
  }

  test("GenerateCM.main throws on a bad flag before it builds a session") {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](
      GenerateCM.main(Array("compas", "demv", "--fold", "5")))
    assert(e.getMessage.contains("'--fold'"))
    assert(SparkSession.getDefaultSession === before)
  }

  test("query selection takes exact names and names every unknown one") {
    val e = intercept[IllegalArgumentException](
      Queries.select(Seq("q02_revenue", "q02", "nope", "q02")))
    assert(e.getMessage === "unknown queries: q02, nope")
    assert(Queries.select(Seq("q07_ntile_orders", "q02_revenue", "q07_ntile_orders"))
      .map(_.name) === Seq("q02_revenue", "q07_ntile_orders"))
    assert(Queries.select(Nil).isEmpty)
  }

  test("Verify, ExplainAudit and QBench reject an unknown query name before they build a session") {
    val before = SparkSession.getDefaultSession
    val dir = "/root/testdata/sf0.001"
    val mains: Seq[() => Unit] = Seq(
      () => graft.Verify.main(Array(dir, "/nonexistent/verify_out", "q02_revenue,q02")),
      () => graft.tools.ExplainAudit.main(Array(dir, "q02_revenue", "q02")),
      () => graft.tools.QBench.main(Array("q02", dir)))
    mains.foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage === "unknown queries: q02")
    }
    assert(SparkSession.getDefaultSession === before)
  }
}
