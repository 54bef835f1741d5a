package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class OpaqueLiteralSpec extends SparkSpec {

  private def source(df: DataFrame): String =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      .map(_.doCodeGen()._2.body).mkString("\n")

  private def salted(seed: Column): DataFrame =
    spark.range(200).select(col("id"), xxhash64(col("id"), seed).as("h"))

  private def fold(f: Column): DataFrame = spark.range(200).toDF().where(pmod(col("id"), lit(7)) === f)

  test("an opaque literal gives the literal's values") {
    for (seed <- Seq(0L, 1L, 7L, -3L))
      assert(salted(OpaqueLiteral.lit(seed)).collect().toSeq === salted(lit(seed)).collect().toSeq)
    for (f <- 0 until 7)
      assert(fold(OpaqueLiteral.lit(f)).collect().toSeq === fold(lit(f)).collect().toSeq)
  }

  test("it is not folded, and plans that differ only in it generate the same source") {
    val plan = fold(OpaqueLiteral.lit(3)).queryExecution.optimizedPlan
    assert(plan.expressions.exists(_.exists(_.isInstanceOf[OpaqueLiteral])), plan.toString)
    assert(source(salted(OpaqueLiteral.lit(1L))) === source(salted(OpaqueLiteral.lit(2L))))
    assert(source(fold(OpaqueLiteral.lit(1))) === source(fold(OpaqueLiteral.lit(2))))
    // a literal is inlined: the sources differ
    assert(source(fold(lit(1))) !== source(fold(lit(2))))
  }

  test("interpreted evaluation; only ints and longs") {
    assert(OpaqueLiteral(5, org.apache.spark.sql.types.IntegerType).eval() === 5)
    assert(OpaqueLiteral(5L, org.apache.spark.sql.types.LongType).eval() === 5L)
    intercept[IllegalArgumentException](OpaqueLiteral(1.5, org.apache.spark.sql.types.DoubleType))
  }
}
