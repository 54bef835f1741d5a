package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Port of the reference unit tests (reference `test/test_demv.py:22-60`)
  * plus the stronger invariants the reference leaves implicit (SURVEY §5):
  * every cell converges to rounded disparity 1, schema is preserved, and
  * the operator is deterministic given a seed.
  */
class DEMVSpec extends SparkSpec {

  /** Seeded synthetic frame shaped like the reference fixture
    * (test_demv.py:10-20): 2 float features, 2 binary sensitive vars,
    * binary label — but intentionally imbalanced so balancing does work.
    */
  private lazy val fixture: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val rows = (0 until 400).map { i =>
      val s1 = if (rng.nextDouble() < 0.7) 1 else 0
      val s2 = if (rng.nextDouble() < 0.4) 1 else 0
      // correlate label with s1 to create disparity
      val y = if (rng.nextDouble() < (if (s1 == 1) 0.7 else 0.3)) 1 else 0
      (i.toLong, rng.nextGaussian(), rng.nextGaussian(), s1, s2, y)
    }
    rows.toDF("id", "f1", "f2", "s1", "s2", "y")
  }

  test("output schema equals input schema (dtype-preservation contract)") {
    val out = new DEMV(Seq("s1", "s2"), shuffleOutput = false).fitTransform(fixture, "y")
    assert(out.schema === fixture.schema)
  }

  test("every (s1, s2, y) cell converges to rounded disparity 1") {
    val demv = new DEMV(Seq("s1", "s2"), roundLevel = 1, shuffleOutput = false)
    val out = demv.fitTransform(fixture, "y")
    val total = fixture.count() // denominators stay the ORIGINAL total
    val cells = out.groupBy("s1", "s2", "y").count().collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    val comboCounts = fixture.groupBy("s1", "s2").count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val labelCounts = fixture.groupBy("y").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    cells.foreach { case ((s1, s2, y), n) =>
      val wExp = (comboCounts((s1, s2)).toDouble / total) * (labelCounts(y).toDouble / total)
      val wObs = n.toDouble / total
      val disp = BalanceMath.pyRound(wExp / wObs, 1)
      withClue(s"cell ($s1,$s2,$y) size $n: ") { assert(disp === 1.0) }
    }
  }

  test("materialized cell sizes equal the driver plan's target sizes") {
    val demv = new DEMV(Seq("s1", "s2"), shuffleOutput = false)
    val out = demv.fitTransform(fixture, "y")
    val actual = out.groupBy("s1", "s2", "y").count().collect()
      .map(r => (Seq(r.getInt(0), r.getInt(1)), r.getInt(2)) -> r.getLong(3)).toMap
    demv.getCellPlans.foreach { p =>
      withClue(s"cell (${p.combo}, ${p.label}): ") {
        assert(actual((p.combo, p.label.asInstanceOf[Int])) === p.targetSize)
      }
    }
  }

  test("getIters is 0 before and the max per-cell count after (test_demv.py:43-47)") {
    val demv = new DEMV(Seq("s1", "s2"), shuffleOutput = false)
    assert(demv.getIters === 0L)
    demv.fitTransform(fixture, "y")
    assert(demv.getIters > 0L)
    assert(demv.getIters === demv.getCellPlans.map(_.iters).max)
  }

  test("getDisparities empty before, one trace per cell after (test_demv.py:53-60)") {
    val demv = new DEMV(Seq("s1", "s2"), shuffleOutput = false)
    assert(demv.getDisparities.isEmpty)
    demv.fitTransform(fixture, "y")
    val traces = demv.getDisparities
    assert(traces.length === 8) // 2^2 combos x 2 labels
    // each trace ends converged (rounded disparity 1) or at the stop budget
    traces.zip(demv.getCellPlans).foreach { case (tr, p) =>
      assert(tr.nonEmpty)
      if (!p.maxIterHit) assert(tr.last === 1.0)
      assert(tr.length === p.iters + 1) // initial disparity + one per iteration
    }
  }

  test("single sensitive variable works (reference recursion depth 1)") {
    val out = new DEMV(Seq("s1"), shuffleOutput = false).fitTransform(fixture, "y")
    assert(out.count() > 0)
  }

  test("deterministic given seed") {
    val a = new DEMV(Seq("s1", "s2"), seed = 5L).fitTransform(fixture, "y")
      .collect().map(_.toString).sorted
    val b = new DEMV(Seq("s1", "s2"), seed = 5L).fitTransform(fixture, "y")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("non-binary sensitive value raises a clear error") {
    import spark.implicits._
    val bad = Seq((1, 2, 0), (2, 0, 1), (3, 1, 0), (4, 1, 1)).toDF("id", "s1", "y")
    val e = intercept[Exception] {
      new DEMV(Seq("s1")).fitTransform(bad, "y")
    }
    assert(e.getMessage.contains("binary"))
  }

  test("double-typed 0.0/1.0 sensitive columns work (adult-style ordinal encode)") {
    import spark.implicits._
    // the adult/drug loaders carry sex/race as DOUBLE 0.0/1.0
    val doubled = fixture
      .withColumn("s1", col("s1").cast("double"))
      .withColumn("s2", col("s2").cast("double"))
    val out = new DEMV(Seq("s1", "s2"), seed = 3L).fitTransform(doubled, "y")
    assert(out.count() > 0)
    assert(out.schema("s1").dataType.typeName === "double")
    // but a genuinely non-binary double still fails fast
    val bad = fixture.withColumn("s1", col("s1").cast("double") + 0.5)
    val e = intercept[Exception] {
      new DEMV(Seq("s1")).fitTransform(bad, "y")
    }
    assert(e.getMessage.contains("binary"))
  }

  test("empty cell raises a clear error naming the cell") {
    import spark.implicits._
    // s1=1 rows only have y=1 -> cell (s1=1, y=0) is empty
    val df = Seq((0, 0), (0, 1), (1, 1), (1, 1)).toDF("s1", "y")
    val e = intercept[IllegalStateException] {
      new DEMV(Seq("s1")).fitTransform(df, "y")
    }
    assert(e.getMessage.contains("s1=1"))
  }

  test("idCols salt path (pruned count scan) produces the same cell sizes") {
    val wide = new DEMV(Seq("s1", "s2"), shuffleOutput = false)
    val narrow = new DEMV(Seq("s1", "s2"), shuffleOutput = false, idCols = Some(Seq("id")))
    val a = wide.fitTransform(fixture, "y").groupBy("s1", "s2", "y").count()
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    val b = narrow.fitTransform(fixture, "y").groupBy("s1", "s2", "y").count()
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(a === b)
    assert(wide.getCellPlans.map(p => (p.combo, p.label, p.targetSize)) ===
      narrow.getCellPlans.map(p => (p.combo, p.label, p.targetSize)))
  }

  test("feature columns named x.1 and y`z balance and keep the schema") {
    val odd = fixture.withColumnRenamed("f1", "x.1").withColumnRenamed("f2", "y`z")
    val demv = new DEMV(Seq("s1", "s2"))
    val out = demv.fitTransform(odd, "y")
    assert(out.schema === odd.schema)
    val actual = out.groupBy("s1", "s2", "y").count().collect()
      .map(r => (Seq(r.getInt(0), r.getInt(1)), r.getInt(2)) -> r.getLong(3)).toMap
    assert(actual === demv.getCellPlans.map(p =>
      (p.combo, p.label.asInstanceOf[Int]) -> p.targetSize).toMap)
  }

  test("missing column raises") {
    val e = intercept[IllegalArgumentException] {
      new DEMV(Seq("nope")).fitTransform(fixture, "y")
    }
    assert(e.getMessage.contains("nope"))
  }
}
