package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The distributed (hyperplane-LSH) SMOTE/ADASYN path for cells larger
  * than the driver cap — the round-3 fidelity gap ("neighbors from a
  * <=1024-row sample") is closed by drawing neighbors from the FULL cell.
  */
class DistributedSmoteSpec extends SparkSpec {
  private val key = Seq("s", "y")

  test("50k-row cell: LSH k=1 neighbors match brute-force nearest (twin pairs)") {
    import spark.implicits._
    // 25k twin pairs (p, p + eps·1): pair centers are ~80 apart in
    // [0,1000]^4 while twins are 0.02 apart, so the brute-force nearest
    // neighbor of every point IS its twin. With k=1 every synthetic must
    // land on its base's twin segment — a wrong LSH neighbor interpolates
    // across pairs and lands far from every pair center. All seeds fixed:
    // the check is deterministic.
    val rng = new scala.util.Random(11)
    val eps = 0.01
    val centers = Array.fill(25000)(Array.fill(4)(rng.nextDouble * 1000.0))
    val pts = centers.toIndexedSeq.flatMap { c =>
      Seq((1, 1, c(0), c(1), c(2), c(3)),
        (1, 1, c(0) + eps, c(1) + eps, c(2) + eps, c(3) + eps))
    }
    val df = pts.toDF("s", "y", "f1", "f2", "f3", "f4")
    val m = 300L
    val out = Strategies.synthesizeSmote(df, key, Map(Seq[Any](1, 1) -> m), seed = 7, k = 1)
      .collect()
    assert(out.length === m)
    assert(out.head.schema.fieldNames.toSeq === Seq("s", "y", "f1", "f2", "f3", "f4"))
    // every synthetic sits on a twin segment => within ~|eps·1|_2 = 0.02
    // of some pair center (tolerance 2x for float noise)
    var worst = 0.0
    out.foreach { r =>
      val v = Array(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      var best = Double.MaxValue
      var ci = 0
      while (ci < centers.length) {
        val c = centers(ci)
        var d = 0.0
        var j = 0
        while (j < 4) { val t = v(j) - c(j); d += t * t; j += 1 }
        if (d < best) best = d
        ci += 1
      }
      worst = math.max(worst, math.sqrt(best))
    }
    assert(worst <= 0.05, s"a synthetic landed $worst from every pair center " +
      "— an LSH neighbor did not match the brute-force nearest")
  }

  test("adasyn on a big cell: exact total; sparse region gets the synthetics") {
    import spark.implicits._
    // one 6000-row cell, two equal clusters: tight (sigma .1 at 100) and
    // wide (sigma 50 at 800). ADASYN weights rows by mean kNN distance,
    // so the wide cluster must dominate the allocation.
    val rng = new scala.util.Random(13)
    val pts =
      (0 until 3000).map(_ => (1, 1, 100.0 + rng.nextGaussian * 0.1, 100.0 + rng.nextGaussian * 0.1)) ++
        (0 until 3000).map(_ => (1, 1, 800.0 + rng.nextGaussian * 50.0, 800.0 + rng.nextGaussian * 50.0))
    val df = pts.toDF("s", "y", "f1", "f2")
    val m = 600L
    // drain what earlier specs in this JVM left tracked, so the drain
    // below frees only this call's blocks
    graft.etl.CacheTracker.unpersistCaches(blocking = true)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Strategies.synthesizeSmote(df, key, Map(Seq[Any](1, 1) -> m),
      seed = 7, adasyn = true).collect()
    // the kNN-weight checkpoint of the LSH path is tracked: the drain
    // frees every block the call made
    graft.etl.CacheTracker.unpersistCaches(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
    assert(out.length === m)
    val wide = out.count(_.getDouble(2) > 450.0)
    assert(wide.toDouble / m > 0.7,
      s"adasyn allocated only $wide/$m synthetics to the sparse cluster")
  }

  test("adaptive dispatch: small cells drive, big cells LSH, totals exact") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val pts =
      (0 until 50).map(i => (0, 1, 10.0 + rng.nextDouble, i)) ++
        (0 until 2000).map(i => (1, 1, 500.0 + rng.nextDouble * 20, 100 + i))
    val df = pts.toDF("s", "y", "f1", "f2")
    val out = Strategies.synthesizeSmote(df, key,
      Map(Seq[Any](0, 1) -> 9L, Seq[Any](1, 1) -> 31L), seed = 5)
    // one action: the adaptive dispatch (including the LSH path's shuffles)
    // is the slowest plan in this suite — derive everything from one collect
    val rows = out.collect()
    val byCell = rows.groupBy(_.getInt(0)).map { case (s, g) => s -> g.length.toLong }
    assert(byCell === Map(0 -> 9L, 1 -> 31L))
    // both paths preserve the dtype contract (names + types; nullability
    // widens through the synthesized union) and stay inside the hull
    assert(out.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    rows.foreach { r =>
      if (r.getInt(0) == 0) assert(r.getDouble(2) >= 10.0 && r.getDouble(2) <= 11.0)
      else assert(r.getDouble(2) >= 500.0 && r.getDouble(2) <= 520.0)
    }
  }
}
