package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KCenterSpec extends SparkSpec {
  import spark.implicits._

  private def select(rows: Seq[(Long, Seq[Double])], k: Int, parts: Int = 4)
      : Seq[(Int, Long, Option[Double])] = {
    val df = rows.toDF("vec_id", "embedding").repartition(parts)
    Similarity.kCenterSelect(df, "vec_id", "embedding", k)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSeq
  }

  test("hand-computed 1-D selection: farthest-first with id tie-break") {
    val pts = Seq(1L -> Seq(0.0), 2L -> Seq(1.0), 3L -> Seq(10.0),
      4L -> Seq(11.0), 5L -> Seq(20.0))
    // seed id1 [0]; then [20] d=400; then [10] minD=100; then the 1.0-tie
    // between id2 and id4 resolves to the smaller id
    assert(select(pts, 4) === Seq(
      (0, 1L, None), (1, 5L, Some(20.0)), (2, 3L, Some(10.0)), (3, 2L, Some(1.0))))
  }

  test("k beyond the point count keeps re-selecting min id at radius 0 (deterministic)") {
    val pts = Seq(7L -> Seq(0.0, 0.0), 9L -> Seq(3.0, 4.0))
    assert(select(pts, 4) === Seq(
      (0, 7L, None), (1, 9L, Some(5.0)), (2, 7L, Some(0.0)), (3, 7L, Some(0.0))))
  }

  test("partition invariance") {
    val rnd = new scala.util.Random(5)
    val pts = (1L to 60L).map(i => i -> Seq.fill(8)(rnd.nextGaussian()))
    val ref = select(pts, 6, parts = 1)
    for (p <- Seq(3, 13, 32)) assert(select(pts, 6, parts = p) === ref, s"parts=$p")
  }

  test("matches an independent driver brute-force on random data") {
    val rnd = new scala.util.Random(17)
    val pts = (1L to 40L).map(i => i -> Seq.fill(4)(rnd.nextGaussian()))
    val k = 5
    // independent greedy implementation
    val vecs = pts.toMap
    var centers = List(pts.map(_._1).min)
    val exp = scala.collection.mutable.ArrayBuffer[(Int, Long)]((0, centers.head))
    val minD = scala.collection.mutable.Map[Long, Double]()
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    pts.foreach { case (id, v) => minD(id) = d2(v, vecs(centers.head)) }
    (1 until k).foreach { r =>
      val (id, _) = pts.map { case (id, _) => (id, minD(id)) }
        .maxBy { case (id, d) => (d, -id) } // d desc, id asc
      exp += ((r, id))
      pts.foreach { case (pid, v) =>
        minD(pid) = math.min(minD(pid), d2(v, vecs(id)))
      }
    }
    assert(select(pts, k).map(t => (t._1, t._2)) === exp.toSeq)
  }

  test("batched acceptance is bit-identical to one-at-a-time fetches") {
    val rnd = new scala.util.Random(29)
    // clustered data (batching accepts several per fetch) + duplicate
    // points (the degenerate radius-0 re-select tail)
    val pts = (1L to 300L).map { i =>
      val center = (i % 5L).toDouble * 100.0
      i -> Seq.fill(6)(center + rnd.nextGaussian())
    } ++ Seq(301L -> Seq.fill(6)(0.0), 302L -> Seq.fill(6)(0.0))
    val df = pts.toDF("vec_id", "embedding").repartition(7)
    val ref = Similarity.kCenterSelect(df, "vec_id", "embedding", 40, batchFetch = 1)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    for (bf <- Seq(2, 7, 64, 1024)) {
      val got = Similarity.kCenterSelect(df, "vec_id", "embedding", 40, batchFetch = bf)
        .orderBy("rank").collect().map(_.toSeq).toSeq
      assert(got === ref, s"batchFetch=$bf")
    }
  }

  test("localCheckpoint plan-depth bounding does not change the output") {
    val rnd = new scala.util.Random(31)
    val pts = (1L to 120L).map(i => i -> Seq.fill(4)(rnd.nextGaussian() * 10))
    val df = pts.toDF("vec_id", "embedding")
    val ref = Similarity.kCenterSelect(df, "vec_id", "embedding", 30, batchFetch = 1)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    // checkpointEvery=2 with batchFetch=1 forces many checkpoint cuts
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val got = Similarity.kCenterSelect(df, "vec_id", "embedding", 30,
      batchFetch = 1, checkpointEvery = 2)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(got === ref)
    // every batch's cache and checkpoint is released by the time it returns
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === before)
  }

  test("non-integral id column fails fast instead of silently dropping rows") {
    val df = Seq(("a", Seq(1.0)), ("b", Seq(2.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.kCenterSelect(df, "vec_id", "embedding", 2)
    }
    assert(e.getMessage.contains("integral id column"))
  }

  test("null vectors are excluded; empty input yields an empty frame") {
    val df = Seq((1L, null.asInstanceOf[Seq[Double]]), (2L, Seq(1.0)), (3L, Seq(5.0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kCenterSelect(df, "vec_id", "embedding", 2)
      .orderBy("rank").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(out === Seq((0, 2L), (1, 3L)))
    // NULL ids are excluded too (they cannot join the id tie-break) —
    // previously a null-id row sorted NULLS FIRST into the seed and NPE'd
    val withNullId = Seq((java.lang.Long.valueOf(5L), Seq(2.0)),
      (null.asInstanceOf[java.lang.Long], Seq(9.0)))
      .toDF("vec_id", "embedding")
    val out2 = Similarity.kCenterSelect(withNullId, "vec_id", "embedding", 1)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(out2 === Seq((0, 5L)))
    val empty = Similarity.kCenterSelect(
      Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", 3)
    assert(empty.count() === 0)
    assert(empty.columns.toSeq === Seq("rank", "vec_id", "radius"))
  }
}
