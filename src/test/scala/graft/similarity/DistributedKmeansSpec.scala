package graft.similarity

import graft.SparkSpec
import graft.functions.Kernels
import org.apache.spark.sql.functions._

class DistributedKmeansSpec extends SparkSpec {

  // three well-separated 4-d clusters, 120 points each
  private def clustered() = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val centers = Seq(
      Array(10.0, 0.0, 0.0, 0.0),
      Array(0.0, 10.0, 0.0, 0.0),
      Array(0.0, 0.0, 10.0, 0.0))
    (0 until 360).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + rng.nextGaussian() * 0.3).toSeq)
    }.toDF("vec_id", "v")
  }

  private def wcss(df: org.apache.spark.sql.DataFrame, cent: Seq[Double], dim: Int): Double = {
    df.select(Kernels.nearestCentroidDist(col("v"), cent, dim).as("d"))
      .agg(sum(col("d"))).first().getDouble(0)
  }

  test("flop threshold routes to the distributed trainer; quality matches driver") {
    val df = clustered()
    val driver = Similarity.trainIvfCentroids(df, "vec_id", "v", dim = 4, nLists = 3)
    // threshold 1 forces every call onto the cluster path
    val dist = Similarity.trainIvfCentroids(df, "vec_id", "v", dim = 4, nLists = 3,
      driverFlopsPerIter = 1L)
    assert(dist.length === 12 && dist.forall(d => !d.isNaN && !d.isInfinite))
    val (wd, wc) = (wcss(df, driver, 4), wcss(df, dist, 4))
    // both trainers must find the 3 planted clusters: WCSS within 25% of
    // each other (and both far below the 1-cluster degenerate fit)
    assert(wc <= wd * 1.25 && wd <= wc * 1.25, s"driver $wd vs distributed $wc")
    val one = Similarity.trainIvfCentroids(df, "vec_id", "v", dim = 4, nLists = 1)
    assert(wc < wcss(df, one, 4) / 10)
  }

  test("distributed trainer is deterministic for a fixed seed and pads to nLists x dim") {
    val df = clustered()
    val a = Similarity.trainIvfCentroidsDistributed(df, "vec_id", "v",
      dim = 4, nLists = 5, seed = 42L, cap = 1000, maxIter = 10)
    val b = Similarity.trainIvfCentroidsDistributed(df, "vec_id", "v",
      dim = 4, nLists = 5, seed = 42L, cap = 1000, maxIter = 10)
    assert(a === b, "same seed + data must reproduce centroids within a session")
    assert(a.length === 20)
  }

  test("hash-filter sample bounds the training set without a driver collect") {
    val df = clustered()
    // cap 60 of 360 -> keepPerM ~ 166667; binomial sample lands well under
    // the corpus size, proving the filter actually thins the train set
    val cent = Similarity.trainIvfCentroidsDistributed(df, "vec_id", "v",
      dim = 4, nLists = 3, seed = 1L, cap = 60, maxIter = 5)
    assert(cent.length === 12 && cent.forall(d => !d.isNaN))
    // quality holds on the sample too — the planted structure survives
    assert(wcss(df, cent, 4) < wcss(df,
      Similarity.trainIvfCentroids(df, "vec_id", "v", dim = 4, nLists = 1), 4) / 5)
  }
}
