package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkSpec {

  test("transitive chains collapse into one component; isolated vertices stand alone") {
    import spark.implicits._
    // a~b, b~c, d~e; f isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val labels = Components.connectedComponents(pairs, "a", "b", verts, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
    val summary = Components.clusterSummary(
      Components.connectedComponents(pairs, "a", "b", verts, "id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(summary(1L) === ((3L, 1L)))
    assert(summary(4L) === ((2L, 4L)))
    assert(summary(6L) === ((1L, 6L)))
  }

  test("matches a driver union-find on a seeded random graph") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val n = 400
    val pairs = (0 until 300).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val verts = (0 until n).map(_.toLong).toDF("id")
    val got = Components.connectedComponents(
      pairs.toDF("a", "b"), "a", "b", verts, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver union-find reference
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // path-compress fully, then component = min id of the root class
    val byRoot = (0 until n).groupBy(find)
    byRoot.foreach { case (_, members) =>
      val comp = members.min.toLong
      members.foreach(m => assert(got(m.toLong) === comp, s"vertex $m"))
    }
  }

  test("driver union-find path and distributed pointer-jumping path agree") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val n = 500
    val pairs = (0 until 400).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val verts = (0 until n).map(_.toLong).toDF("id")
    val small = Components.connectedComponents(pairs, "a", "b", verts, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Components.connectedComponents(pairs, "a", "b", verts, "id",
        driverEdgeThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(small === dist)
  }

  test("probe overflow routes to the distributed loop and matches the driver path") {
    import spark.implicits._
    // EXERCISES THE ADAPTIVE ROUTING ITSELF (not threshold=0, which
    // skips the probe): the probe collects threshold+1 edges, sees the
    // graph is too big for the driver, and falls through to the
    // distributed pointer-jumping loop. Both paths must agree exactly.
    val rng = new scala.util.Random(31)
    val n = 600
    val pairs = (0 until 500).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val verts = (0 until n).map(_.toLong).toDF("id")
    val viaDriver = Components.connectedComponents(pairs, "a", "b", verts, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // threshold 50 << ~500 edges: probe runs, overflows, distributed wins
    val viaOverflow = Components.connectedComponents(pairs, "a", "b", verts, "id",
        driverEdgeThreshold = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaOverflow === viaDriver)
  }

  test("non-long ids always take the distributed path and still work") {
    import spark.implicits._
    val pairs = Seq((1, 2), (2, 3)).toDF("a", "b")
    val verts = Seq(1, 2, 3, 4).toDF("id")
    val labels = Components.connectedComponents(pairs, "a", "b", verts, "id")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(labels === Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 4))
  }

  test("a deep path converges within the iteration budget") {
    import spark.implicits._
    // path 0-1-2-...-30: diameter 30, min-label needs ~log or ~diameter
    // rounds depending on direction — budget must cover it
    val pairs = (0 until 30).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val verts = (0 to 30).map(_.toLong).toDF("id")
    val labels = Components.connectedComponents(pairs, "a", "b", verts, "id", maxIter = 35)
      .collect().map(r => r.getLong(1)).toSet
    assert(labels === Set(0L))
  }

  test("the distributed path leaves only its final label checkpoint behind") {
    import spark.implicits._
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val pairs = (0 until 20).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val verts = (0 to 20).map(_.toLong).toDF("id")
    def run(maxIter: Int) = Components.connectedComponents(pairs, "a", "b", verts, "id",
      maxIter = maxIter, driverEdgeThreshold = 0)
    // the path needs at least 3 rounds
    intercept[IllegalArgumentException](run(2))
    graft.etl.CacheTracker.unpersistCaches(blocking = true)
    val baseline = persisted
    val labels = run(25)
    // the edges and every superseded round are freed; the returned labels
    // stay until the drain
    assert((persisted -- baseline).size === 1)
    assert(labels.collect().map(_.getLong(1)).toSet === Set(0L))
    graft.etl.CacheTracker.unpersistCaches(blocking = true)
    assert((persisted -- baseline).isEmpty)
  }
}
