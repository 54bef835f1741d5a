package graft

import scala.collection.mutable.ArrayBuffer

import graft.etl.CacheTracker
import graft.queries.Queries

/** The leak gate: every declared query, run at sf0.001 to a noop sink
  * through [[Harness.eachQuery]], leaves no persisted RDD and no cached
  * partition behind once the loop has drained after it. A cache or
  * checkpoint that neither `CacheTracker.free` nor the drain releases
  * shows up here under the query that made it.
  */
class LeakGateSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("every declared query leaves the storage as it found it after its drain") {
    val sc = spark.sparkContext
    CacheTracker.unpersistCaches(blocking = true)
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def cachedPartitions: Map[Int, Int] =
      sc.getRDDStorageInfo.map(i => i.id -> i.numCachedPartitions).toMap
    val (baseRdds, baseCached) = (persisted, cachedPartitions)
    // measured against the pre-loop baseline; an RDD that an earlier suite
    // in this JVM left behind may be collected meanwhile, so only what is
    // new or has grown counts. Each leak is reported once, under the query
    // after whose drain it first shows.
    val leaks = ArrayBuffer.empty[String]
    var reported = Set.empty[Int]
    def check(after: String): Unit = {
      val rdds = persisted -- baseRdds -- reported
      val grown = cachedPartitions.filter { case (id, n) =>
        !reported(id) && n > baseCached.getOrElse(id, 0) }
      reported ++= rdds ++ grown.keys
      if (rdds.nonEmpty || grown.nonEmpty)
        leaks += s"after $after: persistent RDDs ${rdds.toSeq.sorted.mkString(",")}; " +
          s"cached partitions (RDD, count) ${grown.toSeq.sorted.mkString(",")}"
    }
    var previous = Option.empty[String]
    val outcomes = Harness.eachQuery(Queries.all.map(q => q.name -> q)) { (name, q) =>
      previous.foreach(check)
      previous = Some(name)
      q.build(spark, sfDir).frame.write.format("noop").mode("overwrite").save()
    }
    previous.foreach(check)
    val failed = outcomes.collect { case (name, Left(t)) => s"$name: $t" }
    assert(outcomes.size === Queries.all.size)
    assert(failed.isEmpty, failed.mkString("\n", "\n", ""))
    assert(leaks.isEmpty, leaks.mkString("\n", "\n", ""))
  }
}
