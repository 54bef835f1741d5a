package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.etl.CacheTracker

class HarnessSpec extends SparkSpec {

  test("eachQuery runs in name order, returns each throw, and drains after every query") {
    val sc = spark.sparkContext
    CacheTracker.unpersistCaches(blocking = true)
    val baseline = sc.getPersistentRDDs.keySet.toSet
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def checkpointed(s: SparkSession): DataFrame = {
      val cp = CacheTracker.checkpointTracked(s.range(100).toDF("id"))
      assert(persisted != baseline, "the fake query registered no checkpoint")
      cp
    }
    val boom = new IllegalStateException("boom")
    // declared out of name order; the bodies must still run a, b, c
    val queries: Map[String, SparkSession => DataFrame] = Map(
      "c_plain" -> (s => s.range(3).toDF("id")),
      "b_throws" -> { s => checkpointed(s); throw boom },
      "a_checkpoint" -> checkpointed)
    val ran = ArrayBuffer.empty[String]
    val persistedBefore = ArrayBuffer.empty[Set[Int]]
    val outcomes = Harness.eachQuery(queries) { (name, q) =>
      ran += name
      persistedBefore += persisted
      q(spark).count()
    }
    assert(ran === Seq("a_checkpoint", "b_throws", "c_plain"))
    // the checkpoints of a and b are gone before the next query starts and
    // after the last one: the drain runs for a query that throws too
    assert(persistedBefore.forall(_ === baseline))
    assert(persisted === baseline)
    assert(outcomes.map(_._1) === ran)
    assert(outcomes(0)._2 === Right(100L))
    assert(outcomes(1)._2 === Left(boom))
    assert(outcomes(2)._2 === Right(3L))
  }
}
