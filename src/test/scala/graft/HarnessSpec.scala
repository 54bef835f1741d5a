package graft

import scala.collection.mutable.ArrayBuffer

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.etl.CacheTracker
import graft.queries.Scratch

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

  test("eachQuery deletes each query's scratch directory; the next query gets a fresh, empty one") {
    val dirs = ArrayBuffer.empty[Path]
    val seen = ArrayBuffer.empty[(Boolean, Boolean)] // (own dir empty, earlier dirs gone)
    val outcomes = Harness.eachQuery(Seq("a_writes" -> "a", "b_writes" -> "b")) { (_, text) =>
      val d = Scratch.dir()
      seen += ((d.toFile.list().isEmpty, dirs.forall(p => !Files.exists(p))))
      Files.writeString(Files.createDirectories(d.resolve("shard")).resolve("part.txt"), text)
      dirs += d
      d.toFile.list().toSeq
    }
    assert(outcomes === Seq("a_writes" -> Right(Seq("shard")), "b_writes" -> Right(Seq("shard"))))
    assert(seen === Seq((true, true), (true, true)))
    assert(dirs.distinct.size === 2)
    assert(dirs.forall(p => !Files.exists(p)), "a scratch directory outlived the loop")
  }
}
