package graft.etl

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.SparkSpec

class CacheTrackerSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The messages of the WARNs logged while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tap = new AbstractAppender("warn-tap", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN)
          seen.add(e.getMessage.getFormattedMessage)
    }
    tap.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(tap)
    try body finally root.removeAppender(tap)
    seen.toArray.toSeq.map(_.toString)
  }

  test("the drain frees tracked checkpoints without a WARN; a drained frame then fails") {
    CacheTracker.unpersistCaches(blocking = true)
    val baseline = persisted
    val a = CacheTracker.checkpointTracked(spark.range(100).toDF("id"))
    val b = CacheTracker.checkpointTracked(spark.range(50).selectExpr("id * 2 AS x"))
    assert(persisted.size === baseline.size + 2)
    val warned = warnings(CacheTracker.unpersistCaches(blocking = true))
    assert(!warned.exists(_.contains("was locally checkpointed")), warned.mkString("\n"))
    assert(persisted === baseline)
    // destroyed, not evicted: the lineage is gone (see unpersistCaches)
    intercept[Exception](a.collect())
    intercept[Exception](b.collect())
  }

  test("free releases a persisted frame and a checkpoint now, without a WARN") {
    CacheTracker.unpersistCaches(blocking = true)
    val baseline = persisted
    val p = CacheTracker.persistTracked(spark.range(100).toDF("id"))
    assert(p.count() === 100)
    val c = CacheTracker.checkpointTracked(spark.range(50).selectExpr("id * 2 AS x"))
    assert(persisted.size === baseline.size + 2)
    val warned = warnings {
      CacheTracker.free(p, blocking = true)
      CacheTracker.free(c, blocking = true)
    }
    assert(!warned.exists(_.contains("was locally checkpointed")), warned.mkString("\n"))
    assert(persisted === baseline)
    // a freed persist recomputes; a freed checkpoint has no lineage left
    assert(p.count() === 100)
    intercept[Exception](c.collect())
  }

  test("a later drain and a second free of a freed frame are no-ops") {
    CacheTracker.unpersistCaches(blocking = true)
    val baseline = persisted
    val kept = CacheTracker.checkpointTracked(spark.range(10).toDF("id"))
    val freed = CacheTracker.checkpointTracked(spark.range(20).toDF("id"))
    CacheTracker.free(freed, blocking = true)
    CacheTracker.free(freed, blocking = true)
    // the second free left the frame still registered alone
    assert(persisted.size === baseline.size + 1)
    assert(kept.count() === 10)
    CacheTracker.unpersistCaches(blocking = true)
    assert(persisted === baseline)
    CacheTracker.free(freed, blocking = true)
    CacheTracker.free(kept, blocking = true)
    CacheTracker.unpersistCaches(blocking = true)
    assert(persisted === baseline)
  }
}
