package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.RddBridge
import org.apache.spark.storage.StorageLevel

/** The one place that persists, checkpoints or frees an intermediate
  * frame, under one lifetime rule: register the frame when it is made
  * ([[persistTracked]], [[checkpointTracked]]); [[free]] it as soon as you
  * are done if you own its whole lifetime (a fold's training set, a
  * curation stage, an iteration's superseded state); otherwise the drain,
  * [[unpersistCaches]], frees it. An operator whose RETURNED plan reads the
  * frame (the candidate-pair prunes in [[graft.dedup.Dedup]],
  * [[graft.graph.LinkGraph.pageRank]]'s edge frames) cannot free it before
  * the caller runs that plan, so a long-lived session drains after
  * MATERIALIZING each result, as `graft.Harness.eachQuery` does; one-shot
  * jobs may skip it, the blocks die with the session. Every public operator
  * that leaves a frame to the drain says so in its scaladoc.
  *
  * `free` and the drain share one registry and one release routine, so a
  * frame is released once, by whichever comes first. Nothing else in
  * `src/main` caches, checkpoints or unpersists (`CacheSourceGateSpec`;
  * `graft.data.Datasets`' loader seal is the one exception).
  */
object CacheTracker {

  /** A registered frame and, for a checkpoint, its blocks' RDD. */
  private final class Tracked(val frame: DataFrame, val checkpoint: Option[RDD[_]])

  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[Tracked]

  private def register(t: Tracked): DataFrame = { tracked.add(t); t.frame }

  /** Persist `df` (MEMORY_AND_DISK, as `Dataset.cache`) and register it. */
  private[graft] def persistTracked(df: DataFrame): DataFrame =
    register(new Tracked(df.persist(StorageLevel.MEMORY_AND_DISK), None))

  /** Eagerly `localCheckpoint` `df` and register it. Use INSTEAD of
    * [[persistTracked]] when the frame is reused across several
    * downstream ACTIONS and its producing plan is large: persist keeps
    * the full child plan inside the InMemoryRelation, so every downstream
    * action re-analyzes, re-optimizes and (under AQE) re-stringifies the
    * whole upstream tree; the checkpoint truncates it to a LogicalRDD leaf
    * (the r11 q105 finding — plan machinery, not execution, dominated).
    * Same fault-tolerance trade as every localCheckpoint (see
    * [[graft.graph.LinkGraph.pageRank]]'s scaladoc): blocks live on
    * executors, lineage is gone, an executor loss mid-query fails the
    * job instead of recomputing.
    */
  private[graft] def checkpointTracked(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    register(new Tracked(cp, Some(checkpointRdd(cp))))
  }

  /** The RDD that holds a `localCheckpoint`ed frame's blocks: its
    * LogicalRDD leaf. Unpersisting the frame itself frees nothing.
    */
  private def checkpointRdd(cp: DataFrame): RDD[_] = cp.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd
    // an untracked checkpoint's blocks would outlive every release
    case other => throw new IllegalStateException(
      s"localCheckpoint did not yield a LogicalRDD leaf (got ${other.nodeName}); " +
        "its blocks cannot be tracked for release")
  }

  /** A checkpoint's RDD is freed as `RDD.unpersist` does, without the
    * WARN that `unpersist` logs for every locally checkpointed RDD: the
    * lineage is gone by design, and a warning per release would bury the
    * warnings that mean something.
    */
  private def release(t: Tracked, blocking: Boolean): Unit = t.checkpoint match {
    case Some(rdd) => RddBridge.unpersist(rdd, blocking)
    case None => t.frame.unpersist(blocking)
  }

  /** Release `df`, as returned by [[persistTracked]] or
    * [[checkpointTracked]], now instead of at the drain; a no-op for a frame
    * not registered or already released. A freed persist recomputes on its
    * next action; a freed checkpoint fails on it.
    */
  private[graft] def free(df: DataFrame, blocking: Boolean = false): Unit =
    tracked.asScala.find(_.frame eq df).foreach { t =>
      // remove succeeds for one caller only, so a racing free or drain
      // cannot release the frame twice
      if (tracked.remove(t)) release(t, blocking)
    }

  /** Release every registered frame not freed yet (see the class doc).
    *
    * A drained checkpoint is DESTROYED, not evicted: its frame is a
    * LogicalRDD leaf with no lineage, so a frame kept across the drain
    * (an operator result built before the call and materialized after
    * it) fails on its next action instead of recomputing. Rebuild such
    * frames after draining. Persisted (non-checkpoint) caches only
    * downgrade to recomputation.
    */
  def unpersistCaches(blocking: Boolean = false): Unit = {
    var t = tracked.poll()
    while (t != null) { release(t, blocking); t = tracked.poll() }
  }
}
