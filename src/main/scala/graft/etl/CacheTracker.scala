package graft.etl

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.RddBridge
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for operator-internal caches.
  *
  * Several operators persist an intermediate frame because the plan they
  * RETURN reads it more than once (candidate-pair prunes in
  * [[graft.dedup.Dedup]], the edge/out-degree frames in
  * [[graft.graph.LinkGraph.pageRank]], the scored frame in
  * [[graft.text.PerplexityBuckets]]). The returned plan is lazy, so the
  * operator cannot unpersist before returning — Spark's CacheManager
  * would evict the cache before the caller ever ran the query — and
  * Spark holds such entries for the session lifetime.
  *
  * Contract: a long-lived session should call [[unpersistCaches]] after
  * MATERIALIZING each operator result (write / collect); calling it
  * earlier is safe but downgrades the cached reads to recomputation.
  * One-shot jobs can ignore this entirely — the cache dies with the
  * session. Every public operator that registers a cache says so in its
  * own scaladoc.
  */
object CacheTracker {

  private val pendingCaches = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK) and register it for a later
    * [[unpersistCaches]] sweep.
    */
  private[graft] def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    pendingCaches.add(p)
    p
  }

  private val pendingRdds = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]

  /** Eagerly `localCheckpoint` `df` and register the checkpointed blocks
    * for the [[unpersistCaches]] sweep. Use INSTEAD of [[persistTracked]]
    * when the frame is reused across several downstream ACTIONS and its
    * producing plan is large: persist keeps the full child plan inside
    * the InMemoryRelation, so every downstream action re-analyzes,
    * re-optimizes and (under AQE) re-stringifies the whole upstream tree;
    * the checkpoint truncates it to a LogicalRDD leaf (the r11 q105
    * finding — plan machinery, not execution, dominated). Same
    * fault-tolerance trade as every localCheckpoint (see
    * [[graft.graph.LinkGraph.pageRank]]'s scaladoc): blocks live on
    * executors, lineage is gone, an executor loss mid-query fails the
    * job instead of recomputing.
    */
  private[graft] def checkpointTracked(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    pendingRdds.add(checkpointRdd(cp))
    cp
  }

  /** The RDD that holds a `localCheckpoint`ed frame's blocks: its
    * LogicalRDD leaf. [[release]] frees the checkpoint, which a caller
    * that owns the frame's whole lifetime can do itself instead of
    * waiting for the [[unpersistCaches]] drain.
    */
  private[graft] def checkpointRdd(cp: DataFrame): RDD[_] = cp.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd
    // an untracked checkpoint's blocks would outlive every release
    case other => throw new IllegalStateException(
      s"localCheckpoint did not yield a LogicalRDD leaf (got ${other.nodeName}); " +
        "its blocks cannot be tracked for release")
  }

  /** Free a checkpoint's blocks (see [[checkpointRdd]]) as
    * `RDD.unpersist` does, without the WARN that `unpersist` logs for
    * every locally checkpointed RDD: the lineage is gone by design, and
    * a warning per release would bury the warnings that mean something.
    */
  private[graft] def release(rdd: RDD[_], blocking: Boolean = false): Unit =
    RddBridge.unpersist(rdd, blocking)

  /** Unpersist every tracked cache created since the last call — see the
    * class doc for the call-after-materializing contract.
    *
    * A drained checkpoint is DESTROYED, not evicted: its frame is a
    * LogicalRDD leaf with no lineage, so a frame kept across the drain
    * (an operator result built before the call and materialized after
    * it) fails on its next action instead of recomputing. Rebuild such
    * frames after draining. Persisted (non-checkpoint) caches only
    * downgrade to recomputation.
    */
  def unpersistCaches(blocking: Boolean = false): Unit = {
    var d = pendingCaches.poll()
    while (d != null) { d.unpersist(blocking); d = pendingCaches.poll() }
    var r = pendingRdds.poll()
    while (r != null) { release(r, blocking); r = pendingRdds.poll() }
  }
}
