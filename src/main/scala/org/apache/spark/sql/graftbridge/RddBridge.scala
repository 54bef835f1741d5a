package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD

/** `RDD.unpersist` logs a WARN for every locally checkpointed RDD it
  * frees ("cannot be recomputed after unpersisting"). Freeing a
  * checkpoint is the point of releasing one, so that warning says
  * nothing there. `SparkContext.unpersistRDD`, the call `RDD.unpersist`
  * makes, is `private[spark]`; this bridge (same namespace trick as
  * [[ColumnBridge]]) re-exports it. No Spark internals are modified.
  */
object RddBridge {
  def unpersist(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
