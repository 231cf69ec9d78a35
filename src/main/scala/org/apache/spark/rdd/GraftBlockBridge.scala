package org.apache.spark.rdd

/** Bridge to `SparkContext.unpersistRDD` and `RDD.isLocallyCheckpointed`
  * (private to Spark), so graft can free a local checkpoint's blocks
  * without `RDD.unpersist`'s "lineage truncated" WARN — every graft
  * checkpoint is a local one by design, and releasing it is routine. The
  * same one-method pattern as [[org.apache.spark.sql.classic.GraftPlanBridge]];
  * no Spark internals are modified. */
object GraftBlockBridge {
  /** Drop `rdd`'s blocks, without blocking, if it is locally checkpointed;
    * false (and nothing done) for any other RDD. */
  def freeLocalCheckpoint(rdd: RDD[_]): Boolean =
    rdd.isLocallyCheckpointed && {
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
      true
    }
}
