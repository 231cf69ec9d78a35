package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Storage-block hygiene for long batch sessions.
  *
  * Operators use [[RoundCheckpointer.checkpoint]] to cut recompute INSIDE
  * one query, but those blocks live until the JVM exits — after ~150
  * declared queries the storage pool is full of dead blocks and late
  * queries run under eviction+GC pressure (strm12 benched 4× slower than
  * its isolated time). [[SparkEntry.run]] therefore drops all cached
  * state BETWEEN queries.
  *
  * The one legitimate cross-query cache is [[StageMemo]]: mig3–mig12
  * deliberately share one materialized parse→latest-wins chain. Its frames
  * register here via [[pin]] and survive [[dropUnpinned]] until
  * [[StageMemo.evict]] [[unpin]]s them (RDD ids restart in every context).
  */
object BlockHygiene {

  private val pinned = scala.collection.concurrent.TrieMap.empty[Int, Unit]

  /** RDD ids a checkpointed frame scans (LogicalRDD leaves). */
  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd.id
    }

  /** Mark a (local)checkpointed frame's blocks as session-lifetime. */
  def pin(df: DataFrame): DataFrame = {
    rddIds(df).foreach(id => pinned.put(id, ()))
    df
  }

  /** Release a [[pin]]: the frame's blocks become droppable again. */
  def unpin(df: DataFrame): Unit = rddIds(df).foreach(pinned.remove)

  /** Drop every cached dataset and persisted RDD except pinned ones. */
  def dropUnpinned(s: SparkSession): Unit = {
    s.sharedState.cacheManager.clearCache()
    s.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => pinned.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
  }
}
