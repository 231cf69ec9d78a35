package graft

import org.apache.spark.rdd.{GraftBlockBridge, RDD}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Checkpoint-and-release for iterative driver loops (PageRank, connected
  * components, BPE training, PQ Lloyd rounds).
  *
  * Every iterative operator here cuts per-round lineage with
  * [[RoundCheckpointer.checkpoint]] — without it a round that references
  * the previous frame twice (PageRank's contribs + dangling mass) doubles
  * the lazy plan per round (2^iters subtree copies), and even
  * single-reference loops grow O(iters) plans. But a bare per-round
  * checkpoint leaks: round i−1's blocks stay in the storage pool for the
  * life of the JVM, so a 50-round component propagation accumulates 50
  * dead copies of the label table. This helper pairs the two: [[step]]
  * eagerly checkpoints round i and unpersists the superseded round i−1,
  * keeping BOTH the plan depth and the block footprint O(1) in round
  * count.
  *
  * [[retain]] exempts one frame from supersession — the convergence-check
  * baseline (Σ|Δpr| compares round i against round i−checkEvery, so that
  * older checkpoint must outlive the rounds between checks). A retained
  * frame is released when a newer baseline replaces it.
  *
  * Only frames produced by [[step]] are ever unpersisted, and release is
  * plan-shape-guarded (a checkpoint's analyzed plan is exactly one
  * LogicalRDD leaf) — shared setup checkpoints (edge tables, vertex lists)
  * that appear as leaves INSIDE a round's plan are never touched.
  */
final class RoundCheckpointer {
  private var last: Option[DataFrame] = None
  private var kept: Option[DataFrame] = None

  /** Eagerly checkpoint this round's frame; drop the blocks of the frame
    * the previous [[step]] produced (unless [[retain]]ed). The released
    * frame must not be referenced by any later round — materialize `next`
    * first is exactly what the eager [[RoundCheckpointer.checkpoint]] does. */
  def step(next: DataFrame): DataFrame = {
    val cp = RoundCheckpointer.checkpoint(next)
    last.filterNot(l => kept.exists(_ eq l)).foreach(RoundCheckpointer.release)
    last = Some(cp)
    cp
  }

  /** Mark `df` (typically the latest [[step]] result) as the long-lived
    * baseline: later steps will not release it; the PREVIOUS baseline is
    * released now unless it is also the latest step. */
  def retain(df: DataFrame): Unit = {
    kept.filterNot(k => (last.exists(_ eq k)) || (df eq k))
      .foreach(RoundCheckpointer.release)
    kept = Some(df)
  }
}

object RoundCheckpointer {
  /** graft's one checkpoint (every memo, round and setup table): eager,
    * stored serialized and zstd-compressed (`Graft.session`), not as one
    * UnsafeRow object per row. The plan is one `LogicalRDD` leaf. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    ds.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)

  /** `ds.checkpointed()`: [[checkpoint]] at the end of a chain. */
  implicit final class Checkpointed[T](private val ds: Dataset[T])
      extends AnyVal { def checkpointed(): Dataset[T] = checkpoint(ds) }

  /** Unpersist the storage blocks behind a frame returned by
    * [[checkpoint]]. No-op for any other plan shape, so a
    * mistakenly-passed derived frame can never evict a shared upstream
    * checkpoint. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => free(lr.rdd)
    case _              => ()
  }

  /** Drop a persisted RDD's blocks without blocking. A local checkpoint
    * (every [[checkpoint]]) is freed without `RDD.unpersist`, which warns
    * for each one that its lineage is gone — true by design here, so one
    * line per released round would flood the log; any other RDD keeps
    * `unpersist` and its warning. */
  private[graft] def free(rdd: RDD[_]): Unit =
    if (!GraftBlockBridge.freeLocalCheckpoint(rdd))
      rdd.unpersist(blocking = false): Unit
}
