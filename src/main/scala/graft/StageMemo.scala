package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Per-session memo for deliberately-shared pipeline stages.
  *
  * Two query families legitimately share expensive intermediate state
  * across declared queries: the migration chain (mig3–mig12 all consume
  * one parse→latest-wins log) and the llm28 ANN family (llm28/b/c/d all
  * train the same PQ codebook and IVF centroid table; llm28d/e build a
  * persisted index once and probe it). Recomputing those per query — and
  * again on every repeated run of a query — is pure waste: on a cluster
  * each would be a written stage output built once (the reference's
  * pipeline-step artifacts, runcommand.py:389-409), not a per-query
  * recompute.
  *
  * [[frame]] materializes a DataFrame stage once per (session, key) via
  * [[RoundCheckpointer.checkpoint]] (serialized, zstd blocks); the blocks
  * behind live frames are the only ones [[dropUnpinned]] spares.
  * [[value]] memoizes an arbitrary build artifact (e.g. the path of a
  * written index store), and [[own]] ties a scratch dir to the session.
  * Entries, their scratch dirs and their build-ledger lines evict
  * ([[evict]]) when the owning SparkContext ends, so short-lived sessions
  * stay unreachable once stopped and leave no files behind.
  *
  * Builds run OUTSIDE the map update: stages nest (importedState builds on
  * patchedLog; the llm28d store build reads the memoized codebook), so a
  * computeIfAbsent-style lock would self-deadlock. A duplicate build on a
  * true race is harmless — every stage is bit-deterministic — and the
  * loser's checkpoint blocks are freed.
  */
object StageMemo {

  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), AnyRef]
  private val evictionHooked =
    scala.collection.concurrent.TrieMap.empty[SparkSession, Unit]

  /** Per-session ledger of (memo key → build seconds), appended on every
    * actual build (cache miss). The benchmark (`perfbench`) charges each
    * build to the query that paid it (VERDICT r21 #5: a memo build's cost
    * must be visible SOMEWHERE for plan-layout claims to be
    * falsifiable). */
  private val buildLog =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Double]

  /** Build ledger for `s`, insertion-order-free: (key, seconds) pairs. */
  def buildSeconds(s: SparkSession): Seq[(String, Double)] =
    buildLog.collect { case ((ss, k), sec) if ss eq s => (k, sec) }.toSeq

  private def logged[T](s: SparkSession, key: String)(build: => T): T = {
    val t0 = System.nanoTime()
    val v = build
    buildLog.put((s, key), (System.nanoTime() - t0) / 1e9)
    v
  }

  private def hookEviction(s: SparkSession): Unit =
    if (evictionHooked.putIfAbsent(s, ()).isEmpty) {
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          evict(s)
          evictionHooked.remove(s): Unit
        }
      })
    }

  /** A scratch dir owned by a session, deleted by [[evict]]. */
  private final case class ScratchDir(path: String)

  /** Register scratch dir `dir` ([[Paths.scratch]]) to session `s`. */
  private[graft] def own(s: SparkSession, dir: String): Unit = {
    hookEviction(s)
    cache.put((s, s"scratch:$dir"), ScratchDir(dir)): Unit
  }

  /** Forget every memo entry and build-ledger line of `s`, and delete its
    * scratch dirs. Its frames' blocks become droppable. */
  private[graft] def evict(s: SparkSession): Unit = {
    cache.keys.filter(_._1 eq s).flatMap(cache.remove).foreach {
      case ScratchDir(dir) => Paths.delete(dir); case _ => () }
    buildLog.keys.filter(_._1 eq s).foreach(buildLog.remove)
  }

  /** Drop every cached dataset and persisted RDD of `s`'s context except
    * the blocks behind that context's live memo frames.
    *
    * Operators use [[RoundCheckpointer.checkpoint]] to cut recompute
    * inside one query, but those blocks live until the context ends, so a
    * long batch session fills its storage pool with dead blocks and late
    * queries run under eviction and GC pressure. [[SparkEntry.run]] calls
    * this between queries. Memo frames are the one legitimate cross-query
    * cache; matching on the context keeps another context's frames (RDD
    * ids restart in every context) from sparing an unrelated RDD. */
  def dropUnpinned(s: SparkSession): Unit = {
    val sc = s.sparkContext
    val live = cache.iterator.collect {
      case ((ss, _), ds: Dataset[_]) if ss.sparkContext eq sc =>
        ds.queryExecution.analyzed.collectLeaves().collect {
          case lr: LogicalRDD => lr.rdd.id
        }
    }.flatten.toSet
    s.sharedState.cacheManager.clearCache()
    sc.getPersistentRDDs.filterNot { case (id, _) => live(id) }
      .values.foreach(RoundCheckpointer.free)
  }

  /** The stage frame for (session, key): built and checkpointed on first
    * use; returned from the memo afterwards.
    *
    * The loser of a build race is released through its RDD
    * ([[RoundCheckpointer.release]] — `Dataset.unpersist` only uncaches via
    * the CacheManager, which never held a checkpoint's blocks); it never
    * entered the memo, so [[dropUnpinned]] would drop its blocks anyway. */
  def frame(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    cache.get((s, key)) match {
      case Some(df) => df.asInstanceOf[DataFrame]
      case None =>
        hookEviction(s)
        val cp = logged(s, key)(RoundCheckpointer.checkpoint(build))
        cache.putIfAbsent((s, key), cp) match {
          case Some(winner) =>
            RoundCheckpointer.release(cp) // lost the race: free the blocks
            winner.asInstanceOf[DataFrame]
          case None => cp
        }
    }

  /** Memoized non-frame artifact (a written store's path, a collected
    * scalar). `build` runs at most once per (session, key) absent a race;
    * on a race both builds run and one result wins. */
  def value[T <: AnyRef](s: SparkSession, key: String)(build: => T): T =
    cache.get((s, key)) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        hookEviction(s)
        val v = logged(s, key)(build)
        cache.putIfAbsent((s, key), v)
          .fold(v)(_.asInstanceOf[T])
    }
}
