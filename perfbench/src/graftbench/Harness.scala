package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** One timed op: a pipeline step or a query. `memoBuilds`/`memoS` are the
  * StageMemo builds that ran inside it (charged to the op that paid). */
final case class OpRecord(name: String, seconds: Double, buildS: Double,
                          error: Option[String], memoBuilds: Int,
                          memoS: Double)

/** One complete run of a workload on a fresh SparkContext. The closed
  * loop is the caller's: ops run one after another on this thread, so no
  * two jobs of the benchmark ever overlap.
  *
  * Every op is wrapped in [[opStart]]/[[opEnd]] (queries through [[op]],
  * pipeline steps through [[stepObserver]]): the op's jobs carry its name
  * as job group, its StageMemo builds are the ledger delta across it, and
  * the listener bus is drained at its end so the [[Probe]] has seen all of
  * its events before the next op starts. */
final class Harness(val spark: SparkSession, val runDir: File,
                    val traced: Boolean) {
  val probe = new Probe(traced)
  val cores: Int = spark.sparkContext.defaultParallelism
  spark.sparkContext.addSparkListener(probe)
  spark.listenerManager.register(probe)

  private val anchorUs = System.currentTimeMillis() * 1000
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000

  val runSpan: Int = probe.newSpanId()
  val records = mutable.ArrayBuffer.empty[OpRecord]
  /** Layer timings measured inside ops (e.g. `store_commit_s`). */
  val extra = mutable.LinkedHashMap.empty[String, Double]
  private var startUs, endUs = 0L
  private var gc0, gc1 = 0L
  private var peakStorage = 0L

  private var opName = Harness.Runner
  private var opSpan = 0
  private var opStartUs = 0L
  private var buildUs = 0L
  private var memo0: Map[String, Double] = Map.empty

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def begin(): Unit = { gc0 = gcMs; startUs = nowUs }

  def end(): Unit = {
    BenchBus.drain(spark.sparkContext)
    endUs = nowUs
    gc1 = gcMs
    probe.addSpan(Span(runSpan, 0, "run", runDir.getName, startUs, endUs))
    probe.stopSpans()
    // verification after the run is charged to its own bucket
    probe.current = Harness.Verify
    spark.sparkContext.setJobGroup(Harness.Verify, Harness.Verify)
  }

  def opStart(name: String): Unit = {
    opName = name
    memo0 = graft.StageMemo.buildSeconds(spark).toMap
    probe.current = name
    spark.sparkContext.setJobGroup(name, name)
    probe.tracing {
      opSpan = probe.newSpanId()
      probe.bindOpSpan(name, opSpan)
    }
    buildUs = 0L
    opStartUs = nowUs
  }

  def opEnd(error: Option[Throwable]): Unit = {
    val t1 = nowUs
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.clearJobGroup()
    probe.current = Harness.Runner
    val memo = graft.StageMemo.buildSeconds(spark)
      .filterNot { case (k, _) => memo0.contains(k) }
    sampleStorage()
    probe.addSpan(Span(opSpan, runSpan, "op", opName, opStartUs, t1))
    records += OpRecord(opName, (t1 - opStartUs) / 1e6, buildUs / 1e6,
      error.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}"),
      memo.size, memo.map(_._2).sum)
  }

  /** Runs `body` as the op `name`; a failure is recorded, not thrown. */
  def op[T](name: String)(body: => T): Option[T] = {
    opStart(name)
    try { val v = body; opEnd(None); Some(v) }
    catch { case e: Exception => opEnd(Some(e)); None }
  }

  /** A traced sub-interval of the current op; `build` also feeds
    * [[OpRecord.buildS]]. */
  def phase[T](label: String)(body: => T): T = {
    val t0 = nowUs
    try body
    finally {
      val t1 = nowUs
      if (label == "build") buildUs += t1 - t0
      probe.addSpan(Span(probe.newSpanId(), opSpan, "phase", label, t0, t1))
    }
  }

  /** Times `body` into [[extra]] under `key` (seconds, summed). */
  def timed[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally extra(key) = extra.getOrElse(key, 0.0) +
      (System.nanoTime() - t0) / 1e9
  }

  /** Block-manager storage (memos, checkpoints, caches) in use now. */
  def sampleStorage(): Unit = {
    val used = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    peakStorage = math.max(peakStorage, used)
  }

  /** Observer that makes every PipelineRunner step an op. */
  def stepObserver: graft.migration.MigrationOps.StepObserver =
    new graft.migration.MigrationOps.StepObserver {
      override def onStart(i: Int, n: String): Unit = opStart(n)
      override def onSuccess(i: Int, n: String): Unit = opEnd(None)
      override def onFailure(i: Int, n: String, e: Throwable): Unit =
        opEnd(Some(e))
    }

  // ---- run-level results (valid after end()) ---------------------------

  def wallS: Double = (endUs - startUs) / 1e6
  def gcS: Double = (gc1 - gc0) / 1e3
  def peakStorageMb: Double = peakStorage / 1e6
  def startEpochUs: Long = startUs
  def endEpochUs: Long = endUs

  /** Counters of the run: every op plus runner-level work, not the
    * verification that follows it. */
  def runCounters: Counters = {
    val c = new Counters
    probe.ops.filter(_._1 != Harness.Verify).foreach { case (_, o) => c += o }
    c
  }

  /** Run wall time during which no task was running: driver-side
    * planning, scheduling, result handling and the runner itself. */
  def driverOnlyS: Double = {
    val lo = startUs / 1000; val hi = endUs / 1000
    val iv = probe.taskIntervals.map { case (a, b) =>
      (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    math.max(0.0, wallS - busy / 1e3)
  }
}

object Harness {
  val Runner = "runner"
  val Verify = "verify"
}
