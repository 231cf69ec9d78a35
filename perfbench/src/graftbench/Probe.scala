package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters charged to one op (or to `runner` for work outside
  * any op). Times in ms unless the name says otherwise. */
final class Counters {
  var taskMs, cpuNs, shuffleRead, shuffleWrite, spill, outputBytes,
    outputRecords, inputRecords, jobs, stages, tasks = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** CodegenFallback expressions over every plan the op executed. */
  var fallbacks = 0L
  /** Fingerprint of the op's last executed plan: the `noop`
    * materialization of a query, the last write of a step. */
  var plan: Option[PlanPrint] = None

  def +=(o: Counters): Unit = {
    taskMs += o.taskMs; cpuNs += o.cpuNs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    inputRecords += o.inputRecords; jobs += o.jobs; stages += o.stages
    tasks += o.tasks; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    fallbacks += o.fallbacks
  }
}

/** A traced interval. Times are epoch microseconds; `parent` is 0 for
  * the root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startUs: Long, endUs: Long)

/** The benchmark's listener for one SparkContext: a SparkListener for
  * jobs, stages and tasks and a QueryExecutionListener for planning
  * phases and final plans. Jobs are charged to the op named by their job
  * group (set by [[Harness]] around every op); query executions, which
  * carry no group, to the op current when they are delivered — the
  * harness drains the bus at every op end, so that is the op that ran
  * them. Counters are always recorded; spans only when `traced`, and only
  * until [[stopSpans]] (the end of the run). */
final class Probe(traced: Boolean) extends SparkListener
    with QueryExecutionListener {

  @volatile var current: String = Harness.Runner
  @volatile private var spansOn = traced

  private val byOp = mutable.LinkedHashMap.empty[String, Counters]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val openJobs = mutable.Map.empty[Int, (Int, String, Long)]
  private val jobSpanOf = mutable.Map.empty[Int, Int]
  private val opSpan = mutable.Map.empty[String, Int]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def counters(op: String): Counters = synchronized {
    byOp.getOrElseUpdate(op, new Counters)
  }
  def ops: Seq[(String, Counters)] = synchronized(byOp.toSeq)
  def spans: Seq[Span] = synchronized(spanBuf.toSeq)
  /** (launch, finish) epoch ms of every finished task. */
  def taskIntervals: Seq[(Long, Long)] = synchronized(intervals.toSeq)

  def newSpanId(): Int = synchronized { nextId += 1; nextId - 1 }
  def stopSpans(): Unit = spansOn = false

  /** Nanoseconds spent in [[tracing]] blocks, on any thread. */
  def tracingNs: Long = tracingTotal.get
  private val tracingTotal = new java.util.concurrent.atomic.AtomicLong

  /** Runs `body` only while spans are recorded, and times it: every
    * branch that only a traced run takes goes through here. */
  def tracing(body: => Unit): Unit = if (spansOn) {
    val t0 = System.nanoTime()
    try body finally tracingTotal.addAndGet(System.nanoTime() - t0)
  }

  def addSpan(s: => Span): Unit = tracing(record(s))
  private def record(s: Span): Unit = synchronized(spanBuf += s)
  def bindOpSpan(op: String, id: Int): Unit = synchronized(opSpan(op) = id)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(current)
    e.stageIds.foreach { s =>
      stageOp.getOrElseUpdate(s, op); stageJob.getOrElseUpdate(s, e.jobId)
    }
    counters(op).jobs += 1
    tracing {
      val id = newSpanId()
      openJobs(e.jobId) = (id, op, e.time)
      jobSpanOf(e.jobId) = id
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    tracing(openJobs.remove(e.jobId).foreach { case (id, op, t0) =>
      record(Span(id, opSpan.getOrElse(op, 0), "job", s"job ${e.jobId}",
        t0 * 1000, e.time * 1000))
    })
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      counters(stageOp.getOrElse(info.stageId, current)).stages += 1
      tracing(for (t0 <- info.submissionTime; t1 <- info.completionTime) {
        val parent = stageJob.get(info.stageId).flatMap(jobSpanOf.get)
          .getOrElse(0)
        record(Span(newSpanId(), parent, "stage",
          s"stage ${info.stageId}: ${info.name}", t0 * 1000, t1 * 1000))
      })
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageOp.getOrElse(e.stageId, current))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
      c.inputRecords += m.inputMetrics.recordsRead
    }
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val c = counters(current)
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs += ms("analysis")
    c.optimizationMs += ms("optimization")
    c.planningMs += ms("planning")
    val plan = PlanPrint.of(qe.executedPlan)
    c.fallbacks += plan.fallbackCount
    c.plan = Some(plan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
