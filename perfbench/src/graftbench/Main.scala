package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString
}

/** The benchmark driver: one workload, one JVM, closed loop.
  *
  * {{{
  *   --workload migrate|queries --seed N --seconds S --trace 0|1
  *   --work DIR   scratch for inputs and run outputs (emptied first)
  *   --out DIR    where the trace file goes
  *   --home DIR   the benchmark directory (expected query results)
  *   --dump DIR   queries only: write the lake, each query's result and
  *                digest and oracle_sql.json under DIR, then stop
  * }}}
  *
  * Set-up (JVM start, [[SetupReps]] x (session start + input
  * generation), then one checked but untimed warm-up run that pays the
  * JIT and class loading) is followed by timed runs until `--seconds`
  * have passed, at least [[MinRuns]]. Every run starts on a fresh
  * SparkContext, so its StageMemo builds fall inside it. With
  * `--trace 1` one timed run follows the warm-up and also records spans,
  * and the result carries the per-layer metrics. The last stdout line is
  * the result object.
  */
object Main {

  val SetupReps = 3
  /** Timed runs an untraced invocation makes at least; `run_s` is their
    * median. */
  val MinRuns = 2
  val MigrateOrders = 1000

  val Kernels: Seq[String] = Seq("word_ngrams", "shingles3", "minhash_sig",
    "lsh_buckets", "simhash64", "cosine_sim")

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "run_s" -> "s",
    "rows_per_s" -> "rows/s", "shuffle_mb" -> "MB", "write_mb" -> "MB",
    "cache_mb" -> "MB")

  val SharedLayer: Seq[String] = Seq("spark.task_s", "spark.cpu_util",
    "spark.gc_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "spark.spill_mb", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.driver_only_s", "plans.analysis_s", "plans.optimization_s",
    "plans.planning_s", "plans.codegen_fallbacks", "stagememo.builds",
    "stagememo.build_s", "trace.overhead_ratio", "trace.spans")

  /** Every per-layer metric, in BENCHMARK.json order. A run reports all
    * of them; a layer its workload does not exercise reads 0. */
  val PerLayer: Seq[String] = SharedLayer ++ Migrate.layerNames ++
    QueryWorkload.layerNames ++ Kernels.map(k => s"functions.$k.rows_per_s")

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("rows_per_s") => "rows/s"
    case m if m.endsWith("_s") || m.endsWith(".s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("ratio") || m.endsWith("util") => "ratio"
    case _ => "count"
  }

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, out: File, home: File,
                        dump: Option[File])

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")), new File(need("--out")),
      new File(need("--home")), m.get("--dump").map(new File(_)))
  }

  def main(args: Array[String]): Unit = {
    val mainAt = System.currentTimeMillis()
    val code =
      try run(parse(args), mainAt)
      catch { case e: Throwable => e.printStackTrace(); 2 }
    sys.exit(code)
  }

  private def stopSession(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** A session on a new SparkContext: nothing memoized, nothing cached. */
  private def session(): SparkSession = {
    stopSession()
    graft.Graft.session("graftbench")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One finished run and what it checked. */
  final case class RunResult(h: Harness, problems: Seq[(String, String)],
                             outputBytes: Long, layer: Map[String, Double]) {
    def failedOps: Set[String] =
      h.records.filter(_.error.isDefined).map(_.name).toSet ++
        problems.map(_._1)
    def writeMb: Double = (outputBytes + h.runCounters.shuffleWrite +
      h.runCounters.spill) / 1e6
    def memoBuilds: Int = h.records.map(_.memoBuilds).sum
  }

  private def run(a: Args, mainAt: Long): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Workload.deleteTree(a.work)
    a.work.mkdirs()
    a.out.mkdirs()
    val w: Workload = a.workload match {
      case "migrate" => new Migrate(a.seed, MigrateOrders)
      case "queries" => new QueryWorkload(a.home, a.seed)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val problems = mutable.ArrayBuffer.empty[(String, String)]
    var attempted = 0
    var failed = 0

    def runOnce(label: String, traced: Boolean): RunResult = {
      val dir = new File(a.work, label)
      dir.mkdirs()
      val h = new Harness(session(), dir, traced)
      h.begin()
      val verify = w.run(h)
      h.end()
      val checks = verify()
      val r = RunResult(h, checks, Workload.sizeOf(dir),
        if (traced) w.layerMetrics(h) else Map.empty)
      Workload.deleteTree(dir)
      attempted += h.records.size
      failed += r.failedOps.size
      problems ++= h.records.collect { case OpRecord(n, _, _, Some(e), _, _) =>
        s"$label.$n" -> e }
      problems ++= checks.map { case (op, p) => s"$label.$op" -> p }
      r
    }

    (w, a.dump) match {
      case (q: QueryWorkload, Some(out)) =>
        q.prepare(session(), new File(out, "lake"))
        q.dump(session(), out)
        stopSession()
        return 0
      case (_, Some(_)) =>
        throw new IllegalArgumentException("--dump is for queries only")
      case _ =>
    }

    // ---- set-up ------------------------------------------------------
    val setupReps = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      w.prepare(session(), new File(a.work, s"input-$i"))
      stopSession()
      if (i > 1) Workload.deleteTree(new File(a.work, s"input-${i - 1}"))
      (System.nanoTime() - t0) / 1e9
    }
    val bootS = (mainAt - jvmStart) / 1e3
    def report(label: String, r: RunResult): Unit =
      System.err.println(f"[graftbench] $label: ${r.h.wallS}%.3f s, " +
        f"memo builds ${r.memoBuilds}; " +
        r.h.records.map(o => f"${o.name} ${o.seconds}%.2f").mkString(", "))

    // ---- warm-up: a whole run, checked like the timed ones -------------
    val w0 = System.nanoTime()
    report("warm-up", runOnce("warmup", traced = false))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = bootS + median(setupReps) + warmS
    System.err.println(f"[graftbench] setup: boot $bootS%.2f s, inputs " +
      setupReps.map(x => f"$x%.2f").mkString("/") +
      f" s, warm-up $warmS%.2f s")

    // ---- timed runs (with --trace 1: one traced run) -------------------
    val runs = mutable.ArrayBuffer.empty[RunResult]
    val t0 = System.nanoTime()
    while (runs.isEmpty || (!a.trace && (runs.size < MinRuns ||
        (System.nanoTime() - t0) / 1e9 < a.seconds))) {
      runs += runOnce(s"run-${runs.size}", traced = a.trace)
      report(s"run ${runs.size}", runs.last)
    }

    w match {
      case m: Migrate if a.trace =>
        attempted += 1
        val rp = m.resumeCheck(() => session(), a.work)
        if (rp.nonEmpty) { failed += 1; problems ++= rp }
      case _ =>
    }

    val runS = median(runs.map(_.h.wallS).toSeq)
    val layer: Map[String, Double] = if (!a.trace) Map.empty else {
      val t = runs.head
      val kernels = w match {
        case q: QueryWorkload => kernelProbes(session(), q.lakeDir)
        case _ => Map.empty[String, Double]
      }
      val values = layerMetrics(t) ++ t.layer ++
        kernels.map { case (k, v) => s"functions.$k.rows_per_s" -> v }
      attempted += 1
      val sp = writeTrace(a, t, values)
      if (sp.nonEmpty) { failed += 1; problems ++= sp.map("trace" -> _) }
      values
    }
    stopSession()

    problems.foreach { case (op, p) =>
      System.err.println(s"[graftbench] FAILED $op: $p") }

    val metrics: Seq[(String, Double)] =
      if (a.trace) PerLayer.map(n => n -> layer.getOrElse(n, 0.0))
      else Seq(
        "setup_s" -> setupS,
        "run_s" -> runS,
        "rows_per_s" -> w.inputRows / runS,
        "shuffle_mb" -> median(runs.map(_.h.runCounters.shuffleWrite / 1e6).toSeq),
        "write_mb" -> median(runs.map(_.writeMb).toSeq),
        "cache_mb" -> median(runs.map(_.h.peakStorageMb).toSeq))
    val units = EndToEnd.toMap
    val body = metrics.map { case (n, v) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": " +
        s"${Json.str(units.getOrElse(n, unitOf(n)))}}"
    }.mkString("{", ", ", "}")
    Workload.deleteTree(a.work)
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $body}""")
    if (failed == 0) 0 else 1
  }

  /** Shared per-layer metrics of the traced run. */
  private def layerMetrics(t: RunResult): Map[String, Double] = {
    val h = t.h
    val c = h.runCounters
    Map(
      "spark.task_s" -> c.taskMs / 1e3,
      "spark.cpu_util" -> c.cpuNs / 1e9 / (h.wallS * h.cores),
      "spark.gc_s" -> h.gcS,
      "spark.shuffle_read_mb" -> c.shuffleRead / 1e6,
      "spark.shuffle_write_mb" -> c.shuffleWrite / 1e6,
      "spark.spill_mb" -> c.spill / 1e6,
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.driver_only_s" -> h.driverOnlyS,
      "plans.analysis_s" -> c.analysisMs / 1e3,
      "plans.optimization_s" -> c.optimizationMs / 1e3,
      "plans.planning_s" -> c.planningMs / 1e3,
      "plans.codegen_fallbacks" -> c.fallbacks.toDouble,
      "stagememo.builds" -> t.memoBuilds.toDouble,
      "stagememo.build_s" -> h.records.map(_.memoS).sum,
      "trace.overhead_ratio" -> h.probe.tracingNs / 1e9 / h.wallS,
      "trace.spans" -> h.probe.spans.size.toDouble)
  }

  /** Native-expression throughput over the corpus input, each projected
    * and materialized through `noop` (median of 3). */
  private def kernelProbes(spark: SparkSession, lake: String)
  : Map[String, Double] = {
    spark.sparkContext.setJobGroup("probe", "probe")
    val docs = spark.read.parquet(s"$lake/documents.parquet")
      .select("doc_id", "text").cache()
    val emb = spark.read.parquet(s"$lake/embeddings.parquet")
      .select("vec_id", "embedding").cache()
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    val qs = broadcast(emb.filter(col("vec_id") < 10)
      .select(col("embedding").as("q")))
    import graft.llm.LlmOps.{cosine, minhashSig, shingles3}
    val probes: Seq[(String, DataFrame, Double)] = Seq(
      ("word_ngrams", docs.select(call_function("word_ngrams", col("text"),
        lit(8), lit(false))), nDocs),
      ("shingles3", docs.select(shingles3(col("text"))), nDocs),
      ("minhash_sig", docs.select(minhashSig(shingles3(col("text")), 128)),
        nDocs),
      ("lsh_buckets", emb.select(call_function("lsh_buckets",
        col("embedding"), lit(8), lit(3))), nEmb),
      ("simhash64", docs.select(call_function("simhash64", col("text"))),
        nDocs),
      ("cosine_sim", emb.crossJoin(qs).select(cosine(col("embedding"),
        col("q"))), nEmb * qs.count()))
    probes.map { case (k, df, rows) =>
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      k -> rows / median(secs)
    }.toMap
  }

  /** Clock slack when a job or stage span (Spark's millisecond clock) is
    * compared with its op (the harness's microsecond clock). */
  val SlackUs = 5000L

  /** Writes the traced run's spans (with self times), per-op counters,
    * plan fingerprints and memo builds to `<out>/trace-<workload>.json`.
    * Returns what is wrong with the spans:
    *  - the self times of the run, its ops and their phases, each net
    *    of its children of those kinds, must add up to the run's wall
    *    time within 1%. The run's self time is the
    *    runner gaps, so this says op spans plus gaps cover the run; ops
    *    or phases that overlap, or a phase outside its op, count twice
    *    and break it;
    *  - every job must have an op of the run as parent and lie inside it,
    *    and every stage must have a job as parent and lie inside it. */
  private def writeTrace(a: Args, t: RunResult,
                         values: Map[String, Double]): Seq[String] = {
    val h = t.h
    val spans = h.probe.spans
    val byId = spans.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    def union(iv: Seq[(Long, Long)]): Long = {
      var total = 0L; var a0 = -1L; var b0 = -1L
      iv.sortBy(_._1).foreach { case (x, y) =>
        if (x > b0) { total += b0 - a0; a0 = x; b0 = y }
        else b0 = math.max(b0, y)
      }
      total + b0 - a0
    }
    def self(s: Span, child: Span => Boolean): Long = (s.endUs - s.startUs) -
      union(kids.getOrElse(s.id, Nil).filter(child).map(k =>
        (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        .filter { case (x, y) => y > x })
    val selfUs: Map[Int, Long] = spans.map(s => s.id -> self(s, _ => true)).toMap
    // the driver-side tree alone: run > op > phase
    val driverSide = Set("run", "op", "phase")
    val driverSelf = spans.filter(s => driverSide(s.kind))
      .map(s => s.kind -> self(s, k => driverSide(k.kind)))
    val selfSumUs = driverSelf.map(_._2).sum
    val coverage = selfSumUs / 1e6 / h.wallS
    def inside(s: Span, p: Option[Span], kind: String): Option[String] =
      p.filter(_.kind == kind) match {
        case None => Some(s"${s.kind} '${s.name}' has no $kind parent")
        case Some(q) if s.startUs < q.startUs - SlackUs ||
            s.endUs > q.endUs + SlackUs =>
          Some(s"${s.kind} '${s.name}' [${s.startUs}, ${s.endUs}] lies " +
            s"outside its $kind '${q.name}' [${q.startUs}, ${q.endUs}]")
        case _ => None
      }
    val problems =
      (if (math.abs(coverage - 1.0) <= 0.01) Nil
       else Seq(f"run, op and phase self times cover $coverage%.4f of the " +
         "run's wall")) ++
      spans.collect {
        case s if s.kind == "job" => inside(s, byId.get(s.parent), "op")
        case s if s.kind == "stage" => inside(s, byId.get(s.parent), "job")
      }.flatten
    val counters = h.probe.ops.map { case (op, c) =>
      s"${Json.str(op)}: {" + Seq(
        "task_ms" -> c.taskMs, "cpu_ms" -> c.cpuNs / 1000000,
        "shuffle_read_bytes" -> c.shuffleRead,
        "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill,
        "output_bytes" -> c.outputBytes, "jobs" -> c.jobs,
        "stages" -> c.stages, "tasks" -> c.tasks,
        "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
        "planning_ms" -> c.planningMs, "codegen_fallbacks" -> c.fallbacks)
        .map { case (k, v) => s""""$k": $v""" }.mkString(", ") +
        c.plan.map(p => s""", "plan": ${p.json}""").getOrElse("") + "}"
    }.mkString("{", ",\n  ", "}")
    val memo = h.records.map(r =>
      s"""${Json.str(r.name)}: {"builds": ${r.memoBuilds}, "build_s": ${Json.num(r.memoS)}}""")
      .mkString("{", ", ", "}")
    val spanJson = spans.sortBy(_.startUs).map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": ${Json.str(s.kind)}, """ +
        s""""name": ${Json.str(s.name)}, "start_us": ${s.startUs}, """ +
        s""""end_us": ${s.endUs}, "self_us": ${selfUs(s.id)}}""")
      .mkString("[\n  ", ",\n  ", "]")
    val metricJson = values.toSeq.sorted.map { case (k, v) =>
      s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    val runnerUs = driverSelf.collect { case ("run", us) => us }.sum
    val doc =
      s"""{"workload": ${Json.str(a.workload)}, "seed": ${a.seed},
         |"wall_s": ${Json.num(h.wallS)},
         |"op_s": ${Json.num((selfSumUs - runnerUs) / 1e6)},
         |"gap_s": ${Json.num(runnerUs / 1e6)},
         |"coverage": ${Json.num(coverage)},
         |"problems": ${problems.map(Json.str).mkString("[", ", ", "]")},
         |"metrics": $metricJson,
         |"memo": $memo,
         |"ops": $counters,
         |"spans": $spanJson}
         |""".stripMargin
    Files.write(new File(a.out, s"trace-${a.workload}.json").toPath,
      doc.getBytes(StandardCharsets.UTF_8))
    problems
  }
}
