package graft.migration

import graft.{Paths, QueryModule}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The migration domain core — the reference's one real program
  * (SURVEY.md §3.1, §7 phase 4), re-expressed Spark-first.
  *
  * Reference pipeline (azanium `migrate`, runcommand.py:299-333):
  *   ACeDB `.ace` dump → EDN logs → timestamp sort → ordered import →
  *   apply patches → QA reconciliation report vs the id catalog.
  *
  * Spark mapping:
  *  - `.ace` paragraph → datoms: scalar UDF returning array<struct> +
  *    `explode` (UDF-1/UDF-3; paragraph format contract from the reference's
  *    acedump shape, runcommand.py:134-150; datom shape pseudoace.py:69-76);
  *  - ordered import = `max(struct(ts, …))` grouped on (e, path) — the shuffle
  *    carries one row per datom, the "sort" is implicit in the max, so at
  *    100 TB this is a single hash-aggregate, not a global sort
  *    (pseudoace.py:87-102's sort-then-replay collapses into latest-wins);
  *  - apply-patches = same latest-wins over base∪patches with patch ts >
  *    base ts (MERGE semantics, pseudoace.py:105-110);
  *  - QA report = full-outer join of per-class counts vs the id catalog
  *    (pseudoace.py:113-124), missing objects = left-anti (JOIN-5);
  *  - markdown/html render of the final (small) report mirrors
  *    util.py:74-99 (dedupe, sort desc by first count column,
  *    right-justified padding): one Spark query, formatted on the driver;
  *  - checkpoint/resume runner mirrors runcommand.py:389-409's
  *    last-step-ok state with idempotent skip-if-done steps.
  */
object MigrationOps extends QueryModule {

  /** Root of the homology second store (mig6b) — deliberately distinct from
    * the main datom store so the two lifecycles are independent, like the
    * reference's separate homology DB (runcommand.py:439-461). */
  val HomolStoreDir = Paths.sink("mig6b_homol_store")

  // ---- datom parser (UDF-1) ----------------------------------------------

  /** One parsed datom: entity "Class:Ident", dotted tag path, value, op. */
  case class AceDatom(e: String, path: String, value: String, op: String)

  private val headerRe = """^(\S+) : "(.+)"$""".r
  private val lineRe = """^(.*?)\s*"([^"]*)"$""".r

  /** Parse one `.ace` paragraph into datoms. `-D` line prefix = retraction
    * (tace delete syntax). Malformed lines are skipped, not errors — the
    * reference's dumps are machine-written, so strictness buys nothing and
    * a poison paragraph must not kill a 100 TB import. */
  def parseAceParagraph(paragraph: String): Seq[AceDatom] = {
    val lines = paragraph.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    lines.headOption match {
      case Some(headerRe(cls, ident)) =>
        lines.tail.flatMap { ln =>
          val (op, body) =
            if (ln.startsWith("-D ")) ("retract", ln.substring(3))
            else ("assert", ln)
          body match {
            case lineRe(pathStr, v) if pathStr.trim.nonEmpty =>
              Some(AceDatom(s"$cls:$ident",
                pathStr.trim.split("\\s+").mkString("."), v, op))
            case _ => None
          }
        }
      case _ => Seq.empty
    }
  }

  /** UDF wrapper: paragraph string → array<struct<e,path,value,op>>. */
  val parseAce = udf(parseAceParagraph _)

  // ---- EDN log-line parser (SURVEY §4 custom-work item 2) ----------------

  /** One EDN log datom: `[:db/add|:db/retract "e" :path "value" ts]`. */
  case class EdnDatom(e: String, path: String, value: String, op: String,
                      ts: Long)

  private val ednRe =
    """^\[(:db/add|:db/retract) "([^"]+)" :(\S+) "([^"]*)" (\d+)\]$""".r

  /** Parse one EDN log line; malformed lines → None (same poison-line
    * policy as the .ace parser). */
  def parseEdnLine(line: String): Option[EdnDatom] = line.trim match {
    case ednRe(kw, e, path, v, ts) =>
      Some(EdnDatom(e, path, v,
        if (kw == ":db/add") "assert" else "retract", ts.toLong))
    case _ => None
  }

  val parseEdn = udf(parseEdnLine _)

  /** Read gzipped EDN log files into the changelog frame (gz codec is
    * transparent to the text source; one task per file, the reference's
    * per-class dump parallelism). A glob `path` is expanded here and its
    * matched files are read: handed one glob, the file source stats it as
    * a literal path while it looks for a streaming `_spark_metadata` dir,
    * and logs a WARN with a FileNotFoundException stack trace per read.
    * A glob that matches nothing is read as given, so it fails with the
    * source's PATH_NOT_FOUND analysis error. */
  def ednTextDatoms(s: SparkSession, path: String): DataFrame = {
    val glob = new org.apache.hadoop.fs.Path(path)
    val files = Option(glob.getFileSystem(s.sparkContext.hadoopConfiguration)
      .globStatus(glob)).toSeq.flatten.map(_.getPath.toString)
    s.read.text((if (files.isEmpty) Seq(path) else files): _*)
      .select(parseEdn(col("value")).as("d"))
      .filter(col("d").isNotNull)
      .select(col("d.ts").as("ts"), col("d.e").as("e"),
        col("d.path").as("path"), col("d.value").as("value"),
        col("d.op").as("op"))
  }

  /** Read an `.ace` dump file into a datom DataFrame (one row per datom).
    * Blank-line paragraph split via lineSep; explode = the UDTF surface
    * (UDF-3). One task per file at scale — matches the reference's
    * many-files dump layout. */
  def aceDatoms(s: SparkSession, path: String): DataFrame =
    s.read.option("lineSep", "\n\n").text(path)
      .filter(trim(col("value")) =!= "")
      .select(explode(parseAce(col("value"))).as("d"))
      .select(col("d.e").as("e"), col("d.path").as("path"),
        col("d.value").as("value"), col("d.op").as("op"))

  // ---- latest-wins import (the ordered-EDN-import semantics) -------------

  /** Deterministic ordering key for latest-wins: ts first, then at equal ts
    * an assert beats a retract (the common `.ace` patch idiom `-D old` +
    * re-assert lands both in ONE patch, i.e. one ts), then value as a final
    * total-order tiebreak. `op_rank` is 1 exactly when the op asserts, so
    * the key's max alone says both the winning value and whether it lives. */
  private def lwOrderKey: Column = struct(col("ts"), opRank, col("value"))

  private def opRank: Column =
    when(col("op") === "assert", 1).otherwise(0).as("op_rank")

  /** Final DB state from an (e, path, value, op, ts) changelog: for each
    * (e, path) take the max [[lwOrderKey]]; keep it only if that row
    * asserts. One aggregate — no global sort, no window.
    * NOTE these are cardinality-ONE semantics (a newer assert on the same
    * (e, path) replaces the old value — the Datomic card-one mapping);
    * multi-valued ACeDB tags go through [[latestWinsMulti]]. */
  def latestWins(log: DataFrame): DataFrame =
    log.groupBy("e", "path").agg(max(lwOrderKey).as("w"))
      .filter(col("w.op_rank") === 1)
      .select(col("e"), col("path"), col("w.value").as("value"))

  /** Cardinality-MANY latest-wins: the datom triple (e, path, value) is the
    * unit of assertion/retraction, so concurrent values on one tag all
    * survive and `-D` retracts exactly the value it names (ACeDB's native
    * multi-valued tag semantics). Tie at equal ts on one triple → assert
    * wins (a patch that retracts and re-asserts the same datom keeps it). */
  def latestWinsMulti(log: DataFrame): DataFrame =
    log.groupBy("e", "path", "value")
      .agg(max(struct(col("ts"), opRank)).as("w"))
      .filter(col("w.op_rank") === 1)
      .select("e", "path", "value")

  // ---- UDAF variant (UDF-2): same semantics as an Aggregator -------------

  case class LwIn(value: String, op: String, ts: Long)
  case class LwBuf(set: Boolean, ts: Long, value: String, op: String)

  /** Latest-wins accumulator as a typed Aggregator → registered via udaf.
    * Buffer carries (set, bestTs, value, op); merge is associative/
    * commutative, so Spark's partial aggregation (map-side combine) applies —
    * the shuffle ships one buffer per (e,path) per partition, not the raw
    * changelog. Ordering matches [[lwOrderKey]]: (ts, assert>retract, value)
    * with value compared in UTF-8 binary order (the same order Spark's
    * struct max and the DuckDB oracle use — Java String.compareTo is
    * UTF-16 code-unit order, which diverges on supplementary-plane chars)
    * and null < any non-null value (Spark's struct-field null ordering).
    * The empty buffer is an explicit `set=false` sentinel, not inferred from
    * value nullity, so null values in the input keep the total order. */
  object LatestWinsAgg extends Aggregator[LwIn, LwBuf, LwBuf] {
    def zero: LwBuf = LwBuf(set = false, Long.MinValue, null, null)
    private def opRank(op: String) = if (op == "assert") 1 else 0
    private def cmpValue(a: String, b: String): Int =
      if (a == null && b == null) 0
      else if (a == null) -1
      else if (b == null) 1
      else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    private def wins(aTs: Long, aOp: String, aV: String, b: LwBuf): Boolean =
      !b.set || aTs > b.ts ||
        (aTs == b.ts && (opRank(aOp) > opRank(b.op) ||
          (opRank(aOp) == opRank(b.op) && cmpValue(aV, b.value) > 0)))
    def reduce(b: LwBuf, a: LwIn): LwBuf =
      if (wins(a.ts, a.op, a.value, b)) LwBuf(set = true, a.ts, a.value, a.op)
      else b
    def merge(b1: LwBuf, b2: LwBuf): LwBuf =
      if (!b2.set) b1
      else if (wins(b2.ts, b2.op, b2.value, b1)) b2
      else b1
    def finish(r: LwBuf): LwBuf = r
    def bufferEncoder = Encoders.product[LwBuf]
    def outputEncoder = Encoders.product[LwBuf]
  }

  val latestWinsUdaf = udaf(LatestWinsAgg, Encoders.product[LwIn])

  // ---- shared pipeline stages --------------------------------------------

  private val ednSchema = StructType(Seq(
    StructField("ts", LongType), StructField("e", StringType),
    StructField("path", StringType), StructField("value", StringType),
    StructField("op", StringType)))

  /** The per-file import logs (reference: sorted EDN logs). Explicit schema —
    * no inferSchema pass over 100 TB of text. */
  def ednLogs(s: SparkSession, dir: String = Paths.fixture("edn")): DataFrame =
    s.read.option("header", "true").schema(ednSchema).csv(s"$dir/*.csv")

  /** Per-session stage memo ([[graft.StageMemo]]): mig3–mig11 all consume
    * the same parse→latest-wins chain — recomputing it per query re-reads
    * and re-parses both .ace files every time (the VERDICT r4 #5
    * regression). Each stage is materialized ONCE per session; on a
    * cluster these are the written stage outputs of the PipelineRunner
    * (runcommand.py:389-409's step artifacts), here the in-JVM equivalent. */
  private def stage(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    graft.StageMemo.frame(s, s"mig.$key")(build)

  /** Base dump ∪ patch dump as a changelog: base ts=0, patches ts=1 —
    * patches strictly win (apply-patches MERGE, pseudoace.py:105-110).
    * Materialized once per session ([[stage]]). */
  def patchedLog(s: SparkSession): DataFrame = stage(s, "patchedLog") {
    aceDatoms(s, Paths.fixture("sample.ace")).withColumn("ts", lit(0L))
      .unionByName(
        aceDatoms(s, Paths.fixture("patches.ace")).withColumn("ts", lit(1L)))
  }

  /** Imported DB state after patches. Materialized once per session. */
  def importedState(s: SparkSession): DataFrame =
    stage(s, "importedState")(latestWins(patchedLog(s)))

  private def clsOf(e: Column): Column = split(e, ":").getItem(0)

  /** Per-class object counts of a datom-state DataFrame. */
  def classCounts(state: DataFrame): DataFrame =
    state.select(clsOf(col("e")).as("class_name"), col("e"))
      .groupBy("class_name").agg(countDistinct(col("e")).as("n_db"))

  private val catalogSchema = StructType(Seq(
    StructField("class_name", StringType), StructField("n_ref", LongType)))

  def idCatalog(s: SparkSession): DataFrame =
    s.read.option("header", "true").schema(catalogSchema)
      .csv(Paths.fixture("id_catalog.csv"))

  /** QA reconciliation (pseudoace.py:113-124): expected vs actual per-class
    * counts, full-outer so classes lost by the migration AND unexpected new
    * classes both surface. No broadcast hint: Spark cannot build a
    * broadcast hash join for FULL OUTER (the hint only logs a warning per
    * invocation), and both sides are O(classes) rows — the shuffle is
    * metadata-sized. */
  def qaReport(s: SparkSession): DataFrame =
    classCounts(importedState(s))
      .join(idCatalog(s), Seq("class_name"), "full_outer")
      .select(col("class_name"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_db"), lit(0L)).as("n_db"),
        (coalesce(col("n_db"), lit(0L)) - coalesce(col("n_ref"), lit(0L)))
          .as("n_diff"))

  /** A (small, final) report's rows as the renderers print them, rendered
    * in memory like the reference (util.py:74-99). One Spark query dedupes
    * the report and casts every cell to string and the first count column
    * to long, so Spark's formatting and cast errors stand; the driver sorts
    * by count desc nulls last, then by the cells asc nulls first in UTF-8
    * binary order (Spark's string order). A NULL cell is None. */
  private def sortedCells(report: DataFrame): Seq[IndexedSeq[Option[String]]] = {
    val cols = report.columns.toIndexedSeq
    val asStr = report.distinct()
      .select(cols.map(c => col(c).cast("string").as(c)): _*)
    val utf8 = Ordering.by(UTF8String.fromString(_: String))
    asStr.select(col(cols(1)).cast("long") +: cols.map(col): _*).collect()
      .map(r => ((r.isNullAt(0), if (r.isNullAt(0)) 0L else ~r.getLong(0)),
        cols.indices.map(i => Option(r.getString(i + 1)))))
      .sorted(Ordering.Tuple2(Ordering[(Boolean, Long)],
        Ordering.Implicits.seqOrdering[IndexedSeq, Option[String]](
          Ordering.Option(utf8)))).map(_._2).toSeq
  }

  /** A rendered document as a local (line_no, line) frame, numbered 1..N. */
  private def lineFrame(s: SparkSession, lines: Seq[String]): DataFrame =
    s.createDataFrame(lines.zipWithIndex.map { case (l, i) => (i + 1L, l) })
      .toDF("line_no", "line")

  /** Markdown table render of a (small, final) report — util.py:74-99:
    * dedupe, sort desc by the first count column, cells right-justified to
    * the max width per column. Widths count code points, as Spark's
    * `length`/`lpad` do, except the header label's own UTF-16 length; a
    * NULL cell drops out of its line. */
  def markdownReport(report: DataFrame): DataFrame = {
    val cols = report.columns.toIndexedSeq
    val rows = sortedCells(report)
    def cp(v: String) = v.codePointCount(0, v.length)
    val widths = cols.indices.map(i =>
      (rows.flatMap(_(i)).map(cp) :+ cols(i).length).max)
    def line(cells: Seq[Option[String]], pad: String) = cells.zip(widths)
      .collect { case (Some(v), w) => s" ${pad * (w - cp(v))}$v |" }
      .mkString("|", "", "")
    lineFrame(report.sparkSession, line(cols.map(Some(_)), " ") +:
      line(cols.map(_ => Some("")), "-") +: rows.map(line(_, " ")))
  }

  /** HTML document render of a (small, final) report — the analogue of
    * qa_report_to_html (pseudoace.py:152-158): h1 title + the report as an
    * HTML table (the reference goes CSV → markdown table → markdown lib →
    * HTML; emitting the table directly is the same document without the
    * intermediate). Same rows and order as [[markdownReport]]. */
  def htmlReport(report: DataFrame, title: String): DataFrame = {
    // & before < and > — escaping in the other order double-escapes
    def esc(v: String): String =
      v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val cols = report.columns.toIndexedSeq
    lineFrame(report.sparkSession, Seq(
      s"<html><body><h1>${esc(title)}</h1>", "<table>",
      "<thead><tr>" + cols.map(c => s"<th>${esc(c)}</th>").mkString +
        "</tr></thead>", "<tbody>") ++
      sortedCells(report).map(_.flatten.map(v => s"<td>${esc(v)}</td>")
        .mkString("<tr>", "", "</tr>")) :+
      "</tbody></table></body></html>")
  }

  // ---- checkpoint/resume runner (runcommand.py:389-409) ------------------

  /** A named pipeline step; `run` must be idempotent (re-running a completed
    * step is safe — all graft sinks write mode overwrite). */
  case class Step(name: String, run: SparkSession => Unit)

  /** Pluggable per-step lifecycle hooks — the reference wraps every
    * migration step in Slack notifications (notifications.py:75-82,
    * runcommand.py:403-406); here the transport is an interface so an
    * operator plugs in whatever channel exists (log line, webhook,
    * metrics counter) without touching the runner. `onFailure` fires
    * BEFORE the error propagates — the step's marker is never written,
    * so a resume retries it. */
  trait StepObserver {
    def onStart(index: Int, name: String): Unit = ()
    def onSuccess(index: Int, name: String): Unit = ()
    def onFailure(index: Int, name: String, error: Throwable): Unit = ()
    /** step already checkpointed — resumed run skips it */
    def onSkip(index: Int, name: String): Unit = ()
  }

  /** Default observer: one log line per lifecycle event (the reference's
    * `log-notify` path when Slack is unconfigured). */
  object LoggingStepObserver extends StepObserver {
    private val log = org.slf4j.LoggerFactory.getLogger("graft.pipeline")
    override def onStart(i: Int, n: String): Unit =
      log.info(s"step $i '$n' starting")
    override def onSuccess(i: Int, n: String): Unit =
      log.info(s"step $i '$n' completed")
    override def onFailure(i: Int, n: String, e: Throwable): Unit =
      log.error(s"step $i '$n' FAILED: $e")
    override def onSkip(i: Int, n: String): Unit =
      log.info(s"step $i '$n' already done — skipped (resume)")
  }

  /** Step-granular checkpoint/resume: marker file per completed step, skip
    * on resume — the Spark-side analogue of the reference's shelve-backed
    * last-step-ok index. Driver-side filesystem markers only; all data work
    * happens in Spark jobs. */
  class PipelineRunner(checkpointDir: String,
                       observer: StepObserver = LoggingStepObserver) {
    private val dir = new java.io.File(checkpointDir)
    dir.mkdirs()
    private def marker(i: Int) = new java.io.File(dir, f"step-$i%03d.done")

    /** Runs steps not yet marked done, in order; returns per-step status.
      * Observer contract per step: skip → `onSkip` only; success →
      * `onStart` then `onSuccess` (after the marker is durable); failure →
      * `onStart` then `onFailure`, marker unwritten, error rethrown. */
    def run(s: SparkSession, steps: Seq[Step]): Seq[(Int, String, String)] =
      steps.zipWithIndex.map { case (st, i) =>
        if (marker(i).exists()) {
          observer.onSkip(i, st.name)
          (i, st.name, "skipped")
        } else {
          observer.onStart(i, st.name)
          try st.run(s)
          catch {
            case e: Throwable => observer.onFailure(i, st.name, e); throw e
          }
          marker(i).createNewFile()
          observer.onSuccess(i, st.name)
          (i, st.name, "ran")
        }
      }

    // only this runner's own markers — a foreign *.done file in the
    // checkpoint dir must be ignored, not parsed (or deleted)
    private val markerName = """step-(\d+)\.done""".r

    def reset(): Unit =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => markerName.matches(f.getName)).foreach(_.delete())

    /** reset-to-step (runcommand.py:349-387): forget completion of step `n`
      * and everything after it, so a resume re-runs from `n`; earlier steps
      * keep their markers and still skip. (The reference additionally warns
      * the operator to clean step outputs by hand — here steps are
      * idempotent overwrites, so re-running is safe by construction.) */
    def resetToStep(n: Int): Unit =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName match {
          case markerName(idx) => idx.toInt >= n
          case _               => false
        }).foreach(_.delete())
  }

  // ---- declared queries ---------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MIG-1 (UDF-1/3): .ace dump → datoms; golden CSV is the parser oracle.
    // Sort includes (value, op): multi-valued tags repeat (e, path), so the
    // order must be total for the row-order-sensitive compare.
    "mig1_ace_datoms" -> ((s, _) =>
      aceDatoms(s, Paths.fixture("sample.ace"))
        .select("e", "path", "value", "op")
        .orderBy("e", "path", "value", "op")),

    // MIG-2: ordered latest-wins import of the per-file logs.
    "mig2_latest_wins" -> ((s, _) =>
      latestWins(ednLogs(s)).orderBy("e", "path")),

    // MIG-2b (UDF-2): identical semantics through the typed UDAF.
    "mig2b_latest_wins_udaf" -> ((s, _) =>
      ednLogs(s)
        .groupBy("e", "path")
        .agg(latestWinsUdaf(col("value"), col("op"), col("ts")).as("lw"))
        .filter(col("lw.op") === "assert")
        .select(col("e"), col("path"), col("lw.value").as("value"))
        .orderBy("e", "path")),

    // MIG-2c: same import over the REAL EDN text format (gz) — proves the
    // line parser against the same oracle as the CSV-shaped logs (the
    // fixture encodes the identical changelog both ways).
    "mig2c_edn_import" -> ((s, _) =>
      latestWins(ednTextDatoms(s, Paths.fixture("edn/edn_log.edn.gz")))
        .orderBy("e", "path")),

    // MIG-2d: cardinality-MANY import — datom-triple latest-wins, so
    // multi-valued ACeDB tags keep every live value (ADVICE r3 item 2).
    "mig2d_latest_wins_multi" -> ((s, _) =>
      latestWinsMulti(ednLogs(s)).orderBy("e", "path", "value")),

    // MIG-3: apply-patches MERGE — base ∪ patches, patches win.
    "mig3_apply_patches" -> ((s, _) =>
      importedState(s).orderBy("e", "path")),

    // MIG-3b: apply-patches under cardinality-MANY semantics — a `-D value`
    // patch line retracts exactly the value it names from a multi-valued
    // tag; the tag's other concurrent values survive and new asserts add to
    // the set (ACeDB multi-valued tag surgery, the second half of ADVICE r3
    // item 2). Same single hash-aggregate shape as mig3, keyed on the full
    // datom triple.
    "mig3b_apply_patches_multi" -> ((s, _) =>
      latestWinsMulti(patchedLog(s)).orderBy("e", "path", "value")),

    // MIG-10: input validation (runcommand.py:62-71) — presence + row-count
    // checks over every input table before the pipeline runs; emits one row
    // per table so a missing/empty input fails loudly, not mid-import.
    // `df.count()` on a bare parquet scan prunes ALL columns: the tasks read
    // only row-group metadata (row counts), never data pages — a metadata
    // pass, not a scan of the lake (VERDICT r4 #2 replaced the per-table
    // groupBy(lit)+Exchange plan, which scanned everything, with this).
    "mig10_input_validation" -> ((s, d) => {
      import s.implicits._
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.DurationInt
      implicit val ec: ExecutionContext = ExecutionContext.global
      // the 10 counts are independent metadata jobs — submit concurrently
      // so the gate costs one job's latency, not ten
      val rows = Await.result(
        Future.sequence(graft.Tables.all.map { t =>
          Future {
            val n = graft.Tables.load(s, d, t).count()
            (t, n, if (n > 0) "ok" else "EMPTY")
          }
        }), 10.minutes)
      rows.toDF("tbl", "n_rows", "status").orderBy("tbl")
    }),

    // MIG-11: the datom-store layout (SURVEY §7 "partition datoms by
    // class") — imported state written partitioned by class, then a
    // class-filtered read back proves partition pruning serves the
    // reference's per-class access pattern without touching other classes.
    "mig11_datom_store" -> ((s, _) => {
      val out = Paths.sink("mig11_datoms")
      importedState(s)
        .withColumn("cls", clsOf(col("e")))
        .write.mode("overwrite").partitionBy("cls").parquet(out)
      s.read.parquet(out)
        .groupBy("cls").agg(count(lit(1)).as("n_datoms"))
        .orderBy("cls")
    }),

    // MIG-12: `.ace` dump WRITER + round-trip — the reference's other
    // direction (runcommand.py:134-150 dumps per-class .ace files FROM the
    // db). Rebuild paragraph text per entity from the imported state, write
    // it partitioned by class (per-class dump layout, one text file set per
    // class), then re-parse the written dump with the same aceDatoms reader.
    // The declared result is the re-parsed datoms: round-trip equality with
    // the state IS the oracle (parse(write(state)) == state). Paragraphs
    // end with a trailing newline so the text writer's record separator
    // yields the blank-line paragraph framing the reader expects. The dump
    // is written GZIPPED like the reference's (acedb_compress_dump,
    // runcommand.py:118-131 gzips every dumped .ace file); the codec is
    // transparent to the paragraph reader on the way back in.
    "mig12_ace_dump_roundtrip" -> ((s, _) => {
      val out = Paths.sink("mig12_ace_dump")
      importedState(s)
        .withColumn("cls", clsOf(col("e")))
        .withColumn("line",
          concat(regexp_replace(col("path"), "\\.", " "),
            lit(" \""), col("value"), lit("\"")))
        .groupBy("e", "cls")
        .agg(sort_array(collect_list(col("line"))).as("lines"))
        .select(col("cls"), concat(
          col("cls"), lit(" : \""), substring_index(col("e"), ":", -1),
          lit("\"\n"), concat_ws("\n", col("lines")), lit("\n")).as("value"))
        .write.mode("overwrite").partitionBy("cls")
        .option("compression", "gzip").text(out)
      aceDatoms(s, out)
        .orderBy("e", "path", "value", "op")
    }),

    // MIG-9 (AGG-8 in anger): rebuild ACeDB-style objects from datoms —
    // per-entity ordered collect of path=value pairs (the datom→object
    // direction of the reference's data model, SURVEY §1.1).
    "mig9_rebuild_objects" -> ((s, _) =>
      importedState(s)
        .groupBy("e")
        .agg(concat_ws(";",
          sort_array(collect_list(concat(col("path"), lit("="),
            col("value"))))).as("obj"))
        .orderBy("e")),

    // MIG-4: QA reconciliation report (the reference's headline output).
    "mig4_qa_report" -> ((s, _) =>
      qaReport(s).orderBy(col("n_ref").desc, col("class_name"))),

    // MIG-5 (JOIN-5): objects lost by the migration — in the base dump but
    // absent from the final imported state (left anti).
    "mig5_lost_objects" -> ((s, _) => {
      val base = aceDatoms(s, Paths.fixture("sample.ace"))
        .select("e").distinct()
      val kept = importedState(s).select("e").distinct()
      base.join(kept, Seq("e"), "left_anti").orderBy("e")
    }),

    // MIG-6: homology filtered re-import (homol_import, pseudoace.py:127-144)
    // — same pipeline, datoms filtered to the homology-ish class, fresh
    // latest-wins state, per-entity datom counts.
    "mig6_homol_reimport" -> ((s, _) =>
      latestWins(patchedLog(s).filter(clsOf(col("e")) === "Protein"))
        .groupBy("e").agg(count(lit(1)).as("n_datoms"))
        .orderBy("e")),

    // MIG-6b: homology SECOND store (runcommand.py:439-461 writes the
    // homology re-import into a SEPARATE database) — the re-import state
    // for the sequence-feature classes persisted under its own root with
    // the mig11 per-class layout, then a class-pruned read back. Homology
    // queries never touch the main datom store, and within the homology
    // store a one-class read prunes the other classes (PlanSpec asserts
    // the partition filter). Output matches mig6 exactly: class is a
    // function of e, so filtering before or after latest-wins commutes.
    "mig6b_homol_store" -> ((s, _) => {
      latestWins(patchedLog(s)
          .filter(clsOf(col("e")).isin("Protein", "CDS")))
        .withColumn("cls", clsOf(col("e")))
        .write.mode("overwrite").partitionBy("cls").parquet(HomolStoreDir)
      s.read.parquet(HomolStoreDir)
        .filter(col("cls") === "Protein")
        .groupBy("e").agg(count(lit(1)).as("n_datoms"))
        .orderBy("e")
    }),

    // MIG-7: markdown render of the QA report (util.py:74-99 semantics).
    // Oracle (r14): golden-dual CSV hand-modeled from the fixture counts
    // in FixtureGen; MigrationSpec pins the identical strings inline.
    "mig7_markdown_report" -> ((s, _) => markdownReport(qaReport(s))),

    // MIG-7b: HTML render of the QA report (qa_report_to_html,
    // pseudoace.py:152-158). Oracle (r14): golden-dual CSV, as mig7.
    "mig7b_html_report" -> ((s, _) =>
      htmlReport(qaReport(s), "QA report")),

    // MIG-8: checkpoint/resume runner — runs a 2-step toy pipeline TWICE in
    // a fresh checkpoint dir; first pass runs, second pass skips, proving
    // step-granular resume. Oracle: ledger-CSV golden hand-modeled from
    // the runcommand.py:349-409 contract (mig7 discipline), so the
    // DuckDB side pins the resume semantics independently of
    // PipelineRunner; MigrationSpec covers the failure/retry paths the
    // happy-path ledger can't.
    "mig8_checkpoint_resume" -> ((s, _) => {
      import s.implicits._
      val ck = Paths.sink("mig8-checkpoint")
      val runner = new PipelineRunner(ck)
      runner.reset()
      val steps = Seq(
        Step("import", sp => importedState(sp).count(): Unit),
        Step("qa", sp => qaReport(sp).count(): Unit))
      val first = runner.run(s, steps)
      val second = runner.run(s, steps)
      (first.map { case (i, n, st) => (0, i, n, st) } ++
        second.map { case (i, n, st) => (1, i, n, st) })
        .toDF("pass", "step", "name", "status")
        .orderBy("pass", "step")
    })
  )

  def oracle: Map[String, String] = Map(
    "mig1_ace_datoms" ->
      s"""SELECT e, path, value, op
         |FROM read_csv('${Paths.fixture("ace_datoms_golden.csv")}', header=true,
         |              all_varchar=true)
         |WHERE src = 'base'
         |ORDER BY e, path, value, op""".stripMargin,

    "mig2_latest_wins" -> (latestWinsSql(
      s"""SELECT CAST(ts AS BIGINT) ts, e, path, value, op
         |FROM read_csv('${Paths.fixture("edn/edn_log_*.csv")}', header=true,
         |              all_varchar=true)""".stripMargin) + "\nORDER BY e, path"),

    "mig2b_latest_wins_udaf" -> (latestWinsSql(
      s"""SELECT CAST(ts AS BIGINT) ts, e, path, value, op
         |FROM read_csv('${Paths.fixture("edn/edn_log_*.csv")}', header=true,
         |              all_varchar=true)""".stripMargin) + "\nORDER BY e, path"),

    "mig2c_edn_import" -> (latestWinsSql(
      s"""SELECT CAST(ts AS BIGINT) ts, e, path, value, op
         |FROM read_csv('${Paths.fixture("edn/edn_log_*.csv")}', header=true,
         |              all_varchar=true)""".stripMargin) + "\nORDER BY e, path"),

    "mig2d_latest_wins_multi" -> (latestWinsMultiSql(
      s"""SELECT CAST(ts AS BIGINT) ts, e, path, value, op
         |FROM read_csv('${Paths.fixture("edn/edn_log_*.csv")}', header=true,
         |              all_varchar=true)""".stripMargin) +
      "\nORDER BY e, path, value"),

    // golden-dual CSVs (the scan3/mig1 pattern): the rendered report
    // lines, hand-modeled from the fixture object counts in FixtureGen —
    // an independent pin of the renderer, not a replay of it
    "mig7_markdown_report" ->
      s"""SELECT CAST(line_no AS BIGINT) AS line_no, line
         |FROM read_csv('${Paths.fixture("mig7_markdown_golden.csv")}', header=true,
         |              all_varchar=true)
         |ORDER BY CAST(line_no AS BIGINT)""".stripMargin,

    "mig7b_html_report" ->
      s"""SELECT CAST(line_no AS BIGINT) AS line_no, line
         |FROM read_csv('${Paths.fixture("mig7b_html_golden.csv")}', header=true,
         |              all_varchar=true)
         |ORDER BY CAST(line_no AS BIGINT)""".stripMargin,

    "mig8_checkpoint_resume" ->
      s"""SELECT CAST(pass AS INT) AS pass, CAST(step AS INT) AS step,
         |       name, status
         |FROM read_csv('${Paths.fixture("mig8_ledger_golden.csv")}', header=true,
         |              all_varchar=true)
         |ORDER BY pass, step""".stripMargin,

    "mig3_apply_patches" ->
      (latestWinsSql(patchedLogSql) + "\nORDER BY e, path"),

    "mig3b_apply_patches_multi" ->
      (latestWinsMultiSql(patchedLogSql) + "\nORDER BY e, path, value"),

    "mig10_input_validation" ->
      ("SELECT tbl, n_rows, CASE WHEN n_rows > 0 THEN 'ok' ELSE 'EMPTY' END AS status FROM (" +
        graft.Tables.all.map(t =>
          s"SELECT '$t' AS tbl, count(*) AS n_rows FROM $t")
          .mkString(" UNION ALL ") +
        ") ORDER BY tbl"),

    "mig11_datom_store" ->
      s"""WITH state AS (${latestWinsSql(patchedLogSql)})
         |SELECT string_split(e, ':')[1] AS cls, count(*) AS n_datoms
         |FROM state GROUP BY 1 ORDER BY 1""".stripMargin,

    // round-trip: parse(write(state)) == state (all rows assert by
    // construction — retractions never reach the final state)
    "mig12_ace_dump_roundtrip" ->
      s"""WITH state AS (${latestWinsSql(patchedLogSql)})
         |SELECT e, path, value, 'assert' AS op FROM state
         |ORDER BY e, path, value, op""".stripMargin,

    "mig9_rebuild_objects" ->
      s"""WITH state AS (${latestWinsSql(patchedLogSql)})
         |SELECT e, array_to_string(list_sort(list(path || '=' || value)), ';')
         |  AS obj
         |FROM state GROUP BY e ORDER BY e""".stripMargin,

    "mig4_qa_report" ->
      s"""WITH state AS (${latestWinsSql(patchedLogSql)}),
         |db AS (
         |  SELECT string_split(e, ':')[1] AS class_name,
         |         count(DISTINCT e) AS n_db
         |  FROM state GROUP BY 1),
         |cat AS (
         |  SELECT class_name, CAST(n_ref AS BIGINT) AS n_ref
         |  FROM read_csv('${Paths.fixture("id_catalog.csv")}', header=true,
         |                all_varchar=true))
         |SELECT COALESCE(db.class_name, cat.class_name) AS class_name,
         |       COALESCE(cat.n_ref, 0) AS n_ref,
         |       COALESCE(db.n_db, 0) AS n_db,
         |       COALESCE(db.n_db, 0) - COALESCE(cat.n_ref, 0) AS n_diff
         |FROM db FULL OUTER JOIN cat ON db.class_name = cat.class_name
         |ORDER BY n_ref DESC, class_name""".stripMargin,

    "mig5_lost_objects" ->
      s"""WITH state AS (${latestWinsSql(patchedLogSql)})
         |SELECT DISTINCT g.e
         |FROM read_csv('${Paths.fixture("ace_datoms_golden.csv")}', header=true,
         |              all_varchar=true) g
         |WHERE g.src = 'base'
         |  AND g.e NOT IN (SELECT e FROM state)
         |ORDER BY e""".stripMargin,

    "mig6_homol_reimport" ->
      s"""WITH filtered AS (
         |  SELECT * FROM (${patchedLogSql})
         |  WHERE string_split(e, ':')[1] = 'Protein'),
         |state AS (${latestWinsSql("SELECT * FROM filtered")})
         |SELECT e, count(*) AS n_datoms FROM state
         |GROUP BY e ORDER BY e""".stripMargin,

    // Same oracle as mig6: the Protein slice of the homology store equals
    // the direct Protein re-import (class filter commutes with latest-wins).
    "mig6b_homol_store" ->
      s"""WITH filtered AS (
         |  SELECT * FROM (${patchedLogSql})
         |  WHERE string_split(e, ':')[1] = 'Protein'),
         |state AS (${latestWinsSql("SELECT * FROM filtered")})
         |SELECT e, count(*) AS n_datoms FROM state
         |GROUP BY e ORDER BY e""".stripMargin
  )

  /** DuckDB latest-wins over a (ts,e,path,value,op) changelog subquery —
    * mirrors [[latestWins]] incl. the deterministic (ts, assert>retract,
    * value) ordering, phrased as a row_number pick so determinism is
    * explicit in standard SQL. */
  private def latestWinsSql(changelogSql: String): String =
    s"""SELECT e, path, value FROM (
       |  SELECT e, path, value, op, row_number() OVER (
       |    PARTITION BY e, path
       |    ORDER BY ts DESC,
       |             CASE WHEN op = 'assert' THEN 1 ELSE 0 END DESC,
       |             value DESC) AS rn
       |  FROM ($changelogSql))
       |WHERE rn = 1 AND op = 'assert'""".stripMargin

  /** DuckDB mirror of [[latestWinsMulti]] (triple-level latest op). */
  private def latestWinsMultiSql(changelogSql: String): String =
    s"""SELECT e, path, value FROM (
       |  SELECT e, path, value, op, row_number() OVER (
       |    PARTITION BY e, path, value
       |    ORDER BY ts DESC,
       |             CASE WHEN op = 'assert' THEN 1 ELSE 0 END DESC) AS rn
       |  FROM ($changelogSql))
       |WHERE rn = 1 AND op = 'assert'""".stripMargin

  /** DuckDB analogue of [[patchedLog]] built from the golden datom CSV
    * (DuckDB can't parse .ace; the golden is mig1's verified parse). */
  private def patchedLogSql: String =
    s"""SELECT CASE WHEN src = 'base' THEN 0 ELSE 1 END AS ts, e, path,
       |       value, op
       |FROM read_csv('${Paths.fixture("ace_datoms_golden.csv")}', header=true,
       |              all_varchar=true)""".stripMargin
}
