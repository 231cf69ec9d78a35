package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.migration.MigrationOps
import graft.migration.MigrationOps.{PipelineRunner, Step}
import graft.operators.VersionedStore

/** The reference's migration DAG at scale: seven PipelineRunner steps over
  * an [[AceLake]]. Every step reads its inputs from earlier steps' written
  * outputs, so the DAG resumes from the runner's markers on a fresh
  * SparkContext ([[resumeCheck]]). */
final class Migrate(seed: Long, orders: Int) extends Workload {
  val name = "migrate"

  /** Byte-range split size for the ace reader, small enough that the big
    * per-class files split into several partitions. */
  val SplitSize: Long = 1L << 20

  import Migrate.Steps

  private var lake: File = _
  private var model: AceLake.Model = _
  def inputRows: Long = model.inputRows

  def prepare(spark: SparkSession, dir: File): Unit = {
    lake = dir
    model = AceLake.generate(dir, seed, orders)
  }

  private def ace(s: SparkSession, path: String): DataFrame =
    s.read.format("ace").option("splitSize", SplitSize).load(path)
      .select(concat_ws(":", col("cls"), col("ident")).as("e"), col("path"),
        col("value"), col("op"))

  /** Datoms (e, path, value[, op]) as store rows
    * (cls, ident, path, value, card[, op]). */
  private def storeRows(df: DataFrame, card: String): DataFrame = {
    val e = split(col("e"), ":", 2)
    df.select(Seq[Column](e.getItem(0).as("cls"), e.getItem(1).as("ident"),
      col("path"), col("value"), lit(card).as("card")) ++
      df.columns.filter(_ == "op").map(col): _*)
  }

  private def datoms(store: DataFrame): DataFrame =
    store.select(concat_ws(":", col("cls"), col("ident")).as("e"),
      col("path"), col("value"))

  def steps(h: Harness, out: File): Seq[Step] = {
    def o(p: String) = new File(out, p).getPath
    val many = AceLake.ManyPaths.toSeq
    Seq(
      Step("parse_dump", s =>
        ace(s, s"$lake/dump").withColumn("ts", lit(0L))
          .write.mode("overwrite").parquet(o("datoms"))),
      Step("parse_logs", s =>
        MigrationOps.ednTextDatoms(s, s"$lake/logs/*.edn.gz")
          .write.mode("overwrite").parquet(o("changelog"))),
      Step("import", s => {
        val log = s.read.parquet(o("datoms"))
          .unionByName(s.read.parquet(o("changelog")))
        val isMany = col("path").isin(many: _*)
        val state = storeRows(MigrationOps.latestWins(log.filter(!isMany)),
          "one").unionByName(storeRows(
            MigrationOps.latestWinsMulti(log.filter(isMany)), "many"))
        h.timed("store_commit_s")(
          VersionedStore.commit(state.repartition(col("cls")), o("store")))
      }),
      Step("patch", s => {
        val plog = ace(s, s"$lake/patches").withColumn("ts", lit(1L))
        val upserts = MigrationOps.latestWins(plog)
          .withColumn("op", lit("upsert"))
        // a patched tag whose last word is a retraction leaves the store
        val deletes = plog.select("e", "path").distinct()
          .join(upserts, Seq("e", "path"), "left_anti")
          .withColumn("value", lit(null).cast("string"))
          .withColumn("op", lit("delete"))
        // the merge reads its change set three times (key check,
        // anti-join, upserts): materialize it once
        val change = storeRows(upserts.unionByName(deletes), "one")
          .localCheckpoint()
        h.sampleStorage()
        h.timed("store_merge_s")(VersionedStore.merge(s, o("store"), change,
          Seq("cls", "ident", "path")))
        graft.RoundCheckpointer.release(change)
      }),
      Step("qa", s => {
        val counts = MigrationOps.classCounts(
          datoms(VersionedStore.read(s, o("store"))))
        val catalog = s.read.option("header", "true")
          .schema("class_name string, n_ref long")
          .csv(s"$lake/id_catalog.csv")
        val ref = coalesce(col("n_ref"), lit(0L))
        val db = coalesce(col("n_db"), lit(0L))
        counts.join(catalog, Seq("class_name"), "full_outer")
          .select(col("class_name"), ref.as("n_ref"), db.as("n_db"),
            (db - ref).as("n_diff"))
          .write.mode("overwrite").parquet(o("qa"))
      }),
      Step("render", s => {
        val qa = s.read.parquet(o("qa"))
        def save(df: DataFrame, file: String): Unit = {
          val lines = df.orderBy("line_no").collect().map(_.getString(1))
          Files.write(new File(out, file).toPath,
            lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        }
        save(MigrationOps.markdownReport(qa), "qa_report.md")
        save(MigrationOps.htmlReport(qa, "Migration QA"), "qa_report.html")
      }),
      Step("backup", s => {
        VersionedStore.read(s, o("store"))
          .select(col("cls"), col("ident"), col("path"), col("value"),
            lit("assert").as("op"))
          .write.format("ace").mode("overwrite").save(o("backup"))
        h.timed("archive_s")(graft.util.Archive.tarXz(o("backup"),
          o("backup.tar.xz"), "graft-backup"))
      }))
  }

  def run(h: Harness): () => Seq[(String, String)] = {
    val runner = new PipelineRunner(new File(h.runDir, "_markers").getPath,
      h.stepObserver)
    // a failed step is already recorded by the observer
    try runner.run(h.spark, steps(h, h.runDir))
    catch { case _: Exception => }
    () => verify(h.spark, h.runDir)
  }

  /** Spark side of [[AceLake.Fingerprint]]. */
  private def fingerprint(df: DataFrame): AceLake.Fingerprint = {
    val x = xxhash64(col("e"), col("path"), col("value"))
    val r = df.agg(count(lit(1)), coalesce(bit_xor(x), lit(0L)),
      coalesce(sum(pmod(x, lit(AceLake.HashMod))), lit(0L))).head()
    AceLake.Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Checks one run's outputs against the generator's model. */
  def verify(s: SparkSession, out: File): Seq[(String, String)] = {
    def o(p: String) = new File(out, p).getPath
    def check(op: String, what: String)(got: => Any, want: Any) =
      scala.util.Try(got).fold(e => Some(op -> s"$what: $e"),
        g => if (g == want) None else Some(op -> s"$what: $g, expected $want"))
    val wantQa = model.qa.map(q => (q.cls, q.nRef, q.nDb, q.nDb - q.nRef)).toSet
    def lines(f: String) =
      Files.readAllLines(new File(out, f).toPath).size
    Seq(
      check("qa", "QA table")(s.read.parquet(o("qa")).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet,
        wantQa),
      check("patch", "state fingerprint")(
        fingerprint(datoms(VersionedStore.read(s, o("store")))), model.state),
      check("render", "markdown lines")(lines("qa_report.md"), wantQa.size + 2),
      check("render", "html lines")(lines("qa_report.html"), wantQa.size + 5),
      check("backup", "re-parsed backup fingerprint")(
        fingerprint(ace(s, o("backup")).select("e", "path", "value")),
        model.state),
      check("backup", "archive is xz")(
        graft.util.Archive.isXz(o("backup.tar.xz")), true)
    ).flatten
  }

  /** Stops the DAG after `patch`, resumes it on a fresh SparkContext from
    * the runner's markers and checks the outputs equal the model, which
    * every uninterrupted run is checked against too. Untimed. */
  def resumeCheck(session: () => SparkSession, dir: File)
  : Seq[(String, String)] = {
    val out = new File(dir, "resume")
    val markers = new File(out, "_markers").getPath
    val cut = Steps.indexOf("patch") + 1
    val s1 = session()
    val h1 = new Harness(s1, out, traced = false)
    new PipelineRunner(markers, h1.stepObserver).run(s1, steps(h1, out).take(cut))
    val s2 = session()
    val h2 = new Harness(s2, out, traced = false)
    val status = new PipelineRunner(markers, h2.stepObserver)
      .run(s2, steps(h2, out)).map(_._3)
    val want = Seq.fill(cut)("skipped") ++ Seq.fill(Steps.size - cut)("ran")
    val problems =
      (if (status == want) Nil
       else Seq("resume" -> s"step status $status, expected $want")) ++
        verify(s2, out).map { case (op, p) => s"resume.$op" -> p }
    Workload.deleteTree(out)
    problems
  }

  def layerNames: Seq[String] = Migrate.layerNames

  def layerMetrics(h: Harness): Map[String, Double] = {
    val ops = h.probe.ops.toMap.withDefault(_ => new Counters)
    val secs = h.records.map(r => r.name -> r.seconds).toMap.withDefaultValue(0.0)
    val changelog = ops("parse_dump").outputRecords +
      ops("parse_logs").outputRecords
    val state = ops("patch").outputRecords
    def mb(f: File) = Workload.sizeOf(f) / 1e6
    Steps.flatMap(st => Seq(s"migration.$st.s" -> secs(st),
      s"migration.$st.shuffle_mb" -> ops(st).shuffleWrite / 1e6)).toMap ++ Map(
      "migration.runner_s" -> (h.wallS - h.records.map(_.seconds).sum),
      "migration.changelog_rows" -> changelog.toDouble,
      "migration.state_rows" -> state.toDouble,
      "migration.live_ratio" -> state.toDouble / math.max(1L, changelog),
      "sources.ace_read_rows" -> ops("parse_dump").inputRecords.toDouble,
      "sources.ace_read_mb" ->
        (mb(new File(lake, "dump")) + mb(new File(lake, "patches"))),
      "sources.ace_splits" -> ops("parse_dump").tasks.toDouble,
      "sources.ace_write_mb" -> mb(new File(h.runDir, "backup")),
      "operators.store_commit_s" -> h.extra.getOrElse("store_commit_s", 0.0),
      "operators.store_merge_s" -> h.extra.getOrElse("store_merge_s", 0.0),
      "operators.store_files" ->
        Workload.fileCount(new File(h.runDir, "store")).toDouble,
      "util.archive_s" -> h.extra.getOrElse("archive_s", 0.0),
      "util.archive_mb" -> mb(new File(h.runDir, "backup.tar.xz")))
  }
}

object Migrate {
  val Steps: Seq[String] = Seq("parse_dump", "parse_logs", "import", "patch",
    "qa", "render", "backup")

  val layerNames: Seq[String] =
    Steps.flatMap(st => Seq(s"migration.$st.s", s"migration.$st.shuffle_mb")) ++
      Seq("migration.runner_s", "migration.changelog_rows",
        "migration.state_rows", "migration.live_ratio",
        "sources.ace_read_rows", "sources.ace_read_mb", "sources.ace_splits",
        "sources.ace_write_mb", "operators.store_commit_s",
        "operators.store_merge_s", "operators.store_files", "util.archive_s",
        "util.archive_mb")
}
