package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query registry contract — see SURVEY.md §7.
  *
  * `queries` aggregates every operator module; each key is a SURVEY.md §2
  * operator ID. `oracleSql` carries the DuckDB-equivalent SQL for the
  * driver's correctness gate (column names aliased identically on both
  * sides — the compare sorts columns by name before hashing). [[run]] is
  * the one per-query loop body every entry point (Verify, EmptyAudit,
  * PlanDump, ScaleProbe) shares.
  */
object SparkEntry {

  private def modules: Seq[QueryModule] = Seq(
    operators.Relational,
    operators.Scans,
    operators.Funcs,
    llm.LlmOps,
    streaming.StreamOps,
    migration.MigrationOps,
    multimodal.MultimodalOps,
    sql.SqlOps,
    operators.Incremental,
    operators.Analytics,
    operators.GraphOps
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1-shaped pricing summary: scan → filter → hash agg → sort.
    */
  def entry(spark: SparkSession): DataFrame =
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_base_price"),
        Det.revenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (the
    * driver records a weaker rows-only check; ScalaTest covers those). */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracle).toMap

  /** Run declared query `name` on the lake at `sfDir`: build its frame and
    * hand it to `action`, which must execute the frame's OWN plan (a
    * write, a noop sink, [[plans.PlanMetrics.measureShuffleBytes]]) —
    * never `count()`, which lets Catalyst prune final sorts and
    * projections and so hides faults in them. The frame build is timed
    * with the action: memo stages build eagerly inside it. Every cached
    * block is dropped afterwards, failed or not, so each query runs free
    * of its predecessors' dead checkpoint blocks (live [[StageMemo]]
    * frames survive: [[StageMemo.dropUnpinned]]). Returns (seconds, the
    * action's result), or `name: RootCauseClass: first message line`. */
  def run[T](spark: SparkSession, name: String, sfDir: String)(
      action: DataFrame => T): Either[String, (Double, T)] = {
    spark.sparkContext.setJobDescription(name)
    try {
      val build = queries(name)
      val t0 = System.nanoTime()
      val out = action(build(spark, sfDir))
      Right(((System.nanoTime() - t0) / 1e9, out))
    } catch {
      case e: Throwable =>
        var root = e
        while (root.getCause != null && root.getCause != root)
          root = root.getCause
        Left(s"$name: ${root.getClass.getSimpleName}: " +
          Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString)
    } finally StageMemo.dropUnpinned(spark)
  }
}
