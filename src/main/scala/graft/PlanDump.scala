package graft

import graft.plans.PlanMetrics

/** Dump `.explain("formatted")` output of declared queries to committed
  * plan-evidence files (plans/<tag dir>/<query>_<tag>.txt) — the
  * optimization rounds' before/after artifacts. Each query's OWN plan
  * runs first ([[PlanMetrics.measureShuffleBytes]] through
  * [[SparkEntry.run]]), so AQE settles and the dumped plan is the final
  * executed one (`isFinalPlan=true`), not the initial guess. The header
  * carries that run's wall time (frame build included) and shuffle MB.
  * The first failing query stops the dump.
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <tag> <query>..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <tag> <queryName>...")
    val (sfDir, outDir, tag) = (args(0), args(1), args(2))
    val spark = Graft.session("graft-plandump")
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    args.drop(3).foreach { name =>
      val (sec, (df, mb)) = SparkEntry.run(spark, name, sfDir)(df =>
        (df, PlanMetrics.measureShuffleBytes(df) / 1e6)
      ).fold(err => sys.error(s"[plandump] $err"), identity)
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.File(dir, s"${name}_$tag.txt")
      val w = new java.io.PrintWriter(f)
      try {
        w.println(f"== $name @ $sfDir (wall $sec%.2f s, shuffle $mb%.2f MB) ==")
        w.println(s)
      } finally w.close()
      System.err.println(f"[plandump] $name%-28s $sec%6.2f s -> $f")
    }
    spark.stop()
  }
}
