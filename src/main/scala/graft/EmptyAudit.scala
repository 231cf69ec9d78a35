package graft

import org.apache.spark.sql.SparkSession

import graft.plans.PlanMetrics

/** Run every declared query against an EMPTY lake — a lake with every
  * table present but zero rows — and report which queries throw. Empty
  * inputs are routine at scale (a filter or a partition prune can empty
  * any stage); the engine must degrade to empty results, not exceptions.
  * EmptyInputSpec asserts the failure list stays empty (through this
  * object); the `main` is the standalone diagnostic form of the same
  * audit.
  */
object EmptyAudit {

  /** Materialize a zero-row copy of every lake table under `out` (schema
    * preserved — limit(0) keeps the parquet footer's types). */
  def buildEmptyLake(s: SparkSession, src: String, out: String): Unit =
    Tables.all.foreach { t =>
      Tables.load(s, src, t).limit(0).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    }

  /** Execute every `SparkEntry.queries` entry's OWN plan against the
    * empty lake; returns (ok count, failures as
    * "name: RootCauseClass: message" lines). A `count()` sweep would pass
    * a query whose final projection throws: Catalyst prunes it away. */
  def audit(s: SparkSession, emptyLakeDir: String): (Int, Seq[String]) = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val failures = names.flatMap(name => SparkEntry.run(s, name, emptyLakeDir)(
      PlanMetrics.measureShuffleBytes).left.toOption)
    (names.size - failures.size, failures)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = Paths.sink("empty-lake")
    val s = Graft.session("graft-empty-audit")
    buildEmptyLake(s, src, out)
    val (ok, failures) = audit(s, out)
    failures.foreach(f => println(s"[empty-audit] FAIL $f"))
    println(s"[empty-audit] ok=$ok fail=${failures.size}")
  }
}
