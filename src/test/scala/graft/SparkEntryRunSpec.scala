package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.PlanMetrics

/** [[SparkEntry.run]] is the one per-query loop body of Verify,
  * EmptyAudit, PlanDump and ScaleProbe: failures come back as
  * `name: RootCauseClass: first message line` without stopping the
  * caller, every run ends with unpinned blocks dropped, and the action
  * executes the frame's own plan, so a fault `count()` prunes away still
  * fails the run. */
class SparkEntryRunSpec extends SparkSpec {

  test("a failing query reports its root cause and the next query runs") {
    val failed = SparkEntry.run(spark, "agg1_count", Sf0001) { _ =>
      throw new IllegalStateException("wrapper",
        new ArithmeticException("root cause\nsecond line"))
    }
    assert(failed === Left("agg1_count: ArithmeticException: root cause"))
    val unknown = SparkEntry.run(spark, "no_such_query", Sf0001)(_.count())
    assert(unknown.left.exists(_.startsWith(
      "no_such_query: NoSuchElementException:")))
    val next = SparkEntry.run(spark, "agg1_count", Sf0001)(_.collect())
    assert(next.map(_._2.map(_.getLong(2)).sum) ===
      Right(Tables.lineitem(spark, Sf0001).count()))
    assert(next.exists(_._1 > 0.0), "the run is timed")
  }

  test("every run drops unpinned checkpoint blocks and keeps pinned memos") {
    val pinned = StageMemo.frame(spark, "sparkentry-run-spec") {
      spark.range(5).toDF()
    }
    def rddIds(df: DataFrame): Set[Int] =
      df.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
    val persisted = () => spark.sparkContext.getPersistentRDDs.keySet
    val pinnedIds = rddIds(pinned)
    assert(pinnedIds.nonEmpty && pinnedIds.subsetOf(persisted()))
    for (fail <- Seq(false, true)) {
      var cpIds = Set.empty[Int]
      val r = SparkEntry.run(spark, "agg1_count", Sf0001) { df =>
        val cp = df.localCheckpoint()
        cpIds = rddIds(cp)
        if (fail) sys.error("after the checkpoint") else cp.collect()
      }
      assert(r.isLeft === fail)
      assert(cpIds.nonEmpty && cpIds.intersect(persisted()).isEmpty,
        s"unpinned checkpoint blocks survive a ${if (fail) "failed" else "good"} run")
      assert(pinnedIds.subsetOf(persisted()), "the pinned memo is gone")
      assert(pinned.count() === 5L)
    }
  }

  test("a final-projection fault count() prunes away fails the run") {
    // a per-row ppm whose divisor is zero on every row: count() never
    // evaluates the projection, the frame's own plan must
    def ppm(df: DataFrame): DataFrame =
      df.select(expr("n * 1000000 DIV (n - n)").as("ppm"))
    withSQLConf("spark.sql.ansi.enabled" -> "true") {
      val viaCount = SparkEntry.run(spark, "agg1_count", Sf0001)(
        df => ppm(df).count())
      assert(viaCount.map(_._2) ===
        Right(SparkEntry.queries("agg1_count")(spark, Sf0001).count()))
      val ownPlan = SparkEntry.run(spark, "agg1_count", Sf0001)(
        df => PlanMetrics.measureShuffleBytes(ppm(df)))
      assert(ownPlan.left.exists(_.startsWith("agg1_count: ")) &&
        ownPlan.left.exists(_.contains("DIVIDE_BY_ZERO")), ownPlan)
    }
  }
}
