package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.functions.col

import graft.plans.LocalSortFold

/** RULE-2: a sort over a driver-held local relation folds into a sorted
  * local relation at plan time — same rows in the same order as Spark's
  * own sort, and no job to collect them. */
class LocalSortFoldSpec extends SparkSpec {

  private val Excluded = "spark.sql.optimizer.excludedRules" -> LocalSortFold.ruleName

  /** Distinct rows with nulls, ties on the first key, and strings whose
    * UTF-8 order differs from their UTF-16 order. */
  private def frame: DataFrame = {
    val s = spark
    import s.implicits._
    val supp = new String(Character.toChars(0x10000))
    Seq[(Option[Int], String, Option[Double])](
      (Some(2), "b", Some(1.0)), (None, "a", Some(2.0)), (Some(2), "a", None),
      (Some(1), supp, Some(3.0)), (Some(1), "�", Some(3.0)),
      (None, null, Some(-1.0)), (Some(2), "a", Some(0.5)), (Some(3), "z", None),
      (Some(1), supp, Some(-3.0)))
      .toDF("a", "b", "c")
  }

  private val order =
    Seq(col("a").desc_nulls_last, col("b").asc_nulls_first, col("c").desc)

  test("multi-key orderBy over toDF: same rows with the rule on and excluded") {
    val on = frame.orderBy(order: _*)
    val off = withSQLConf(Excluded)(frame.orderBy(order: _*).collect().toSeq)
    assert(on.collect().toSeq === off)
    assert(!on.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sort]),
      on.queryExecution.optimizedPlan.treeString)
  }

  test("collecting a sorted local frame runs no job") {
    assert(jobsRun(frame.orderBy(order: _*).collect()) === 0)
    // a later select: column pruning slips a projection under the sort
    assert(jobsRun(frame.orderBy(order: _*).select("c").collect()) === 0)
    assert(withSQLConf(Excluded)(jobsRun(frame.orderBy(order: _*).collect())) > 0,
      "with the rule excluded Spark runs the range exchange")
  }

  test("a nondeterministic order is not folded") {
    val rel = frame.queryExecution.optimizedPlan.asInstanceOf[LocalRelation]
    val sort = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), true, rel)
    assert(LocalSortFold(sort) eq sort)
  }
}
