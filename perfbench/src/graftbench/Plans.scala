package graftbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Plan fingerprint of an executed (final AQE) plan: shuffle exchanges,
  * whole-stage-codegen spans, CodegenFallback expressions and a node-type
  * histogram. Two traces diff cleanly on these fields, so a plan change
  * shows as a changed count. The walk follows the same AQE nesting as
  * `graft.plans.PlanMetrics` and visits every node once. */
final case class PlanPrint(exchanges: Int, codegenSpans: Int,
                           fallbacks: Map[String, Int],
                           nodes: Map[String, Int]) {
  def fallbackCount: Int = fallbacks.values.sum

  def json: String = {
    def obj(m: Map[String, Int]) = m.toSeq.sorted
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"exchanges":$exchanges,"codegen_spans":$codegenSpans,""" +
      s""""codegen_fallbacks":${obj(fallbacks)},"nodes":${obj(nodes)}}"""
  }
}

object PlanPrint {
  def of(plan: SparkPlan): PlanPrint = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val nodes = mutable.Map.empty[String, Int].withDefaultValue(0)
    val fallbacks = mutable.Map.empty[String, Int].withDefaultValue(0)
    var exchanges = 0
    var spans = 0
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case other =>
          nodes(other.nodeName) += 1
          other match {
            case _: ShuffleExchangeLike => exchanges += 1
            case _: WholeStageCodegenExec => spans += 1
            case _ =>
          }
          other.expressions.foreach(_.foreach {
            case f: CodegenFallback => fallbacks(f.prettyName) += 1
            case _ =>
          })
          other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    PlanPrint(exchanges, spans, fallbacks.toMap, nodes.toMap)
  }
}
