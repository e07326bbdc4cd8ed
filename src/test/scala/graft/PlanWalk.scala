package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** The one walk of an executed physical plan that every plan check uses
  * (PlanSpec, ExprSpec, PlanAudit). Only this file names AQE's classes;
  * DialSpec keeps it that way.
  */
object PlanWalk {
  private val aqe = new AdaptiveSparkPlanHelper {}

  /** Run the key's own `QueryExecution` and return its final plan. A
    * sink (`write.format("noop")`, `foreach`) would plan and run a second
    * `QueryExecution` and leave this one's adaptive plan at AQE's
    * initial plan: no codegen stages, no re-planning, every metric 0.
    */
  def executed(df: DataFrame): SparkPlan = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        assert(a.isFinalPlan, s"adaptive plan did not finalize:\n$a")
        a.executedPlan
      case p => p
    }
  }

  /** Collect through query stages, nested adaptive plans and subqueries. */
  def collect[T](plan: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    aqe.collectWithSubqueries(plan)(pf)

  /** `plan` followed by every cached plan it reads, recursively, each
    * cached plan once however many scans read it.
    */
  def withCaches(plan: SparkPlan): Seq[SparkPlan] = {
    def from(seen: List[SparkPlan], p: SparkPlan): List[SparkPlan] =
      collect(p) { case i: InMemoryTableScanExec => i.relation.cachedPlan }
        .foldLeft(seen) { (acc, c) =>
          if (acc.exists(_ eq c)) acc else from(c :: acc, c)
        }
    plan +: from(Nil, plan).reverse
  }
}
