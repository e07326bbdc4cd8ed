// Plan audit (dev tool): dump per-query physical-plan signals so a human
// can spot scale problems — cartesian products, nested-loop joins where an
// equi-join was intended, shuffle counts, unpushed scans.
// Run: sbt "Test/runMain graft.PlanAudit"
package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}

object PlanAudit {
  // Node-based counting, not plan-STRING token counting: the rendered
  // string repeats every cached (InMemoryRelation) subtree once per scan
  // and every reused exchange once per reference, so grep-counts explode
  // by orders of magnitude on cache-heavy plans (dedup_clusters rendered
  // 2342 "shuffles" where the executed plan holds a handful of nodes).
  private def nodes[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    p.collectWithSubqueries {
      case q if pf.isDefinedAt(q) => Seq(pf(q))
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)(pf)
    }.flatten

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(Some("local[8]"), 8, None)
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        def c(pf: PartialFunction[SparkPlan, Unit]) = nodes(plan)(pf).size
        println(f"$name%-24s " +
          f"shuffles=${c { case _: ShuffleExchangeLike => }}%-3d " +
          f"cartesian=${c { case _: CartesianProductExec => }}%-2d " +
          f"bnlj=${c { case _: BroadcastNestedLoopJoinExec => }}%-2d " +
          f"bhj=${c { case _: BroadcastHashJoinExec => }}%-2d " +
          f"smj=${c { case _: SortMergeJoinExec => }}%-2d")
        InternalCaches.unpersistAll()
      } catch { case e: Throwable =>
        println(f"$name%-24s AUDIT-ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
