// Plan audit (dev tool): dump per-query physical-plan signals so a human
// can spot scale problems — cartesian products, nested-loop joins where an
// equi-join was intended, shuffle counts, unpushed scans.
// Run: sbt "Test/runMain graft.PlanAudit"
package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}

object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(Some("local[8]"), 8, None)
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // Node-based counting over the executed plan and each cached plan
        // it reads, once per plan: the rendered string repeats every
        // cached subtree once per scan and every reused exchange once per
        // reference (dedup_clusters rendered 2342 "shuffles").
        val plans = PlanWalk.withCaches(PlanWalk.executed(fn(spark, sfDir)))
        def c(pf: PartialFunction[SparkPlan, Unit]) =
          plans.map(PlanWalk.collect(_)(pf).size).sum
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
