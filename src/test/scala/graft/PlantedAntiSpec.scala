package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** `join_anti` and `set_except` on an input where their answer is not
  * empty. Every sf0.001 and sf0.01 customer has orders, so there the
  * oracle compares empty with empty, and AQE replaces the executed plan
  * with an empty relation. Here three customers are planted above the
  * largest custkey, with no orders.
  */
class PlantedAntiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = SparkSpec.scratchDir("graft_planted_anti")
    Files.copy(Paths.get(s"$sfDir/orders.parquet"),
      Paths.get(s"$d/orders.parquet"))
    val cust = Tables.customer(spark, sfDir)
    val top = cust.agg(max("c_custkey")).as[Long].head()
    val planted = (1L to 3L)
      .map(i => (top + i, s"Customer#planted$i", 0, 0.0, "BUILDING"))
      .toDF(cust.columns.toSeq: _*)
    cust.unionByName(planted).write.parquet(s"$d/customer.parquet")
    d
  }

  /** Customers with no order, by a set difference on collected keys. */
  private def orderless: Seq[(Long, String)] = {
    val ordered = Tables.orders(spark, dir).select("o_custkey").as[Long]
      .collect().toSet
    Tables.customer(spark, dir).select("c_custkey", "c_name")
      .as[(Long, String)].collect().toSeq
      .filterNot(c => ordered(c._1)).sortBy(_._1)
  }

  private def checkAnti(key: String, expected: Seq[Any]): Unit = {
    assert(expected.nonEmpty, s"$key: the planted fixture has no answer")
    val df = SparkEntry.queries(key)(spark, dir)
    val got = df.collect().toSeq.map(r =>
      if (r.size == 1) r.getLong(0) else (r.getLong(0), r.getString(1)))
    assert(got === expected, key)
    val anti = PlanWalk.collect(PlanWalk.executed(df)) {
      case j: BaseJoinExec if j.joinType == LeftAnti => j
    }
    assert(anti.nonEmpty, s"$key: no LeftAnti join in the executed plan")
  }

  test("join_anti returns the planted customers without orders, through " +
    "a LeftAnti join") {
    checkAnti("join_anti", orderless)
  }

  test("set_except returns the planted custkeys, through a LeftAnti join") {
    checkAnti("set_except", orderless.map(_._1).distinct)
  }
}
