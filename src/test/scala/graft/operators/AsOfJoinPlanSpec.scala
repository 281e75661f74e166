package graft.operators

import graft.SharedSpark
import graft.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AsOfJoinPlanSpec extends AnyFunSuite with SharedSpark {
  private val dir = "/root/testdata/sf0.001"

  private def events = Tables.events(spark, dir)
    .select(col("event_id"), col("user_id"), col("ts"))

  private def orders = Tables.orders(spark, dir).select(
    col("o_orderkey"), col("o_custkey"),
    timestamp_micros(unix_micros(lit("2024-01-01 00:00:00").cast("timestamp"))
      + (col("o_orderkey") % 2592000) * 1000000).as("o_ts"))

  test("native exec plan: Exchange+Sort inserted, AsOfJoinExec runs") {
    val df = AsOfJoinPlan.backward(events, orders,
      "user_id", "o_custkey", "ts", "o_ts")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("AsOfJoin "), plan) // nodeName strips "Exec"
    assert(plan.contains("Exchange hashpartitioning(user_id"), plan)
    assert(plan.contains("Exchange hashpartitioning(o_custkey"), plan)
    assert("Sort \\[".r.findAllIn(plan).size >= 2, plan)
  }

  test("native exec agrees with the union-merge composition on real data") {
    val native = AsOfJoinPlan.backward(events, orders,
      "user_id", "o_custkey", "ts", "o_ts")
      .select(col("event_id"), col("o_orderkey"), col("o_ts"))
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
    val composed = AsOfJoin.backward(events, orders,
      "user_id", "o_custkey", "ts", "o_ts")
      .select(col("event_id"), col("o_orderkey"), col("o_ts"))
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
    assert(native.size === 1000)
    assert(native === composed)
  }

  test("native exec output survives downstream shuffles and aggregation") {
    val df = AsOfJoinPlan.backward(events, orders,
      "user_id", "o_custkey", "ts", "o_ts")
    // force an Exchange over the exec's UnsafeRow output
    val agg = df.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("total")).collect().head.getLong(0)
    assert(agg === 1000L)
  }

  test("unmatched left rows keep null right columns") {
    import spark.implicits._
    val l = Seq((1L, 5L), (2L, 100L)).toDF("k", "t")
    val r = Seq((1L, 10L, "late"), (2L, 50L, "hit")).toDF("rk", "rt", "v")
    val out = AsOfJoinPlan.backward(l, r, "k", "rk", "t", "rt")
      .select(col("k"), col("v")).collect()
      .map(row => (row.getLong(0), row.getString(1))).toSet
    assert(out === Set((1L, null), (2L, "hit")))
  }
}
