package graft.operators

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RangeJoinSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("bucketed range join equals the naive range join on real data") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.Tables.events(spark, dir).select(
      col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        (unix_micros(lit("2024-01-01 00:00:00").cast("timestamp"))
          + (col("o_orderkey") % 2592000) * 1000000L).as("lo_us"))
      .withColumn("hi_us", col("lo_us") + lit(3L * 86400000000L))

    val bucketed = RangeJoin.pointInInterval(e, o,
      col("ts_us"), col("lo_us"), col("hi_us"), width = 86400000000L,
      leftKeys = Seq(col("user_id")), rightKeys = Seq(col("o_custkey")))
      .select("event_id", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val naive = e.join(o, e("user_id") === o("o_custkey") &&
      e("ts_us") >= o("lo_us") && e("ts_us") <= o("hi_us"))
      .select("event_id", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(bucketed === naive)
    assert(bucketed.nonEmpty)
  }

  test("each qualifying pair appears exactly once (no bucket dup)") {
    // interval spanning many buckets with points in several of them
    val pts = Seq((1L, 5L), (1L, 25L), (1L, 95L), (2L, 50L)).toDF("k", "p")
    val ivs = Seq((1L, 0L, 100L), (2L, 60L, 70L)).toDF("rk", "lo", "hi")
    val out = RangeJoin.pointInInterval(pts, ivs,
      col("p"), col("lo"), col("hi"), width = 10L,
      leftKeys = Seq(col("k")), rightKeys = Seq(col("rk")))
      .select("k", "p").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.sorted.toSeq === Seq((1L, 5L), (1L, 25L), (1L, 95L)))
  }

  test("the plan is an equi-join, not a nested loop") {
    val pts = spark.range(1000).select(col("id").as("p"))
    val ivs = spark.range(100).select((col("id") * 10).as("lo"),
      (col("id") * 10 + 5).as("hi"))
    val joined = RangeJoin.pointInInterval(pts, ivs,
      col("p"), col("lo"), col("hi"), width = 10L)
    val plan = joined.queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // a naive formulation does nested-loop
    val naivePlan = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .queryExecution.executedPlan.toString()
    assert(naivePlan.contains("NestedLoop") || naivePlan.contains("Cartesian"),
      naivePlan)
  }
}
