package graft.operators

import graft.SharedSpark
import graft.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AsOfJoinSpec extends AnyFunSuite with SharedSpark {
  test("union-merge as-of join equals the native-exec gate query on real data") {
    val dir = "/root/testdata/sf0.001"
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      timestamp_micros(unix_micros(lit("2024-01-01 00:00:00").cast("timestamp"))
        + (col("o_orderkey") % 2592000) * 1000000).as("o_ts"))

    val got = AsOfJoin.backward(events, orders,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_ts")
      .select(col("event_id"), col("o_orderkey"), col("o_ts"))
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet

    val want = graft.analytics.AnalyticsQueries.qAsofJoin(spark, dir)
      .drop("o_ts") // formatted string; re-attach the raw timestamp
      .join(orders.select(col("o_orderkey").as("ok2"), col("o_ts")),
        col("o_orderkey") === col("ok2"), "left")
      .select(col("event_id"), col("o_orderkey"), col("o_ts"))
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet

    assert(got.size === 1000)
    assert(got === want)
  }

  test("ties at equal timestamps match inclusively (at-or-before)") {
    import spark.implicits._
    val left = Seq((1L, 100L, "e1")).toDF("k", "t", "ev")
    val right = Seq((1L, 100L, "o1"), (1L, 99L, "o0")).toDF("k", "t", "ord")
    val out = AsOfJoin.backward(
      left, right.select(col("k").as("rk"), col("t").as("rt"), col("ord")),
      "k", "rk", "t", "rt").collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("ord") === "o1")
  }

  test("left rows with no prior right row keep nulls") {
    import spark.implicits._
    val left = Seq((1L, 50L, "early"), (2L, 500L, "other-key"))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 100L, "late")).toDF("rk", "rt", "ord")
    val out = AsOfJoin.backward(left, right, "k", "rk", "t", "rt")
      .collect().map(r => (r.getAs[String]("ev"), r.getAs[String]("ord"))).toSet
    assert(out === Set(("early", null), ("other-key", null)))
  }
}
