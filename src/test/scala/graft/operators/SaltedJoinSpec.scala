package graft.operators

import graft.SharedSpark
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SaltedJoinSpec extends AnyFunSuite with SharedSpark {
  // shuffled joins over 8 fixed partitions: a session of its own, so
  // none of these settings reach the specs that run after this one
  override lazy val spark: SparkSession = SharedSpark.newSession(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "false")

  import spark.implicits._

  // 90% of left rows share one hot key
  private def skewedLeft = (1 to 20000).map { i =>
    (if (i % 10 != 0) 1L else (i % 100).toLong, s"v$i")
  }.toDF("k", "lv")

  private def rightDim = (0L to 99L).map(k => (k, s"dim$k")).toDF("k", "rv")

  test("salted join returns exactly the plain join's rows") {
    val plain = skewedLeft.join(rightDim, Seq("k"))
      .select("k", "lv", "rv").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    val salted = SaltedJoin.inner(skewedLeft, rightDim, Seq("k"), nSalts = 8)
      .select("k", "lv", "rv").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(salted === plain)
    assert(salted.length === 20000)
  }

  test("the hot key spreads across shuffle partitions") {
    val salted = SaltedJoin.inner(skewedLeft, rightDim, Seq("k"), nSalts = 8)
    // post-join partition histogram of the hot key's rows
    val hot = salted.filter(col("k") === 1L)
      .select(spark_partition_id().as("pid"))
      .groupBy("pid").count().collect()
    assert(hot.length >= 4, s"hot key landed in only ${hot.length} partitions")
    // plain join concentrates the hot key in exactly one partition
    val plainHot = skewedLeft.join(rightDim, Seq("k"))
      .filter(col("k") === 1L)
      .select(spark_partition_id().as("pid")).distinct().count()
    assert(plainHot === 1L)
    // and the salt participates in the exchange
    val plan = salted.queryExecution.executedPlan.toString()
    assert(plan.contains("__salt"), plan)
  }
}
