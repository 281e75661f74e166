package graft.operators

import java.nio.file.Files

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class BucketingSpec extends AnyFunSuite with SharedSpark {
  test("bucketed fact-fact join runs with no Exchange on either side") {
    val dir = "/root/testdata/sf0.001"
    // no size-based broadcast: the joins must plan as shuffled joins;
    // the tables live in a database of their own under a temp dir
    val db = "bucketing_spec"
    spark.sql(s"CREATE DATABASE $db LOCATION " +
      s"'${Files.createTempDirectory("graft-warehouse").toUri}'")
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = graft.Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      val o = graft.Tables.orders(spark, dir)
        .select("o_orderkey", "o_totalprice")
        .withColumnRenamed("o_orderkey", "l_orderkey")

      Bucketing.writeBucketed(li, s"$db.li_b", "l_orderkey", 8)
      Bucketing.writeBucketed(o, s"$db.o_b", "l_orderkey", 8)

      val joined = Bucketing.bucketedJoin(spark, s"$db.li_b", s"$db.o_b",
        "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), plan) // the shuffle was prepaid
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan)

      // same rows as the unbucketed join
      val want = li.join(o, Seq("l_orderkey")).count()
      assert(joined.count() === want)

      // while a plain (unbucketed) join of the same data must shuffle
      val plainPlan = li.join(o, Seq("l_orderkey"))
        .queryExecution.executedPlan.toString()
      assert(plainPlan.contains("Exchange"), plainPlan)
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }
}
