package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKAggSpec extends AnyFunSuite with SharedSpark {
  test("TopKAgg equals the window top-k on large multi-partition groups") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select(col("l_returnflag").as("g"),
        col("l_extendedprice").as("s"),
        // unique id per line for a total order
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"))
    val viaAgg = li.groupBy(col("g"))
      .agg(TopKAgg(col("s"), col("id"), 5).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).as("rank"),
        col("col.score").as("s"), col("col.id").as("id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
        r.getLong(3))).toSet
    val w = Window.partitionBy(col("g"))
      .orderBy(col("s").desc, col("id"))
    val viaWindow = li.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("g"), col("rank"), col("s"), col("id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(viaAgg === viaWindow)
  }

  test("buffer: rejects below-floor, inserts in order, breaks ties on id") {
    val b = new TopKAgg.Buf(3)
    b.offer(1.0, 10); b.offer(3.0, 30); b.offer(2.0, 20)
    assert((b.scores.take(3).toSeq, b.ids.take(3).toSeq) ===
      (Seq(3.0, 2.0, 1.0), Seq(30L, 20L, 10L)))
    b.offer(0.5, 99) // below floor on a full buffer: rejected
    assert(b.scores.take(3).toSeq === Seq(3.0, 2.0, 1.0))
    b.offer(2.0, 15) // tie with 20 -> smaller id wins the earlier slot
    assert((b.scores.take(3).toSeq, b.ids.take(3).toSeq) ===
      (Seq(3.0, 2.0, 2.0), Seq(30L, 15L, 20L)))
    val other = new TopKAgg.Buf(3)
    other.offer(4.0, 40); other.offer(2.5, 25)
    b.absorb(other)
    assert((b.scores.take(3).toSeq, b.ids.take(3).toSeq) ===
      (Seq(4.0, 3.0, 2.5), Seq(40L, 30L, 25L)))
  }
}
