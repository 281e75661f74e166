package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural Count-Min guarantees, independently of the DuckDB
  * oracle (which shares the hash arithmetic): estimates never
  * undershoot, the counter mass is conserved per row, the matrix is
  * identical under any partitioning (merge = elementwise add), and
  * the JVM hash matches the SQL family.
  */
class CountMinSpec extends AnyFunSuite with SharedSpark {
  private val D = 4
  private val W = 64 // small width so collisions actually occur

  test("est >= true for every key; row mass conserved; merge order-free") {
    import spark.implicits._
    // zipf-ish: key i appears i times, 60 keys, n = 1830 events
    val events = (1 to 60).flatMap(i => Seq.fill(i)(s"k-$i"))
    val n = events.size.toLong
    def build(parts: Int): Seq[Long] =
      events.toDF("x").repartition(parts)
        .agg(CountMinAgg(col("x"), D, W).as("cm"))
        .head().getSeq[Long](0)

    val cm = build(4)
    assert(cm.length === D * W)
    // mass conservation: every row distributes all n increments
    (0 until D).foreach { r =>
      assert(cm.slice(r * W, (r + 1) * W).sum === n, s"row $r mass")
    }
    // partitioning invariance: elementwise-add merge is order-free
    assert(build(1) === cm)
    assert(build(7) === cm)

    // the guarantee: est >= true count for EVERY key, and exact when
    // min-row is collision-free
    val truth = events.groupBy(identity).map { case (k, v) => k -> v.size }
    val ests = events.distinct.toDF("x")
      .withColumn("__cm", typedLit(cm))
      .withColumn("est", CountMinAgg.estimate("__cm", "x", D, W))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    truth.foreach { case (k, t) =>
      assert(ests(k) >= t, s"$k: est ${ests(k)} under true $t")
    }
    // the average overshoot obeys the eps*n envelope loosely (e/W per
    // row, min over D rows): far below one-row expected collision mass
    val meanOver = truth.map { case (k, t) => (ests(k) - t).toDouble }
      .sum / truth.size
    assert(meanOver <= math.E * n / W,
      s"mean overshoot $meanOver above e*n/W = ${math.E * n / W}")

    // JVM position == the SQL hash family
    val viaSql = spark.sql(
      "SELECT pmod(cast(conv(substring(md5(concat('3-', 'k-7')), 1, 7)," +
        s" 16, 10) as bigint), $W) AS p").head().getLong(0)
    assert(viaSql === CountMinAgg.position(3, "k-7", W).toLong)
  }
}
