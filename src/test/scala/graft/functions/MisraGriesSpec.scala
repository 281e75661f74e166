package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class MisraGriesSpec extends AnyFunSuite with SharedSpark {
  /** The MG guarantees, under arbitrary merge trees: every item with
    * freq > n/(k+1) survives, no kept count exceeds the true count,
    * and the summary never exceeds k entries. Deterministic seed;
    * random split points and merge orders across rounds.
    */
  test("guarantee: freq > n/(k+1) items survive any partition/merge " +
    "order; counts are lower bounds; size <= k") {
    val rnd = new Random(42)
    val k = 9
    (1 to 20).foreach { _ =>
      // skewed stream: one planted heavy item (~30%), a mid item
      // (~15%), long uniform tail
      val n = 2000 + rnd.nextInt(2000)
      val data = Array.fill(n) {
        val r = rnd.nextDouble()
        if (r < 0.30) 7L
        else if (r < 0.45) 13L
        else rnd.nextInt(500).toLong
      }
      val truth = data.groupBy(identity).map { case (i, a) =>
        i -> a.length.toLong }
      // random partitioning into 2-6 chunks, random pairwise merges
      val chunks = rnd.nextInt(5) + 2
      val bufs = data.grouped(math.max(1, n / chunks)).map { part =>
        val b = new MisraGriesAgg.Buf(k)
        part.foreach(b.offer)
        b
      }.toBuffer
      while (bufs.size > 1) {
        val i = rnd.nextInt(bufs.size - 1) + 1
        bufs.head.absorb(bufs(i))
        bufs.remove(i)
      }
      val summary = bufs.head.counts.toMap
      assert(summary.size <= k)
      summary.foreach { case (item, lb) =>
        assert(lb <= truth(item), s"$item: lb $lb > true ${truth(item)}")
      }
      val thresh = n.toLong / (k + 1)
      truth.filter(_._2 > thresh).keys.foreach { hh =>
        assert(summary.contains(hh),
          s"heavy item $hh (freq ${truth(hh)} > $thresh) evicted")
      }
    }
  }

  test("q_heavy_hitters: sketch-then-verify equals the exact groupBy") {
    val dir = "/root/testdata/sf0.01"
    val got = graft.analytics.AnalyticsQueries.qHeavyHitters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ev = graft.Tables.events(spark, dir).select(col("user_id"))
    val n = ev.count()
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >
        lit(n / (graft.analytics.AnalyticsQueries.HeavyHittersK + 1)))
      .orderBy(col("freq").desc, col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === exact)
    assert(got.nonEmpty, "threshold too high: gate query is vacuous")
  }

  test("the sketch aggregate runs distributed (ObjectHashAggregate) " +
    "with partial aggregation") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .repartition(4)
    val p = ev.agg(MisraGriesAgg(col("user_id"), 50).as("mg"))
      .queryExecution.executedPlan.toString()
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert("misragries|MisraGries".r.findFirstIn(p).isDefined ||
      p.contains("mg"), p)
  }
}
