package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural Bloom guarantees, independently of the DuckDB oracle
  * (which shares the hash arithmetic and would share its bugs): no
  * false negatives ever, and a false-positive rate near the textbook
  * estimate at the configured load.
  */
class BloomFilterSpec extends AnyFunSuite with SharedSpark {
  private val M = 1 << 12 // small m so FPs actually occur
  private val K = 4

  test("no false negatives; FP rate near (1 - e^(-kn/m))^k; merge = OR") {
    import spark.implicits._
    val n = 500
    val inserted = (1 to n).map(i => s"in-$i")
    // build distributed across partitions => partial buffers merge
    val words = inserted.toDF("x").repartition(4)
      .agg(BloomFilterAgg(col("x"), M, K).as("bf"))
      .head().getSeq[Long](0)
    assert(words.length === M / 64)

    def probeAll(items: Seq[String]): Long =
      items.toDF("x").withColumn("__bf", typedLit(words))
        .filter(BloomFilterAgg.probe("__bf", "x", M, K))
        .count()

    // every inserted item probes positive — the structural guarantee
    assert(probeAll(inserted) === n.toLong)

    // disjoint probes: measured FPR within 3x of the estimate
    val probes = (1 to 4000).map(i => s"out-$i")
    val fp = probeAll(probes).toDouble / probes.size
    val est = math.pow(1.0 - math.exp(-K.toDouble * n / M), K)
    assert(fp < est * 3 + 0.01, s"fpr $fp vs estimate $est")

    // JVM position == the SQL hash family (one probe cross-checked)
    val viaSql = spark.sql(
      s"SELECT pmod(cast(conv(substring(md5(concat('2-', 'in-7')), 1, 7)," +
        s" 16, 10) as bigint), $M) AS p").head().getLong(0)
    assert(viaSql === BloomFilterAgg.position(2, "in-7", M).toLong)
  }
}
