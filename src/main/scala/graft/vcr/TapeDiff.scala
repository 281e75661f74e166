package graft.vcr

import graft.streaming.StreamDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** V16: replica comparison by digest — the operational consumer of
  * V15: two tape roots (primary and replica, or yesterday's snapshot
  * and today's) compare by their per-day (n, bytes, xor) digest
  * tables, never by payload. A FULL OUTER join of two digest frames
  * classifies every day partition as `match`, `diverged` (present in
  * both, any digest field differs), or `missing_a`/`missing_b` — the
  * A30 reconciliation shape applied to the archive itself. Cost: two
  * digest scans + a |days|-row join, however many TB the tapes hold;
  * the day then gets repaired by replaying just that partition.
  */
object TapeDiff {

  /** Per-day (n, bytes, xor) digests of the stored lines, the same
    * fold `VcrCli digest` and the live recorder digest (R29) apply.
    */
  private def digests(spark: SparkSession, root: String,
                      stream: String): DataFrame =
    StreamDigest.digests(Tape.scan(spark, s"$root/$stream"), col(Tape.LineCol))

  /** One row per day present on either side:
    * (dt, status, n_a, n_b, digest_a, digest_b).
    */
  def diff(spark: SparkSession, rootA: String, streamA: String,
           rootB: String, streamB: String): DataFrame = {
    val a = digests(spark, rootA, streamA)
      .select(col(Tape.DtCol), col("n").as("n_a"),
        col("digest").as("digest_a"))
    val b = digests(spark, rootB, streamB)
      .select(col(Tape.DtCol), col("n").as("n_b"),
        col("digest").as("digest_b"))
    a.join(b, Seq(Tape.DtCol), "full_outer")
      .withColumn("status",
        when(col("n_a").isNull, "missing_a")
          .when(col("n_b").isNull, "missing_b")
          .when(col("n_a") === col("n_b") &&
            col("digest_a") === col("digest_b"), "match")
          .otherwise("diverged"))
      .select(col(Tape.DtCol), col("status"), col("n_a"), col("n_b"),
        col("digest_a"), col("digest_b"))
      .orderBy(col(Tape.DtCol))
  }
}
