package graft.vcr

import java.time.LocalDateTime

import graft.sources.TapeListing
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Replay-time estimation (reference: KinesisVcr.java:76-100, 120-149):
  * Σ tape-object sizes in range, 1 MB/s per open shard, integer-division
  * chain MB = bytes/1000/1000 then minutes = MB/shards/60, then
  * humanized to the largest unit.
  *
  * The size sum is a pure file-metadata walk over the pruned `dt=` day
  * directories ([[TapeListing]], the listing every tape read uses) —
  * same O(#files-in-range) listing the reference does, no data reads.
  * (At extreme file counts a distributed listing via a Spark job over
  * day prefixes would shard it; sizes never require opening objects.)
  */
object Estimator {

  final case class Estimate(files: Long, bytes: Long, shards: Int,
                            minutes: Long, human: String)

  def estimate(conf: Configuration, root: String, stream: String,
               start: LocalDateTime, end: Option[LocalDateTime],
               shards: Int): Estimate = {
    val (from, to) = TimeArg.days(start, end)
    val dir = new Path(s"$root/$stream")
    val files = TapeListing.list(dir.getFileSystem(conf), dir,
      dt => dt >= from && dt <= to)
    val bytes = files.map(_.size).sum
    val minutes = minutesFor(bytes, shards)
    Estimate(files.size.toLong, bytes, shards, minutes, humanize(minutes))
  }

  /** Shard count discovered from the target stream's endpoint, like the
    * reference's DescribeStream open-shard count
    * (KinesisPlayer.java:76-83), instead of a hand-set env var.
    */
  def estimate(conf: Configuration, root: String, stream: String,
               start: LocalDateTime, end: Option[LocalDateTime],
               endpoint: KinesisEndpoint, targetStream: String): Estimate =
    estimate(conf, root, stream, start, end,
      endpoint.describeStreamOpenShards(targetStream))

  /** Integer-division chain exactly as the reference computes it. */
  def minutesFor(bytes: Long, shards: Int): Long =
    bytes / 1000 / 1000 / shards / 60

  /** DECODED-byte estimate — the throughput-faithful model. The
    * reference's estimate sums S3 OBJECT sizes (KinesisVcr.java:92-99),
    * but tape bytes are base64 lines: ~4/3 the raw payload plus a
    * newline per record, and Kinesis's 1 MB/s/shard cap meters the
    * PutRecords PAYLOAD, not its base64 transport encoding — so the
    * object-size model systematically overestimates replay time by
    * ~33%. This variant reconciles through the tape DSv2 read
    * ([[graft.sources.TapeDataSource]]): `dt` predicates prune to the
    * requested day partitions in the planner, `src` counts the files,
    * and the byte sum is `octet_length(payload)` — the exact quantity
    * `vcr_batch`'s PutRecords budget and the replay pacer
    * (`replayStreamShardPaced`) meter. Costs one pruned scan of the
    * range (decode is needed to know payload sizes); the metadata-only
    * walk above remains the reference-parity fast path.
    */
  def estimateDecoded(spark: org.apache.spark.sql.SparkSession,
                      root: String, stream: String,
                      start: LocalDateTime, end: Option[LocalDateTime],
                      shards: Int): Estimate = {
    import org.apache.spark.sql.functions._
    val row = TapePlayer.read(spark, root, stream, start, end).agg(
      countDistinct(col("src")).as("files"),
      coalesce(sum(octet_length(col(Tape.PayloadCol))), lit(0L)).as("bytes"))
      .head()
    val (files, bytes) = (row.getLong(0), row.getLong(1))
    val minutes = minutesFor(bytes, shards)
    Estimate(files, bytes, shards, minutes, humanize(minutes))
  }

  /** reference: KinesisVcr.java:132-148 */
  def humanize(timeInMinutes: Long): String = {
    if (timeInMinutes < 60) return s"$timeInMinutes mins"
    val hours = timeInMinutes / 60
    if (hours < 24) return s"$hours hours"
    val days = timeInMinutes / 60 / 24
    if (days < 30) s"$days days" else s"${days / 30} months"
  }
}
