package graft.vcr

import java.time.{LocalDateTime, ZoneOffset}

import graft.sources.TapeListing
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replay: tape → records → batched puts (reference: KinesisPlayer.java).
  *
  * The reference lists each day folder in `[start, end)` on the driver,
  * filters objects by last-modified, splits lines, Base64-decodes, and
  * re-emits in ≤500-record / ≤1 MB PutRecords batches. Spark-first:
  * the day loop is the tape scan's `dt` pushdown, which lists only the
  * day directories in range ([[graft.sources.TapeScan]]), the line
  * split/skip-empties/decode run in the scan's reader, and batch
  * assembly is a per-partition fold — per-partition batching matches the
  * reference, whose batches never span S3 objects read on different
  * threads.
  */
object TapePlayer {

  /** Tape lines for `[start, effectiveEnd(start, end)]`, pruned by day
    * before listing (reference: KinesisPlayer.java:199-246). Columns:
    * `line STRING, dt STRING, src STRING (file), payload BINARY`.
    * Empty lines are skipped (reference: KinesisPlayer.java:170-172).
    *
    * GRANULARITY, documented divergence: this selects whole DAYS — a
    * `play 2024-01-10T12:00:00` replays all of 2024-01-10. The
    * reference is finer only via a proxy: it drops S3 objects whose
    * last-modified second falls outside `(start, end)`
    * (KinesisPlayer.java:203-215) — object mtime, not record time.
    * Callers wanting in-day precision should filter on the decoded
    * record's own timestamp (what the `vcr_range` gate query models),
    * or pass `mtimeWindow = true` for strict reference parity over
    * file modification times.
    */
  def read(spark: SparkSession, root: String, stream: String,
           start: LocalDateTime, end: Option[LocalDateTime],
           mtimeWindow: Boolean = false): DataFrame = {
    val endEff = TimeArg.effectiveEnd(start, end)
    val dir = s"$root/$stream"
    val (from, to) = TimeArg.days(start, end)
    val tape = if (!mtimeWindow) Tape.scan(spark, dir) else {
      // Strict reference parity (KinesisPlayer.java:203-215): objects
      // with mtime second STRICTLY inside (start, end), read by name.
      val startSec = start.toEpochSecond(ZoneOffset.UTC)
      val endSec = endEff.toEpochSecond(ZoneOffset.UTC)
      val path = new Path(dir)
      val files = TapeListing.list(
          path.getFileSystem(spark.sparkContext.hadoopConfiguration), path,
          dt => dt >= from && dt <= to)
        .filter(f => f.mtime / 1000L > startSec && f.mtime / 1000L < endSec)
      Tape.scanFiles(spark, dir, files.map(_.file))
    }
    tape.filter(col(Tape.DtCol) >= lit(from) && col(Tape.DtCol) <= lit(to))
      .select(col(Tape.LineCol), col(Tape.DtCol), col("src"),
        col(Tape.PayloadCol))
  }

  /** Decoded payloads only (reference: objectToPayloads). */
  def payloads(spark: SparkSession, root: String, stream: String,
               start: LocalDateTime, end: Option[LocalDateTime]): DataFrame =
    read(spark, root, stream, start, end).select(Tape.PayloadCol)

  /** Assemble per-partition PutRecords batches and emit them through a
    * [[ReplaySink]], with partial-failure retry. Returns records sent.
    * Runs inside `foreachPartition` — no driver-side data movement.
    *
    * Each record carries a deterministic partition key
    * ([[PartitionKeys.forPayload]]; the reference attaches a random
    * UUID per record, KinesisPlayer.java:99-103). On partial failure
    * only the FAILED sub-records are retried — accepted records are
    * never re-sent (KinesisPlayer.java:131-144) — and a batch that
    * still fails at the retry deadline FAILS THE TASK rather than
    * being silently counted as sent.
    */
  def play(tape: DataFrame, sinkFactory: ReplaySinkFactory,
           maxCount: Int = KinesisBatcher.MaxBatchCount,
           maxBytes: Long = KinesisBatcher.MaxBatchBytes,
           retryTimeoutMillis: Long = 30000L): Long = {
    val spark = tape.sparkSession
    val sent = spark.sparkContext.longAccumulator("vcr.replay.sent")
    tape.select(Tape.PayloadCol).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        val sink = sinkFactory.open()
        try {
          KinesisBatcher.assemble(
            rows.map(_.getAs[Array[Byte]](0)), maxCount, maxBytes)
            .foreach { batch =>
              var pending = batch.payloads
                .map(p => ReplayRecord(PartitionKeys.forPayload(p), p))
              val done = Retry.withBackoff(
                () => {
                  val failedIdx = sink.putBatch(pending)
                  if (failedIdx.nonEmpty) {
                    pending = failedIdx.map(pending) // retry failures only
                    throw new PartialFailure(failedIdx.length)
                  }
                },
                retryOn = _.isInstanceOf[PartialFailure],
                timeoutMillis = retryTimeoutMillis)
              if (done.isEmpty)
                throw new ReplayExhausted(pending.length, retryTimeoutMillis)
              sent.add(batch.payloads.length.toLong)
            }
        } finally sink.close()
    }
    sent.value
  }

  final class PartialFailure(val failedCount: Int)
    extends RuntimeException(s"$failedCount records failed")

  /** A batch whose failed sub-records never drained within the retry
    * deadline — surfaced as a task failure, never dropped.
    */
  final class ReplayExhausted(val stillFailing: Int, timeoutMillis: Long)
    extends RuntimeException(
      s"$stillFailing records still failing after ${timeoutMillis} ms of retries")
}
