package graft.vcr

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Replay: tape → records → batched puts (reference: KinesisPlayer.java).
  *
  * The reference lists each day folder in `[start, end)` on the driver,
  * filters objects by last-modified, splits lines, Base64-decodes, and
  * re-emits in ≤500-record / ≤1 MB PutRecords batches. Spark-first:
  * the day loop is a partition-pruned scan of the `dt=` Hive layout
  * (the listing is not pruned — see [[read]]), the line
  * split/skip-empties/decode are codegen'd expressions, and batch
  * assembly is a per-partition fold — per-partition batching matches the
  * reference, whose batches never span S3 objects read on different
  * threads.
  */
object TapePlayer {

  /** Tape lines for `[start, effectiveEnd(start, end)]`, partition-pruned
    * by day (reference: KinesisPlayer.java:199-246). Columns:
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
    val base = if (!mtimeWindow) {
      // read.text keeps the inferred dt= partition column, so the
      // day-range filter prunes the files the scan opens. It does not
      // prune the listing: InMemoryFileIndex lists every dt= directory
      // of the tape before the planner drops the days outside the
      // range, where the reference lists only the day folders in range.
      spark.read.option("basePath", dir).text(dir)
        .filter(col(Tape.DtCol) >= lit(start.toLocalDate.toString) &&
          col(Tape.DtCol) <= lit(endEff.toLocalDate.toString))
    } else {
      // Strict reference parity (KinesisPlayer.java:203-215): objects
      // with mtime second STRICTLY inside (start, end). The listing is
      // one metadata pass over the pruned day dirs, like Estimator.
      val files = mtimeWindowFiles(spark, dir, start, endEff)
      if (files.isEmpty)
        return spark.emptyDataFrame.select(
          lit("").as(Tape.LineCol), lit("").as(Tape.DtCol),
          lit("").as("src"), lit(Array.empty[Byte]).as(Tape.PayloadCol))
          .limit(0)
      spark.read.option("basePath", dir).text(files: _*)
    }
    base
      .filter(length(col("value")) > 0)
      .select(
        col("value").as(Tape.LineCol),
        col(Tape.DtCol).cast("string").as(Tape.DtCol),
        input_file_name().as("src"),
        Tape.decodeLine(col("value")).as(Tape.PayloadCol))
  }

  /** Files in the pruned day dirs whose mtime is strictly inside
    * `(start, end)` at epoch-second granularity, like the reference's
    * object filter.
    */
  private def mtimeWindowFiles(spark: SparkSession, dir: String,
                               start: LocalDateTime,
                               endEff: LocalDateTime): Seq[String] = {
    import java.time.ZoneOffset
    val startSec = start.toEpochSecond(ZoneOffset.UTC)
    val endSec = endEff.toEpochSecond(ZoneOffset.UTC)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[String]
    var d = start.toLocalDate
    while (!d.isAfter(endEff.toLocalDate)) {
      val dayDir = new org.apache.hadoop.fs.Path(root, s"${Tape.DtCol}=$d")
      if (fs.exists(dayDir)) {
        fs.listStatus(dayDir).foreach { st =>
          val mtimeSec = st.getModificationTime / 1000L
          if (st.isFile && !st.getPath.getName.startsWith(".") &&
            mtimeSec > startSec && mtimeSec < endSec)
            out += st.getPath.toString
        }
      }
      d = d.plusDays(1)
    }
    out.result()
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
