package graft.streaming

import java.time.LocalDateTime

import graft.vcr.{Tape, TapeWriter, TimeArg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The VCR's streaming faces (SURVEY §2.7 R1/R4).
  *
  * Record (reference `record`: KCL consumer → buffered S3 emits) is a
  * Structured Streaming sink: each micro-batch appends its records to
  * the date-partitioned tape; the reference's size/time buffer knobs
  * map to trigger interval + source rate options, checkpointing
  * replaces the DynamoDB lease table for exactly-once progress.
  *
  * Tape layout of a recording: each micro-batch is flushed where it was
  * read, like the reference's per-worker buffer flush
  * (KinesisRecorder.java:23-47) — the kinesis-shaped source plans one
  * partition per shard, so every trigger writes one
  * `{firstSeq}-{lastSeq}.txt` file per (shard, day), in one Spark job
  * with no shuffle. Shards interleave in sequence number, so files of a
  * recorded tape may overlap in seq range (the tape contract allows
  * it; a batch [[TapeWriter.write]] tape instead holds range-shaped,
  * seq-disjoint files). A zone-map seek ([[graft.vcr.TapeManifest]])
  * on a recorded tape stays correct but is less selective: it may open
  * up to one file per shard per trigger of the requested range.
  *
  * Replay-as-a-stream (the reference replays to Kinesis; R4 re-emits
  * the tape as a Spark stream) is a file-source read of the pruned day
  * range, rate-limited with maxFilesPerTrigger — the analog of pacing
  * replay to the target stream's shard throughput.
  */
object StreamRecorder {

  /** R1: record a stream of `data BINARY, seq BIGINT, ts TIMESTAMP`
    * onto the tape. One tape flush per micro-batch.
    *
    * The file count follows the source's partitioning: each trigger
    * writes one file per (input partition, day), at most `numFiles`
    * (or `defaultParallelism` when `numFiles` is 0) partitions per
    * trigger. From the kinesis-shaped source that is one file per
    * (shard, day) while shards do not outnumber the cap.
    *
    * @param numFiles cap on a micro-batch's partitions; `0` caps at
    *                 `defaultParallelism`. A micro-batch with more
    *                 partitions (one whose plan has a shuffle in it
    *                 has `spark.sql.shuffle.partitions`) is merged with
    *                 `coalesce` first, still shuffle-free, so a file
    *                 may then hold several partitions' records.
    */
  def record(records: DataFrame, root: String, stream: String,
             checkpoint: String, numFiles: Int = 0): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        flush(batch, root, stream, numFiles)
      }
      .start()

  /** Appends one micro-batch to the tape from the partitions the source
    * gave it ([[TapeWriter.append]]): one Spark job, no shuffle, no
    * range-sampling pass. `coalesce` to the cap leaves a batch with no
    * more partitions than that as it is (without preferred locations,
    * as from the kinesis-shaped source, one partition per task), so
    * the batch's partition count is never read — reading it plans the
    * batch once more, tens of ms per trigger.
    */
  private def flush(batch: DataFrame, root: String, stream: String,
                    numFiles: Int): Unit =
    TapeWriter.append(batch.coalesce(if (numFiles > 0) numFiles
      else batch.sparkSession.sparkContext.defaultParallelism),
      s"$root/$stream")

  /** R27: record WITH index maintenance — the V13/V14 loop closed at
    * the recorder: after each micro-batch's tape flush, the zone-map
    * manifest refreshes INCREMENTALLY (only the files this trigger
    * just sealed get read — V14's immutability argument), so a
    * seq-range seek is correct the moment its data lands, not after a
    * nightly rebuild. The refresh runs inside foreachBatch AFTER the
    * write, so checkpoint recovery replays the batch and re-refreshes
    * idempotently (refresh of an already-indexed file set is a
    * metadata no-op).
    *
    * The refresh is SCOPED to the dt partitions this trigger wrote —
    * the recorder knows its own footprint (the batch's distinct event
    * days, a bounded collect: O(days per trigger) values). Per-trigger
    * listing cost is therefore O(today's files), not O(archive): an
    * unscoped refresh would listStatus-walk every `dt=` directory of
    * the tape on every micro-batch — millions of object-store LIST
    * round trips at 100 TB, the exact cost V13's manifest exists to
    * avoid. Retention keeps the manifest honest through its own hook
    * (`TapeCompactor.ExpireResult.days` → scoped refresh, see VcrCli's
    * expire verb); the unscoped full walk stays available as the
    * explicit audit path (`VcrCli index`).
    *
    * Tape files and `numFiles` are as in [[record]].
    */
  def recordIndexed(records: DataFrame, root: String, stream: String,
                    checkpoint: String, numFiles: Int = 0): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // persist carries the batch from the tape flush to the
        // footprint scan — without it the source would be re-pulled
        val b = batch.persist()
        flush(b, root, stream, numFiles)
        val dts = b.select(Tape.dtOf(col(Tape.TsCol)).as(Tape.DtCol))
          .distinct().collect().map(_.getString(0)).toSet
        b.unpersist()
        graft.vcr.TapeManifest.refresh(batch.sparkSession, root, stream, dts)
        ()
      }
      .start()

  /** R1, closed loop: record FROM a Kinesis-shaped endpoint onto the
    * tape — the reference's `record` end to end (KCL consumer → buffer
    * → S3 emit, KinesisRecorder.java:23-47): the kinesis-shaped source
    * consumes per shard with backoff-on-throttle, each micro-batch is a
    * bounded buffer (`maxRecordsPerTrigger`), and the streaming
    * checkpoint's per-shard sequence offsets replace the KCL's DynamoDB
    * lease table — a restart resumes exactly where the leases say.
    */
  def recordFromKinesis(spark: SparkSession, endpointName: String,
                        sourceStream: String, root: String,
                        checkpoint: String,
                        maxRecordsPerTrigger: Int = 0,
                        maxBytesPerTrigger: Long = 0L): StreamingQuery =
    record(
      spark.readStream.format("kinesis-shaped")
        .option("endpoint", endpointName)
        .option("stream", sourceStream)
        .option("maxRecordsPerTrigger", maxRecordsPerTrigger)
        .option("maxBytesPerTrigger", maxBytesPerTrigger)
        .load()
        .select(col(Tape.DataCol), col(Tape.SeqCol), col(Tape.TsCol)),
      root, sourceStream, checkpoint)

  /** R4: the tape range re-emitted as a stream of payloads via the
    * native tape streaming source (graft.sources.TapeMicroBatchStream):
    * at most `maxFilesPerTrigger` tape files per micro-batch, the day
    * range pruned from the stream's file listing.
    */
  def replayStream(spark: SparkSession, root: String, stream: String,
                   start: LocalDateTime, end: Option[LocalDateTime],
                   maxFilesPerTrigger: Int = 1): DataFrame = {
    val endEff = TimeArg.effectiveEnd(start, end)
    spark.readStream.format("tape")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(s"$root/$stream")
      .filter(col(Tape.DtCol) >= lit(start.toLocalDate.toString) &&
        col(Tape.DtCol) <= lit(endEff.toLocalDate.toString))
      .select(col(Tape.PayloadCol))
  }

  /** Kinesis writes admit 1 MB/s per open shard — the constant
    * `estimate` divides by (Estimator.minutesFor, reference
    * KinesisVcr.java:94-97).
    */
  val BytesPerShardPerSecond: Long = 1000L * 1000L

  /** R4 with the reference's throughput model IN the stream: the
    * per-trigger byte budget is shards × 1 MB/s × trigger seconds,
    * with the shard count discovered from the target stream's endpoint
    * (DescribeStream open shards). Admission is byte-based (summed
    * tape-file sizes per micro-batch), matching `estimate`'s
    * Σ-object-sizes arithmetic.
    *
    * The budget caps bytes PER TRIGGER; the wall-clock rate follows
    * only when triggers actually fire every `triggerSeconds` — start
    * the query with [[shardPacedTrigger]] (a processing-time trigger of
    * the same interval). With the default ASAP trigger, micro-batches
    * run back-to-back and the replay outpaces the model.
    */
  def shardPacedTrigger(triggerSeconds: Int = 1)
  : org.apache.spark.sql.streaming.Trigger =
    org.apache.spark.sql.streaming.Trigger.ProcessingTime(
      triggerSeconds * 1000L)

  def replayStreamShardPaced(spark: SparkSession, root: String,
                             stream: String, start: LocalDateTime,
                             end: Option[LocalDateTime],
                             endpoint: graft.vcr.KinesisEndpoint,
                             targetStream: String,
                             triggerSeconds: Int = 1): DataFrame = {
    val shards = endpoint.describeStreamOpenShards(targetStream)
    val endEff = TimeArg.effectiveEnd(start, end)
    spark.readStream.format("tape")
      .option("maxBytesPerTrigger",
        shards.toLong * BytesPerShardPerSecond * triggerSeconds)
      .load(s"$root/$stream")
      .filter(col(Tape.DtCol) >= lit(start.toLocalDate.toString) &&
        col(Tape.DtCol) <= lit(endEff.toLocalDate.toString))
      .select(col(Tape.PayloadCol))
  }
}
