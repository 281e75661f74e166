package graft.vcr

import graft.sources.TapeListing
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The batch tape writer (reference: KinesisRecorder.java +
  * InjectableS3Emitter.java).
  *
  * The reference buffers records per KCL worker and flushes each buffer
  * to one S3 object named `{stream}/{yyyy-MM-dd}/{firstSeq}-{lastSeq}`.
  * A batch frame has no workers, so [[write]] shapes its own buffers:
  * `repartitionByRange(dt, seq)` gives each task a seq-contiguous slice
  * and [[append]] streams each task's rows into one file per day, named
  * `{firstSeq}-{lastSeq}.txt` from task-local min/max at task commit
  * ([[graft.sources.TapeWrite]]) — one pass, no driver rename loop,
  * crash-safe dot-prefixed temps. A batch-written tape therefore holds
  * range-shaped files whose seq ranges are disjoint.
  *
  * The streaming recorder ([[graft.streaming.StreamRecorder]]) already
  * has per-shard buffers — its source plans one partition per shard —
  * and calls [[append]] on them directly: no range shuffle, and files
  * per (shard, day, trigger) whose seq ranges may overlap.
  */
object TapeWriter {

  /** Write a record frame (`data BINARY, seq BIGINT, ts TIMESTAMP`) as a
    * tape under `root/stream/`. Returns the number of files on the tape
    * (0 for a `SaveMode.Ignore` skip).
    *
    * The returned count costs one metadata walk over the WHOLE tape
    * ([[TapeListing]]) — fine for a batch CLI verb, wrong per streaming
    * trigger (an O(archive) LIST on a hot path, the same class as the
    * unscoped V14 walk), which is why the recorder calls [[append]]
    * instead.
    *
    * @param numFiles target parallelism (≅ number of flushed buffers);
    *                 pick so each file ≈ the reference's 100 MiB buffer.
    */
  def write(records: DataFrame, root: String, stream: String,
            numFiles: Int = 0,
            mode: SaveMode = SaveMode.Overwrite): Int = {
    val spark = records.sparkSession
    val n = if (numFiles > 0) numFiles else spark.sparkContext.defaultParallelism
    val dir = s"$root/$stream"
    val path = new Path(dir)
    val fs = FileSystem.get(path.toUri, spark.sparkContext.hadoopConfiguration)
    mode match {
      case SaveMode.Overwrite => fs.delete(path, true)
      case SaveMode.ErrorIfExists if fs.exists(path) =>
        throw new IllegalStateException(s"tape $dir already exists")
      case SaveMode.Ignore if fs.exists(path) => return 0
      case _ => ()
    }
    append(records.repartitionByRange(n, Tape.dtOf(col(Tape.TsCol)),
      col(Tape.SeqCol)), dir)
    // one metadata walk for the return value; the write itself is done
    TapeListing.list(fs, path, _ => true).size
  }

  /** Appends `records` to the tape at `dir` as they are partitioned:
    * each partition is sorted by (dt, seq) and written through the
    * tape's DataSource V2 ingest face, one `{firstSeq}-{lastSeq}.txt`
    * file per (partition, day). Adds no shuffle of its own: on a
    * micro-batch straight from its source this is one Spark job.
    */
  private[graft] def append(records: DataFrame, dir: String): Unit =
    records.select(col(Tape.DataCol), col(Tape.SeqCol), col(Tape.TsCol))
      .sortWithinPartitions(Tape.dtOf(col(Tape.TsCol)), col(Tape.SeqCol))
      .write.format("tape").option("ingest", "true").mode("append").save(dir)
}
