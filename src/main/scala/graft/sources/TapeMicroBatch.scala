package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Streaming face of the tape source: `spark.readStream.format("tape")`
  * replays the archive as a Structured Streaming source — the VCR's
  * `play` as a first-class stream instead of a one-shot batch
  * (reference: KinesisPlayer re-emits to a stream; here downstream IS a
  * stream). `maxFilesPerTrigger` paces the replay (admission control),
  * the analog of the target stream's shard-throughput cap.
  *
  * Offsets are positions in the (dt, firstSeq, name)-sorted file list:
  * a recorder's new flushes carry higher sequence numbers and later
  * days, so appends always extend the tail and committed prefixes stay
  * stable — restarts resume exactly. Contract: don't compact a range
  * while it is being streamed, and late flushes into already-consumed
  * older days are not replayed (same rules as any file stream source).
  */
class TapeMicroBatchStream(path: String, dtFilters: Array[Filter],
                           required: StructType,
                           conf: SerializableConfiguration,
                           maxFilesPerTrigger: Int,
                           maxBytesPerTrigger: Long = 0L)
  extends MicroBatchStream with SupportsAdmissionControl {

  private case class FileCountOffset(count: Long) extends Offset {
    override def json(): String = s"""{"fileCount":$count}"""
  }

  /** tape files matching the dt filters, in (dt, firstSeq, name) order
    * — append-stable (see class doc); plain name order is NOT (names
    * sort lexicographically: "101-" < "21-").
    */
  private def listFiles(): Array[TapeFileSlice] = {
    val root = new Path(path)
    TapeListing.list(root.getFileSystem(conf.value), root,
        dt => dtFilters.forall(TapeScan.dtMatches(dt, _)))
      .sortBy(f => (f.dt, f.seqFirst, f.file)).toArray
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger > 0) ReadLimit.maxFiles(maxFilesPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startCount = start.asInstanceOf[FileCountOffset].count
    val files = listFiles()
    val available = files.length.toLong
    val fileCapped = limit match {
      case m: ReadMaxFiles => math.min(available, startCount + m.maxFiles())
      case _ => available
    }
    // Byte admission: admit files while their summed size fits the
    // trigger budget — always ≥1 file so an oversized file still makes
    // progress (the same rule Spark's file source applies to
    // maxBytesPerTrigger). This is how replay models the target
    // stream's shard throughput cap: budget = shards × 1 MB/s × trigger
    // interval, the exact rate `estimate` divides by.
    val capped =
      if (maxBytesPerTrigger <= 0L) fileCapped
      else {
        var i = startCount
        var used = 0L
        while (i < fileCapped &&
          (i == startCount || used + files(i.toInt).size <= maxBytesPerTrigger)) {
          used += files(i.toInt).size
          i += 1
        }
        i
      }
    FileCountOffset(math.max(capped, startCount))
  }

  override def initialOffset(): Offset = FileCountOffset(0L)

  override def deserializeOffset(json: String): Offset = {
    val m = "\"fileCount\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))
    FileCountOffset(m.group(1).toLong)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileCountOffset].count.toInt
    val e = end.asInstanceOf[FileCountOffset].count.toInt
    val slice = listFiles().slice(s, e)
    // one partition per file: replay order within the batch mirrors the
    // tape order; bin-packing would reorder interleaved days
    slice.map(f => TapeInputPartition(Array(f)): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TapeReaderFactory(required, conf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
