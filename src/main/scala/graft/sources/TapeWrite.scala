package graft.sources

import java.io.BufferedOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.UUID

import scala.collection.mutable

import graft.vcr.Tape
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType, TimestampType}
import org.apache.spark.util.SerializableConfiguration

/** The tape's DataSource V2 write path:
  *
  * {{{
  * df.select($"data", $"seq", $"ts")      // BINARY, BIGINT, TIMESTAMP
  *   .write.format("tape").option("ingest", "true")
  *   .mode("append").save(s"$root/$stream")
  * }}}
  *
  * Each task streams its rows into one file per day it sees, tracking
  * min/max seq as it goes; at task commit the temp file is renamed to
  * the final `{firstSeq}-{lastSeq}.txt` (reference naming:
  * InjectableS3Emitter.java:38-44), at task abort it is deleted. This
  * folds TapeWriter's manifest + driver rename pass into the write
  * itself — one pass, no driver work, crash-safe (uncommitted temp
  * files are dot-prefixed and invisible to readers/compaction).
  *
  * The file layout follows the frame's partitioning, so the caller
  * shapes it: `TapeWriter.write` range-partitions a batch frame on
  * (dt, seq), which gives range-shaped files with disjoint seq ranges;
  * the streaming recorder writes each micro-batch as the source
  * partitioned it, one partition per shard, which gives one file per
  * (shard, day, trigger), and those seq ranges may overlap (the
  * reference's files from parallel shard workers overlap too). Both
  * sort within partitions on (dt, seq) so each file's lines are in seq
  * order. Readers, [[graft.vcr.TapeFsck]] and
  * [[graft.vcr.TapeCompactor]] accept either layout.
  */
object TapeWrite {
  /** schema accepted by the ingest face (option ingest=true) */
  val IngestSchema: StructType = StructType(Seq(
    StructField(Tape.DataCol, BinaryType, nullable = false),
    StructField(Tape.SeqCol, LongType, nullable = false),
    StructField(Tape.TsCol, TimestampType, nullable = false)))
}

class TapeWriteBuilder(path: String, info: LogicalWriteInfo)
  extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val schema = info.schema()
      val expect = TapeWrite.IngestSchema.fieldNames.toSeq
      require(schema.fieldNames.toSeq == expect,
        s"tape ingest expects columns $expect, got ${schema.fieldNames.toSeq}")
      new TapeBatchWrite(path, new SerializableConfiguration(
        org.apache.spark.sql.SparkSession.active
          .sparkContext.hadoopConfiguration))
    }
  }
}

class TapeBatchWrite(path: String, conf: SerializableConfiguration)
  extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
  : DataWriterFactory = new TapeDataWriterFactory(path, conf)
  // task commits already placed final files; nothing to do at job level
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class TapeFilesCommitted(files: Seq[String])
  extends WriterCommitMessage

class TapeDataWriterFactory(path: String, conf: SerializableConfiguration)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : DataWriter[InternalRow] = new TapeDataWriter(path, conf, taskId)
}

class TapeDataWriter(root: String, conf: SerializableConfiguration,
                     taskId: Long) extends DataWriter[InternalRow] {

  private val fs = FileSystem.get(new java.net.URI(root), conf.value)
  private val dtFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
    .withZone(ZoneOffset.UTC)
  private val encoder = java.util.Base64.getEncoder

  private final class DayFile(val tmp: Path) {
    val out = new BufferedOutputStream(fs.create(tmp, true), 1 << 16)
    var first: Long = Long.MaxValue
    var last: Long = Long.MinValue
  }
  private val open = mutable.Map[String, DayFile]()

  override def write(row: InternalRow): Unit = {
    val data = row.getBinary(0)
    val seq = row.getLong(1)
    val tsMicros = row.getLong(2)
    val dt = dtFmt.format(Instant.ofEpochSecond(
      Math.floorDiv(tsMicros, 1000000L),
      Math.floorMod(tsMicros, 1000000L) * 1000L))
    val df = open.getOrElseUpdate(dt, {
      val dayDir = new Path(root, s"${Tape.DtCol}=$dt")
      fs.mkdirs(dayDir)
      new DayFile(new Path(dayDir,
        s".inprogress-$taskId-${UUID.randomUUID()}"))
    })
    df.out.write(encoder.encode(data))
    df.out.write('\n')
    if (seq < df.first) df.first = seq
    if (seq > df.last) df.last = seq
  }

  override def commit(): WriterCommitMessage = {
    val finals = open.toSeq.map { case (_, df) =>
      df.out.close()
      val base = new Path(df.tmp.getParent, s"${df.first}-${df.last}.txt")
      val suffixed = new Path(df.tmp.getParent,
        s"${df.first}-${df.last}-$taskId.txt")
      // identical range from another task: disambiguate; the rename
      // result is CHECKED so an exists() race (TOCTOU) falls back to
      // the task-unique name instead of leaving the file dot-prefixed
      // and invisible
      val dest = if (fs.exists(base)) suffixed else base
      if (fs.rename(df.tmp, dest)) dest.toString
      else if ((dest != suffixed) && fs.rename(df.tmp, suffixed))
        suffixed.toString
      else throw new java.io.IOException(
        s"tape commit: could not rename ${df.tmp} to $dest")
    }
    open.clear()
    TapeFilesCommitted(finals)
  }

  override def abort(): Unit = {
    open.values.foreach { df =>
      try df.out.close() catch { case _: Throwable => () }
      fs.delete(df.tmp, false)
    }
    open.clear()
  }

  override def close(): Unit = ()
}
