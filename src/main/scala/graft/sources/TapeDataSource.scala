package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import com.fasterxml.jackson.databind.ObjectMapper
import graft.vcr.Tape
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The tape as a first-class Spark DataSource V2, and the tape's one
  * reader: `spark.read.format("tape").load("{root}/{stream}")`, or
  * `load(file, …)` over data files named explicitly (a manifest seek, an
  * mtime window, a refresh's new files). Every tape read in graft —
  * replay, estimate, fsck, diff, the manifest — is this scan.
  *
  * Schema: `payload BINARY, dt STRING, src STRING, seq_first BIGINT,
  * seq_last BIGINT` — the file-name sequence range (reference:
  * InjectableS3Emitter.java:38-44) surfaces as columns. The raw Base64
  * `line` is a metadata column, produced only when selected; `payload`
  * is decoded only when selected, so a scan of `line` reads a corrupt
  * file without throwing. Empty lines are skipped for every column
  * (reference: KinesisPlayer.java:170-172).
  *
  * Scale behaviors baked into the scan:
  * - `dt` filters push down into directory pruning at planning time —
  *   a day-range replay never lists, let alone reads, other days
  *   (reference behavior: KinesisPlayer.java:221-246).
  * - Files are read whole and packed least-loaded by bytes
  *   ([[TapeListing.pack]]): about one split per core for a tape of
  *   small flush files, about one per 128 MB for a large one; the
  *   largest files each start a different split.
  */
class TapeDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tape"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("ingest", false)) TapeWrite.IngestSchema
    else TapeTable.Schema

  /** `load(path)` arrives as `path`, `load(p1, p2, …)` as Spark's JSON
    * `paths` list.
    */
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val paths = Option(properties.get("paths")) match {
      case Some(json) =>
        new ObjectMapper().readValue(json, classOf[Array[String]]).toSeq
      case None => Option(properties.get("path")).toSeq
    }
    new TapeTable(paths,
      "true".equalsIgnoreCase(properties.getOrDefault("ingest", "false")))
  }

  override def supportsExternalMetadata(): Boolean = false
}

object TapeTable {
  val Schema: StructType = StructType(Seq(
    StructField(Tape.PayloadCol, BinaryType, nullable = false),
    StructField(Tape.DtCol, StringType, nullable = false),
    StructField("src", StringType, nullable = false),
    StructField("seq_first", LongType, nullable = true),
    StructField("seq_last", LongType, nullable = true)))
}

/** Read face by default over tape directories and/or data files; with
  * `ingest=true` the table exposes the append-only write face of one
  * tape directory instead (schema data/seq/ts — see TapeWrite).
  */
class TapeTable(paths: Seq[String], ingest: Boolean = false)
  extends Table with SupportsRead with SupportsWrite
  with SupportsMetadataColumns {
  require(paths.nonEmpty, "tape source requires a path")
  override def name(): String = s"tape(${paths.mkString(", ")})"
  override def schema(): StructType =
    if (ingest) TapeWrite.IngestSchema else TapeTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    if (ingest) util.EnumSet.of(TableCapability.BATCH_WRITE)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name(): String = Tape.LineCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(!ingest, "an ingest=true tape table is write-only")
    new TapeScanBuilder(paths, options.getInt("maxFilesPerTrigger", 0),
      options.getLong("maxBytesPerTrigger", 0L))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(ingest, "reads use the default table; pass ingest=true to write")
    require(paths.size == 1, "a tape is written to one directory")
    new TapeWriteBuilder(paths.head, info)
  }
}

class TapeScanBuilder(paths: Seq[String], maxFilesPerTrigger: Int = 0,
                      maxBytesPerTrigger: Long = 0L)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var dtFilters: Array[Filter] = Array.empty
  private var required: StructType = TapeTable.Schema

  /** dt-only comparisons are fully applied by directory pruning; all
    * other filters stay post-scan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (dt, rest) = filters.partition(TapeScan.isPrunableDtFilter)
    dtFilters = dt
    rest
  }
  override def pushedFilters(): Array[Filter] = dtFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def build(): Scan = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    new TapeScan(paths, dtFilters, required,
      new SerializableConfiguration(conf), maxFilesPerTrigger,
      maxBytesPerTrigger)
  }
}

object TapeScan {
  def isPrunableDtFilter(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) => a == Tape.DtCol
    case GreaterThan(a, _: String) => a == Tape.DtCol
    case GreaterThanOrEqual(a, _: String) => a == Tape.DtCol
    case LessThan(a, _: String) => a == Tape.DtCol
    case LessThanOrEqual(a, _: String) => a == Tape.DtCol
    case In(a, vs) => a == Tape.DtCol && vs.forall(_.isInstanceOf[String])
    case _ => false
  }

  /** ISO dates compare lexicographically, so string compares suffice. */
  def dtMatches(dt: String, f: Filter): Boolean = f match {
    case EqualTo(_, v: String) => dt == v
    case GreaterThan(_, v: String) => dt > v
    case GreaterThanOrEqual(_, v: String) => dt >= v
    case LessThan(_, v: String) => dt < v
    case LessThanOrEqual(_, v: String) => dt <= v
    case In(_, vs) => vs.exists(_ == dt)
    case _ => true
  }
}

final case class TapeInputPartition(files: Array[TapeFileSlice])
  extends InputPartition

class TapeScan(paths: Seq[String], dtFilters: Array[Filter],
               required: StructType, conf: SerializableConfiguration,
               maxFilesPerTrigger: Int, maxBytesPerTrigger: Long)
  extends Scan with Batch {

  def this(path: String, dtFilters: Array[Filter], required: StructType,
           conf: SerializableConfiguration) =
    this(Seq(path), dtFilters, required, conf, 0, 0L)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
  : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(paths.size == 1, "a tape stream replays one tape directory")
    new TapeMicroBatchStream(paths.head, dtFilters, required, conf,
      maxFilesPerTrigger, maxBytesPerTrigger)
  }
  override def description(): String = {
    val from = if (paths.size == 1) s"path=${paths.head}" else s"files=${paths.size}"
    s"TapeScan $from prunedBy=[${dtFilters.mkString(", ")}]"
  }

  /** Driver-side planning: list ONLY the day directories matching the
    * pushed dt predicates (or stat the named files), then pack the
    * files least-loaded by bytes over the session's parallelism.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val keep = (dt: String) => dtFilters.forall(TapeScan.dtMatches(dt, _))
    val slices = paths.flatMap { p =>
      val path = new Path(p)
      TapeListing.resolve(path.getFileSystem(conf.value), path, keep)
    }
    val parallelism = org.apache.spark.sql.SparkSession.active
      .sparkContext.defaultParallelism
    TapeListing.pack(slices, parallelism)
      .map(b => TapeInputPartition(b.toArray): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TapeReaderFactory(required, conf)
}

class TapeReaderFactory(required: StructType, conf: SerializableConfiguration)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[TapeInputPartition].files
    new PartitionReader[InternalRow] {
      private val fieldNames = required.fieldNames
      private var fileIdx = -1
      private var reader: BufferedReader = _
      private var current: TapeFileSlice = _
      private var line: String = _

      private def nextFile(): Boolean = {
        if (reader != null) { reader.close(); reader = null }
        fileIdx += 1
        if (fileIdx >= files.length) return false
        current = files(fileIdx)
        val p = new Path(current.file)
        val fs = FileSystem.get(p.toUri, conf.value)
        reader = new BufferedReader(new InputStreamReader(fs.open(p), UTF_8))
        true
      }

      override def next(): Boolean = {
        while (true) {
          if (reader == null && !nextFile()) return false
          line = reader.readLine()
          if (line == null) {
            if (!nextFile()) return false
          } else if (line.nonEmpty) { // reference skips empty lines
            return true
          }
        }
        false
      }

      override def get(): InternalRow = {
        val values = fieldNames.map {
          case Tape.PayloadCol => java.util.Base64.getDecoder.decode(line)
          case Tape.LineCol => UTF8String.fromString(line)
          case Tape.DtCol => UTF8String.fromString(current.dt)
          case "src" => UTF8String.fromString(current.file)
          case "seq_first" =>
            if (current.seqFirst >= 0) java.lang.Long.valueOf(current.seqFirst)
            else null
          case "seq_last" =>
            if (current.seqLast >= 0) java.lang.Long.valueOf(current.seqLast)
            else null
        }
        new GenericInternalRow(values.asInstanceOf[Array[Any]])
      }

      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}
