package graft.vcr

import java.time.LocalDateTime

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Tape maintenance: merge a day-range's small flush files into
  * ~`targetBytes` files, preserving payload content and the
  * `{firstSeq}-{lastSeq}` naming contract
  * (reference: InjectableS3Emitter.java:38-44). Sources join in
  * first-seq order, so a merged file's lines stay in seq order when the
  * sources' seq ranges are disjoint (batch-written tapes), not when they
  * overlap (recorded tapes, one file per shard per trigger).
  *
  * A recorder flushing on the reference's default 60 s timer writes
  * 1,440 objects per day per worker regardless of size; replaying a
  * month then opens ~43k objects. Compaction keeps the replay scan at
  * O(data), not O(flushes).
  *
  * Execution shape: the driver only lists day directories and bin-packs
  * file groups (metadata, same as Estimator); each group is merged by
  * one task (streaming copy, no line parsing — tape files concatenate
  * byte-for-byte because every record ends in '\n'). New file first,
  * then delete sources: a crash can leave duplicates to re-compact,
  * never a hole. (Production: a manifest/commit protocol makes this
  * atomic.)
  */
object TapeCompactor {

  final case class Group(dt: String, files: Seq[String], first: Long,
                         last: Long, bytes: Long)

  final case class Result(groupsMerged: Int, filesBefore: Long,
                          filesAfter: Long)

  private val SeqRangeRe = "(\\d+)-(\\d+)(?:\\.txt)?".r

  def compact(spark: SparkSession, root: String, stream: String,
              start: LocalDateTime, end: Option[LocalDateTime],
              targetBytes: Long = 128L * 1024 * 1024): Result = {
    val endEff = TimeArg.effectiveEnd(start, end)
    val dir = new Path(s"$root/$stream")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(dir.toUri, conf)

    // driver-side metadata pass: per day, bin-pack files (in seq order)
    val groups = ArrayBuffer[Group]()
    var filesBefore = 0L
    var d = start.toLocalDate
    while (!d.isAfter(endEff.toLocalDate)) {
      val dayDir = new Path(dir, s"${Tape.DtCol}=$d")
      if (fs.exists(dayDir)) {
        val ranged = fs.listStatus(dayDir).toSeq
          .filter(st => st.isFile && (st.getPath.getName match {
            case SeqRangeRe(_, _) => true
            case _ => false
          }))
          .map { st =>
            val SeqRangeRe(a, b) = st.getPath.getName
            (st.getPath.toString, a.toLong, b.toLong, st.getLen)
          }
          .sortBy(_._2)
        filesBefore += ranged.size
        var bucket = ArrayBuffer[(String, Long, Long, Long)]()
        var size = 0L
        def flush(): Unit = if (bucket.size > 1) {
          groups += Group(d.toString, bucket.map(_._1).toSeq,
            bucket.map(_._2).min, bucket.map(_._3).max, size)
          bucket = ArrayBuffer(); size = 0L
        } else { bucket = ArrayBuffer(); size = 0L }
        for (f <- ranged) {
          if (size > 0 && size + f._4 > targetBytes) flush()
          bucket += f; size += f._4
        }
        flush()
      }
      d = d.plusDays(1)
    }

    // distributed merge: one task per group
    val sc = spark.sparkContext
    val serConf = new SerializableConfiguration(conf)
    val tapeDir = dir.toString
    if (groups.nonEmpty) {
      sc.parallelize(groups.toSeq, math.min(groups.size, 64)).foreach { g =>
        val gfs = FileSystem.get(new java.net.URI(tapeDir), serConf.value)
        val out = new Path(s"$tapeDir/${Tape.DtCol}=${g.dt}/" +
          s"${g.first}-${g.last}.txt")
        val tmp = new Path(out.getParent, s".${out.getName}.compacting")
        val os = gfs.create(tmp, true)
        try {
          val buf = new Array[Byte](1 << 20)
          g.files.foreach { f =>
            val is = gfs.open(new Path(f))
            try {
              var n = is.read(buf)
              while (n > 0) { os.write(buf, 0, n); n = is.read(buf) }
            } finally is.close()
          }
        } finally os.close()
        // CHECK the rename: if `out` already exists (legal — a source
        // file can span the group's full seq range, since overlapping
        // ranges are allowed), HDFS rename returns false; deleting the
        // sources then would open a data hole. Abort the group instead:
        // keep the sources, drop the temp — re-compaction is safe,
        // a hole is not.
        if (gfs.rename(tmp, out)) {
          g.files.filter(_ != out.toString)
            .foreach(f => gfs.delete(new Path(f), false))
        } else {
          gfs.delete(tmp, false)
        }
      }
    }

    var filesAfter = 0L
    d = start.toLocalDate
    while (!d.isAfter(endEff.toLocalDate)) {
      val dayDir = new Path(dir, s"${Tape.DtCol}=$d")
      if (fs.exists(dayDir))
        filesAfter += fs.listStatus(dayDir).count(st => st.isFile &&
          !st.getPath.getName.startsWith("."))
      d = d.plusDays(1)
    }
    Result(groups.size, filesBefore, filesAfter)
  }

  /** `days` carries the deleted partition values so the caller can
    * hand them to the scoped manifest refresh (V14) — retention's half
    * of R27's "the maintainer knows its own footprint" contract.
    */
  final case class ExpireResult(daysDeleted: Int, filesDeleted: Long,
                                bytesDeleted: Long,
                                days: Seq[String] = Seq.empty)

  /** V11: tape retention — delete whole day partitions strictly OLDER
    * than `keepFrom`. The reference leans on S3 lifecycle rules for
    * this; an engine that owns the tape layout should own its
    * retention too, and because the layout IS day-partitioned the job
    * is metadata-only: list `dt=` directories, compare the partition
    * value (never a file's content or mtime), delete whole days. No
    * task ever reads a byte of payload, so expiring a year of tape
    * costs the same as expiring a day — the Estimator/Compactor
    * metadata-pass discipline. Day granularity is the deliberate
    * contract: a partial day keeps its directory until it fully ages
    * out, so a replay that starts mid-retention never sees a
    * half-deleted partition. `dryRun` reports what would go (the ops
    * loop every destructive job needs).
    */
  def expire(spark: SparkSession, root: String, stream: String,
             keepFrom: java.time.LocalDate,
             dryRun: Boolean = false): ExpireResult = {
    val dir = new Path(s"$root/$stream")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(dir.toUri, conf)
    if (!fs.exists(dir)) return ExpireResult(0, 0L, 0L)
    val prefix = s"${Tape.DtCol}="
    val old = fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .flatMap { st =>
        val v = st.getPath.getName.stripPrefix(prefix)
        try {
          val day = java.time.LocalDate.parse(v)
          if (day.isBefore(keepFrom)) Some(st.getPath) else None
        } catch { case _: java.time.format.DateTimeParseException => None }
      }
    var days = 0
    var files = 0L
    var bytes = 0L
    val deletedDts = ArrayBuffer[String]()
    old.foreach { p =>
      var dayFiles = 0L
      var dayBytes = 0L
      fs.listStatus(p).foreach { st =>
        if (st.isFile) { dayFiles += 1; dayBytes += st.getLen }
      }
      // the ledger must never claim a deletion that didn't happen —
      // a false "Deleted N partitions" is a compliance lie. HDFS
      // delete() signals failure by returning false, not throwing
      // (compact() checks its rename() for the same reason); fail
      // LOUDLY and count nothing for this day.
      if (!dryRun && !fs.delete(p, true))
        throw new java.io.IOException(
          s"retention failed to delete $p — partition still on disk")
      days += 1; files += dayFiles; bytes += dayBytes
      deletedDts += p.getName.stripPrefix(prefix)
    }
    ExpireResult(days, files, bytes, deletedDts.toSeq)
  }
}
