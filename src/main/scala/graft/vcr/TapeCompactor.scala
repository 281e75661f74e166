package graft.vcr

import java.time.LocalDateTime

import scala.collection.mutable.ArrayBuffer

import graft.sources.{TapeFileSlice, TapeListing}
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

  def compact(spark: SparkSession, root: String, stream: String,
              start: LocalDateTime, end: Option[LocalDateTime],
              targetBytes: Long = 128L * 1024 * 1024): Result = {
    val (from, to) = TimeArg.days(start, end)
    val dir = new Path(s"$root/$stream")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(dir.toUri, conf)
    // only seq-named files can join a group: a merged name must bound them
    def ranged() = TapeListing.list(fs, dir, dt => dt >= from && dt <= to)
      .filter(_.seqFirst >= 0)

    // driver-side metadata pass: per day, bin-pack files (in seq order)
    val before = ranged()
    val groups = ArrayBuffer[Group]()
    for ((dt, files) <- before.groupBy(_.dt).toSeq.sortBy(_._1)) {
      var bucket = ArrayBuffer[TapeFileSlice]()
      var size = 0L
      def flush(): Unit = {
        if (bucket.size > 1)
          groups += Group(dt, bucket.map(_.file).toSeq,
            bucket.map(_.seqFirst).min, bucket.map(_.seqLast).max, size)
        bucket = ArrayBuffer(); size = 0L
      }
      for (f <- files.sortBy(_.seqFirst)) {
        if (size > 0 && size + f.size > targetBytes) flush()
        bucket += f; size += f.size
      }
      flush()
    }

    // distributed merge: one task per group
    val sc = spark.sparkContext
    val serConf = new SerializableConfiguration(conf)
    val tapeDir = dir.toString
    if (groups.nonEmpty) {
      sc.parallelize(groups.toSeq, math.min(groups.size, 64)).foreach { g =>
        val gfs = FileSystem.get(new java.net.URI(tapeDir), serConf.value)
        val out = new Path(new Path(g.files.head).getParent,
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

    Result(groups.size, before.size.toLong, ranged().size.toLong)
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
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val old = TapeListing.days(fs, dir)
      .filter(d => parseDay(d._1).exists(_.isBefore(keepFrom)))
    val files = TapeListing.listDays(fs, dir, old.map(_._1))
    old.foreach { case (_, p) =>
      // the ledger must never claim a deletion that didn't happen —
      // a false "Deleted N partitions" is a compliance lie. HDFS
      // delete() signals failure by returning false, not throwing
      // (compact() checks its rename() for the same reason); fail
      // LOUDLY and count nothing.
      if (!dryRun && !fs.delete(p, true))
        throw new java.io.IOException(
          s"retention failed to delete $p — partition still on disk")
    }
    ExpireResult(old.size, files.size.toLong, files.map(_.size).sum,
      old.map(_._1))
  }

  /** A `dt` value as a date; None for a directory that is not a day. */
  private[graft] def parseDay(dt: String): Option[java.time.LocalDate] =
    try Some(java.time.LocalDate.parse(dt))
    catch { case _: java.time.format.DateTimeParseException => None }
}
