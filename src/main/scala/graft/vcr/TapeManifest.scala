package graft.vcr

import graft.sources.TapeListing
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** V13: tape zone-map manifest — the seek index that makes the tape
  * addressable by SEQUENCE without touching payload bytes.
  *
  * The reference player can only narrow a replay by day folder and
  * object mtime (KinesisPlayer.java:199-246); any finer seek reads and
  * decodes everything. But a tape file's NAME already declares its
  * exact seq range (`{firstSeq}-{lastSeq}`, S3RecorderPipeline.java:
  * 45-58) — the manifest materializes those declarations, plus
  * per-file line counts and byte sizes, as a small parquet dataset
  * under `_manifest/`, PARTITIONED BY `dt` so maintenance can touch
  * one day without rewriting the rest. That is the Iceberg-manifest
  * shape for this layout: at 100 TB the tape is millions of objects,
  * and re-LISTING them per query (what the reference's driver loop and
  * the estimator's metadata pass both do) costs minutes of object-store
  * round trips — while the manifest is a few MB of parquet that one
  * filter prunes.
  *
  * `readSeqRange` is the payoff: a seq-window replay reads ONLY the
  * files whose declared range overlaps the request (file-grain zone
  * map pruning; day-grain pruning falls out of the same filter via
  * dt). Semantics are zone-map semantics: whole overlapping files are
  * returned, finer selection belongs to the caller's residual filter
  * — same contract as the dt= partition pruning one level up.
  *
  * The build is one distributed pass over line METADATA (counts and
  * lengths — `line_bytes` prices the decoded-payload estimate the
  * V8 estimator models); no payload ever reaches the driver, and the
  * seek collect moves only matched file paths (~100 bytes each), the
  * same scale class as the planner's own file index.
  */
object TapeManifest {

  val ManifestDir = "_manifest"

  /** Manifest row schema. `dt` is the partition column of the stored
    * layout; declaring it explicitly keeps its type STRING (partition
    * inference would guess DATE) and keeps old unpartitioned manifests
    * (where dt was a data column) readable through the same path.
    */
  private val manifestSchema = StructType(Seq(
    StructField(Tape.DtCol, StringType), StructField("file", StringType),
    StructField("first_seq", LongType), StructField("last_seq", LongType),
    StructField("n_lines", LongType), StructField("line_bytes", LongType)))

  private val manifestCols =
    Seq(Tape.DtCol, "file", "first_seq", "last_seq", "n_lines", "line_bytes")

  /** Zone-map stats for a tape scan: one row per file with
    * `(dt, file, first_seq, last_seq, n_lines, line_bytes)`. Files
    * whose names violate the `{first}-{last}` contract are EXCLUDED —
    * fsck (V12) owns reporting them; an index must not address what it
    * cannot bound.
    */
  private def zoneMapStats(tape: DataFrame): DataFrame =
    tape
      .groupBy(col(Tape.DtCol), Tape.fileName.as("file"),
        col("seq_first").as("first_seq"), col("seq_last").as("last_seq"))
      .agg(count(lit(1)).as("n_lines"),
        // content bytes incl. the '\n' the writer appends per line
        sum(length(col(Tape.LineCol)) + lit(1L)).as("line_bytes"))
      .filter(col("first_seq") <= col("last_seq"))
      .select(manifestCols.map(col): _*)

  /** Per-file zone maps, computed distributed over the whole tape. */
  def build(spark: SparkSession, root: String, stream: String): DataFrame =
    zoneMapStats(Tape.scan(spark, s"$root/$stream"))

  /** Build and persist the manifest parquet beside the day partitions
    * (`{root}/{stream}/_manifest`; it is no `dt=` directory, so the
    * tape listing never reads it). Stored PARTITIONED BY dt so that refresh
    * (V14) can overwrite only the days that changed.
    */
  def write(spark: SparkSession, root: String, stream: String): Unit =
    build(spark, root, stream)
      .write.mode("overwrite").partitionBy(Tape.DtCol)
      .parquet(s"$root/$stream/$ManifestDir")

  /** Load the manifest. A missing or unreadable manifest FAILS LOUDLY
    * — silently treating it as empty would reclassify every tape file
    * as unseen and pay a full archive re-read, exactly the cost the
    * index exists to avoid.
    */
  def load(spark: SparkSession, root: String, stream: String): DataFrame =
    spark.read.schema(manifestSchema)
      .parquet(s"$root/$stream/$ManifestDir")
      .select(manifestCols.map(col): _*)

  final case class RefreshResult(added: Long, removed: Long, kept: Long)

  /** V14: INCREMENTAL manifest maintenance — the ops loop that keeps
    * V13's index honest as the recorder appends and retention expires.
    * Tape files are immutable once written (the recorder never
    * rewrites a sealed object), so the manifest diff is exact, and the
    * whole refresh is metadata-scale except for reading the NEW files:
    *
    *   1. one FS METADATA listing of the day dirs → a (dt, file)
    *      listing frame (paths only — the planner's file-index scale);
    *   2. listing ⟕̸ manifest (left anti) → the files to add; stats
    *      are built by READING ONLY those files;
    *   3. manifest ⟕̸ listing (reverse anti) → the rows to drop
    *      (retention/compaction victims), counted per day;
    *   4. only the AFFECTED dt partitions of the manifest are
    *      rewritten (dynamic partition overwrite); days that saw no
    *      change keep their files byte-identical, and a day whose
    *      every file vanished has its manifest partition deleted.
    *
    * The manifest itself is never collect()ed to the driver and never
    * rewritten whole — at a steady-state archive a refresh costs
    * O(new files) input and O(changed days) output. A corrupt manifest
    * surfaces as the load exception (see `load`), not a silent full
    * rebuild. A manifest that does not exist yet is the one legitimate
    * bootstrap case: the first refresh IS the full build.
    *
    * This no-argument form walks EVERY `dt=` directory to discover the
    * diff — an O(archive) LIST pass that is right for an audit (fsck's
    * companion) or a refresh after changes of unknown extent, and wrong
    * on a hot path: at 100 TB the tape is millions of objects and a
    * streaming trigger must not pay archive-wide LIST round trips. A
    * caller that KNOWS which days changed — the recorder knows what it
    * just wrote, retention knows what it deleted — uses the scoped
    * overload below.
    */
  def refresh(spark: SparkSession, root: String,
              stream: String): RefreshResult =
    refreshImpl(spark, root, stream, None)

  /** Scoped V14 refresh: reconcile ONLY the given `dt` partitions
    * against disk — the steady-state form for callers that know their
    * write/delete footprint (R27's per-trigger maintenance, retention's
    * expire hook). Listing cost is O(|scope| directories), not
    * O(archive); days outside the scope are untouched BY CONSTRUCTION
    * (their manifest rows never join the diff). A scoped day with no
    * directory on disk is a legitimate drop (expired day). The result
    * is identical to the full walk whenever the scope covers every day
    * that actually changed — the caller's contract.
    */
  def refresh(spark: SparkSession, root: String, stream: String,
              scope: Set[String]): RefreshResult =
    refreshImpl(spark, root, stream, Some(scope))

  private def refreshImpl(spark: SparkSession, root: String, stream: String,
                          scope: Option[Set[String]]): RefreshResult = {
    val dir = s"$root/$stream"
    val manifestPath = new org.apache.hadoop.fs.Path(s"$dir/$ManifestDir")
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(manifestPath)) {
      // bootstrap: no index yet — the first refresh is the full build
      // regardless of scope (nothing is indexed, so everything is new).
      // persist carries the stats from the count to the write; without
      // it the tape would be read twice.
      val built = build(spark, root, stream).persist()
      val added = built.count()
      built.write.mode("overwrite").partitionBy(Tape.DtCol)
        .parquet(manifestPath.toString)
      built.unpersist()
      return RefreshResult(added, 0L, 0L)
    }
    migrateUnpartitioned(spark, fs, manifestPath, dir)

    import spark.implicits._
    val listed = listTapeFiles(spark, dir, scope) // (dt, file) on disk
    val listedDf = listed.toSeq.toDF(Tape.DtCol, "file")
    val manifest = load(spark, root, stream)
    // scoped mode diffs only the scoped days' manifest rows against the
    // scoped listing — rows of other days MUST NOT reach the anti-join,
    // or every unlisted day would read as dropped
    val manifestInScope = scope match {
      case Some(dts) if dts.nonEmpty =>
        manifest.filter(col(Tape.DtCol).isin(dts.toSeq: _*))
      case Some(_) => manifest.limit(0)
      case None => manifest
    }
    val keys = Seq(Tape.DtCol, "file")

    // adds: on disk, not in the index. O(new files) — these are the
    // only paths whose CONTENT the refresh reads.
    val newFiles = listedDf.join(manifestInScope, keys, "left_anti")
      .as[(String, String)].collect()
    // drops: in the index, gone from disk. Counted per day — the days
    // are the write-granularity, so that is all the driver needs.
    val dropsByDt = manifestInScope.join(listedDf, keys, "left_anti")
      .groupBy(col(Tape.DtCol)).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val removed = dropsByDt.values.sum
    val total = manifest.count()

    val addedStats =
      if (newFiles.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], manifestSchema)
      else {
        val paths = newFiles.toSeq.map { case (dt, f) =>
          s"$dir/${Tape.DtCol}=$dt/$f" }
        zoneMapStats(Tape.scanFiles(spark, dir, paths))
      }
    val addedRows = addedStats.count()

    val affectedDts: Set[String] =
      newFiles.map(_._1).toSet ++ dropsByDt.keySet
    if (affectedDts.nonEmpty) {
      // kept rows of the affected days + the new days' stats; only
      // these partitions are overwritten, the rest stay untouched.
      // localCheckpoint MATERIALIZES the frame before the overwrite:
      // the kept rows are read from the very parquet partitions the
      // dynamic overwrite replaces, and a read-while-replace is only
      // safe under committers that stage (direct-write committers or a
      // failure mid-commit would corrupt the manifest) — cutting the
      // lineage makes the swap committer-independent.
      val out = manifest
        .filter(col(Tape.DtCol).isin(affectedDts.toSeq: _*))
        .join(listedDf, keys, "left_semi")
        .unionByName(addedStats)
        .localCheckpoint()
      val outDts = out.select(Tape.DtCol).distinct()
        .as[String].collect().toSet
      if (outDts.nonEmpty)
        out.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(Tape.DtCol)
          .parquet(manifestPath.toString)
      // a day whose every file vanished writes no rows: drop its
      // manifest partition explicitly (metadata-only delete)
      (affectedDts -- outDts).foreach { dt =>
        fs.delete(new org.apache.hadoop.fs.Path(
          manifestPath, s"${Tape.DtCol}=$dt"), true)
      }
      spark.catalog.refreshByPath(manifestPath.toString)
    }
    RefreshResult(addedRows, removed, total - removed)
  }

  /** One-time layout migration: a manifest written by an older build
    * is a single parquet at the manifest root (dt as a data column).
    * Rewrite it into the dt-partitioned layout — a distributed
    * read→write of the manifest only, never the tape.
    */
  private def migrateUnpartitioned(spark: SparkSession,
                                   fs: org.apache.hadoop.fs.FileSystem,
                                   manifestPath: org.apache.hadoop.fs.Path,
                                   dir: String): Unit = {
    val flatFiles = fs.listStatus(manifestPath).toSeq.filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (flatFiles.isEmpty) return
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_manifest_migrating")
    spark.read.schema(manifestSchema).parquet(manifestPath.toString)
      .select(manifestCols.map(col): _*)
      .write.mode("overwrite").partitionBy(Tape.DtCol).parquet(tmp.toString)
    fs.delete(manifestPath, true)
    if (!fs.rename(tmp, manifestPath))
      throw new java.io.IOException(
        s"manifest migration rename failed: $tmp -> $manifestPath")
    spark.catalog.refreshByPath(manifestPath.toString)
  }

  /** (dt, file) pairs on disk — FS metadata only, no content. With a
    * scope, lists ONLY the scoped day directories (a missing scoped day
    * contributes nothing — that is how an expired day reads as
    * dropped); without one, walks every `dt=` child of the tape root.
    */
  private def listTapeFiles(spark: SparkSession, dir: String,
                            scope: Option[Set[String]])
  : Set[(String, String)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = scope match {
      case Some(dts) => TapeListing.listDays(fs, root, dts)
      case None => TapeListing.list(fs, root, _ => true)
    }
    files.map(f => (f.dt, new Path(f.file).getName)).toSet
  }

  /** Manifest entries whose declared seq range overlaps `[from, to]`. */
  def overlapping(manifest: DataFrame, from: Long, to: Long): DataFrame =
    manifest.filter(col("first_seq") <= to && col("last_seq") >= from)

  /** Zone-map-pruned seq-range read: decode ONLY the files whose
    * declared range overlaps `[from, to]`. Returns the TapePlayer.read
    * shape (`line, dt, src, payload`) so every downstream (batcher,
    * replay sink, estimator) composes unchanged. A missing manifest is
    * an error by design — building it implicitly would silently pay
    * the full-listing cost the index exists to avoid.
    */
  def readSeqRange(spark: SparkSession, root: String, stream: String,
                   from: Long, to: Long): DataFrame = {
    val dir = s"$root/$stream"
    val entries = overlapping(load(spark, root, stream), from, to)
      .select(col(Tape.DtCol), col("file")).collect()
    val files = entries.map(r =>
      s"$dir/${Tape.DtCol}=${r.getString(0)}/${r.getString(1)}").toSeq
    Tape.scanFiles(spark, dir, files)
      .select(col(Tape.LineCol), col(Tape.DtCol), col("src"),
        col(Tape.PayloadCol))
  }
}
