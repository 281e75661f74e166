package graft.vcr

import java.io.PrintStream
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** CLI surface mirroring the reference's `kinesis-vcr record|play|estimate`
  * (reference: KinesisVcr.java:25-110). Configuration comes from the same
  * environment variables; an in-cluster Kinesis is replaced by parquet
  * in (record) and a directory "stream" out (play).
  *
  * {{{
  * VCR_BUCKET_NAME=/tmp/tape VCR_SOURCE_STREAM_NAME=events \
  *   sbt "runMain graft.vcr.VcrCli record /root/testdata/sf0.001/events.parquet"
  * VCR_BUCKET_NAME=/tmp/tape VCR_SOURCE_STREAM_NAME=events \
  *   VCR_TARGET_STREAM_NAME=/tmp/replayed \
  *   sbt "runMain graft.vcr.VcrCli play 2024-01-01 2024-01-03"
  * ... estimate 2024-01-01 2024-01-03
  * }}}
  */
object VcrCli {
  def main(args: Array[String]): Unit = {
    val config = VcrConfig.fromEnv(sys.env)
    config.validate()
    val spark = graft.Sessions("graft-vcr")
    try run(spark, config, args)
    finally spark.stop()
  }

  def run(spark: SparkSession, config: VcrConfig, args: Array[String]): Unit = {
    val root = config.bucket.get
    args.headOption match {
      case Some("record") =>
        val stream = config.sourceStream.getOrElse(
          throw new IllegalArgumentException("VCR_SOURCE_STREAM_NAME must be set"))
        (config.endpoint, args.lift(1)) match {
          case (Some(ep), None) =>
            // the reference's record: consume the source stream from the
            // Kinesis-shaped endpoint until caught up (the KCL consumer,
            // KinesisRecorder.java:23-47); the checkpoint under the tape
            // root is the lease table — rerunning `record` appends only
            // what arrived since. VCR_BUFFER_SIZE_BYTES bounds each
            // micro-batch (≅ one flushed recorder buffer per shard).
            // one JSON line per trigger as it ends; the count reported
            // is this run's, summed from the same progress events
            val log = new TriggerLog(Console.out)
            spark.streams.addListener(log)
            val (n, complete) = try {
              val q = graft.streaming.StreamRecorder.recordFromKinesis(
                spark, ep, stream, root, s"$root/.checkpoints/$stream",
                maxBytesPerTrigger = config.bufferSizeBytes)
              log.follow(q.id)
              try q.processAllAvailable() finally q.stop()
              // the tape and checkpoint are committed by now: a slow
              // listener bus costs the count its last triggers, not the
              // recording its success
              val drained =
                try {
                  org.apache.spark.graft.SparkInternals.drainListenerBus(
                    spark.sparkContext)
                  true
                } catch { case _: java.util.concurrent.TimeoutException => false }
              (log.records, drained)
            } finally spark.streams.removeListener(log)
            println(s"Recorded stream $stream from endpoint $ep to " +
              s"$root/$stream ($n records on tape from this run" +
              (if (complete) ")"
               else "; partial: the listener bus did not drain in time)"))
          case (_, Some(in)) =>
            // events-shaped input: event_id ≅ sequence number, ts, props payload
            val records =
              graft.Tables.withEventTime(spark.read.parquet(in))
                .select(col("props").cast("binary").as(Tape.DataCol),
                  col("event_id").as(Tape.SeqCol), col("ts").as(Tape.TsCol))
            val files = TapeWriter.write(records, root, stream)
            println(s"Recorded ${records.count()} records to $root/$stream in $files files")
          case (None, None) => throw new IllegalArgumentException(
            "record needs an input parquet path (or VCR_ENDPOINT to consume)")
        }

      case Some(cmd @ ("play" | "estimate")) =>
        config.validateForPlayback()
        val stream = config.sourceStream.getOrElse(
          throw new IllegalArgumentException("VCR_SOURCE_STREAM_NAME must be set"))
        if (args.length < 2)
          throw new IllegalArgumentException(
            "Must be called with at least two arguments: e.g., `play 2014-05-01` " +
              "or `play 2014-05-01T00:00:00 2015-05-01T00:00:00`")
        val start = TimeArg.parseOrThrow(args(1), "start")
        val end = args.lift(2).map(TimeArg.parseOrThrow(_, "end"))
        if (cmd == "play") {
          val tape = TapePlayer.read(spark, root, stream, start, end)
          // VCR_ENDPOINT selects the Kinesis-shaped PutRecords sink
          // (the reference's only play target, KinesisPlayer.java:90-155);
          // without it, a directory "stream" stands in.
          val sinkFactory = config.endpoint
            .map(ep => KinesisReplaySinkFactory(ep, config.targetStream.get))
            .getOrElse(DirectoryReplaySinkFactory(config.targetStream.get))
          val sent = TapePlayer.play(tape, sinkFactory)
          println(s"Wrote $sent records to output stream ${config.targetStream.get}")
        } else {
          // Shard discovery order mirrors the reference (DescribeStream
          // on the target, open shards only, KinesisVcr.java:84-88):
          // the configured endpoint first, then a registry entry under
          // the target's name, then the VCR_TARGET_SHARDS override,
          // else the reference-era default of 2.
          val target = config.targetStream.get
          // a CONFIGURED endpoint must resolve — estimating from the
          // default shard count when VCR_ENDPOINT is a typo would give
          // a confidently wrong capacity answer (record/play already
          // fail loudly on the same misconfiguration)
          val viaEndpoint = config.endpoint.map(ep =>
            FakeKinesisRegistry.get(ep).getOrElse(throw new IllegalStateException(
              s"no endpoint '$ep' registered")).describeStreamOpenShards(target))
          val shards = viaEndpoint
            .orElse(FakeKinesisRegistry.get(target)
              .map(_.describeStreamOpenShards(target)))
            .orElse(sys.env.get("VCR_TARGET_SHARDS").map(_.toInt))
            .getOrElse(2)
          val est = Estimator.estimate(spark.sparkContext.hadoopConfiguration,
            root, stream, start, end, shards)
          println(s"Target stream (${config.targetStream.get}) has ${est.shards} shards")
          println(s"It would take around ${est.human} to replay the data in the " +
            s"provided range, which has ${est.files} files and a total size of " +
            s"${est.bytes / 1000 / 1000} MB")
          // the decoded-byte model: what the 1 MB/s/shard cap actually
          // meters (payload, not its base64 transport) — the tape-size
          // figure above overestimates replay time by ~4/3
          val dec = Estimator.estimateDecoded(spark, root, stream,
            start, end, shards)
          println(s"Decoded payload is ${dec.bytes} bytes; at 1 MB/s/shard " +
            s"the replay itself would take around ${dec.human}")
        }

      case Some("expire") =>
        // tape retention (V11): `expire 2024-03-01` deletes day
        // partitions strictly before the cutoff; `--dry-run` first is
        // the intended ops loop. Metadata-only — see
        // [[TapeCompactor.expire]].
        val stream = config.sourceStream.getOrElse(
          throw new IllegalArgumentException("VCR_SOURCE_STREAM_NAME must be set"))
        val rest = args.drop(1)
        val dryRun = rest.contains("--dry-run")
        val dateArg = rest.filterNot(_ == "--dry-run").headOption.getOrElse(
          throw new IllegalArgumentException(
            "expire needs a keep-from date: e.g., `expire 2024-03-01`"))
        val keepFrom = TimeArg.parseOrThrow(dateArg, "keep-from").toLocalDate
        val res = TapeCompactor.expire(spark, root, stream, keepFrom, dryRun)
        val verb = if (dryRun) "Would delete" else "Deleted"
        println(s"$verb ${res.daysDeleted} day partitions " +
          s"(${res.filesDeleted} files, ${res.bytesDeleted} bytes) " +
          s"before $keepFrom from $root/$stream")
        // retention's half of the V14 loop: drop exactly the expired
        // days from the zone-map manifest (scoped refresh — lists only
        // the deleted days, finds them gone, prunes their partitions).
        // Only when an index exists; expire must not create one.
        if (!dryRun && res.days.nonEmpty) {
          val manifestPath = new org.apache.hadoop.fs.Path(
            s"$root/$stream/${TapeManifest.ManifestDir}")
          val fs = manifestPath.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          if (fs.exists(manifestPath)) {
            val r = TapeManifest.refresh(spark, root, stream,
              res.days.toSet)
            println(s"Manifest pruned: ${r.removed} entries of " +
              s"${res.days.size} expired days dropped")
          }
        }

      case Some("digest") =>
        // archive integrity fingerprints (V15): one (n, bytes, xor)
        // row per day partition — what a replica compare diffs
        // instead of the data. Hashes the STORED line (the base64
        // envelope), binary-safe. Bounded collect: one row per day.
        val stream = config.sourceStream.getOrElse(
          throw new IllegalArgumentException("VCR_SOURCE_STREAM_NAME must be set"))
        val fromArg = args.lift(1).getOrElse(
          throw new IllegalArgumentException(
            "digest needs a start date: e.g., `digest 2024-03-01 [end]`"))
        val start = TimeArg.parseOrThrow(fromArg, "from")
        val end = args.lift(2).map(TimeArg.parseOrThrow(_, "to"))
        val tape = TapePlayer.read(spark, root, stream, start, end)
        graft.streaming.StreamDigest.digests(tape, col(Tape.LineCol))
          .orderBy(col(Tape.DtCol))
          .collect().foreach { r =>
            println(s"${r.getString(0)}  n=${r.getLong(1)} " +
              s"line_bytes=${r.getLong(2)} digest=${r.getLong(3)}")
          }

      case Some("index") =>
        // tape seek index (V13): build/refresh the zone-map manifest;
        // `index --seek <from> <to>` replays a seq window through it
        // (file-grain pruning — see [[TapeManifest]]).
        val stream = config.sourceStream.getOrElse(
          throw new IllegalArgumentException("VCR_SOURCE_STREAM_NAME must be set"))
        args.drop(1) match {
          case Array("--seek", from, to) =>
            val n = TapeManifest.readSeqRange(spark, root, stream,
              from.toLong, to.toLong).count()
            println(s"Seek [$from,$to] on $root/$stream: $n records " +
              "from zone-map-pruned files")
          case Array("--refresh", dts) =>
            // the steady-state ops verb: reconcile ONLY the named days
            // (comma-separated) — O(|days|) listings, the R27 contract
            val r = TapeManifest.refresh(spark, root, stream,
              dts.split(",").map(_.trim).filter(_.nonEmpty).toSet)
            println(s"Refreshed $root/$stream [$dts]: +${r.added} " +
              s"-${r.removed} (kept ${r.kept})")
          case Array("--refresh") =>
            // the audit walk: every dt directory LISTed — fsck's
            // companion, not a hot-path verb
            val r = TapeManifest.refresh(spark, root, stream)
            println(s"Audited $root/$stream: +${r.added} -${r.removed} " +
              s"(kept ${r.kept})")
          case _ =>
            TapeManifest.write(spark, root, stream)
            val m = TapeManifest.load(spark, root, stream)
              .agg(count(lit(1)), coalesce(sum(col("n_lines")), lit(0L)))
              .head()
            println(s"Indexed $root/$stream: ${m.getLong(0)} files, " +
              s"${m.getLong(1)} records in the manifest")
        }

      case other =>
        throw new IllegalArgumentException(
          s"Unknown command ${other.getOrElse("<none>")}: expected record|play|estimate|expire|index|digest")
    }
  }
}

/** `record`'s per-trigger report: one JSON line per trigger of the
  * followed query, printed to `out` as its progress event arrives —
  * `{"event":"trigger","batchId":…,"numInputRows":…,"durationMs":{…}}`
  * with the `addBatch`, `latestOffset`, `queryPlanning`, `walCommit`,
  * `commitOffsets` and `triggerExecution` phases Spark timed (a phase a
  * trigger skipped is absent, as in Spark's own progress JSON). Events
  * that arrive before [[follow]] names the query are held, then printed
  * or dropped by query id. [[records]] sums `numInputRows` over every
  * printed trigger; unlike `recentProgress` it is not capped at the
  * last 100 triggers.
  */
private[vcr] final class TriggerLog(out: PrintStream)
  extends StreamingQueryListener {
  import StreamingQueryListener._

  private val phases = Seq("addBatch", "latestOffset", "queryPlanning",
    "walCommit", "commitOffsets", "triggerExecution")
  private var query: Option[UUID] = None
  private val held = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var rows = 0L

  def follow(id: UUID): Unit = synchronized {
    query = Some(id)
    held.filter(_.id == id).foreach(emit)
    held.clear()
  }

  def records: Long = synchronized(rows)

  override def onQueryProgress(event: QueryProgressEvent): Unit = synchronized {
    query match {
      case Some(id) => if (event.progress.id == id) emit(event.progress)
      case None => held += event.progress
    }
  }

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  private def emit(p: StreamingQueryProgress): Unit = {
    rows += p.numInputRows
    val took = phases.flatMap(k =>
      Option(p.durationMs.get(k)).map(v => s""""$k":$v"""))
    out.println(s"""{"event":"trigger","batchId":${p.batchId},""" +
      s""""numInputRows":${p.numInputRows},""" +
      s""""durationMs":${took.mkString("{", ",", "}")}}""")
  }
}
