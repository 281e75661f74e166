package graft.perfbench

import scala.collection.mutable

import graft.streaming.StreamRecorder
import graft.vcr.{Estimator, FakeKinesisRegistry, KinesisReplaySinkFactory, TapePlayer}
import org.apache.spark.sql.functions._

/** record → play → estimate, the reference's whole surface: a seeded
  * backlog in a 4-shard FakeKinesis stream is recorded onto a tape
  * (5–6 triggers), a 5-of-7-day window is replayed twice, each time
  * into a fresh 4-shard target stream, and the week is priced by both
  * estimators.
  */
final class TapeVcr extends Workload {
  val Records = 20000
  val Shards = 4
  /** Per-shard record cap per trigger: 5 triggers for an evenly routed
    * backlog, 6 when MD5 routing overfills a shard.
    */
  val CapPerShard: Int = Records / Shards / 5
  /** Untimed reps before the timed ones: the JIT is still compiling the
    * record path through the first few.
    */
  val WarmReps = 5
  /** Replays of the window per rep, each into a fresh target stream:
    * a replay is short, so one rep yields two read samples.
    */
  val PlaysPerRep = 2

  private val endpoint = s"perfbench-${ProcessHandle.current().pid()}"
  private var backlog: Gen.Backlog = _
  private val recordMbS = mutable.ArrayBuffer.empty[Double]
  private val playMs = mutable.ArrayBuffer.empty[Double]

  override def generate(run: Run): Unit =
    backlog = Gen.backlog(run.seed, Records, endpoint, Shards)

  override def measure(run: Run): Report = {
    run.warmUp((1 to WarmReps).foreach(_ => rep(run)))
    recordMbS.clear()
    playMs.clear()
    run.timedLoop(() => rep(run))
    Report(Seq(
      ("write_mb_s", Main.median(recordMbS.toSeq), "MB/s"),
      ("read_p50_ms", Main.median(playMs.toSeq), "ms")),
      recordMbS.size, playMs.size)
  }

  override def cleanUp(): Unit = FakeKinesisRegistry.remove(endpoint)

  /** One record → play → estimate of the backlog; false once an
    * operation fails.
    */
  private def rep(run: Run): Boolean = {
    val s = run.spark
    val root = run.freshDir("tape")
    val ckpt = run.freshDir("checkpoint")
    val src = backlog.stream
    try {
      // record: backlog → sealed tape
      val recorded = run.op("record") {
        val sp = run.tracer.span("streaming.record") { sp =>
          val q = StreamRecorder.recordFromKinesis(s, backlog.endpoint, src, root,
            ckpt, maxRecordsPerTrigger = CapPerShard)
          try q.processAllAvailable() finally q.stop()
          q.exception.foreach(e => throw e)
          val progress = q.recentProgress.filter(_.numInputRows > 0)
          def sumS(k: String): Double = progress.map(p =>
            Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
          val trig = progress.map(p =>
            Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)).toSeq
          sp.extra ++= Seq(
            "triggers" -> progress.length.toDouble,
            "trigger_p50_ms" -> Main.median(trig),
            "trigger_tail_ms" -> percentile(trig, 0.9),
            "add_batch_s" -> sumS("addBatch"),
            "latest_offset_s" -> sumS("latestOffset"),
            "query_planning_s" -> sumS("queryPlanning"),
            "wal_commit_s" -> sumS("walCommit"),
            "commit_offsets_s" -> sumS("commitOffsets"))
          sp
        }
        val t = TapePlayer.read(s, root, src, Gen.WeekStart, Some(Gen.WeekEnd))
          .agg(count(lit(1)),
            coalesce(sum(octet_length(col("payload"))), lit(0L)),
            coalesce(sum(xxhash64(col("payload")).cast("decimal(38,0)")),
              lit(0).cast("decimal(38,0)")))
          .head()
        val got = Gen.Digest(t.getLong(0), t.getLong(1),
          BigInt(t.getDecimal(2).toBigInteger))
        run.check(got == backlog.all,
          s"tape digest $got differs from the backlog's ${backlog.all}")
        recordMbS += backlog.all.bytes / 1e6 / sp.wallS
        sp
      }
      // play: 5-day window → acknowledged PutRecords, twice
      val played = (1 to PlaysPerRep).foldLeft(recorded.map(_ => ())) {
        (ok, i) => ok.flatMap(_ => play(run, root, i))
      }
      // estimate: object-size and decoded-byte pricing of the week
      val estimated = played.flatMap(_ => run.op("estimate") {
        val conf = s.sparkContext.hadoopConfiguration
        val est = run.tracer.span("vcr.estimate") { _ =>
          Estimator.estimate(conf, root, src, Gen.WeekStart, Some(Gen.WeekEnd), Shards)
        }
        val dec = run.tracer.span("vcr.estimate_decoded") { _ =>
          Estimator.estimateDecoded(s, root, src, Gen.WeekStart, Some(Gen.WeekEnd), Shards)
        }
        run.check(dec.bytes == backlog.all.bytes && dec.files == est.files,
          s"decoded estimate ${dec.bytes} B in ${dec.files} files; generated " +
            s"${backlog.all.bytes} B, ${est.files} files on the tape")
        recorded.get.extra ++= Seq(
          "tape_files" -> est.files.toDouble,
          "tape_bytes_per_payload_byte" -> est.bytes.toDouble / backlog.all.bytes)
      })
      estimated.isDefined
    } finally {
      Files2.delete(root)
      Files2.delete(ckpt)
    }
  }

  /** Replays the tape's window into a fresh 4-shard target stream and
    * checks the replayed multiset.
    */
  private def play(run: Run, root: String, i: Int): Option[Unit] = {
    val target = s"$endpoint-${root.hashCode.toHexString}-$i"
    FakeKinesisRegistry.create(target).createStream("dst", Shards)
    try run.op("play") {
      val base = KinesisReplaySinkFactory(target, "dst")
      val factory = if (run.tracer.traced) TimedSinkFactory(base) else base
      SinkStats.reset()
      val (sent, sp) = run.tracer.span("vcr.play") { sp =>
        val tape = TapePlayer.read(run.spark, root, backlog.stream, Gen.WindowStart, Some(Gen.WindowEnd))
        val n = TapePlayer.play(tape, factory)
        sp.extra("records") = n.toDouble
        if (run.tracer.traced) {
          val calls = math.max(1L, SinkStats.calls.sum())
          run.tracer.note("vcr.sink",
            "calls" -> SinkStats.calls.sum().toDouble,
            "busy_s" -> SinkStats.busyNs.sum() / 1e9,
            "records_per_call" -> SinkStats.records.sum().toDouble / calls,
            "bytes_per_call" -> SinkStats.bytes.sum().toDouble / calls,
            "failed_subrecords" -> SinkStats.failed.sum().toDouble)
        }
        (n, sp)
      }
      val out = FakeKinesisRegistry.get(target).get.allRecords("dst")
        .foldLeft(Gen.Digest.Empty)((d, r) => d + r.data)
      run.check(sent == backlog.window.count && out == backlog.window,
        s"replayed $sent records with digest $out; the window holds ${backlog.window}")
      playMs += sp.wallS * 1e3
    } finally FakeKinesisRegistry.remove(target)
  }

  /** The value with a share `p` of the samples at or below it. */
  private def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0))
    }
}
