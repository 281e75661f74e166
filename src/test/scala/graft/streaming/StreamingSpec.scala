package graft.streaming

import java.nio.file.Files
import java.time.LocalDateTime

import graft.SharedSpark
import graft.Tables
import graft.vcr.{Tape, TapePlayer}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SharedSpark {
  private def tmp(): String = Files.createTempDirectory("graft-stream").toString

  /** events as a file stream: copy the parquet into its own source dir. */
  private def eventsStreamDir(): String = {
    val dir = tmp()
    Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    dir
  }

  private def eventsSchema =
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").schema

  test("R1: stream-record appends micro-batches to the tape; replay sees all") {
    val src = eventsStreamDir()
    val root = tmp()
    val records = graft.Tables.withEventTime(
      spark.readStream.schema(eventsSchema).parquet(src))
      .select(col("props").cast("binary").as(Tape.DataCol),
        col("event_id").as(Tape.SeqCol), col("ts").as(Tape.TsCol))
    val q = StreamRecorder.record(records, root, "events", tmp(), numFiles = 2)
    q.processAllAvailable(); q.stop()

    val back = TapePlayer.read(spark, root, "events",
      LocalDateTime.parse("2024-01-01T00:00:00"),
      Some(LocalDateTime.parse("2024-02-01T00:00:00")))
    assert(back.count() === 1000)
    // payloads decode to the original props
    val props = Tables.events(spark, "/root/testdata/sf0.001")
      .select("props").collect().map(_.getString(0)).sorted
    val replayed = back.select(col(Tape.PayloadCol).cast("string"))
      .collect().map(_.getString(0)).sorted
    assert(replayed.toSeq === props.toSeq)
  }

  test("R27: indexed recording keeps the zone-map manifest live — " +
    "after every wave the manifest equals a from-scratch rebuild and " +
    "a seq-range seek answers immediately") {
    import spark.implicits._
    val src = tmp()
    val root = tmp()
    def wave(n: Int, seqBase: Int): Unit = {
      val stage = tmp()
      (1 to 100).map { i =>
        (s"w$n-$i".getBytes, (seqBase + i).toLong,
          java.sql.Timestamp.valueOf(f"2024-06-0$n%d 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        java.nio.file.Paths.get(src, s"wave$n.parquet"))
    }
    wave(1, 0)
    val records = spark.readStream
      .schema("data BINARY, seq LONG, ts TIMESTAMP").parquet(src)
    val q = StreamRecorder.recordIndexed(records, root, "s", tmp(),
      numFiles = 2)
    q.processAllAvailable()
    def canon = graft.vcr.TapeManifest.load(spark, root, "s")
      .collect().map(_.toSeq).toSet
    spark.catalog.refreshByPath(s"$root/s")
    assert(canon === graft.vcr.TapeManifest.build(spark, root, "s")
      .collect().map(_.toSeq).toSet)
    wave(2, 1000)
    q.processAllAvailable(); q.stop()
    spark.catalog.refreshByPath(s"$root/s")
    assert(canon === graft.vcr.TapeManifest.build(spark, root, "s")
      .collect().map(_.toSeq).toSet)
    // the index answers for the SECOND wave's seq range immediately
    val hit = graft.vcr.TapeManifest.readSeqRange(spark, root, "s",
      1001L, 1010L)
    assert(hit.count() > 0)
    assert(hit.selectExpr(s"decode(${Tape.PayloadCol}, 'UTF-8') AS p")
      .collect().map(_.getString(0)).forall(_.startsWith("w2-")))
  }

  test("R2: watermarked windowed aggregation matches the batch answer") {
    val src = eventsStreamDir()
    val stream = graft.Tables.withEventTime(
      spark.readStream.schema(eventsSchema).parquet(src))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("hourly").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("hourly")
      .select(col("window.start").as("h"), col("event_type"), col("n"), col("v"))
    val want = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
    assert(got.collect().toSet === want.collect().toSet)
    assert(got.count() > 0)
  }

  test("R3: stateful sessionize emits closed sessions, keeps the tail open") {
    import spark.implicits._
    import StreamSessionize._
    val src = tmp()
    val gap = DefaultGapUs
    // user 1: two sessions (gap of 2h between), user 2: one session
    val rows = Seq(
      Ev(1L, 0L), Ev(1L, 60_000_000L), Ev(1L, 120_000_000L),
      Ev(1L, 2L * 3600 * 1000000), Ev(1L, 2L * 3600 * 1000000 + 5_000_000L),
      Ev(2L, 42L))
    rows.toDS().write.parquet(s"$src/batch0")
    val stream = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
      .parquet(s"$src/batch0").as[Ev]
    val q = sessionize(stream, gap).writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    q.processAllAvailable(); q.stop()

    val closed = spark.table("sessions").as[Session].collect()
    // only user 1's first session is closed by a later event
    assert(closed.toSeq === Seq(Session(1L, 0L, 120_000_000L, 3L)))
  }

  test("R3 semantics match the batch sessionizer on real events") {
    import spark.implicits._
    import StreamSessionize._
    val src = tmp()
    Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Ev].write.parquet(s"$src/batch0")
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
      .parquet(s"$src/batch0").as[Ev]
    val q = sessionize(stream).writeStream.outputMode("append")
      .format("memory").queryName("sessions2").start()
    q.processAllAvailable(); q.stop()
    val closedStream = spark.table("sessions2").as[Session].collect()
      .map(s => (s.user_id, s.start_us, s.end_us, s.n_events)).toSet

    // batch sessionizer: all sessions; closed = all but each user's last
    val batch = graft.analytics.AnalyticsQueries
      .qSessionize(spark, "/root/testdata/sf0.001").collect()
    val byUser = batch.groupBy(_.getLong(0))
    val closedBatch = byUser.values.flatMap { rs =>
      rs.sortBy(_.getLong(1)).dropRight(1) // last session stays open
    }.map { r =>
      // reconstruct (user, start, end, n) via duration: need start/end us
      (r.getLong(0), r.getLong(2), r.getLong(5))
    }.toSet
    val streamCmp = closedStream.map(s => (s._1, s._4, s._3 - s._2))
    assert(streamCmp === closedBatch)
  }

  test("R3b: watermark timeout flushes an idle user's tail session") {
    import spark.implicits._
    import StreamSessionize._
    val src = tmp()
    def ts(min: Long) = new java.sql.Timestamp(min * 60000)
    // the file source lists flat files, not nested dirs: stage each
    // batch elsewhere and drop its part file into src
    def addBatch(name: String, evs: Seq[TEv]): Unit = {
      val stage = tmp()
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      // atomic move: the live source must never list a half-copied file
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(src, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // batch 0: user 1 has three events, then goes idle (minute 1000+:
    // an event AT epoch 0 would equal the initial watermark and be
    // dropped as late)
    addBatch("b0.parquet",
      Seq(TEv(1L, ts(1000)), TEv(1L, ts(1001)), TEv(1L, ts(1002))))
    val schema = implicitly[org.apache.spark.sql.Encoder[TEv]].schema
    val stream = spark.readStream.schema(schema).parquet(src)
      .withWatermark("ts", "0 seconds").as[TEv]
    val q = sessionizeWithTimeout(stream).writeStream.outputMode("append")
      .format("memory").queryName("toSessions").start()
    q.processAllAvailable()
    assert(spark.table("toSessions").count() === 0) // still open
    // batch 1: a much later event for ANOTHER user advances the
    // watermark past user 1's gap -> the timeout flushes their session
    addBatch("b1.parquet", Seq(TEv(2L, ts(1600))))
    q.processAllAvailable()
    q.stop()
    val flushed = spark.table("toSessions").as[Session].collect()
    assert(flushed.toSeq === Seq(
      Session(1L, 60000000000L, 60120000000L, 3L)))
  }

  test("R5: stream-stream interval join matches the batch interval join") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000)
    val imps = Seq((1L, ts(10)), (2L, ts(20)), (3L, ts(90)))
    val clicks = Seq(
      (1L, ts(15)),  // within 10 min of imp@10 -> match
      (1L, ts(40)),  // 30 min later -> no match
      (2L, ts(25)),  // within -> match
      (4L, ts(22)))  // no impression -> no match
    val (impDir, clkDir) = (tmp(), tmp())
    imps.toDF("user_id", "imp_ts").write.parquet(s"$impDir/b0")
    clicks.toDF("user_id", "click_ts").write.parquet(s"$clkDir/b0")
    val impStream = spark.readStream
      .schema("user_id LONG, imp_ts TIMESTAMP").parquet(s"$impDir/b0")
    val clkStream = spark.readStream
      .schema("user_id LONG, click_ts TIMESTAMP").parquet(s"$clkDir/b0")
    val joined = StreamCorrelate.intervalJoin(impStream, clkStream,
      "user_id", "imp_ts", "click_ts", "10 MINUTES", "1 hour")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ivjoin").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ivjoin")
      .select("user_id", "imp_ts", "click_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(got === Set((1L, ts(10), ts(15)), (2L, ts(20), ts(25))))
    // batch twin over the same frames agrees
    val bi = imps.toDF("user_id", "imp_ts")
    val bc = clicks.toDF("user_id", "click_ts")
    val batch = bi.join(bc, bi("user_id") === bc("user_id") &&
        bc("click_ts") >= bi("imp_ts") &&
        bc("click_ts") <= bi("imp_ts") + expr("INTERVAL 10 MINUTES"))
      .select(bi("user_id"), col("imp_ts"), col("click_ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(got === batch)
  }

  test("R26: stream-stream LEFT SEMI interval join emits each " +
    "converter once — even with multiple matches inside the interval") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000)
    val imps = Seq((1L, ts(10)), (2L, ts(20)), (3L, ts(90)))
    val clicks = Seq(
      (1L, ts(12)),  // match 1 for imp@10
      (1L, ts(15)),  // match 2 for the SAME impression
      (2L, ts(25)),  // match
      (4L, ts(22)))  // no impression
    val (impDir, clkDir) = (tmp(), tmp())
    imps.toDF("user_id", "imp_ts").write.parquet(s"$impDir/b0")
    clicks.toDF("user_id", "click_ts").write.parquet(s"$clkDir/b0")
    val impStream = spark.readStream
      .schema("user_id LONG, imp_ts TIMESTAMP").parquet(s"$impDir/b0")
    val clkStream = spark.readStream
      .schema("user_id LONG, click_ts TIMESTAMP").parquet(s"$clkDir/b0")
    val joined = StreamCorrelate.intervalSemiJoin(impStream, clkStream,
      "user_id", "imp_ts", "click_ts", "10 MINUTES", "1 hour")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ivsemi").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ivsemi").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    // exactly once per converting impression — the inner form would
    // emit user 1 twice; the semi form must not
    assert(got.toSet === Set((1L, ts(10)), (2L, ts(20))))
    assert(got.length === 2, s"semi join re-emitted a left row: ${got.toSeq}")
    // batch twin agrees
    val batch = imps.toDF("user_id", "imp_ts").as("l")
      .join(clicks.toDF("user_id", "click_ts").as("r"),
        col("l.user_id") === col("r.user_id") &&
          col("r.click_ts") >= col("l.imp_ts") &&
          col("r.click_ts") <= col("l.imp_ts") + expr("INTERVAL 10 MINUTES"),
        "left_semi")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(got.toSet === batch)
  }

  test("R5b: left-outer interval join emits unmatched rows on watermark close") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000)
    val (impDir, clkDir) = (tmp(), tmp())
    def add(dir: String, name: String, col2: String,
        rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      val stage = tmp()
      rows.toDF("user_id", col2).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // user 1 converts; user 2 never does
    add(impDir, "b0.parquet", "imp_ts", Seq((1L, ts(1000)), (2L, ts(1001))))
    add(clkDir, "b0.parquet", "click_ts", Seq((1L, ts(1005))))
    val impStream = spark.readStream
      .schema("user_id LONG, imp_ts TIMESTAMP").parquet(impDir)
    val clkStream = spark.readStream
      .schema("user_id LONG, click_ts TIMESTAMP").parquet(clkDir)
    val joined = StreamCorrelate.intervalJoin(impStream, clkStream,
      "user_id", "imp_ts", "click_ts", "10 MINUTES", "0 seconds",
      joinType = "left_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ivouter").start()
    q.processAllAvailable()
    // advance BOTH watermarks far past imp@1001 + 10min so the
    // unmatched impression can never match and must emit null-padded
    add(impDir, "b1.parquet", "imp_ts", Seq((9L, ts(5000))))
    add(clkDir, "b1.parquet", "click_ts", Seq((9L, ts(5000))))
    q.processAllAvailable(); q.stop()
    val got = spark.table("ivouter")
      .select("user_id", "imp_ts", "click_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2))))
      .toSet
    assert(got.contains((1L, ts(1000), Some(ts(1005)))), got)
    assert(got.contains((2L, ts(1001), None)),
      s"unmatched impression not emitted: $got")
  }

  test("R6: watermarked dedup collapses an at-least-once redelivery") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000)
    val src = tmp()
    def addBatch(name: String, evs: Seq[(Long, java.sql.Timestamp)]): Unit = {
      val stage = tmp()
      evs.toDF("event_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      // atomic move: the live source must never list a half-copied file
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(src, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    addBatch("b0.parquet", Seq((1L, ts(10)), (2L, ts(11)), (3L, ts(12))))
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP").parquet(src)
    // (addBatch stages each part file elsewhere and moves it in
    // atomically so the live source never lists a half-copied file)
    val deduped = StreamCorrelate.dedupWithinWatermark(
      stream, "ts", "1 hour", Seq("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    q.processAllAvailable()
    // batch 1 redelivers event 2 (crash-recovery replay) + a new event
    addBatch("b1.parquet", Seq((2L, ts(11)), (4L, ts(13))))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_stream").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L, 4L)) // each exactly once
  }

  test("R4: tape replays as a rate-limited stream, one file per batch") {
    val root = tmp()
    import spark.implicits._
    val records = (1 to 90).map { i =>
      (s"p$i".getBytes, i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-0${1 + (i - 1) / 30}%d 08:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    graft.vcr.TapeWriter.write(records, root, "s", numFiles = 3)

    val stream = StreamRecorder.replayStream(spark, root, "s",
      LocalDateTime.parse("2024-01-01T00:00:00"),
      Some(LocalDateTime.parse("2024-01-03T00:00:00")), maxFilesPerTrigger = 1)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("replay").start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(spark.table("replay").count() === 90)
    assert(nBatches >= 3) // rate limit forced multiple micro-batches
  }

  test("R4b: byte-based admission packs each trigger to the budget, " +
    "greedy over tape-file sizes") {
    val root = tmp()
    import spark.implicits._
    // 8 tape files, one day, ~equal sizes; payloads big enough that
    // file size is dominated by data, not file-format overhead
    val records = (1 to 40).map { i =>
      (("x" * 500 + s"-$i").getBytes, i.toLong,
        java.sql.Timestamp.valueOf("2024-01-01 08:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    graft.vcr.TapeWriter.write(records, root, "s", numFiles = 8)

    // the source's own file order: (dt, firstSeq, name); per-file
    // (bytes, rows) measured from the filesystem
    val day = new java.io.File(s"$root/s/dt=2024-01-01")
    val files = day.listFiles().filter(_.isFile)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .sortBy(f => f.getName.split("-")(0).toLong)
      .map(f => (f.length(),
        java.nio.file.Files.readAllLines(f.toPath).size().toLong))
    assert(files.length === 8)

    val cap = files.map(_._1).sum / 3 // budget forces ~4 triggers
    // greedy expectation: admit files while the summed size fits,
    // always >= 1 per trigger — the admission rule under test
    val expected = scala.collection.mutable.ArrayBuffer.empty[Long]
    var (rows, used) = (0L, 0L)
    files.foreach { case (sz, n) =>
      if (rows > 0L && used + sz > cap) { expected += rows; rows = 0L; used = 0L }
      rows += n; used += sz
    }
    if (rows > 0) expected += rows

    val stream = spark.readStream.format("tape")
      .option("maxBytesPerTrigger", cap)
      .load(s"$root/s")
      .select(col(Tape.PayloadCol))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("paced").start()
    q.processAllAvailable()
    val got = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    q.stop()
    assert(got === expected.toSeq,
      s"per-trigger rows $got != greedy-by-bytes expectation $expected")
    assert(spark.table("paced").count() === 40)
  }

  test("R4c: shard-paced replay derives its budget from DescribeStream " +
    "— estimate's 1 MB/s/shard model in the stream") {
    val root = tmp()
    import spark.implicits._
    val records = (1 to 30).map { i =>
      (s"payload-$i".getBytes, i.toLong,
        java.sql.Timestamp.valueOf("2024-01-01 08:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    graft.vcr.TapeWriter.write(records, root, "s", numFiles = 4)

    val epName = s"pace-${java.util.UUID.randomUUID()}"
    val ep = graft.vcr.FakeKinesisRegistry.create(epName)
    ep.createStream("target", openShards = 2)
    val stream = StreamRecorder.replayStreamShardPaced(spark, root, "s",
      LocalDateTime.parse("2024-01-01T00:00:00"), None, ep, "target")
    // the byte budget caps bytes per trigger; the RATE follows from
    // pairing it with the matching processing-time trigger
    val q = stream.writeStream.outputMode("append")
      .trigger(StreamRecorder.shardPacedTrigger(1))
      .format("memory").queryName("shardpaced").start()
    q.processAllAvailable()
    val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    // 2 shards x 1 MB/s x 1 s = 2 MB budget >> this tape: exactly one
    // trigger drains it — the same arithmetic that makes
    // Estimator.minutesFor(bytes, 2) = 0 for a sub-MB range
    assert(nonEmpty === 1, s"expected a single full-budget trigger, got $nonEmpty")
    assert(spark.table("shardpaced").count() === 30)
    val bytes = new java.io.File(s"$root/s/dt=2024-01-01").listFiles()
      .filter(_.isFile).map(_.length()).sum
    assert(graft.vcr.Estimator.minutesFor(bytes, 2) === 0L)
    graft.vcr.FakeKinesisRegistry.remove(epName)
  }

  test("D10 x R-suite: the streaming incremental dedup ledger equals the " +
    "batch twin on the same tape") {
    val root = tmp()
    import spark.implicits._
    // three recorded days with planted duplicate payloads: dup-a spans
    // all days (novel only on day 1), dup-b repeats within day 2, the
    // rest are unique; seq follows day order like a real recording
    val mk = (day: Int, i: Int, p: String) =>
      (p.getBytes, (day * 1000 + i).toLong,
        java.sql.Timestamp.valueOf(f"2024-02-0$day%d 09:00:00"))
    val records = (
      (1 to 8).map(i => mk(1, i, if (i <= 2) "dup-a" else s"u1-$i")) ++
      (1 to 9).map(i => mk(2, i,
        if (i <= 2) "dup-a" else if (i <= 5) "dup-b" else s"u2-$i")) ++
      (1 to 6).map(i => mk(3, i, if (i == 1) "dup-a" else s"u3-$i"))
    ).toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    graft.vcr.TapeWriter.write(records, root, "s", numFiles = 2)

    val tapeStream = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1) // many micro-batches, not one
      .load(s"$root/s")
    val q = StreamDedupLedger(tapeStream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("ledger").start()
    q.processAllAvailable()
    q.stop()

    val tapeBatch = TapePlayer.read(spark, root, "s",
      LocalDateTime.parse("2024-02-01T00:00:00"),
      Some(LocalDateTime.parse("2024-02-04T00:00:00")))
    val expected = StreamDedupLedger.batchTwin(tapeBatch)
      .orderBy("day").collect().map(_.toSeq).toSeq
    val got = spark.table("ledger")
      .orderBy("day").collect().map(_.toSeq).toSeq
    assert(got === expected)
    // and the planted structure is what the ledger says it is:
    // day 1: 8 events, 7 distinct (dup-a x2), all 7 novel
    // day 2: 9 events, 6 distinct, 5 novel (dup-a already known)
    // day 3: 6 events, 6 distinct, 5 novel
    assert(got === Seq(
      Seq("2024-02-01", 8L, 7L, 7L),
      Seq("2024-02-02", 9L, 6L, 5L),
      Seq("2024-02-03", 6L, 6L, 5L)))
  }

  test("D11 x R9: Bloom-gated ingest dedup — verdicts equal the batch " +
    "twin, and keyed state holds only non-archived hashes, not the " +
    "arrival count") {
    val root = tmp()
    import spark.implicits._
    val mk = (day: Int, seq: Long, p: String) =>
      (p.getBytes, seq, java.sql.Timestamp.valueOf(f"2024-03-0$day%d 09:00:00"))
    // archive day: 40 distinct payloads, a few in-day repeats
    val archRecords = ((1 to 40).map(i => mk(1, i.toLong, s"arch-$i")) ++
      Seq(mk(1, 41L, "arch-1"), mk(1, 42L, "arch-1"), mk(1, 43L, "arch-2"))
    ).toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    graft.vcr.TapeWriter.write(archRecords, root, "arch", numFiles = 2)
    // stream days 2-3: re-ingest traffic dominated by archive dups,
    // plus fresh payloads with in-day AND cross-day repeats (the case
    // a static gate gets wrong unless routing is consistent per hash)
    val streamRecords = (
      (1 to 15).map(i => mk(2, 2000L + i, s"arch-$i")) ++
      (1 to 8).map(i => mk(2, 2100L + i, s"f2-$i")) ++
      Seq(mk(2, 2201L, "xa"), mk(2, 2202L, "xa")) ++
      (1 to 10).map(i => mk(3, 3000L + i, s"arch-$i")) ++
      Seq(mk(3, 3101L, "xa"), mk(3, 3102L, "f2-1")) ++
      (1 to 6).map(i => mk(3, 3200L + i, s"f3-$i"))
    ).toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    graft.vcr.TapeWriter.write(streamRecords, root, "s", numFiles = 2)

    // small filter (m=256, k=2) so false positives actually occur in
    // range — the parity statement must hold at ANY fp rate
    val archTape = TapePlayer.read(spark, root, "arch",
      LocalDateTime.parse("2024-03-01T00:00:00"), None)
    val archive = StreamBloomGate.buildArchive(archTape, m = 256, k = 2)
    val tapeStream = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/s")
    val q = StreamBloomGate(tapeStream, archive)
      .writeStream.outputMode("complete")
      .format("memory").queryName("bloomgate").start()
    q.processAllAvailable()
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .filter(_.operatorName.toLowerCase.contains("flatmapgroups"))
      .map(_.numRowsTotal)
    q.stop()

    val streamTape = TapePlayer.read(spark, root, "s",
      LocalDateTime.parse("2024-03-02T00:00:00"),
      Some(LocalDateTime.parse("2024-03-04T00:00:00")))
    val expected = StreamBloomGate.batchTwin(archTape, streamTape,
      m = 256, k = 2).orderBy("day").collect().map(_.toSeq).toSeq
    val got = spark.table("bloomgate")
      .orderBy("day").collect().map(_.toSeq).toSeq
    assert(got === expected, "gated streaming ledger != batch twin")

    // the planted structure, by hand: per day (events, archive dups,
    // novel) — novelty counts archive membership as seen
    val core = got.map(r => (r.head, r(1), r(4), r(6)))
    assert(core === Seq(
      ("2024-03-02", 25L, 15L, 9L),
      ("2024-03-03", 18L, 10L, 6L)))
    // fp accounting closes: every maybe is either an exact archive
    // hit or a measured false positive
    got.foreach { r =>
      assert(r(3).asInstanceOf[Long] ===
        r(4).asInstanceOf[Long] + r(5).asInstanceOf[Long])
      assert(r(1).asInstanceOf[Long] ===
        r(2).asInstanceOf[Long] + r(3).asInstanceOf[Long])
    }
    // novelty verdicts equal the UNGATED batch ledger (D10's shape)
    // on the stream days: the gate changes cost, never answers
    val ungated = StreamDedupLedger.batchTwin(archTape.union(streamTape))
      .filter(col("day") >= "2024-03-02")
      .orderBy("day").collect()
      .map(r => (r.getString(0), r.getLong(3))).toSeq
    assert(got.map(r => (r.head, r(6))) === ungated)

    // THE point of the gate: keyed state == the 15 distinct
    // non-archived hashes (8 f2 + xa + 6 f3) — not the 43 arrivals,
    // not the 55 distinct hashes overall
    assert(stateRows.nonEmpty && stateRows.max === 15L,
      s"state rows ${stateRows.toSeq} != distinct new-hash count 15")
  }

  test("R10: streaming index maintenance — df/tf stay equal to the " +
    "batch index across waves, and later batches emit only deltas") {
    val root = tmp()
    import spark.implicits._
    def tapeDocs(docs: Seq[(Long, String)], seqBase: Long): Unit =
      graft.vcr.TapeWriter.write(
        docs.map { case (id, t) => (s"$id|$t".getBytes, seqBase + id,
          java.sql.Timestamp.valueOf("2024-03-01 09:00:00"))
        }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
        root, "docs", numFiles = 2,
        mode = org.apache.spark.sql.SaveMode.Append)

    val wave1 = Seq(
      1L -> "spark query engine", 2L -> "vector query store",
      3L -> "spark spark runtime")
    tapeDocs(wave1, 100)

    // maintained serving stores: upserted from each batch's deltas
    val dfStore = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val tfStore = new java.util.concurrent.ConcurrentHashMap[(Long, String), Long]()
    val wave2DfDeltas = scala.collection.mutable.Set.empty[String]
    @volatile var recordDeltas = false

    val tape = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/docs")
    val qDf = StreamIndex.dfUpdates(tape)
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach { r =>
            dfStore.put(r.getString(0), r.getLong(1))
            if (recordDeltas) wave2DfDeltas += r.getString(0)
          }
          ()
      }.start()
    val qTf = StreamIndex.tfUpdates(tape)
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r =>
            tfStore.put((r.getLong(0), r.getString(1)), r.getLong(2)))
          ()
      }.start()
    qDf.processAllAvailable(); qTf.processAllAvailable()

    def asMaps(docs: Seq[(Long, String)])
    : (Map[String, Long], Map[(Long, String), Long]) = {
      val d = docs.toDF("doc_id", "text")
      (StreamIndex.dfBatch(d).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
        StreamIndex.tfBatch(d).collect()
          .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap)
    }
    import scala.jdk.CollectionConverters._
    val (df1, tf1) = asMaps(wave1)
    assert(dfStore.asScala.toMap === df1)
    assert(tfStore.asScala.toMap === tf1)

    // wave 2 touches 'query' and adds new words; 'spark'/'engine' etc
    // are untouched and must NOT re-emit
    recordDeltas = true
    val wave2 = Seq(4L -> "query planner optimizer")
    tapeDocs(wave2, 200)
    qDf.processAllAvailable(); qTf.processAllAvailable()
    qDf.stop(); qTf.stop()

    val (dfAll, tfAll) = asMaps(wave1 ++ wave2)
    assert(dfStore.asScala.toMap === dfAll)
    assert(tfStore.asScala.toMap === tfAll)
    // delta property: only wave-2 words were re-emitted
    assert(wave2DfDeltas.toSet === Set("query", "planner", "optimizer"),
      s"unexpected df deltas: $wave2DfDeltas")
  }

  test("R13: the sketch aggregates run over the stream — Bloom state " +
    "is EXACTLY the batch filter (OR is order-free), MG keeps its " +
    "guarantee under streaming arrival") {
    val root = tmp()
    import spark.implicits._
    val payloads = (1 to 300).map(i => s"payload-${i % 90}") // skewed dups
    graft.vcr.TapeWriter.write(
      payloads.zipWithIndex.map { case (p, i) =>
        (p.getBytes, i.toLong,
          java.sql.Timestamp.valueOf("2024-07-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "s", numFiles = 4)
    val stream = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/s")
      .select(md5(col("payload")).as("h"),
        (octet_length(col("payload")) % 7).cast("long").as("item"))

    @volatile var bloomWords: Seq[Long] = Seq.empty
    @volatile var mgRows: Seq[org.apache.spark.sql.Row] = Seq.empty
    val q = stream
      .agg(graft.functions.BloomFilterAgg(col("h"), 1 << 12, 4).as("bf"),
        graft.functions.MisraGriesAgg(col("item"), 3).as("mg"))
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().headOption.foreach { r =>
            bloomWords = r.getSeq[Long](0)
            mgRows = r.getSeq[org.apache.spark.sql.Row](1)
          }
          ()
      }.start()
    q.processAllAvailable()
    q.stop()

    // Bloom: bitwise-identical to the batch build on the same tape —
    // the OR-merge is order-independent, so incremental == one-shot
    val batch = TapePlayer.read(spark, root, "s",
      java.time.LocalDateTime.parse("2024-07-01T00:00:00"), None)
      .select(md5(col("payload")).as("h"),
        (octet_length(col("payload")) % 7).cast("long").as("item"))
    val batchWords = batch
      .agg(graft.functions.BloomFilterAgg(col("h"), 1 << 12, 4).as("bf"))
      .head().getSeq[Long](0)
    assert(bloomWords === batchWords)
    assert(bloomWords.exists(_ != 0L))

    // MG: content may differ by arrival order, the GUARANTEE may not —
    // heavy items (freq > n/(k+1)) survive with true-count lower bounds
    val truth = batch.groupBy(col("item")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    val summary = mgRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(summary.size <= 3)
    summary.foreach { case (i, lb) => assert(lb <= truth(i)) }
    truth.filter(_._2 > n / 4).keys.foreach(hh =>
      assert(summary.contains(hh), s"heavy $hh evicted from $summary"))
  }

  test("R17: hash-threshold quantile sampling at ingest — the streamed " +
    "sample IS the batch sample (row-intrinsic filter, no RNG state), " +
    "so downstream percentiles agree exactly") {
    val root = tmp()
    import spark.implicits._
    // 200 rows "id|price" over 4 tape files: arrival packing must not
    // matter because membership is a pure function of the row id
    val rows = (1 to 200).map(i => (i.toLong, 100.0 + (i * 131) % 900))
    graft.vcr.TapeWriter.write(
      rows.map { case (id, p) =>
        (s"$id|$p".getBytes, id,
          java.sql.Timestamp.valueOf("2024-11-02 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "qs", numFiles = 4)
    def sampled(df: org.apache.spark.sql.DataFrame) =
      df.select(split(decode(col("payload"), "UTF-8"), "\\|", 2).as("p"))
        .select(element_at(col("p"), 1).cast("long").as("id"),
          element_at(col("p"), 2).cast("double").as("price"))
        // the A46 sketch filter: md5-prefix threshold keeps ~1/4 here
        .filter(graft.dedup.Shingling.h28(
          concat(lit("rqs-"), col("id").cast("string"))) <
          lit(268435456L / 4))
    @volatile var streamed = Set.empty[Long]
    val q = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/qs")
      .transform(sampled)
      .writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          streamed = streamed ++ b.collect().map(_.getLong(0))
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val batchDf = sampled(TapePlayer.read(spark, root, "qs",
      java.time.LocalDateTime.parse("2024-11-02T00:00:00"), None))
    val batch = batchDf.collect().map(_.getLong(0)).toSet
    assert(streamed === batch, "streamed sample diverged from batch twin")
    assert(streamed.nonEmpty && streamed.size < 200,
      s"threshold filter inert: ${streamed.size} of 200 kept")
    // and the serving quantile over the accumulated sample is the
    // batch estimate exactly — same rows in, same percentile out
    val ids = streamed.toSeq.sorted
    val est = batchDf.agg(expr("percentile(price, 0.5)")).head.getDouble(0)
    val local = rows.filter(r => ids.contains(r._1)).map(_._2).sorted
    val mid = (local.length - 1) / 2.0
    val want =
      if (local.length % 2 == 1) local(local.length / 2)
      else (local(mid.toInt) + local(mid.toInt + 1)) / 2.0
    assert(math.abs(est - want) < 1e-9)
  }

  test("R18: streaming CAS chunk dedup — stored fires exactly once " +
    "per distinct chunk, keeper is the batch min, ledger equals the " +
    "batch rollup, state is bounded by distinct chunks") {
    val root = tmp()
    import spark.implicits._
    def block(c: Char) = c.toString * StreamCas.ChunkChars
    val (a, b, cc, d) = (block('a'), block('b'), block('c'), block('d'))
    // four media built from four shared 100-char blocks: every block
    // appears in exactly two media → 4 distinct chunks, 8 references
    val medias = Seq((1L, a + b), (2L, b + cc), (3L, a + d), (4L, cc + d))
    graft.vcr.TapeWriter.write(
      medias.map { case (id, text) =>
        (s"$id|$text".getBytes, id,
          java.sql.Timestamp.valueOf("2024-11-03 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "cas", numFiles = 4)
    def mediaOf(df: org.apache.spark.sql.DataFrame) =
      df.select(split(decode(col("payload"), "UTF-8"), "\\|", 2).as("p"))
        .select(element_at(col("p"), 1).cast("long").as("media_id"),
          element_at(col("p"), 2).as("text"))
    @volatile var got = Vector.empty[(String, Long, Boolean)]
    val q = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/cas")
      .transform(df => StreamCas.annotate(StreamCas.chunks(mediaOf(df))).toDF())
      .writeStream.outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          got = got ++ batch.collect().map(r =>
            (r.getString(0), r.getLong(1), r.getBoolean(3)))
          ()
      }.start()
    q.processAllAvailable()
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal)
    q.stop()
    val batchChunks = StreamCas.chunks(mediaOf(
      TapePlayer.read(spark, root, "cas",
        java.time.LocalDateTime.parse("2024-11-03T00:00:00"), None))).collect()
    assert(got.size === batchChunks.length && got.size === 8)
    // write-once: each distinct chunk stored exactly once, 4 total
    assert(got.count(_._3) === 4)
    got.groupBy(_._1).foreach { case (h, vs) =>
      assert(vs.count(_._3) === 1, s"chunk $h stored ${vs.count(_._3)} times")
    }
    // keeper attribution = the batch twin's min(media_id): the tape
    // replays in media order, and groups sort by media within a batch
    val minMedia = batchChunks.groupBy(_.h).map { case (h, cs) =>
      h -> cs.map(_.media_id).min }
    got.filter(_._3).foreach { case (h, m, _) =>
      assert(m === minMedia(h), s"chunk $h stored at $m != min ${minMedia(h)}")
    }
    // ledger parity: refs per chunk and distinct media per chunk
    val streamedLedger = got.groupBy(_._1).map { case (h, vs) =>
      h -> ((vs.size, vs.map(_._2).toSet.size)) }
    val batchLedger = batchChunks.groupBy(_.h).map { case (h, cs) =>
      h -> ((cs.length, cs.map(_.media_id).toSet.size)) }
    assert(streamedLedger === batchLedger)
    // state = distinct chunk hashes, not arrivals
    assert(stateRows.nonEmpty && stateRows.max === 4L,
      s"state rows ${stateRows.toSeq} != distinct chunk count 4")
  }

  test("R13b: the KMV sketch runs over the stream — the min-k buffer " +
    "is EXACTLY the batch sketch (bottom-k merge is order-free)") {
    val root = tmp()
    import spark.implicits._
    val payloads = (1 to 400).map(i => s"pay-${i % 150}")
    graft.vcr.TapeWriter.write(
      payloads.zipWithIndex.map { case (p, i) =>
        (p.getBytes, i.toLong,
          java.sql.Timestamp.valueOf("2024-08-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "s", numFiles = 4)
    val h = graft.dedup.Shingling.h28(col("payload").cast("string"))
    @volatile var streamed: Seq[Long] = Seq.empty
    val q = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/s")
      .select(h.as("h"))
      .agg(graft.functions.KmvAgg(col("h"), 64).as("mins"))
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().headOption.foreach(r => streamed = r.getSeq[Long](0))
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val batch = TapePlayer.read(spark, root, "s",
      java.time.LocalDateTime.parse("2024-08-01T00:00:00"), None)
      .select(h.as("h"))
      .agg(graft.functions.KmvAgg(col("h"), 64).as("mins"))
      .head().getSeq[Long](0)
    assert(streamed === batch)
    assert(streamed.size === 64)
    // and it IS the bottom-64 of the batch distinct set
    val mins = TapePlayer.read(spark, root, "s",
      java.time.LocalDateTime.parse("2024-08-01T00:00:00"), None)
      .select(h.as("h")).distinct()
      .orderBy(col("h")).limit(64).collect().map(_.getLong(0)).toSeq
    assert(streamed === mins)
  }

  test("R13c: the Count-Min sketch runs over the stream — the counter " +
    "matrix is EXACTLY the batch sketch (elementwise add is order-free)") {
    val root = tmp()
    import spark.implicits._
    val payloads = (1 to 300).map(i => s"cm-${i % 45}")
    graft.vcr.TapeWriter.write(
      payloads.zipWithIndex.map { case (p, i) =>
        (p.getBytes, i.toLong,
          java.sql.Timestamp.valueOf("2024-09-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "s", numFiles = 4)
    @volatile var streamed: Seq[Long] = Seq.empty
    val q = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/s")
      .select(col("payload").cast("string").as("p"))
      .agg(graft.functions.CountMinAgg(col("p"), 4, 64).as("cm"))
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().headOption.foreach(r => streamed = r.getSeq[Long](0))
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val batch = TapePlayer.read(spark, root, "s",
      java.time.LocalDateTime.parse("2024-09-01T00:00:00"), None)
      .select(col("payload").cast("string").as("p"))
      .agg(graft.functions.CountMinAgg(col("p"), 4, 64).as("cm"))
      .head().getSeq[Long](0)
    assert(streamed === batch)
    // every row of the matrix carries the full event mass
    (0 until 4).foreach(r =>
      assert(streamed.slice(r * 64, (r + 1) * 64).sum === 300L))
  }

  test("R13d: the bounded top-k heap runs over the stream — the live " +
    "leaderboard is EXACTLY the batch window form (k-list merge is " +
    "order-free)") {
    val root = tmp()
    import spark.implicits._
    // scores deliberately interleaved so no single trigger sees the
    // final top-k prefix
    val payloads = (1 to 200).map(i => s"lb-${(i * 73) % 200}")
    graft.vcr.TapeWriter.write(
      payloads.zipWithIndex.map { case (p, i) =>
        (p.getBytes, i.toLong,
          java.sql.Timestamp.valueOf("2024-10-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "s", numFiles = 4)
    val h = graft.dedup.Shingling.h28(col("payload").cast("string"))
    @volatile var streamed: Seq[(Double, Long)] = Seq.empty
    val q = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/s")
      .select(h.cast("double").as("score"), h.as("id"))
      .agg(graft.functions.TopKAgg(col("score"), col("id"), 5).as("top"))
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().headOption.foreach(r => streamed =
            r.getSeq[org.apache.spark.sql.Row](0)
              .map(x => (x.getDouble(0), x.getLong(1))))
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    // independent in-memory leaderboard over the same payloads (all
    // distinct by construction: 73 is coprime to 200)
    val expected = payloads
      .map { p =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(p.getBytes).map("%02x".format(_)).mkString
        val hv = java.lang.Long.parseLong(md.take(7), 16)
        (hv.toDouble, hv)
      }
      .sortBy { case (s, id) => (-s, id) }.take(5)
    assert(streamed === expected,
      "streamed top-k diverged from the in-memory leaderboard")
    assert(streamed.length === 5)
  }

  test("R13e: the HLL registers run over the stream — max-merge is " +
    "order-free AND idempotent, so the live cardinality state is " +
    "bit-identical to the batch sketch") {
    val root = tmp()
    import spark.implicits._
    // 350 arrivals over 120 distinct payloads, interleaved so every
    // trigger re-sees earlier values (the idempotence path is live)
    val payloads = (1 to 350).map(i => s"hll-${(i * 91) % 120}")
    graft.vcr.TapeWriter.write(
      payloads.zipWithIndex.map { case (p, i) =>
        (p.getBytes, i.toLong,
          java.sql.Timestamp.valueOf("2024-12-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "s", numFiles = 4)
    val h = graft.dedup.Shingling.h60(col("payload").cast("string"))
    @volatile var streamed: Seq[Long] = Seq.empty
    val q = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/s")
      .select(h.as("h"))
      .agg(graft.functions.HllAgg(col("h"), 6).as("regs"))
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().headOption.foreach(r => streamed = r.getSeq[Long](0))
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val batch = TapePlayer.read(spark, root, "s",
      java.time.LocalDateTime.parse("2024-12-01T00:00:00"), None)
      .select(h.as("h"))
      .agg(graft.functions.HllAgg(col("h"), 6).as("regs"))
      .head().getSeq[Long](0)
    assert(streamed === batch)
    assert(streamed.length === 64)
    // and both equal the in-memory reference over the md5 hashes
    val ref = graft.functions.HllAgg.reference(
      payloads.map { p =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(p.getBytes).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(md.take(15), 16)
      }, 6)
    assert(streamed === ref,
      "streamed HLL registers diverged from the in-memory reference")
  }

  test("R29: live archive digests at the recorder — per-dt xor " +
    "fingerprints are BIT-IDENTICAL to the batch digest under any " +
    "trigger packing, and a planted divergence flips exactly its day") {
    val root = tmp()
    import spark.implicits._
    // 3 days x 60 unique records, interleaved across 5 tape files
    val recs = for (d <- 1 to 3; i <- 1 to 60) yield
      (s"rec-$d-$i", (d * 1000 + i).toLong,
        java.sql.Timestamp.valueOf(f"2025-02-0$d 09:00:00"))
    graft.vcr.TapeWriter.write(
      recs.map { case (p, s, t) => (p.getBytes, s, t) }
        .toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "s", numFiles = 5)
    val rec = decode(col("payload"), "UTF-8")
    @volatile var streamed = Map.empty[String, (Long, Long, Long)]
    val q = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/s")
      .transform(df => StreamDigest.digests(df, rec))
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r => streamed = streamed +
            (r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))))
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val batch = StreamDigest.digests(TapePlayer.read(spark, root, "s",
        java.time.LocalDateTime.parse("2025-02-01T00:00:00"),
        Some(java.time.LocalDateTime.parse("2025-02-03T23:59:59"))), rec)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamed === batch)
    assert(streamed.keySet ===
      Set("2025-02-01", "2025-02-02", "2025-02-03"))
    assert(streamed.values.forall(_._1 === 60L))
    // a single-record divergence flips exactly its own day's digest
    val tampered = recs.updated(70,
      ("rec-2-11X", recs(70)._2, recs(70)._3))
    val td = StreamDigest.digests(
        tampered.map { case (p, s, t) => (p.getBytes, s, t) }
          .toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
          .withColumn(Tape.DtCol, Tape.dtOf(col(Tape.TsCol))),
        decode(col(Tape.DataCol), "UTF-8"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(td("2025-02-01") === batch("2025-02-01")._3)
    assert(td("2025-02-02") !== batch("2025-02-02")._3)
    assert(td("2025-02-03") === batch("2025-02-03")._3)
  }

  test("R31: clip identification at ingest — streamed vote tables " +
    "are BIT-IDENTICAL to the batch matcher, and the top vote names " +
    "the planted source at the planted offset") {
    val root = tmp()
    import spark.implicits._
    // corpus: 6 tracks of 40 distinct words each; clips: 12-word
    // excerpts of tracks 0-2 starting at position 7
    def words(track: Int) =
      (1 to 40).map(i => s"w-$track-$i")
    val corpus = (0 until 6).map(t => (t.toLong, words(t)))
      .toDF("media_id", "w")
    val index = graft.media.MediaQueries.fingerprints(
      graft.media.MediaQueries.peaksOf(corpus,
        lit(graft.media.MediaQueries.ClipFrames)))
    val clips = (0 until 3).map(t =>
      (100L + t, words(t).slice(6, 18))) // positions 7..18
    graft.vcr.TapeWriter.write(
      clips.map { case (id, ws) =>
        (s"$id|${ws.mkString(" ")}".getBytes, id,
          java.sql.Timestamp.valueOf("2025-03-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "s", numFiles = 3)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(split(decode(col("payload"), "UTF-8"), "\\|", 2).as("p"))
        .select(element_at(col("p"), 1).cast("long").as("media_id"),
          split(element_at(col("p"), 2), " ").as("w"))
    @volatile var streamed = Map.empty[(Long, Long, Int), Long]
    val q = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/s")
      .transform(keyed)
      .transform(StreamClipMatch.resolve(index))
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r => streamed = streamed +
            ((r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getLong(3)))
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val batch = StreamClipMatch.resolve(index)(
        clips.toDF("media_id", "w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    assert(streamed === batch)
    // top vote per clip: its own source track at offset 6
    (0 until 3).foreach { t =>
      val mine = streamed.filter(_._1._1 == 100L + t)
      val top = mine.maxBy { case ((_, m, o), v) => (v, -m, -o) }
      assert(top._1._2 === t.toLong, s"clip ${100 + t} matched wrong track")
      assert(top._1._3 === 6, "wrong excision offset")
    }
  }

  test("R28: fuzzy-key resolution at ingest — the stream-static " +
    "deletion-variant join matches EXACTLY the batch matcher on the " +
    "same tape (stateless per record, any trigger packing)") {
    val root = tmp()
    import spark.implicits._
    // probes: clean hits, one of each edit class, and misses
    val probes = Seq(
      (1L, "alpha"), (2L, "alphla"), (3L, "alph"), (4L, "alpka"),
      (5L, "beta"), (6L, "betta"), (7L, "unrelated"), (8L, "gamma"),
      (9L, "gamm"), (10L, "delta"))
    graft.vcr.TapeWriter.write(
      probes.map { case (k, n) =>
        (s"$k|$n".getBytes, k,
          java.sql.Timestamp.valueOf("2025-01-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "s", numFiles = 4)
    val ref = Seq(("r1", "alpha"), ("r2", "beta"), ("r3", "gamma"))
      .toDF("ref_key", "ref_name")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(split(decode(col("payload"), "UTF-8"), "\\|", 2).as("p"))
        .select(element_at(col("p"), 1).cast("long").as("key"),
          element_at(col("p"), 2).as("name"))
    @volatile var streamed = Set.empty[(Long, String, String, Int)]
    val q = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/s")
      .transform(keyed)
      .transform(StreamFuzzyMatch.resolve(ref))
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          streamed = streamed ++ b.collect().map(r =>
            (r.getLong(0), r.getString(1), r.getString(2), r.getInt(5)))
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val batch = graft.dedup.DedupQueries.fuzzyMatchEd1(
        probes.toDF("key", "name"), ref)
      .select(col("key"), col("name"), col("ref_key"), col("dist"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSet
    assert(streamed === batch)
    // every planted edit class resolved; the misses stayed misses
    assert(batch.map(_._1) === Set(1L, 2L, 3L, 4L, 5L, 6L, 8L, 9L))
  }

  test("R16: weighted sampling at ingest — the streamed A-ES top-k " +
    "per source is EXACTLY the batch draw (row-intrinsic keys + " +
    "bounded-heap merge are arrival-order-free)") {
    val root = tmp()
    import spark.implicits._
    // 3 sources × 40 docs with varying lengths, shuffled across two
    // interleaved tape files so arrival order ≠ id order
    val docs = (1 to 120).map(i =>
      (i.toLong, s"src-${i % 3}", 50L + (i * 37) % 400))
    graft.vcr.TapeWriter.write(
      docs.map { case (id, src, nc) =>
        (s"$id|$src|$nc".getBytes, id,
          java.sql.Timestamp.valueOf("2024-11-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "s", numFiles = 4)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(split(decode(col("payload"), "UTF-8"), "\\|", 3).as("p"))
        .select(element_at(col("p"), 1).cast("long").as("doc_id"),
          element_at(col("p"), 2).as("source"),
          element_at(col("p"), 3).cast("long").as("n_chars"))
        .withColumn("key_micro", graft.pipeline.PipelineQueries
          .aesKeyMicro(col("doc_id"), col("n_chars")))
    @volatile var streamed: Map[String, Seq[Long]] = Map.empty
    val q = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/s")
      .transform(keyed)
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg(col("key_micro").cast("double"),
        col("doc_id"), graft.pipeline.PipelineQueries.WsK).as("top"))
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          b.collect().foreach { r =>
            streamed = streamed + (r.getString(0) ->
              r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)))
          }
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val batch = keyed(TapePlayer.read(spark, root, "s",
        java.time.LocalDateTime.parse("2024-11-01T00:00:00"), None))
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg(col("key_micro").cast("double"),
        col("doc_id"), graft.pipeline.PipelineQueries.WsK).as("top"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1))).toMap
    assert(streamed === batch,
      "streamed A-ES draw diverged from the batch twin")
    assert(streamed.size === 3)
    streamed.values.foreach(v =>
      assert(v.length === graft.pipeline.PipelineQueries.WsK))
  }

  test("D12: near-dup candidates at ingest — streamed LSH pairs equal " +
    "the batch band-index candidates (cross-implementation parity)") {
    val root = tmp()
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // two ingest waves so cross-batch pairing (old bucket members vs
    // new arrivals) is actually exercised
    val (w1, w2) = rows.partition(_._1 % 2 == 0)
    // tape appends must carry INCREASING seq (the recorder's invariant
    // behind the source's append-stable offsets) — interleaving a later
    // wave's seqs below the consumed range is a mis-recorded tape
    def writeWave(wave: Seq[(Long, String)], seqBase: Long): Unit =
      graft.vcr.TapeWriter.write(
        wave.map { case (id, t) => (s"$id|$t".getBytes, seqBase + id,
          java.sql.Timestamp.valueOf("2024-06-01 09:00:00"))
        }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
        root, "docs", numFiles = 2,
        mode = org.apache.spark.sql.SaveMode.Append)
    writeWave(w1, 0L)
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = StreamNearDup(StreamIndex.docs(
        spark.readStream.format("tape")
          .option("maxFilesPerTrigger", 1).load(s"$root/docs")))
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamNearDup.CandPair], _: Long) =>
          val ps = b.collect()
          got.synchronized { got ++= ps.map(p => (p.doc_a, p.doc_b)) }
          ()
      }.start()
    q.processAllAvailable()
    writeWave(w2, 1000L)
    q.processAllAvailable()
    q.stop()
    // batch twin: the REAL batch pipeline (MinHashAgg signatures) —
    // parity across the two signature implementations
    val bands = graft.dedup.DedupQueries.minhashBands(
      graft.dedup.Shingling.shingles(docs))
    val expected = bands.select(col("doc_id").as("doc_a"), col("band"),
        col("band_key"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"),
        col("band_key")), Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet === expected)
    assert(expected.nonEmpty, "no LSH candidates at this SF: vacuous")
  }

  test("R12: decontamination at ingest — streamed verdicts equal the " +
    "batch P3 frame (broadcast eval set, narrow per-doc scoring)") {
    val root = tmp()
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the benchmark side, exactly as batch P3 builds it
    val evalSet = graft.dedup.Shingling.shingles(
        docs.filter(col("doc_id") % 20 === 0))
      .select("shingle").distinct().collect().map(_.getString(0)).toSeq
    // training docs arrive on the tape
    val train = docs.filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    graft.vcr.TapeWriter.write(
      train.map { case (id, t) => (s"$id|$t".getBytes, id,
        java.sql.Timestamp.valueOf("2024-05-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "docs", numFiles = 3)
    val q = graft.pipeline.PipelineQueries.decontamAnnotate(
        StreamIndex.docs(spark.readStream.format("tape")
          .option("maxFilesPerTrigger", 1).load(s"$root/docs")),
        evalSet)
      .writeStream.outputMode("append")
      .format("memory").queryName("decontam").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("decontam").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val expected = graft.pipeline.PipelineQueries
      .textDecontam(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "no contaminated docs at this SF: vacuous")
  }

  test("R11: the quality filter chain runs unchanged on the stream " +
    "(narrow projection) and matches the batch verdicts") {
    val root = tmp()
    import spark.implicits._
    // real corpus docs through the tape, so verdict variety is real
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    graft.vcr.TapeWriter.write(
      docs.map { case (id, t) => (s"$id|$t".getBytes, id,
        java.sql.Timestamp.valueOf("2024-04-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "docs", numFiles = 3)

    val stream = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/docs")
    val q = graft.pipeline.PipelineQueries.filterChainAnnotate(
        StreamIndex.docs(stream))
      .writeStream.outputMode("append")
      .format("memory").queryName("qchain").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("qchain").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val expected = graft.pipeline.PipelineQueries.filterChainAnnotate(
        docs.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got === expected)
    assert(got.map(_(5)).distinct.size >= 3,
      "corpus slice too uniform: verdict variety not exercised")
  }

  test("R19: streamed ANN serving is bit-identical to the batch IVF " +
    "serving for the same queries, under any trigger packing") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    // the batch gate's own query block, split across three arrival
    // waves (file stream, one file per trigger)
    val qRows = graft.Tables.embeddings(spark, dir0)
      .filter(col("vec_id") < graft.sim.SimQueries.NumQueries)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val qdir = tmp()
    qRows.grouped(4).zipWithIndex.foreach { case (wave, i) =>
      val stage = tmp()
      wave.toSeq.toDF("q_id", "v").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        java.nio.file.Paths.get(qdir, f"wave$i%02d.parquet"))
    }
    val schema = spark.read.parquet(qdir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(qdir)
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
    // gate-twin configuration: queries ARE corpus vectors, so
    // excludeSelf mirrors the batch gate's contract
    val sq = StreamAnnServe.serve(spark, dir0, stream, tmp(),
      excludeSelf = true) { out =>
      out.collect().foreach(r => results.add(r.toSeq))
      ()
    }
    sq.processAllAvailable(); sq.stop()
    graft.CachedFrames.releaseAll()
    val batch = graft.sim.SimQueries.knnIvf(spark, dir0).collect()
      .map(_.toSeq)
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet === batch.toSet,
      "streamed serving diverged from the batch IVF gate")
    assert(results.size === batch.length, "duplicate or dropped answers")
    // production default: a query whose id collides with a corpus id
    // must NOT lose that candidate — the exact match comes back
    import org.apache.spark.sql.functions.{col => c}
    val assigned = graft.sim.SimQueries.assignedVecs(spark, dir0)
    val assignFn = graft.sim.SimQueries.queryAssigner(spark, dir0)
    val qSelf = qRows.take(1).toSeq.toDF("q_id", "v")
    val served = graft.sim.SimQueries
      .serveAgainst(assignFn(qSelf), assigned, excludeSelf = false)
      .orderBy(c("rank")).collect()
    graft.CachedFrames.releaseAll()
    assert(served.head.getLong(1) === qRows.head._1,
      "self candidate missing under the production default")
    assert(served.head.getDouble(3) === 1.0)
  }

  test("R30: streamed IVF inserts — the artifact after the stream is " +
    "row-identical to one batch ivfInsert under trigger-at-a-time " +
    "arrival, and serving from it matches bit-for-bit") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val e = graft.Tables.embeddings(spark, dir0)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
    val m = graft.sim.SimQueries.InsertMod
    val r = graft.sim.SimQueries.InsertRem
    val streamed = tmp(); val twin = tmp()
    // identical subset-trained deployments (S27 rebuild determinism)
    graft.sim.SimQueries.ivfIndexWriteOn(
      e.filter(col("vec_id") % m =!= r), streamed)
    graft.sim.SimQueries.ivfIndexWriteOn(
      e.filter(col("vec_id") % m =!= r), twin)
    graft.CachedFrames.releaseAll()
    val rows = e.filter(col("vec_id") % m === r)
      .select(col("vec_id"), col("v")).collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1))).sortBy(_._1)
    assert(rows.length >= 3, "need >=3 held-out vectors for 3 triggers")
    val vdir = tmp()
    rows.grouped(rows.length / 3 + 1).zipWithIndex.foreach {
      case (wave, i) =>
        val stage = tmp()
        wave.toSeq.toDF("vec_id", "v").coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(f => f.getName.startsWith("part-")
            && f.getName.endsWith(".parquet")).get
        Files.copy(part.toPath,
          java.nio.file.Paths.get(vdir, f"wave$i%02d.parquet"))
    }
    val schema = spark.read.parquet(vdir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(vdir)
    val sq = StreamIvfInsert.start(spark, streamed, stream, tmp())
    sq.processAllAvailable(); sq.stop()
    graft.sim.SimQueries.ivfInsert(spark, twin,
      e.filter(col("vec_id") % m === r).select(col("vec_id"), col("vn")))
    def postings(p: String) = spark.read.parquet(s"$p/postings")
      .selectExpr("vec_id", "cast(cluster as bigint) as cluster", "vn")
      .collect().map(_.toSeq).toSeq
      .sortBy(_.head.asInstanceOf[Long])
    assert(postings(streamed) === postings(twin),
      "streamed postings diverged from the batch-insert twin")
    // exactly-once under replay: re-running an already-committed batch
    // id (what a failure between checkpoint commits does) is a no-op —
    // the per-batch marker makes the append idempotent
    val before = postings(streamed)
    StreamIvfInsert.insertBatch(spark, streamed,
      graft.sim.SimQueries.ivfAssigner(spark, streamed),
      rows.take(2).toSeq.toDF("vec_id", "v"), batchId = 0L)
    assert(postings(streamed) === before,
      "replaying a committed batch id duplicated postings rows")
    val sServed = graft.sim.SimQueries
      .ivfServeArtifact(spark, dir0, streamed).collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val tServed = graft.sim.SimQueries
      .ivfServeArtifact(spark, dir0, twin).collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(sServed === tServed,
      "serving from the streamed artifact diverged from the twin")
  }

  test("R32: streamed deletes — tombstone serving after the stream " +
    "equals one batch ivfDelete, replayed delete batches are no-ops " +
    "(at-least-once IS exactly-once), and a compaction after the " +
    "stream preserves serving") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val streamed = tmp(); val twin = tmp()
    graft.sim.SimQueries.ivfIndexWrite(spark, dir0, streamed)
    graft.sim.SimQueries.ivfIndexWrite(spark, dir0, twin)
    graft.CachedFrames.releaseAll()
    val delIds = spark.read.parquet(s"$streamed/postings")
      .select(col("vec_id")).filter(col("vec_id") % 7 === 3)
      .collect().map(_.getLong(0)).sorted
    assert(delIds.length >= 3)
    val ddir = tmp()
    // wave 1 and wave 2 split the ids; wave 3 REPLAYS wave 1 verbatim
    val waves = delIds.grouped(delIds.length / 2 + 1).toSeq
    (waves :+ waves.head).zipWithIndex.foreach { case (wave, i) =>
      val stage = tmp()
      wave.toSeq.toDF("vec_id").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        java.nio.file.Paths.get(ddir, f"wave$i%02d.parquet"))
    }
    val schema = spark.read.parquet(ddir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(ddir)
    val sq = StreamIvfDelete.start(spark, streamed, stream, tmp())
    sq.processAllAvailable(); sq.stop()
    graft.sim.SimQueries.ivfDelete(spark, twin,
      delIds.toSeq.toDF("vec_id"))
    val sServed = graft.sim.SimQueries
      .ivfServeArtifactDeleted(spark, dir0, streamed)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val tServed = graft.sim.SimQueries
      .ivfServeArtifactDeleted(spark, dir0, twin)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(sServed === tServed,
      "streamed tombstones diverged from the batch-delete twin " +
        "(the replayed wave must be a serving no-op)")
    assert(sServed.forall(r => r(1).asInstanceOf[Long] % 7 != 3),
      "a streamed-deleted vector surfaced as a neighbor")
    graft.sim.SimQueries.ivfCompact(spark, streamed, minDead = 1L)
    val afterCompact = graft.sim.SimQueries
      .ivfServeArtifactDeleted(spark, dir0, streamed)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(afterCompact === sServed,
      "compaction after the delete stream changed serving")
  }

  test("R30/S31b: compaction between a crashed insert commit and its " +
    "replay — no lost insert, no duplicated batch, no resurrected " +
    "delete; tombstones appended mid-compact survive the snapshot") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val art = tmp()
    val e = graft.Tables.embeddings(spark, dir0)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
    val m = graft.sim.SimQueries.InsertMod
    val r = graft.sim.SimQueries.InsertRem
    graft.sim.SimQueries.ivfIndexWriteOn(
      e.filter(col("vec_id") % m =!= r)
        .withColumn("vn", graft.functions.VectorFunctions.normalize(col("v"))),
      art)
    graft.CachedFrames.releaseAll()
    // tombstone some deployed ids so compaction has lists to rewrite
    val deployed = spark.read.parquet(s"$art/postings").select("vec_id")
    graft.sim.SimQueries.ivfDelete(spark, art,
      deployed.filter(col("vec_id") % 7 === 3))
    val delCount = deployed.filter(col("vec_id") % 7 === 3).count()
    assert(delCount > 0)
    val assign = graft.sim.SimQueries.ivfAssigner(spark, art)
    val batch = e.filter(col("vec_id") % m === r)
      .select(col("vec_id"), col("v")).collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1))).toSeq
      .toDF("vec_id", "v")
    val batchIds = batch.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    // 1. the insert commit CRASHES mid-move: some b9-* files landed
    assertThrows[java.io.IOException](StreamIvfInsert.insertBatch(
      spark, art, assign, batch, batchId = 9L, moveLimit = 1))
    spark.catalog.refreshByPath(s"$art/postings")
    val partial = spark.read.parquet(s"$art/postings")
      .filter(col("vec_id").isin(batchIds.toSeq: _*)).count()
    assert(partial > 0 && partial < batchIds.size,
      s"crash simulation should leave a PARTIAL batch, left $partial")
    // 2. compaction runs between the crash and the replay — it must
    //    rewrite the dead lists yet leave the uncommitted b9-* files
    //    alone (they carry no tombstoned rows but live in shared dirs)
    graft.sim.SimQueries.ivfCompact(spark, art, minDead = 1L)
    spark.catalog.refreshByPath(s"$art/postings")
    // The crashed batch (ids ≡ r mod m) overlaps the tombstone
    // predicate (ids ≡ 3 mod 7) at ids ≡ 10 mod 21; those rows sit in
    // the UNCOMMITTED b9-* files, which compaction must leave alone.
    // Exclude batchIds here exactly as step 3 does — asserting on the
    // raw modulus made the test depend on listStatus enumeration order
    // (which staged file moveLimit=1 happened to land). Logical state
    // reads go through the manifest-resolved view: the replaced files
    // stay on disk until the next vacuum.
    def resolvedPostings() = graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "postings", graft.sim.SimQueries.PostingsDdl)
    assert(resolvedPostings()
      .filter(col("vec_id") % 7 === 3 &&
        !col("vec_id").isin(batchIds.toSeq: _*)).count() === 0L,
      "compaction failed to remove tombstoned rows")
    // 3. the replay converges: exactly one copy of every batch row
    StreamIvfInsert.insertBatch(spark, art, assign, batch, batchId = 9L)
    spark.catalog.refreshByPath(s"$art/postings")
    val counts = spark.read.parquet(s"$art/postings")
      .filter(col("vec_id").isin(batchIds.toSeq: _*))
      .groupBy("vec_id").count().collect()
    assert(counts.length === batchIds.size, "replay lost insert rows")
    assert(counts.forall(_.getLong(1) === 1L),
      "replay duplicated insert rows after compaction absorbed the " +
        "crashed attempt")
    // no resurrected delete: tombstoned ids still absent (resolved view)
    assert(resolvedPostings()
      .filter(col("vec_id") % 7 === 3 &&
        !col("vec_id").isin(batchIds.toSeq: _*)).count() === 0L)
    // a committed batch id stays a no-op even after compaction pruned
    // nothing relevant
    StreamIvfInsert.insertBatch(spark, art, assign, batch, batchId = 9L)
    spark.catalog.refreshByPath(s"$art/postings")
    assert(spark.read.parquet(s"$art/postings")
      .filter(col("vec_id").isin(batchIds.toSeq: _*)).count()
      === batchIds.size)
    // 4. tombstones appended MID-compact survive: snapshot discipline.
    //    Simulate by appending a fresh tombstone, then compacting with
    //    a threshold nothing reaches — the no-op pass must retire the
    //    covered-nothing orphans ONLY from its snapshot, keeping the
    //    live one
    val freshVictim = batchIds.head
    graft.sim.SimQueries.ivfDelete(spark, art,
      Seq(freshVictim).toDF("vec_id"))
    graft.sim.SimQueries.ivfCompact(spark, art, minDead = Long.MaxValue)
    spark.catalog.refreshByPath(s"$art/tombstones")
    assert(spark.read.schema("vec_id LONG")
      .parquet(s"$art/tombstones").distinct().collect()
      .map(_.getLong(0)).toSet === Set(freshVictim),
      "a live tombstone was lost or a covered one resurrected")
  }

  test("R19b: streamed serving from the deployed artifact honors LIVE " +
    "tombstones — a delete landing between triggers changes the next " +
    "trigger's answers, each wave bit-identical to its batch twin") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val art = tmp()
    graft.sim.SimQueries.ivfIndexWrite(spark, dir0, art)
    graft.CachedFrames.releaseAll()
    val qVecs = graft.Tables.embeddings(spark, dir0)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val qdir = tmp()
    def emitWave(idx: Int): Unit = {
      val stage = tmp()
      qVecs.toDF("q_id", "v").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        java.nio.file.Paths.get(qdir, f"wave$idx%02d.parquet"))
    }
    val waves = new java.util.concurrent.ConcurrentLinkedQueue[
      Seq[Seq[Any]]]()
    emitWave(0)
    val schema = spark.read.parquet(qdir).schema
    val sq = StreamAnnServe.serveArtifact(spark, art,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(qdir),
      tmp(), excludeSelf = true) { out =>
      val rows = out.collect().map(_.toSeq).toSeq
      if (rows.nonEmpty) { waves.add(rows); () }
    }
    sq.processAllAvailable()
    // the delete lands BETWEEN triggers (R32's appends are this call)
    val delIds = spark.read.parquet(s"$art/postings")
      .filter(col("vec_id") % 7 === 3).select("vec_id")
    graft.sim.SimQueries.ivfDelete(spark, art, delIds)
    emitWave(1)
    sq.processAllAvailable(); sq.stop()
    import scala.jdk.CollectionConverters._
    val ws = waves.asScala.toSeq
    assert(ws.size === 2, s"expected 2 serving waves, got ${ws.size}")
    val preTwin = graft.sim.SimQueries.ivfServeArtifact(spark, dir0, art)
      .collect().map(_.toSeq).toSet
    graft.CachedFrames.releaseAll()
    val postTwin = graft.sim.SimQueries
      .ivfServeArtifactDeleted(spark, dir0, art)
      .collect().map(_.toSeq).toSet
    graft.CachedFrames.releaseAll()
    assert(ws.head.toSet === preTwin,
      "pre-delete streamed wave diverged from the undeleted batch twin")
    assert(ws(1).toSet === postTwin,
      "post-delete streamed wave diverged from the tombstoned batch twin")
    assert(ws(1).forall(r => r(1).asInstanceOf[Long] % 7 != 3),
      "a deleted vector surfaced after its tombstone landed")
    assert(ws.head.toSet !== ws(1).toSet,
      "the delete was supposed to change some served answer")
  }

  test("R36: streamed RANGE serving from the deployed artifact — a " +
    "delete landing between triggers changes the next wave, each " +
    "wave bit-identical to the S40 batch core on the same artifact") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val art = tmp()
    graft.sim.SimQueries.ivfIndexWrite(spark, dir0, art)
    graft.CachedFrames.releaseAll()
    val qVecs = graft.Tables.embeddings(spark, dir0)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val qdir = tmp()
    def emitWave(idx: Int): Unit = {
      val stage = tmp()
      qVecs.toDF("q_id", "v").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        java.nio.file.Paths.get(qdir, f"wave$idx%02d.parquet"))
    }
    val waves = new java.util.concurrent.ConcurrentLinkedQueue[
      Seq[Seq[Any]]]()
    emitWave(0)
    val schema = spark.read.parquet(qdir).schema
    val sq = StreamAnnServe.serveRangeArtifact(spark, art,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(qdir),
      tmp(), excludeSelf = true, nprobe = 3) { out =>
      val rows = out.collect().map(_.toSeq).toSeq
      if (rows.nonEmpty) { waves.add(rows); () }
    }
    sq.processAllAvailable()
    val delIds = spark.read.parquet(s"$art/postings")
      .filter(col("vec_id") % 7 === 3).select("vec_id")
    graft.sim.SimQueries.ivfDelete(spark, art, delIds)
    emitWave(1)
    sq.processAllAvailable(); sq.stop()
    import scala.jdk.CollectionConverters._
    val ws = waves.asScala.toSeq
    assert(ws.size === 2, s"expected 2 range waves, got ${ws.size}")
    // batch twins from the SAME core on the same artifact
    def twin(): Set[Seq[Any]] = {
      val q = graft.sim.SimQueries.ivfQueryAssigner(spark, art, 3)(
        qVecs.toDF("q_id", "v"))
      val r = graft.sim.SimQueries.rangeArtifactDeletedOn(
        spark, q, art, excludeSelf = true)
        .collect().map(_.toSeq).toSet
      graft.CachedFrames.releaseAll()
      r
    }
    // post-delete twin computed now (tombstones live); the pre-delete
    // wave is checked structurally: superset of post + radius bound
    val post = twin()
    assert(ws(1).toSet === post,
      "post-delete streamed range wave diverged from the batch core")
    assert(ws(1).forall(r => r(1).asInstanceOf[Long] % 7 != 3),
      "a deleted vector surfaced in a range answer")
    assert(ws.head.toSet.size > ws(1).toSet.size,
      "the delete was supposed to shrink the within-radius set")
    assert(post.subsetOf(ws.head.toSet),
      "pre-delete wave must contain every surviving pair")
    ws.head.foreach(r => assert(
      r(3).asInstanceOf[Double] >= graft.sim.SimQueries.RangeTau))
  }

  test("R37: streamed ADC serving from the deployed COMPRESSED " +
    "artifact — a delete landing between triggers masks the next " +
    "wave, each wave bit-identical to the S43 batch closure, and the " +
    "residual encoding serves through the same face") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val art = tmp()
    graft.sim.SimQueries.ivfPqIndexWrite(spark, dir0, art)
    graft.CachedFrames.releaseAll()
    val qVecs = graft.Tables.embeddings(spark, dir0)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val qdir = tmp()
    def emitWave(idx: Int): Unit = {
      val stage = tmp()
      qVecs.toDF("q_id", "v").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        java.nio.file.Paths.get(qdir, f"wave$idx%02d.parquet"))
    }
    val waves = new java.util.concurrent.ConcurrentLinkedQueue[
      Seq[Seq[Any]]]()
    emitWave(0)
    val schema = spark.read.parquet(qdir).schema
    val sq = StreamAnnServe.serveAdcArtifact(spark, art,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(qdir),
      tmp(), excludeSelf = true) { out =>
      val rows = out.collect().map(_.toSeq).toSeq
      if (rows.nonEmpty) { waves.add(rows); () }
    }
    sq.processAllAvailable()
    val delIds = spark.read.parquet(s"$art/codes")
      .filter(col("vec_id") % 7 === 3).select("vec_id")
    graft.sim.SimQueries.ivfDelete(spark, art, delIds)
    emitWave(1)
    sq.processAllAvailable(); sq.stop()
    import scala.jdk.CollectionConverters._
    val ws = waves.asScala.toSeq
    assert(ws.size === 2, s"expected 2 ADC waves, got ${ws.size}")
    // the batch twin IS the per-trigger body — computed now, with the
    // tombstones live, so it must equal the POST-delete wave exactly
    val post = {
      val r = graft.sim.SimQueries
        .ivfPqQueryServer(spark, art, excludeSelf = true)(
          qVecs.toDF("q_id", "v")).collect().map(_.toSeq).toSeq
      graft.CachedFrames.releaseAll()
      r
    }
    assert(ws(1) === post,
      "post-delete streamed ADC wave diverged from the batch closure")
    assert(ws(1).forall(r => r(1).asInstanceOf[Long] % 7 != 3),
      "a tombstoned vector surfaced from the compressed stream")
    assert(ws.head !== ws(1),
      "a seventh of the corpus deleted and no ADC answer moved")
    // the RESIDUAL encoding through the same face: one wave ≡ the
    // S45 batch closure bit-for-bit
    val artR = tmp()
    graft.sim.SimQueries.ivfPqResIndexWrite(spark, dir0, artR)
    graft.CachedFrames.releaseAll()
    val wavesR = new java.util.concurrent.ConcurrentLinkedQueue[
      Seq[Seq[Any]]]()
    val qdirR = tmp()
    val stageR = tmp()
    qVecs.toDF("q_id", "v").coalesce(1)
      .write.mode("overwrite").parquet(stageR)
    Files.copy(new java.io.File(stageR).listFiles()
      .find(f => f.getName.startsWith("part-")
        && f.getName.endsWith(".parquet")).get.toPath,
      java.nio.file.Paths.get(qdirR, "wave00.parquet"))
    val sqR = StreamAnnServe.serveAdcArtifact(spark, artR,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(qdirR),
      tmp(), excludeSelf = true, residual = true) { out =>
      val rows = out.collect().map(_.toSeq).toSeq
      if (rows.nonEmpty) { wavesR.add(rows); () }
    }
    sqR.processAllAvailable(); sqR.stop()
    val twinR = {
      val r = graft.sim.SimQueries
        .ivfPqResQueryServer(spark, artR, excludeSelf = true)(
          qVecs.toDF("q_id", "v")).collect().map(_.toSeq).toSeq
      graft.CachedFrames.releaseAll()
      r
    }
    assert(wavesR.asScala.toSeq === Seq(twinR),
      "streamed residual ADC wave diverged from the S45 batch closure")
    // round 13: the face inherits the S47 recall knob — one probe-3
    // wave against the (tombstoned) raw artifact ≡ the multi-probe
    // batch closure bit-for-bit, deletes still masked
    val wavesP = new java.util.concurrent.ConcurrentLinkedQueue[
      Seq[Seq[Any]]]()
    val qdirP = tmp()
    Files.copy(new java.io.File(stageR).listFiles()
      .find(f => f.getName.startsWith("part-")
        && f.getName.endsWith(".parquet")).get.toPath,
      java.nio.file.Paths.get(qdirP, "wave00.parquet"))
    val sqP = StreamAnnServe.serveAdcArtifact(spark, art,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(qdirP),
      tmp(), excludeSelf = true, nprobe = 3) { out =>
      val rows = out.collect().map(_.toSeq).toSeq
      if (rows.nonEmpty) { wavesP.add(rows); () }
    }
    sqP.processAllAvailable(); sqP.stop()
    val twinP = {
      val r = graft.sim.SimQueries
        .ivfPqQueryServer(spark, art, excludeSelf = true, nprobe = 3)(
          qVecs.toDF("q_id", "v")).collect().map(_.toSeq).toSeq
      graft.CachedFrames.releaseAll()
      r
    }
    assert(wavesP.asScala.toSeq === Seq(twinP),
      "streamed probe-3 ADC wave diverged from the multi-probe closure")
    assert(twinP.forall(r => r(1).asInstanceOf[Long] % 7 != 3),
      "a tombstoned vector surfaced from the probe-3 stream")
  }

  test("StagedCommit crash-point sweep: a commit killed after ANY " +
    "number of moved files converges to exactly one copy on replay") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val art = tmp()
    graft.sim.SimQueries.ivfIndexWrite(spark, dir0, art)
    graft.CachedFrames.releaseAll()
    val assign = graft.sim.SimQueries.ivfAssigner(spark, art)
    // a batch spread over several clusters so the commit moves >1 file
    val batch = graft.Tables.embeddings(spark, dir0)
      .filter(col("vec_id") < 12)
      .select((col("vec_id") + 5000000L).as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val ids = batch.map(_._1).toSet
    (0 to 3).foreach { k =>
      val bid = 100L + k
      val thrown = try {
        StreamIvfInsert.insertBatch(spark, art, assign,
          batch.toDF("vec_id", "v"), bid, moveLimit = k)
        false
      } catch { case _: java.io.IOException => true }
      // k files may be fewer than the staged tree: only then a crash
      if (thrown)
        StreamIvfInsert.insertBatch(spark, art, assign,
          batch.toDF("vec_id", "v"), bid)
      // replaying the now-committed id is a no-op at every k
      StreamIvfInsert.insertBatch(spark, art, assign,
        batch.toDF("vec_id", "v"), bid)
      spark.catalog.refreshByPath(s"$art/postings")
      val counts = spark.read.parquet(s"$art/postings")
        .filter(col("vec_id").isin(ids.toSeq: _*))
        .groupBy("vec_id").count().collect()
      assert(counts.length === ids.size,
        s"crash point $k lost rows: ${counts.length}/${ids.size}")
      assert(counts.forall(_.getLong(1) === (k + 1).toLong),
        s"crash point $k: expected ${k + 1} committed copies " +
          s"(one per prior batch id), got " +
          counts.map(_.getLong(1)).distinct.mkString(","))
    }
  }

  test("S31c snapshot isolation: serving at EVERY interleave point of " +
    "a compaction sees no duplicated candidate and an unchanged " +
    "answer; a batch committing inside the compaction window (between " +
    "the snapshot and the manifest swap) survives with exactly one " +
    "copy and its replay stays a no-op") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val art = tmp(); val twin = tmp()
    val e = graft.Tables.embeddings(spark, dir0)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
    val m = graft.sim.SimQueries.InsertMod
    val r = graft.sim.SimQueries.InsertRem
    val train = e.filter(col("vec_id") % m =!= r)
      .withColumn("vn", graft.functions.VectorFunctions.normalize(col("v")))
    graft.sim.SimQueries.ivfIndexWriteOn(train, art)
    graft.sim.SimQueries.ivfIndexWriteOn(train, twin)
    graft.CachedFrames.releaseAll()
    val delIds = spark.read.parquet(s"$art/postings")
      .filter(col("vec_id") % 7 === 3).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(delIds.nonEmpty)
    graft.sim.SimQueries.ivfDelete(spark, art, delIds.toDF("vec_id"))
    graft.sim.SimQueries.ivfDelete(spark, twin, delIds.toDF("vec_id"))
    val preServe = graft.sim.SimQueries
      .ivfServeArtifactDeleted(spark, dir0, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val batch = e.filter(col("vec_id") % m === r)
      .select(col("vec_id"), col("v")).collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1))).toSeq
      .toDF("vec_id", "v").localCheckpoint(false)
    val batchIds = batch.select("vec_id").collect()
      .map(_.getLong(0)).toSeq
    val assign = graft.sim.SimQueries.ivfAssigner(spark, art)
    var committedMid = false
    val seenPoints = scala.collection.mutable.ArrayBuffer[String]()
    val servedAt = scala.collection.mutable.Map[String, Seq[Seq[Any]]]()
    graft.sim.SimQueries.ivfCompact(spark, art, minDead = 1L,
      onPoint = { pt =>
        seenPoints += pt
        spark.catalog.refreshByPath(s"$art/postings")
        val view = graft.streaming.SnapshotManifest.resolveDf(
          spark, art, "postings", graft.sim.SimQueries.PostingsDdl)
        assert(view.groupBy("vec_id").count()
          .filter(col("count") > 1).count() === 0L,
          s"duplicated candidate row in the resolved view at '$pt'")
        servedAt(pt) = graft.sim.SimQueries
          .ivfServeArtifactDeleted(spark, dir0, art)
          .collect().map(_.toSeq).toSeq
        graft.CachedFrames.releaseAll()
        // the ADVICE window: a streamed batch seals its commit AFTER
        // the rewrite moved in but BEFORE the manifest swap — the old
        // re-list-at-delete design would have destroyed it
        if (pt == "moved-in" && !committedMid) {
          committedMid = true
          StreamIvfInsert.insertBatch(spark, art, assign, batch,
            batchId = 21L)
        }
        ()
      })
    assert(committedMid, "the moved-in interleave point never fired")
    assert(seenPoints.containsSlice(
      Seq("vacuumed", "resolved", "staged", "moved-in", "committed")),
      seenPoints.toString)
    // every pre-swap serve is the pre-compact answer, bit-for-bit
    Seq("vacuumed", "resolved", "staged", "moved-in").foreach { pt =>
      assert(servedAt(pt) === preServe,
        s"serving changed mid-compaction at '$pt'")
    }
    // at 'committed' the mid-window batch is visible — equal to the
    // batch-maintained (never-compacted) twin
    StreamIvfInsert.insertBatch(spark, twin,
      graft.sim.SimQueries.ivfAssigner(spark, twin), batch, batchId = 21L)
    val twinServed = graft.sim.SimQueries
      .ivfServeArtifactDeleted(spark, dir0, twin)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(servedAt("committed") === twinServed,
      "post-swap serving diverged from the batch-maintained twin")
    // tombstone retire (after the last point) left serving unchanged
    val finalServe = graft.sim.SimQueries
      .ivfServeArtifactDeleted(spark, dir0, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(finalServe === servedAt("committed"))
    // the mid-compact batch survived with exactly one copy; replay no-op
    def batchCounts() = graft.streaming.SnapshotManifest.resolveDf(
      spark, art, "postings", graft.sim.SimQueries.PostingsDdl)
      .filter(col("vec_id").isin(batchIds: _*))
      .groupBy("vec_id").count().collect()
    val c1 = batchCounts()
    assert(c1.length === batchIds.size,
      "the mid-compaction commit lost rows to the manifest swap")
    assert(c1.forall(_.getLong(1) === 1L))
    StreamIvfInsert.insertBatch(spark, art, assign, batch, batchId = 21L)
    val c2 = batchCounts()
    assert(c2.length === batchIds.size && c2.forall(_.getLong(1) === 1L),
      "replaying the mid-compaction batch duplicated rows")
  }

  test("E31 crash convergence: a compaction killed between move-in " +
    "and the manifest swap leaves serving EXACTLY as before (orphan " +
    "gen files are invisible), and the next compaction sweeps the " +
    "orphans and completes — no duplicate, no loss") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val art = tmp()
    graft.sim.SimQueries.ivfIndexWrite(spark, dir0, art)
    graft.CachedFrames.releaseAll()
    val delIds = spark.read.parquet(s"$art/postings")
      .filter(col("vec_id") % 7 === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    graft.sim.SimQueries.ivfDelete(spark, art, delIds.toDF("vec_id"))
    val preServe = graft.sim.SimQueries
      .ivfServeArtifactDeleted(spark, dir0, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    // kill the compaction right after the gen files moved in — the
    // window a crashed process leaves on a real cluster
    final class Killed extends RuntimeException
    intercept[Killed] {
      graft.sim.SimQueries.ivfCompact(spark, art, minDead = 1L,
        onPoint = pt => if (pt == "moved-in") throw new Killed)
    }
    spark.catalog.refreshByPath(s"$art/postings")
    // orphan gen files are physically present but resolve to NOTHING
    val genOnDisk = graft.streaming.StagedCommit
      .committedParquet(spark, art, "postings")
      .count(f => new org.apache.hadoop.fs.Path(f).getName
        .startsWith("gen-"))
    assert(genOnDisk > 0, "the kill landed before any gen file moved in")
    val view = graft.streaming.SnapshotManifest
      .resolve(spark, art, "postings")
    assert(!view.exists(f =>
      new org.apache.hadoop.fs.Path(f).getName.startsWith("gen-")),
      "an orphan gen file leaked into the resolved view")
    val afterCrash = graft.sim.SimQueries
      .ivfServeArtifactDeleted(spark, dir0, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(afterCrash === preServe,
      "a crashed (pre-swap) compaction changed serving")
    // the restart converges: vacuum sweeps the orphans, the rewrite
    // completes, serving is still identical, nothing duplicated
    graft.sim.SimQueries.ivfCompact(spark, art, minDead = 1L)
    spark.catalog.refreshByPath(s"$art/postings")
    val afterRetry = graft.sim.SimQueries
      .ivfServeArtifactDeleted(spark, dir0, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(afterRetry === preServe, "the retried compaction changed serving")
    val resolved = graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "postings", graft.sim.SimQueries.PostingsDdl)
    assert(resolved.groupBy("vec_id").count()
      .filter(col("count") > 1).count() === 0L)
    assert(resolved.filter(col("vec_id").isin(delIds: _*)).count() === 0L,
      "the retried compaction failed to remove tombstoned rows")
    // and the crash's orphans are gone from disk (vacuumed on retry):
    // every surviving gen file is referenced by the current manifest
    val manifest = graft.streaming.SnapshotManifest
      .read(graft.streaming.SnapshotManifest.fsOf(spark, art), art,
        "postings").get
    val genNow = graft.streaming.StagedCommit
      .committedParquet(spark, art, "postings")
      .map(f => new org.apache.hadoop.fs.Path(f))
      .filter(_.getName.startsWith("gen-"))
    assert(genNow.nonEmpty)
    assert(genNow.forall(p => manifest.gen.exists(_.endsWith(p.getName))),
      "an unreferenced gen orphan survived the retry's vacuum")
  }

  test("StagedCommit low-watermark: pruning a batch's commit marker " +
    "keeps its surviving b{id}-* files classified COMMITTED — a later " +
    "compaction reclaims their tombstoned rows, and replaying the " +
    "pruned id stays a no-op") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val art = tmp()
    graft.sim.SimQueries.ivfIndexWrite(spark, dir0, art)
    graft.CachedFrames.releaseAll()
    val assign = graft.sim.SimQueries.ivfAssigner(spark, art)
    def mkBatch(off: Long) = graft.Tables.embeddings(spark, dir0)
      .filter(col("vec_id") < 8)
      .select((col("vec_id") + off).as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    Seq(1L, 2L, 3L).foreach { bid =>
      StreamIvfInsert.insertBatch(spark, art, assign,
        mkBatch(6000000L * bid), bid)
    }
    val fs = new org.apache.hadoop.fs.Path(art)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sim.SimQueries.pruneInsertMarkers(spark, fs, art,
      keepNewest = 1)
    // markers 1 and 2 retired; the watermark covers them
    val view = StagedCommit.committedView(fs, art)
    assert(!view.ids.contains(1L) && !view.ids.contains(2L) &&
      view.ids.contains(3L), view.toString)
    assert(view.low === 2L)
    assert(view.contains(1L) && view.contains(2L))
    assert(!StagedCommit.uncommittedFile("b1-0.parquet", view),
      "a pruned-but-committed batch file was reclassified uncommitted")
    assert(StagedCommit.uncommittedFile("b99-0.parquet", view))
    // replaying a pruned id is STILL a no-op (no duplicate rows)
    val ids1 = (0L until 8L).map(_ + 6000000L).toSeq
    StreamIvfInsert.insertBatch(spark, art, assign, mkBatch(6000000L), 1L)
    spark.catalog.refreshByPath(s"$art/postings")
    assert(spark.read.parquet(s"$art/postings")
      .filter(col("vec_id").isin(ids1: _*))
      .groupBy("vec_id").count().collect()
      .forall(_.getLong(1) === 1L),
      "replay of a watermark-covered batch duplicated rows")
    // the pruned batch's rows are RECLAIMABLE: tombstone them all and
    // compact — before the watermark, compaction would spare the b1-*
    // files forever and the tombstones could never retire
    graft.sim.SimQueries.ivfDelete(spark, art, ids1.toDF("vec_id"))
    graft.sim.SimQueries.ivfCompact(spark, art, minDead = 1L)
    spark.catalog.refreshByPath(s"$art/postings")
    assert(graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "postings", graft.sim.SimQueries.PostingsDdl)
      .filter(col("vec_id").isin(ids1: _*)).count() === 0L,
      "compaction spared a marker-pruned batch's tombstoned rows")
    spark.catalog.refreshByPath(s"$art/tombstones")
    assert(spark.read.schema("vec_id LONG")
      .parquet(s"$art/tombstones")
      .filter(col("vec_id").isin(ids1: _*)).count() === 0L,
      "tombstones over a marker-pruned batch never retired")
  }

  test("StagedCommit watermark is crash-atomic: the id lives in the " +
    "marker NAME (create-then-retire, max wins), so no crash point " +
    "can tear it back to -1 and reclassify pruned batches") {
    val art = tmp()
    val fs = new org.apache.hadoop.fs.Path(art)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(StagedCommit.lowWatermark(fs, art) === -1L)
    StagedCommit.advanceLowWatermark(fs, art, 2L)
    assert(StagedCommit.lowWatermark(fs, art) === 2L)
    StagedCommit.advanceLowWatermark(fs, art, 5L)
    assert(StagedCommit.lowWatermark(fs, art) === 5L)
    // monotone: a lower advance is a no-op
    StagedCommit.advanceLowWatermark(fs, art, 3L)
    assert(StagedCommit.lowWatermark(fs, art) === 5L)
    // exactly one named marker survives retirement
    val markers = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$art/_insert_commits")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("low-watermark"))
    assert(markers === Seq("low-watermark-5"))
    // the crash-atomicity argument made literal: simulate the worst
    // interleaving (new marker created, old not yet retired) — the
    // reader's max-wins still answers 5, never -1, never 2
    fs.create(new org.apache.hadoop.fs.Path(
      s"$art/_insert_commits/low-watermark-2"), true).close()
    assert(StagedCommit.lowWatermark(fs, art) === 5L)
    // and batch markers don't confuse the parse
    fs.create(new org.apache.hadoop.fs.Path(
      s"$art/_insert_commits/batch-99"), true).close()
    assert(StagedCommit.lowWatermark(fs, art) === 5L)
    assert(StagedCommit.committedView(fs, art).ids === Set(99L))
  }

  test("StagedCommit watermark upgrade path: a LEGACY content-based " +
    "low-watermark file is read (no silent reset to -1) and migrated " +
    "to a named marker on the next advance") {
    val art = tmp()
    val fs = new org.apache.hadoop.fs.Path(art)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = new org.apache.hadoop.fs.Path(s"$art/_insert_commits")
    fs.mkdirs(commits)
    val legacy = new org.apache.hadoop.fs.Path(commits, "low-watermark")
    val out = fs.create(legacy, true)
    out.write("7".getBytes("UTF-8")); out.close()
    // pre-fix this read -1: batches 0..7, marker-pruned by an OLD
    // build, would reclassify as uncommitted and their b{id}-* files
    // would stop resolving
    assert(StagedCommit.lowWatermark(fs, art) === 7L)
    assert(StagedCommit.committedView(fs, art).contains(3L))
    // an advance BELOW the legacy value is a no-op (monotone holds
    // across formats) and leaves the legacy file alone
    StagedCommit.advanceLowWatermark(fs, art, 5L)
    assert(StagedCommit.lowWatermark(fs, art) === 7L)
    assert(fs.exists(legacy))
    // the next real advance writes the named marker and retires the
    // legacy file — the migration
    StagedCommit.advanceLowWatermark(fs, art, 9L)
    assert(StagedCommit.lowWatermark(fs, art) === 9L)
    assert(!fs.exists(legacy), "legacy file survived migration")
    assert(fs.listStatus(commits).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("low-watermark")) ===
      Seq("low-watermark-9"))
    // a TORN legacy file (empty/garbled content) reads as -1 — no
    // worse than pre-fix, and named markers win once written
    val art2 = tmp()
    val fs2 = new org.apache.hadoop.fs.Path(art2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits2 = new org.apache.hadoop.fs.Path(s"$art2/_insert_commits")
    fs2.mkdirs(commits2)
    fs2.create(new org.apache.hadoop.fs.Path(commits2, "low-watermark"),
      true).close()
    assert(StagedCommit.lowWatermark(fs2, art2) === -1L)
  }

  test("R30+R32+R19b topology: insert, delete, and serving streams " +
    "interleaved against ONE artifact, with a compaction mid-flight — " +
    "final serving equals the batch-maintained twin bit-for-bit") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val art = tmp(); val twin = tmp()
    val e = graft.Tables.embeddings(spark, dir0)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
    val m = graft.sim.SimQueries.InsertMod
    val r = graft.sim.SimQueries.InsertRem
    graft.sim.SimQueries.ivfIndexWriteOn(
      e.filter(col("vec_id") % m =!= r), art)
    graft.sim.SimQueries.ivfIndexWriteOn(
      e.filter(col("vec_id") % m =!= r), twin)
    graft.CachedFrames.releaseAll()
    val heldOut = e.filter(col("vec_id") % m === r)
      .select(col("vec_id"), col("v")).collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1))).sortBy(_._1)
    val delIds = e.select(col("vec_id")).collect().map(_.getLong(0))
      .filter(_ % 7 == 3).sorted
    def stageFile(df: org.apache.spark.sql.DataFrame, dirOut: String,
                  name: String): Unit = {
      val stage = tmp()
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(dirOut, name))
    }
    val insDir = tmp(); val delDir = tmp(); val qDir = tmp()
    val insWaves = heldOut.grouped(heldOut.length / 2 + 1).toSeq
    val delWaves = delIds.grouped(delIds.length / 2 + 1).toSeq
    val qVecs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v"))
    // stage the FIRST waves so each stream's schema is inferable
    stageFile(insWaves.head.toSeq.toDF("vec_id", "v"), insDir, "w0.parquet")
    stageFile(delWaves.head.toSeq.toDF("vec_id"), delDir, "w0.parquet")
    stageFile(qVecs, qDir, "w0.parquet")
    val insQ = StreamIvfInsert.start(spark, art,
      spark.readStream.schema(spark.read.parquet(insDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(insDir), tmp())
    val delQ = StreamIvfDelete.start(spark, art,
      spark.readStream.schema(spark.read.parquet(delDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(delDir), tmp())
    val served = new java.util.concurrent.ConcurrentLinkedQueue[
      Seq[Seq[Any]]]()
    // the standing topology serves at the TUNED probe depth (nprobe=3,
    // the ivf_tune elbow at this scale), not probe-1 — the batch twin
    // below serves at the same depth, so the bit-identity claim covers
    // the multi-probe production core
    val srvQ = StreamAnnServe.serveArtifact(spark, art,
      spark.readStream.schema(spark.read.parquet(qDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(qDir),
      tmp(), excludeSelf = true, nprobe = 3) { out =>
      val rows = out.collect().map(_.toSeq).toSeq
      if (rows.nonEmpty) { served.add(rows); () }
    }
    // deterministic interleave: ins1 → del1 → serve1 → COMPACT →
    // ins2 → serve2 → del2 → final serve
    insQ.processAllAvailable()
    delQ.processAllAvailable()
    srvQ.processAllAvailable()
    graft.sim.SimQueries.ivfCompact(spark, art, minDead = 1L)
    stageFile(insWaves(1).toSeq.toDF("vec_id", "v"), insDir, "w1.parquet")
    insQ.processAllAvailable()
    stageFile(qVecs, qDir, "w1.parquet")
    srvQ.processAllAvailable()
    stageFile(delWaves(1).toSeq.toDF("vec_id"), delDir, "w1.parquet")
    delQ.processAllAvailable()
    stageFile(qVecs, qDir, "w2.parquet")
    srvQ.processAllAvailable()
    insQ.stop(); delQ.stop(); srvQ.stop()
    // the batch-maintained twin: same inserts, same deletes, no streams
    graft.sim.SimQueries.ivfInsert(spark, twin,
      e.filter(col("vec_id") % m === r).select(col("vec_id"), col("vn")))
    import spark.implicits._
    graft.sim.SimQueries.ivfDelete(spark, twin, delIds.toSeq.toDF("vec_id"))
    val twinServed = graft.sim.SimQueries
      .ivfServeArtifactDeleted(spark, dir0, twin, nprobe = 3)
      .collect().map(_.toSeq).toSet
    graft.CachedFrames.releaseAll()
    import scala.jdk.CollectionConverters._
    val finalWave = served.asScala.toSeq.last.toSet
    assert(finalWave === twinServed,
      "the stream-maintained artifact serves differently from the " +
        "batch-maintained twin")
    assert(finalWave.forall(r => r(1).asInstanceOf[Long] % 7 != 3),
      "a deleted vector surfaced in the final serving wave")
    // compaction mid-flight lost nothing: every surviving posting row
    // appears exactly once in the RESOLVED view (the raw directory
    // legitimately holds the replaced files until the next vacuum)
    spark.catalog.refreshByPath(s"$art/postings")
    val dup = graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "postings", graft.sim.SimQueries.PostingsDdl)
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(dup === 0L, "a postings row is duplicated after the " +
      "compact-under-streams interleaving")
  }

  test("R15b: streamed inserts into the persisted layered-graph " +
    "artifact — every arrival gains a base adjacency, inserted " +
    "vectors surface as served neighbors, replay is a no-op, and a " +
    "crash mid-commit converges") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val art = tmp()
    val e = graft.Tables.embeddings(spark, dir0)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
    val m = graft.sim.SimQueries.InsertMod
    val r = graft.sim.SimQueries.InsertRem
    graft.sim.SimQueries.hnswIndexWriteOn(
      e.filter(col("vec_id") % m =!= r), art)
    graft.CachedFrames.releaseAll()
    val heldOut = e.filter(col("vec_id") % m === r)
      .select(col("vec_id"), col("v")).collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1))).sortBy(_._1)
    val vdir = tmp()
    heldOut.grouped(heldOut.length / 2 + 1).zipWithIndex.foreach {
      case (wave, i) =>
        val stage = tmp()
        wave.toSeq.toDF("vec_id", "v").coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(f => f.getName.startsWith("part-")
            && f.getName.endsWith(".parquet")).get
        Files.copy(part.toPath,
          java.nio.file.Paths.get(vdir, f"wave$i%02d.parquet"))
    }
    val schema = spark.read.parquet(vdir).schema
    val sq = StreamGraphInsert.start(spark, art,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(vdir), tmp())
    sq.processAllAvailable(); sq.stop()
    val insertedIds = heldOut.map(_._1).toSet
    // membership: the artifact holds the full corpus now
    spark.catalog.refreshByPath(s"$art/members")
    assert(spark.read.parquet(s"$art/members").count() === e.count())
    // every arrival has a base-layer adjacency
    spark.catalog.refreshByPath(s"$art/edges")
    val srcs = spark.read.parquet(s"$art/edges")
      .filter(col("lvl") === 0).select("src").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(insertedIds.subsetOf(srcs),
      s"arrivals without adjacency: ${(insertedIds -- srcs).take(5)}")
    // insert → still-served: querying WITH the inserted vectors, the
    // descent must surface inserted nodes as neighbors (they are each
    // other's closest kin in this corpus slice)
    val q = heldOut.take(10).toSeq.toDF("vec_id", "v")
      .select(col("vec_id").as("q_id"),
        graft.functions.VectorFunctions.normalize(col("v")).as("qvn"))
    val served = graft.sim.SimQueries.hnswServeArtifactOn(spark, q, art)
      .collect()
    assert(served.nonEmpty)
    val servedNeighbors = served.map(_.getLong(1)).toSet
    assert(servedNeighbors.exists(insertedIds.contains),
      "no inserted vector ever surfaced as a served neighbor")
    // replay: re-running a committed batch id changes nothing
    def edgeCount = {
      spark.catalog.refreshByPath(s"$art/edges")
      spark.read.parquet(s"$art/edges").count()
    }
    val before = edgeCount
    graft.sim.SimQueries.hnswArtifactInsert(spark, art,
      heldOut.take(3).toSeq.toDF("vec_id", "v"), batchId = 0L)
    assert(edgeCount === before, "replayed batch id duplicated edges")
    // crash mid-commit, then replay: exactly one copy of the batch
    val fresh = heldOut.take(2).map { case (id, v) => (id + 1000000L, v) }
    assertThrows[java.io.IOException](
      graft.sim.SimQueries.hnswArtifactInsert(spark, art,
        fresh.toSeq.toDF("vec_id", "v"), batchId = 77L, moveLimit = 1))
    graft.sim.SimQueries.hnswArtifactInsert(spark, art,
      fresh.toSeq.toDF("vec_id", "v"), batchId = 77L)
    spark.catalog.refreshByPath(s"$art/members")
    val counts = spark.read.parquet(s"$art/members")
      .filter(col("vec_id") >= 1000000L)
      .groupBy("vec_id").count().collect()
    assert(counts.length === 2 && counts.forall(_.getLong(1) === 1L),
      "crash-then-replay lost or duplicated members")
    // S38 closes the loop: the insert-grown graph (append-only
    // connects, reverse edges never re-pruned) is refinable, and the
    // drift monitor says so with a positive exact-integer gain
    val drift = graft.sim.SimQueries.graphDriftOn(spark, art).head()
    graft.CachedFrames.releaseAll()
    assert(drift.getAs[Boolean]("refine"),
      "the monitor failed to flag the insert-churned graph")
    assert(drift.getAs[Long]("gain_micro") > 0L)
  }

  test("R15b+R32+S36b graph topology: insert and delete streams " +
    "interleaved against ONE hnsw artifact with a compaction " +
    "mid-flight — masked serving equals the batch-sequential twin " +
    "bit-for-bit, no member duplicated, nothing deleted served") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    val art = tmp(); val twin = tmp()
    val e = graft.Tables.embeddings(spark, dir0)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
    val m = graft.sim.SimQueries.InsertMod
    val r = graft.sim.SimQueries.InsertRem
    val train = e.filter(col("vec_id") % m =!= r)
    graft.sim.SimQueries.hnswIndexWriteOn(train, art)
    graft.sim.SimQueries.hnswIndexWriteOn(train, twin)
    graft.CachedFrames.releaseAll()
    val heldOut = e.filter(col("vec_id") % m === r)
      .select(col("vec_id"), col("v")).collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1))).sortBy(_._1)
    val delIds = train.select("vec_id").collect().map(_.getLong(0))
      .filter(_ % 9 == 3).sorted
    assert(delIds.nonEmpty)
    val insWaves = heldOut.grouped(heldOut.length / 2 + 1).toSeq
    val delWaves = delIds.grouped(delIds.length / 2 + 1).toSeq
    def stageFile(df: org.apache.spark.sql.DataFrame, dirOut: String,
                  name: String): Unit = {
      val stage = tmp()
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(dirOut, name))
    }
    val insDir = tmp(); val delDir = tmp()
    stageFile(insWaves.head.toSeq.toDF("vec_id", "v"), insDir, "w0.parquet")
    stageFile(delWaves.head.toSeq.toDF("vec_id"), delDir, "w0.parquet")
    val insQ = StreamGraphInsert.start(spark, art,
      spark.readStream.schema(spark.read.parquet(insDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(insDir), tmp())
    val delQ = StreamIvfDelete.start(spark, art,
      spark.readStream.schema(spark.read.parquet(delDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(delDir), tmp())
    // interleave: ins1 → del1 → COMPACT → ins2 → del2; the twin
    // replays the identical schedule batch-side (graph compaction is
    // NOT serving-invariant — it trades the dead's routing away — so
    // the twin must compact at the same logical point)
    insQ.processAllAvailable(); delQ.processAllAvailable()
    graft.sim.SimQueries.hnswCompact(spark, art)
    stageFile(insWaves(1).toSeq.toDF("vec_id", "v"), insDir, "w1.parquet")
    insQ.processAllAvailable()
    stageFile(delWaves(1).toSeq.toDF("vec_id"), delDir, "w1.parquet")
    delQ.processAllAvailable()
    insQ.stop(); delQ.stop()
    graft.sim.SimQueries.hnswArtifactInsert(spark, twin,
      insWaves.head.toSeq.toDF("vec_id", "v"), batchId = 0L)
    graft.sim.SimQueries.graphDelete(spark, twin,
      delWaves.head.toSeq.toDF("vec_id"))
    graft.sim.SimQueries.hnswCompact(spark, twin)
    graft.sim.SimQueries.hnswArtifactInsert(spark, twin,
      insWaves(1).toSeq.toDF("vec_id", "v"), batchId = 1L)
    graft.sim.SimQueries.graphDelete(spark, twin,
      delWaves(1).toSeq.toDF("vec_id"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vn").as("qvn"))
      .localCheckpoint(false)
    val served = graft.sim.SimQueries
      .hnswServeArtifactDeleted(spark, q, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val twinServed = graft.sim.SimQueries
      .hnswServeArtifactDeleted(spark, q, twin)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served === twinServed,
      "stream-maintained graph serves differently from the " +
        "batch-sequential twin")
    assert(served.nonEmpty)
    val delSet = delIds.toSet
    assert(served.forall(r => !delSet.contains(r(1).asInstanceOf[Long])),
      "a deleted vector surfaced after the graph topology run")
    // resolved members: full corpus minus the compacted first delete
    // wave (wave-2 tombstones are mask-only until the next compaction),
    // exactly once each
    val members = graft.streaming.SnapshotManifest.resolveDf(
      spark, art, "members", graft.sim.SimQueries.HnswMembersDdl)
    assert(members.groupBy("vec_id").count()
      .filter(col("count") > 1).count() === 0L,
      "a member row is duplicated after the compact-under-streams run")
    val expectedMembers = e.count() - delWaves.head.length
    assert(members.count() === expectedMembers)
  }

  test("R20: streamed scene detection equals the batch M9 ledger " +
    "scene-for-scene when frames arrive split across triggers") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 40)
      .select(col("doc_id").as("media_id"), col("text"))
    val frames = graft.media.MediaQueries.frameHashes(docs)
      .selectExpr("media_id", "cast(frame_idx as int) as frame_idx",
        "fhash")
    val fdir = tmp()
    def writeWave(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val stage = tmp()
      frames.filter(cond).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(fdir, name))
    }
    val schema = frames.schema
    val assigns =
      new java.util.concurrent.ConcurrentLinkedQueue[
        StreamScenes.SceneAssign]()
    // wave 1 only, then start, so trigger order == frame order
    writeWave(col("frame_idx") <= 3, "wave0.parquet")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fdir)
      .as[StreamScenes.Frame]
    val sq = StreamScenes.assign(stream)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamScenes.SceneAssign],
         _: Long) =>
          b.collect().foreach(assigns.add)
          ()
      }.start()
    sq.processAllAvailable()
    writeWave(col("frame_idx") > 3, "wave1.parquet")
    sq.processAllAvailable(); sq.stop()
    import scala.jdk.CollectionConverters._
    // roll the streamed per-frame assignment into the scene ledger
    val streamedScenes = assigns.asScala.toSeq
      .groupBy(a => (a.media_id, a.scene_id))
      .map { case ((m, sid), fs) =>
        (m, sid, fs.map(_.frame_idx).min.toLong,
          fs.map(_.frame_idx).max.toLong, fs.size.toLong,
          fs.filter(_.cut == 1L).map(_.hamming).max)
      }.toSet
    val batchScenes = StreamScenes.batchTwin(frames).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(streamedScenes === batchScenes,
      "streamed scene ledger diverged from the batch M9 twin")
  }

  test("R21: DSIR selection at ingest — literal-array scoring equals " +
    "the batch join route, and the streamed top-k is the batch draw " +
    "under any trigger packing") {
    val root = tmp()
    import spark.implicits._
    // a corpus with two vocabularies: target-ish docs (src-t) and
    // background docs, interleaved across tape files
    def text(i: Int): String =
      if (i % 3 == 0) (1 to 12).map(j => s"good${(i + j) % 7}").mkString(" ")
      else (1 to 12).map(j => s"noise${(i * 5 + j) % 50}").mkString(" ")
    val docs = (1 to 90).map(i =>
      (i.toLong, if (i % 9 == 0) "t" else s"src-${i % 3}", text(i)))
    graft.vcr.TapeWriter.write(
      docs.map { case (id, src, t) =>
        (s"$id|$src|$t".getBytes, id,
          java.sql.Timestamp.valueOf("2024-12-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol),
      root, "d", numFiles = 3)
    val batchDocs = docs.toDF("doc_id", "source", "text")
    val weights = graft.pipeline.PipelineQueries
      .dsirWeightArray(batchDocs, "t")
    graft.CachedFrames.releaseAll()
    // score parity: the literal-array route == the broadcast-join route
    val viaLiteral = StreamDsir.score(weights)(batchDocs)
      .select("doc_id", "score_micro").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaJoin = graft.pipeline.PipelineQueries.dsirOn(batchDocs, "t")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.CachedFrames.releaseAll()
    viaJoin.foreach { case (id, s) =>
      assert(viaLiteral(id) === s, s"doc $id literal/join score mismatch")
    }
    // streamed running selection == the batch draw
    val k = 20
    def parse(df: org.apache.spark.sql.DataFrame) =
      df.select(split(decode(col("payload"), "UTF-8"), "\\|", 3).as("p"))
        .select(element_at(col("p"), 1).cast("long").as("doc_id"),
          element_at(col("p"), 2).as("source"),
          element_at(col("p"), 3).as("text"))
    @volatile var streamedTop: Seq[(Double, Long)] = Seq.empty
    val q = StreamDsir.selection(
      StreamDsir.score(weights)(
        parse(spark.readStream.format("tape")
          .option("maxFilesPerTrigger", 1).load(s"$root/d"))), k)
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          b.collect().foreach { r =>
            streamedTop = r.getSeq[org.apache.spark.sql.Row](0)
              .map(x => (x.getDouble(0), x.getLong(1)))
          }
          ()
      }.start()
    q.processAllAvailable(); q.stop()
    val batchTop = StreamDsir.selection(
        StreamDsir.score(weights)(batchDocs), k)
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(x => (x.getDouble(0), x.getLong(1)))
    assert(streamedTop === batchTop,
      "streamed DSIR top-k diverged from the batch draw")
    assert(streamedTop.length === k)
  }

  test("R22: streamed transition pairs equal the batch lag exactly " +
    "when events arrive time-split across triggers") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val evs = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 50)
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_micro"),
        col("event_id"), col("event_type"))
    val cut = evs.agg(expr("percentile_approx(ts_micro, 0.5)"))
      .head().getLong(0)
    val fdir = tmp()
    def wave(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val stage = tmp()
      evs.filter(cond).coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(fdir, name))
    }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamTransitions.Trans]()
    wave(col("ts_micro") <= cut, "wave0.parquet")
    val sq = StreamTransitions.pairs(
        spark.readStream.schema(evs.schema)
          .option("maxFilesPerTrigger", 1).parquet(fdir)
          .as[StreamTransitions.Ev])
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamTransitions.Trans],
         _: Long) =>
          b.collect().foreach(got.add)
          ()
      }.start()
    sq.processAllAvailable()
    wave(col("ts_micro") > cut, "wave1.parquet")
    sq.processAllAvailable(); sq.stop()
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_micro"), col("event_id"))
    val batch = evs
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("prev_type"),
        col("event_type"))
      .collect()
      .map(r => StreamTransitions.Trans(r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSet
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === batch,
      "streamed transitions diverged from the batch lag")
    assert(got.size === batch.size, "duplicate transitions emitted")
  }

  test("R25: streamed funnel advances equal the batch stage frames " +
    "exactly when events arrive time-split across triggers") {
    import spark.implicits._
    val evs = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 50)
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_micro"),
        col("event_id"), col("event_type"))
    val cut = evs.agg(expr("percentile_approx(ts_micro, 0.5)"))
      .head().getLong(0)
    val fdir = tmp()
    def wave(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val stage = tmp()
      evs.filter(cond).coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(fdir, name))
    }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamFunnel.Advance]()
    wave(col("ts_micro") <= cut, "wave0.parquet")
    val sq = StreamFunnel.advances(
        spark.readStream.schema(evs.schema)
          .option("maxFilesPerTrigger", 1).parquet(fdir)
          .as[StreamFunnel.Ev])
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamFunnel.Advance], _: Long) =>
          b.collect().foreach(got.add)
          ()
      }.start()
    sq.processAllAvailable()
    wave(col("ts_micro") > cut, "wave1.parquet")
    sq.processAllAvailable(); sq.stop()
    // batch twin: the A26 stage frames on the same slice
    val v = evs.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_micro")).as("t_view"))
    val c = evs.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts_micro") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts_micro")).as("t_click"))
    val p = evs.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts_micro") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts_micro")).as("t_purchase"))
    val expected =
      v.collect().map(r => StreamFunnel.Advance(r.getLong(0), "viewed",
        r.getLong(1))) ++
      c.collect().map(r => StreamFunnel.Advance(r.getLong(0), "clicked",
        r.getLong(1))) ++
      p.collect().map(r => StreamFunnel.Advance(r.getLong(0), "purchased",
        r.getLong(1)))
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === expected.toSet,
      "streamed funnel advances diverged from the batch stage frames")
    assert(got.size === expected.length, "duplicate advances emitted")
  }

  /** R22b/R25b harness: write the sf0.001 events slice as arrival
    * waves whose interleaving is deliberately OUT of per-user order —
    * time-chunked, with every 3rd event bumped one wave late (bounded
    * displacement, inside the watermark delay) — plus a final
    * sentinel-user wave whose far-future timestamps push the watermark
    * past everything, flushing all buffers. Files get strictly
    * increasing mtimes so maxFilesPerTrigger=1 replays the waves in
    * order, one trigger each.
    */
  private def oooWaveDir(evs: org.apache.spark.sql.DataFrame,
                         sentinelUser: Long): (String, String) = {
    import spark.implicits._
    val (tMin, tMax) = evs.agg(min("ts_micro"), max("ts_micro"))
      .as[(Long, Long)].head()
    val delayMicros = (tMax - tMin) / 4 + 1
    val half = delayMicros / 2 + 1 // chunk span < watermark delay
    val waved = evs.withColumn("wave",
      ((col("ts_micro") - tMin) / lit(half)).cast("long") +
        when(col("event_id") % 3 === 0, 1L).otherwise(0L))
    val nWaves = waved.agg(max("wave")).as[Long].head()
    val fdir = tmp()
    val base = System.currentTimeMillis()
    def emit(df: org.apache.spark.sql.DataFrame, idx: Long): Unit = {
      val stage = tmp()
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(fdir, f"wave$idx%03d.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(base + idx * 1000))
    }
    (0L to nWaves).foreach { w =>
      emit(waved.filter(col("wave") === w)
        .select("user_id", "ts_micro", "event_id", "event_type"), w)
    }
    val far = tMax + 10 * delayMicros
    emit(Seq((sentinelUser, far, 1L, "view"),
      (sentinelUser, far + 1000000L, 2L, "view"))
      .toDF("user_id", "ts_micro", "event_id", "event_type"), nWaves + 1)
    (fdir, s"${delayMicros / 1000000 + 1} seconds")
  }

  test("R22b: out-of-order transitions — watermark-buffered emission " +
    "equals the batch lag under a deliberately shuffled interleaving " +
    "the strict R22 contract rejects") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val evs = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 50)
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_micro"),
        col("event_id"), col("event_type"))
    val (fdir, delay) = oooWaveDir(evs, sentinelUser = 999999L)
    def source() = spark.readStream.schema(evs.schema)
      .option("maxFilesPerTrigger", 1).parquet(fdir)
      .as[StreamTransitions.Ev]
    // negative control: the interleaving genuinely violates per-user
    // order — the strict in-order R22 fails loudly on it
    val strict = StreamTransitions.pairs(source())
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp())
      .format("noop").start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      strict.processAllAvailable()
      throw new IllegalStateException(
        "strict R22 accepted the shuffled feed")
    }
    strict.stop()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamTransitions.Trans]()
    val sq = StreamOoo.transitionPairs(source(), delay)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamTransitions.Trans],
         _: Long) =>
          b.collect().foreach(got.add)
          ()
      }.start()
    sq.processAllAvailable(); sq.stop()
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_micro"), col("event_id"))
    val batch = evs
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("prev_type"),
        col("event_type"))
      .collect()
      .map(r => StreamTransitions.Trans(r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSet
    import scala.jdk.CollectionConverters._
    val emitted = got.asScala.filter(_.user_id < 50).toSeq
    assert(emitted.toSet === batch,
      "out-of-order transitions diverged from the batch lag")
    assert(emitted.size === batch.size, "duplicate transitions emitted")
  }

  test("R22b idle expiry: a drained key idle past the event-time " +
    "horizon is removed from the state store (aggregate state is " +
    "O(active keys), not O(keys ever seen)); its output was already " +
    "emitted intact") {
    import spark.implicits._
    val fdir = tmp()
    val base = System.currentTimeMillis()
    def emit(rows: Seq[(Long, Long, Long, String)], idx: Int): Unit = {
      val stage = tmp()
      rows.toDF("user_id", "ts_micro", "event_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(fdir, f"wave$idx%03d.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(base + idx * 1000))
    }
    val sec = 1000000L // event-time microseconds
    // user 1 speaks once, early (clear of the t=0 initial-watermark
    // boundary, where the pre-operator late filter would eat the row);
    // user 9 marches the watermark far past user 1's 30 s idle
    // horizon, one trigger at a time
    emit(Seq((1L, 10 * sec, 1L, "view"), (1L, 11 * sec, 2L, "click")), 0)
    emit(Seq((9L, 100 * sec, 91L, "view")), 1)
    emit(Seq((9L, 200 * sec, 92L, "view")), 2)
    emit(Seq((9L, 300 * sec, 93L, "view")), 3)
    emit(Seq((9L, 400 * sec, 94L, "view")), 4)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamTransitions.Trans]()
    val sq = StreamOoo.transitionPairs(
      spark.readStream
        .schema("user_id LONG, ts_micro LONG, event_id LONG, " +
          "event_type STRING")
        .option("maxFilesPerTrigger", 1).parquet(fdir)
        .as[StreamTransitions.Ev],
      delay = "5 seconds", idleMs = 30L * 1000)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamTransitions.Trans],
         _: Long) =>
          b.collect().foreach(got.add)
          ()
      }.start()
    sq.processAllAvailable()
    val stateRows = sq.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal)
    sq.stop()
    import scala.jdk.CollectionConverters._
    // user 1's transition was emitted before the expiry
    assert(got.asScala.toSet.contains(
      StreamTransitions.Trans(1L, 2L, "view", "click")))
    // ...and then its state was dropped: only user 9 remains resident
    assert(stateRows.lastOption === Some(1L),
      s"drained idle key kept state rows: ${stateRows.toSeq}")
    // at some earlier point both keys were resident (the expiry did
    // the shrinking, not a never-stored key)
    assert(stateRows.exists(_ >= 2L), stateRows.toSeq.toString)
  }

  test("R20b: out-of-order scene detection — watermark-buffered frames " +
    "equal the batch M9 ledger under a shuffled interleaving the " +
    "strict R20 contract rejects loudly") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 40)
      .select(col("doc_id").as("media_id"), col("text"))
    val frames = graft.media.MediaQueries.frameHashes(docs)
      .selectExpr("media_id", "cast(frame_idx as int) as frame_idx",
        "fhash")
    val rows = frames.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val maxIdx = rows.map(_._2).max
    // time-chunked waves of H frames, every 3rd frame bumped one wave
    // late — bounded displacement < the watermark delay; a sentinel
    // media's far-future frames push the watermark past everything
    val H = 4
    val fdir = tmp()
    val base = System.currentTimeMillis()
    def emit(ws: Seq[(Long, Int, String)], idx: Int): Unit = {
      val stage = tmp()
      ws.toSeq.toDF("media_id", "frame_idx", "fhash").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(fdir, f"wave$idx%03d.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(base + idx * 1000))
    }
    def waveOf(r: (Long, Int, String)): Int =
      r._2 / H + (if (r._2 % 3 == 0) 1 else 0)
    val nWaves = rows.map(waveOf).max
    (0 to nWaves).foreach(w => emit(rows.filter(waveOf(_) == w), w))
    val sentinelHash = rows.head._3
    emit(Seq((999999L, maxIdx + 1000, sentinelHash)), nWaves + 1)
    emit(Seq((999999L, maxIdx + 1001, sentinelHash)), nWaves + 2)
    val schema = frames.schema
    def source() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fdir)
      .as[StreamScenes.Frame]
    // negative control: the strict in-order R20 fails loudly on the
    // bumped frames instead of silently corrupting scene ids
    val strict = StreamScenes.assign(source())
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp()).format("noop").start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      strict.processAllAvailable()
      throw new IllegalStateException("strict R20 accepted the shuffle")
    }
    strict.stop()
    val assigns = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamScenes.SceneAssign]()
    val sq = StreamOoo.sceneAssignments(source(), s"${2 * H + 2} seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamScenes.SceneAssign],
         _: Long) =>
          b.collect().foreach(assigns.add)
          ()
      }.start()
    sq.processAllAvailable(); sq.stop()
    import scala.jdk.CollectionConverters._
    val streamedScenes = assigns.asScala.toSeq
      .filter(_.media_id < 999999L)
      .groupBy(a => (a.media_id, a.scene_id))
      .map { case ((m, sid), fs) =>
        (m, sid, fs.map(_.frame_idx).min.toLong,
          fs.map(_.frame_idx).max.toLong, fs.size.toLong,
          fs.filter(_.cut == 1L).map(_.hamming).max)
      }.toSet
    val batchScenes = StreamScenes.batchTwin(frames).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(streamedScenes === batchScenes,
      "OOO streamed scene ledger diverged from the batch M9 twin")
  }

  test("R3b: out-of-order sessionization — the buffered fold plus " +
    "watermark gap closure emits EVERY session exactly once, equal to " +
    "the batch gap fold, under a shuffled interleaving") {
    import spark.implicits._
    val evs = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 50)
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_micro"),
        col("event_id"), col("event_type"))
    val (fdir, delay) = oooWaveDir(evs, sentinelUser = 999999L)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamSessionize.Session]()
    val sq = StreamOoo.sessionsOoo(
      spark.readStream.schema(evs.schema)
        .option("maxFilesPerTrigger", 1).parquet(fdir)
        .as[StreamOoo.SessEv], delay)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamSessionize.Session],
         _: Long) =>
          b.collect().foreach(got.add)
          ()
      }.start()
    sq.processAllAvailable(); sq.stop()
    import scala.jdk.CollectionConverters._
    val emitted = got.asScala.filter(_.user_id < 50).toSeq
    // batch twin: the gap fold over each user's fully-sorted events —
    // ALL sessions, tails included (the gap closure makes the stream
    // complete, not merely prefix-correct)
    val gap = StreamSessionize.DefaultGapUs
    val expected = evs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (uid, es) =>
        val sorted = es.sortBy(e => (e._2, e._3))
        val out = scala.collection.mutable.ArrayBuffer[
          StreamSessionize.Session]()
        var start = -1L; var last = -1L; var n = 0L
        sorted.foreach { e =>
          if (n == 0L) { start = e._2; last = e._2; n = 1L }
          else if (e._2 - last > gap) {
            out += StreamSessionize.Session(uid, start, last, n)
            start = e._2; last = e._2; n = 1L
          } else { last = e._2; n += 1L }
        }
        if (n > 0L) out += StreamSessionize.Session(uid, start, last, n)
        out.toSeq
      }
    assert(emitted.toSet === expected.toSet,
      "OOO sessionization diverged from the batch gap fold")
    assert(emitted.size === expected.size,
      "a session was emitted more than once")
  }

  test("R25b: out-of-order funnel advances — watermark-buffered " +
    "emission equals the batch stage frames under a deliberately " +
    "shuffled interleaving") {
    import spark.implicits._
    val evs = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 50)
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_micro"),
        col("event_id"), col("event_type"))
    val (fdir, delay) = oooWaveDir(evs, sentinelUser = 999999L)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamFunnel.Advance]()
    val sq = StreamOoo.funnelAdvances(
        spark.readStream.schema(evs.schema)
          .option("maxFilesPerTrigger", 1).parquet(fdir)
          .as[StreamFunnel.Ev], delay)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamFunnel.Advance], _: Long) =>
          b.collect().foreach(got.add)
          ()
      }.start()
    sq.processAllAvailable(); sq.stop()
    val v = evs.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_micro")).as("t_view"))
    val c = evs.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts_micro") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts_micro")).as("t_click"))
    val p = evs.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts_micro") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts_micro")).as("t_purchase"))
    val expected =
      v.collect().map(r => StreamFunnel.Advance(r.getLong(0), "viewed",
        r.getLong(1))) ++
      c.collect().map(r => StreamFunnel.Advance(r.getLong(0), "clicked",
        r.getLong(1))) ++
      p.collect().map(r => StreamFunnel.Advance(r.getLong(0), "purchased",
        r.getLong(1)))
    import scala.jdk.CollectionConverters._
    val emitted = got.asScala.filter(_.user_id < 50).toSeq
    assert(emitted.toSet === expected.toSet,
      "out-of-order funnel advances diverged from the batch frames")
    assert(emitted.size === expected.length, "duplicate advances emitted")
  }

  test("R23: perplexity scoring at ingest — stream-static reference " +
    "joins reproduce the batch held-out scorer under any trigger " +
    "packing") {
    import spark.implicits._
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    // model trained OFFLINE on the 4/5 train split (T15's protocol)
    val m = graft.text.TextQueries.jmTrain(d.filter(col("doc_id") % 5 =!= 0))
    val held = d.filter(col("doc_id") % 5 === 0)
    val want = graft.text.TextQueries.jmScore(m)(held).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // the held-out docs arrive as a 3-file tape stream, 1 file/trigger
    val root = tmp()
    val records = held.collect().toSeq.map { r =>
      (s"${r.getLong(0)}|${r.getString(1)}".getBytes,
        r.getLong(0), java.sql.Timestamp.valueOf("2024-12-01 09:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    graft.vcr.TapeWriter.write(records, root, "d", numFiles = 3)
    def parse(df: org.apache.spark.sql.DataFrame) =
      df.select(split(decode(col("payload"), "UTF-8"), "\\|", 2).as("p"))
        .select(element_at(col("p"), 1).cast("long").as("doc_id"),
          element_at(col("p"), 2).as("text"))
    val got = new java.util.concurrent.ConcurrentHashMap[Long,
      (Long, Long, Long)]()
    val q = StreamPerplexity.score(m)(
        parse(spark.readStream.format("tape")
          .option("maxFilesPerTrigger", 1).load(s"$root/d")))
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          b.collect().foreach { r =>
            got.put(r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))
          }
          ()
      }.start()
    q.processAllAvailable(); q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toMap === want,
      "streamed perplexity rows diverged from the batch scorer")
    graft.CachedFrames.releaseAll()
  }

  test("R24: BPE token accounting at ingest — the frozen-tokenizer " +
    "stream-static join equals the batch encoder, and OOV words fall " +
    "back to char cost") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val toks = graft.text.TextQueries.bpeTokenCounts(
      d.select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0))
    // batch twin on the training corpus itself (no OOV possible)
    val want = graft.text.TextQueries.textBpeEncode(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), 0L))).toMap
    // stream the same docs PLUS one doc with a word training never saw
    val novelId = 999999L
    val novelText = "the zzqxv" // "the" is in-vocab; "zzqxv" is not
    val root = tmp()
    val records = (d.collect().toSeq.map(r =>
      (r.getLong(0), r.getString(1))) :+ ((novelId, novelText)))
      .map { case (id, t) =>
        (s"$id|$t".getBytes, id,
          java.sql.Timestamp.valueOf("2024-12-01 09:00:00"))
      }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    graft.vcr.TapeWriter.write(records, root, "d", numFiles = 3)
    def parse(df: org.apache.spark.sql.DataFrame) =
      df.select(split(decode(col("payload"), "UTF-8"), "\\|", 2).as("p"))
        .select(element_at(col("p"), 1).cast("long").as("doc_id"),
          element_at(col("p"), 2).as("text"))
    val got = new java.util.concurrent.ConcurrentHashMap[Long,
      (Long, Long, Long)]()
    val q = StreamBpeTokens.encode(toks)(
        parse(spark.readStream.format("tape")
          .option("maxFilesPerTrigger", 1).load(s"$root/d")))
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          b.collect().foreach { r =>
            got.put(r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))
          }
          ()
      }.start()
    q.processAllAvailable(); q.stop()
    import scala.jdk.CollectionConverters._
    val gotMap = got.asScala.toMap
    // the novel doc: "the" at its trained cost, "zzqxv" at chars+1 = 6
    val theCost = toks.filter(col("word") === "the")
      .head().getLong(1)
    assert(gotMap(novelId) === ((2L, theCost + 6L, 1L)),
      s"novel doc accounting ${gotMap(novelId)} != (2, ${theCost + 6}, 1)")
    assert(gotMap - novelId === want,
      "streamed token accounting diverged from the batch encoder")
    graft.CachedFrames.releaseAll()
  }

  test("R35 streamed BPE decode: arriving token sequences decode per " +
    "trigger with the frozen symbol table — parity with the batch T30 " +
    "round-trip per doc, and out-of-vocabulary ids are counted, not " +
    "crashed") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    // batch truth: T30's per-doc decoded md5 (is_match all true)
    val batch = graft.text.TextQueries.textBpeDecode(spark, dir0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    graft.CachedFrames.releaseAll()
    // the sequences a generator/inspector would stream, staged as a
    // file source (one complete sequence per row)
    val srcDir = tmp()
    graft.text.TextQueries.bpeTokenSequences(spark, dir0)
      .select(col("doc_id").as("seq_id"), col("token_ids"))
      .write.mode("overwrite").parquet(srcDir)
    graft.CachedFrames.releaseAll()
    val dec = StreamBpeDecode.decoder(
      graft.text.TextQueries.bpeSymbolTable(spark, dir0))
    graft.CachedFrames.releaseAll()
    val stream = spark.readStream
      .schema("seq_id BIGINT, token_ids ARRAY<BIGINT>")
      .parquet(srcDir)
    val q = dec(stream).writeStream.outputMode("append")
      .format("memory").queryName("r35_decode").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("r35_decode").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    assert(got.keySet === batch.keySet)
    got.foreach { case (id, (n, unk, m)) =>
      assert(unk === 0L, s"seq $id: unknown ids in an in-vocab stream")
      assert((n, m) === batch(id),
        s"seq $id: streamed decode diverged from the batch round-trip")
    }
    // OOV ids: counted and skipped, never crashed
    val oov = dec(Seq((99L, Seq(1L, 999999L, 2L)))
      .toDF("seq_id", "token_ids")).collect().head
    assert(oov.getLong(2) === 1L, "unknown id not counted")
    assert(oov.getLong(1) === 3L)
  }

  test("E31 held listings: a deployed artifact serves with ZERO " +
    "data-directory LISTs — resolve reads only the manifest and the " +
    "commit markers — and batch inserts, streamed batches, crash " +
    "replay, and compaction all keep the tracked set truthful") {
    import spark.implicits._
    val dir0 = "/root/testdata/sf0.01"
    spark.sparkContext.hadoopConfiguration.set("fs.counting.impl",
      classOf[graft.vcr.CountingFileSystem].getName)
    val base = tmp()
    val art = s"counting://$base"
    graft.sim.SimQueries.ivfIndexWrite(spark, dir0, art)
    graft.CachedFrames.releaseAll()
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    val m0 = graft.streaming.SnapshotManifest
      .read(fs, art, "postings").get
    assert(m0.held, "the builder did not flip the table to held mode")
    assert(m0.files.get.nonEmpty)
    // the counting-FS contract: a serve does NO directory enumeration
    // under the postings table (its _manifest home excepted — that IS
    // the read path; `_insert_commits` sits at artifact root)
    def postingsDirScans(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      graft.vcr.CountingFileSystem.listedDirs.asScala.toSeq
        .filter(p => p.startsWith(s"$base/postings") &&
          !p.contains("_manifest"))
    }
    def serveIds(): Set[Long] = {
      val q = graft.Tables.embeddings(spark, dir0)
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("v"))
      val r = graft.sim.SimQueries.serveArtifactDeletedOn(spark,
        graft.sim.SimQueries.ivfQueryAssigner(spark, art)(q),
        art, excludeSelf = true)
      val out = r.select("neighbor").collect().map(_.getLong(0)).toSet
      graft.CachedFrames.releaseAll()
      out
    }
    spark.catalog.refreshByPath(s"$art/postings")
    graft.vcr.CountingFileSystem.reset()
    val served0 = serveIds()
    assert(served0.nonEmpty)
    assert(postingsDirScans() === Seq.empty,
      s"the serve enumerated the data dir: ${postingsDirScans()}")
    // BATCH insert: moved in from staging and REGISTERED — visible on
    // the next serve, still without a single data-dir enumeration
    val insIds = (9000000L until 9000008L)
    graft.sim.SimQueries.ivfInsert(spark, art,
      graft.Tables.embeddings(spark, dir0).filter(col("vec_id") < 8)
        .select((col("vec_id") + 9000000L).as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("vn",
          graft.functions.VectorFunctions.normalize(col("v"))))
    val m1 = graft.streaming.SnapshotManifest
      .read(fs, art, "postings").get
    assert((m1.files.get -- m0.files.get)
      .forall(_.matches("cluster=\\d+/add-.*\\.parquet")))
    assert((m1.files.get -- m0.files.get).nonEmpty)
    graft.vcr.CountingFileSystem.reset()
    val served1 = serveIds()
    assert(insIds.exists(served1.contains),
      "an inserted near-duplicate never surfaced as a neighbor")
    assert(postingsDirScans() === Seq.empty)
    // STREAMED batch: b{id}-* files registered BEFORE the marker; a
    // crash in between leaves them excluded (unsealed), and the replay
    // re-moves the same sorted names — the tracked set stays truthful
    val assign = graft.sim.SimQueries.ivfAssigner(spark, art)
    def mkBatch() = graft.Tables.embeddings(spark, dir0)
      .filter(col("vec_id") < 8)
      .select((col("vec_id") + 7000000L).as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    intercept[java.io.IOException](StreamIvfInsert.insertBatch(
      spark, art, assign, mkBatch(), batchId = 1L, moveLimit = 1))
    val mCrash = graft.streaming.SnapshotManifest
      .read(fs, art, "postings").get
    // the crashed attempt may or may not have reached registration —
    // either way nothing unsealed resolves
    // match the file NAME, not the whole path: add-/gen- names embed
    // random UUIDs, and a UUID segment ending in "b1" makes a bare
    // substring check flake (observed once in ~12 rounds of sweeps)
    assert(graft.streaming.SnapshotManifest
      .resolve(spark, art, "postings")
      .forall(p => !p.substring(p.lastIndexOf('/') + 1)
        .startsWith("b1-")), "an unsealed batch file resolved")
    StreamIvfInsert.insertBatch(spark, art, assign, mkBatch(), 1L)
    val mSealed = graft.streaming.SnapshotManifest
      .read(fs, art, "postings").get
    val b1 = mSealed.files.get.filter(_.matches(".*/b1-\\d+\\.parquet"))
    assert(b1.nonEmpty, "the sealed batch's files were never registered")
    // every registered b1 name exists on disk exactly once
    b1.foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$art/postings/$rel")),
        s"registered name $rel missing on disk after replay")
    }
    graft.vcr.CountingFileSystem.reset()
    val served2 = serveIds()
    assert((7000000L until 7000008L).exists(served2.contains),
      "a streamed insert never surfaced")
    assert(postingsDirScans() === Seq.empty)
    // COMPACTION: replaced plain files leave the tracked set with the
    // same swap that publishes the gen rewrite; serving stays LIST-free
    val delIds = (7000000L until 7000008L) ++ insIds
    graft.sim.SimQueries.ivfDelete(spark, art, delIds.toDF("vec_id"))
    graft.sim.SimQueries.ivfCompact(spark, art, minDead = 1L)
    spark.catalog.refreshByPath(s"$art/postings")
    val m2 = graft.streaming.SnapshotManifest
      .read(fs, art, "postings").get
    assert(m2.held)
    assert(m2.removed.forall(r => !m2.files.get.contains(r)),
      "a replaced plain file stayed in the tracked set")
    graft.vcr.CountingFileSystem.reset()
    val served3 = serveIds()
    assert(delIds.forall(i => !served3.contains(i)),
      "a tombstoned vector served after compaction")
    assert(postingsDirScans() === Seq.empty)
    // vacuum is the AUDIT path (it may and must walk): plant a
    // crashed-batch-insert orphan; the walk reclaims it, tracked and
    // registered files survive
    val orphan = new org.apache.hadoop.fs.Path(
      s"$art/postings/cluster=1/add-deadbeef-0.parquet")
    fs.create(orphan, true).close()
    graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
      graft.streaming.SnapshotManifest.vacuum(fs, art, "postings")
    }
    assert(!fs.exists(orphan), "vacuum's audit walk spared the orphan")
    val liveAfter = graft.streaming.SnapshotManifest
      .resolve(spark, art, "postings")
    liveAfter.foreach(f => assert(
      fs.exists(new org.apache.hadoop.fs.Path(f)),
      s"vacuum deleted a live tracked file: $f"))
    spark.catalog.refreshByPath(s"$art/postings")
    assert(serveIds() === served3,
      "vacuum changed the served answer")
  }

  test("E31 held listings on the graph family: members/edges/entry " +
    "all serve manifest-only (zero data-dir enumerations)") {
    spark.sparkContext.hadoopConfiguration.set("fs.counting.impl",
      classOf[graft.vcr.CountingFileSystem].getName)
    val dir0 = "/root/testdata/sf0.01"
    val base = tmp()
    val art = s"counting://$base"
    graft.sim.SimQueries.hnswIndexWrite(spark, dir0, art)
    graft.CachedFrames.releaseAll()
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    Seq("members", "edges", "entry").foreach { t =>
      assert(graft.streaming.SnapshotManifest.read(fs, art, t)
        .exists(_.held), s"$t not held")
    }
    val q = graft.Tables.embeddings(spark, dir0)
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        graft.functions.VectorFunctions
          .normalize(col("embedding").cast("array<double>")).as("qvn"))
      .localCheckpoint(false)
    graft.vcr.CountingFileSystem.reset()
    val served = graft.sim.SimQueries
      .hnswServeArtifactDeleted(spark, q, art).collect()
    graft.CachedFrames.releaseAll()
    assert(served.nonEmpty)
    import scala.jdk.CollectionConverters._
    val scans = graft.vcr.CountingFileSystem.listedDirs.asScala.toSeq
      .filter(p => (p.startsWith(s"$base/members") ||
        p.startsWith(s"$base/edges") || p.startsWith(s"$base/entry")) &&
        !p.contains("_manifest"))
    assert(scans === Seq.empty,
      s"the graph serve enumerated a data dir: $scans")
  }
}
