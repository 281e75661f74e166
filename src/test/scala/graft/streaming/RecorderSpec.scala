package graft.streaming

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SharedSpark
import graft.vcr._
import org.apache.spark.graft.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The recorder's tape shape and cost: each micro-batch is flushed
  * where its shard was read — one Spark job per trigger, no shuffle,
  * one `{firstSeq}-{lastSeq}.txt` file per (shard, day) holding that
  * shard's records in seq order — and `VcrCli record` reports every
  * trigger as a JSON line.
  */
class RecorderSpec extends AnyFunSuite with SharedSpark {
  private def tmpDir(): String =
    Files.createTempDirectory("graft-recorder").toString

  /** Jobs and shuffle bytes per (streaming query id, batch id), from
    * the local properties the micro-batch runner sets on its jobs.
    */
  private final class TriggerTally extends SparkListener {
    private val stageOf = mutable.Map.empty[Int, (String, Long)]
    val jobs = mutable.Map.empty[(String, Long), Int].withDefaultValue(0)
    val shuffleBytes =
      mutable.Map.empty[(String, Long), Long].withDefaultValue(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      for {
        q <- props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        b <- props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      } {
        val key = (q, b.toLong)
        jobs(key) += 1
        e.stageIds.foreach(stageOf(_) = key)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageOf.get(e.stageInfo.stageId).foreach { key =>
          shuffleBytes(key) += Option(e.stageInfo.taskMetrics)
            .map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
        }
      }
  }

  /** A stream whose arrival clock advances `stepMillis` per record. */
  private def endpoint(stream: String, shards: Int, startMillis: Long,
                       stepMillis: Long): (String, FakeKinesis) = {
    val name = s"recorder-${java.util.UUID.randomUUID()}"
    val ep = FakeKinesisRegistry.create(name)
    ep.createStream(stream, openShards = shards)
    val clock = new AtomicLong(startMillis)
    ep.clock = () => clock.getAndAdd(stepMillis)
    (name, ep)
  }

  private def put(ep: FakeKinesis, stream: String, ids: Range): Unit =
    ids.grouped(100).foreach(g => ep.putRecords(stream,
      g.map(i => PutRecordsEntry(s"k$i", s"rec-$i".getBytes(UTF_8)))
        .toIndexedSeq))

  private def day(millis: Long): String =
    Instant.ofEpochMilli(millis).atZone(ZoneOffset.UTC).toLocalDate.toString

  test("each trigger is one shuffle-free job writing one seq-named file " +
    "per (shard, day); fsck and zone-map seeks hold on the result") {
    // 400 records 7 min apart from 2024-03-05T00:00Z: 2024-03-05 and -06
    val (epName, ep) = endpoint("src", 4, 1709596800000L, 7 * 60 * 1000L)
    put(ep, "src", 1 to 400)
    // payload → (shard, seq, arrival day), the ground truth per record
    val truth: Map[String, (String, Long, String)] =
      ep.shardsOf("src").flatMap(sh => sh.records.map(r =>
        new String(r.data, UTF_8) ->
          (sh.shardId, r.sequenceNumber.toLong, day(r.arrivalMillis)))).toMap
    assert(truth.values.map(_._3).toSet === Set("2024-03-05", "2024-03-06"))

    val tally = new TriggerTally
    spark.sparkContext.addSparkListener(tally)
    val root = tmpDir()
    val q = try {
      val q = StreamRecorder.recordFromKinesis(spark, epName, "src", root,
        tmpDir(), maxRecordsPerTrigger = 30)
      try q.processAllAvailable() finally q.stop()
      SparkInternals.drainListenerBus(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(tally)

    // (a) one Spark job and no shuffle per non-empty trigger
    val triggers = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
    assert(triggers.length >= 3, s"only ${triggers.length} triggers")
    triggers.foreach { b =>
      val key = (q.id.toString, b)
      assert(tally.jobs(key) === 1, s"trigger $b ran ${tally.jobs(key)} jobs")
      assert(tally.shuffleBytes(key) === 0L,
        s"trigger $b wrote ${tally.shuffleBytes(key)} shuffle bytes")
    }

    // (b), (c): the file set, read back line by line
    val files = new File(s"$root/src").listFiles()
      .filter(_.getName.startsWith(s"${Tape.DtCol}=")).toSeq
      .flatMap(d => d.listFiles().toSeq
        .filter(f => f.isFile && !f.getName.startsWith("."))
        .map(f => (d.getName.stripPrefix(s"${Tape.DtCol}="), f)))
    val taped = files.map { case (dt, f) =>
      val recs = Files.readAllLines(f.toPath, UTF_8).asScala.toSeq
        .filter(_.nonEmpty)
        .map(l => truth(new String(java.util.Base64.getDecoder.decode(l), UTF_8)))
      val seqs = recs.map(_._2)
      assert(f.getName === s"${seqs.min}-${seqs.max}.txt")
      assert(seqs === seqs.sorted, s"${f.getName} out of seq order")
      assert(recs.forall(_._3 == dt), s"${f.getName} holds another day")
      assert(recs.map(_._1).distinct.size === 1,
        s"${f.getName} mixes shards ${recs.map(_._1).distinct}")
      recs
    }
    // every record exactly once, and at least one file per shard per day
    assert(taped.flatten.map(_._2).sorted === truth.values.map(_._2).toSeq.sorted)
    assert(files.length >= 4 * 2)

    // (d) every file passes fsck
    val verdicts = TapeFsck.fsck(spark, root, "src").collect()
    assert(verdicts.length === files.length)
    assert(verdicts.forall(_.getAs[String]("status") == "ok"),
      verdicts.filterNot(_.getAs[String]("status") == "ok").mkString("; "))

    // (e) a zone-map seek over a middle seq range returns all its records
    TapeManifest.write(spark, root, "src")
    val seqs = truth.values.map(_._2).toSeq.sorted
    val (lo, hi) = (seqs(seqs.length / 3), seqs(2 * seqs.length / 3))
    val got = TapeManifest.readSeqRange(spark, root, "src", lo, hi)
      .select(Tape.PayloadCol).collect()
      .map(r => new String(r.getAs[Array[Byte]](0), UTF_8)).toSet
    val want = truth.collect { case (p, (_, s, _)) if s >= lo && s <= hi => p }
    assert(want.nonEmpty && want.forall(got.contains),
      s"seek [$lo,$hi] missed ${want.filterNot(got.contains).take(5)}")
    FakeKinesisRegistry.remove(epName)
  }

  test("a micro-batch with more partitions than defaultParallelism is " +
    "coalesced to it before the flush, not written one file per partition") {
    import spark.implicits._
    val src = tmpDir()
    (1 to 240).map(i => (s"p$i".getBytes(UTF_8), i.toLong,
      java.sql.Timestamp.valueOf(s"2024-03-05 10:00:${"%02d".format(i % 60)}")))
      .toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
      .write.parquet(s"$src/in")
    val root = tmpDir()
    // a shuffle in the stream's plan: 12 partitions per micro-batch
    val stream = spark.readStream.schema(spark.read.parquet(s"$src/in").schema)
      .parquet(s"$src/in").repartition(12)
    val q = StreamRecorder.record(stream, root, "wide", tmpDir())
    try q.processAllAvailable() finally q.stop()

    val files = new File(s"$root/wide/${Tape.DtCol}=2024-03-05").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
    val cap = spark.sparkContext.defaultParallelism
    val triggers = q.recentProgress.count(_.numInputRows > 0)
    assert(files.nonEmpty && files.length <= cap * triggers,
      s"${files.length} files from $triggers trigger(s), cap $cap")
    assert(spark.read.format("tape").load(s"$root/wide").count() === 240)
  }

  test("VcrCli record prints one JSON line per trigger and reports the " +
    "records of this run from them") {
    val (epName, ep) = endpoint("cli", 2, 1709632800000L, 1000L)
    put(ep, "cli", 1 to 120)
    val root = tmpDir()
    // 7-11 bytes a record (payload + key): a 100-byte buffer admits at
    // most 14 per shard per trigger, so 120 records take >= 5 triggers
    val cfg = VcrConfig(Some("cli"), None, Some(root),
      bufferSizeBytes = 100L, endpoint = Some(epName))

    def recordRun(): (Seq[JValue], String) = {
      val buf = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(buf, true, "UTF-8"))(
        VcrCli.run(spark, cfg, Array("record")))
      val lines = buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
      val (json, text) = lines.partition(_.startsWith("{"))
      assert(text.length === 1, lines.mkString("\n"))
      (json.map(JsonMethods.parse(_)), text.head)
    }
    def rows(ev: Seq[JValue]): Seq[BigInt] =
      ev.map(j => (j \ "numInputRows").asInstanceOf[JInt].num)

    val (first, summary) = recordRun()
    assert(first.forall(j => (j \ "event") == JString("trigger")))
    assert(first.forall(j => (j \ "batchId").isInstanceOf[JInt]))
    val nonEmpty = first.filter(j => (j \ "numInputRows") != JInt(0))
    assert(nonEmpty.length >= 5, first.mkString("\n"))
    nonEmpty.foreach { j =>
      val phases = (j \ "durationMs").asInstanceOf[JObject].values
      Seq("addBatch", "latestOffset", "queryPlanning", "walCommit",
        "commitOffsets", "triggerExecution").foreach(k =>
        assert(phases.contains(k), s"no $k in ${JsonMethods.compact(j)}"))
    }
    assert(rows(first).sum === 120)
    assert(summary.contains("(120 records on tape from this run)"), summary)

    // a second run resumes from the checkpoint and counts only new records
    put(ep, "cli", 121 to 150)
    val (second, summary2) = recordRun()
    assert(rows(second).sum === 30)
    assert(summary2.contains("(30 records on tape from this run)"), summary2)
    assert(spark.read.format("tape").load(s"$root/cli").count() === 150)
    FakeKinesisRegistry.remove(epName)
  }
}
