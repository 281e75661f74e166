package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDateTime

import graft.SharedSpark
import graft.vcr._
import org.scalatest.funsuite.AnyFunSuite

/** The Kinesis loop, closed end to end: records put into a
  * [[FakeKinesis]] stream are RECORDED to the tape through the
  * kinesis-shaped Structured Streaming source (the reference's KCL
  * consumer, KinesisRecorder.java:23-47), then REPLAYED to a second
  * stream through the PutRecords sink (KinesisPlayer.java:90-155) —
  * byte-identical payloads, deterministic keys, and injected
  * throttling exercising the backoff-retry path in BOTH directions.
  */
class KinesisLoopSpec extends AnyFunSuite with SharedSpark {
  private def tmpDir(): String =
    Files.createTempDirectory("graft-kloop").toString

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  test("put → record to tape → replay to a second stream, " +
    "throttled both directions, checkpoint-resumed") {
    val epName = s"loop-${java.util.UUID.randomUUID()}"
    val ep = FakeKinesisRegistry.create(epName)
    ep.createStream("source", openShards = 2)
    ep.createStream("target", openShards = 2, closedShards = 1)
    ep.clock = () => 1709632800000L // 2024-03-05T10:00:00Z → dt partition

    // consume-side throttle: shard 0's first GetRecords attempt fails —
    // the source's backoff loop must absorb it
    ep.setReadFailureHook((shardId, attempt) =>
      if (shardId == "shardId-000000000000" && attempt == 1)
        Some(KinesisServiceException.Throttled)
      else None)

    val firstWave = (1 to 137).map(i => s"record-$i")
    ep.putRecords("source",
      firstWave.zipWithIndex.map { case (p, i) =>
        PutRecordsEntry(s"k$i", bytes(p))
      }.toIndexedSeq)

    val root = tmpDir()
    val ckpt = tmpDir()
    val q = StreamRecorder.recordFromKinesis(spark, epName, "source",
      root, ckpt, maxRecordsPerTrigger = 50)
    q.processAllAvailable()
    // 137 records / (50-per-shard × 2 shards) ⇒ the cap forces >1
    // micro-batch (pins that ReadMaxRows admission really applies)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    q.stop()

    def tapedPayloads(): Seq[String] =
      TapePlayer.read(spark, root, "source",
        LocalDateTime.parse("2024-03-05T00:00:00"), None)
        .select(Tape.PayloadCol).collect()
        .map(r => new String(r.getAs[Array[Byte]](0), UTF_8)).toSeq

    assert(tapedPayloads().sorted === firstWave.sorted)
    // the injected throttle really fired and was retried through
    assert(ep.readAttemptCount("source", "shardId-000000000000") >= 2)

    // KCL-lease parity: new puts + restart from the same checkpoint
    // appends exactly the new records, never re-records the old ones
    val secondWave = (138 to 200).map(i => s"record-$i")
    ep.putRecords("source",
      secondWave.zipWithIndex.map { case (p, i) =>
        PutRecordsEntry(s"k2-$i", bytes(p))
      }.toIndexedSeq)
    val q2 = StreamRecorder.recordFromKinesis(spark, epName, "source",
      root, ckpt, maxRecordsPerTrigger = 50)
    q2.processAllAvailable()
    q2.stop()
    val all = firstWave ++ secondWave
    assert(tapedPayloads().sorted === all.sorted)

    // replay side: every batch's first put is throttled per key — the
    // player retries failed sub-records only
    ep.setFailureHook((e, attempt) =>
      if (attempt == 1) Some(KinesisServiceException.Throttled) else None)
    val sent = TapePlayer.play(
      TapePlayer.read(spark, root, "source",
        LocalDateTime.parse("2024-03-05T00:00:00"), None),
      KinesisReplaySinkFactory(epName, "target"))
    assert(sent === all.size.toLong)

    val got = ep.allRecords("target")
    // exactly once despite the universal first-attempt throttle
    assert(got.size === all.size)
    assert(got.map(r => new String(r.data, UTF_8)).sorted === all.sorted)
    // deterministic replay keys: md5 of the payload, and each key
    // needed exactly 2 attempts (throttled once, accepted once)
    got.foreach { r =>
      assert(r.partitionKey === PartitionKeys.forPayload(r.data))
      assert(ep.attemptCount("target", r.partitionKey) === 2)
    }
    // closed shards serve no replay writes
    assert(ep.shardsOf("target").filter(!_.open).forall(_.records.isEmpty))
    FakeKinesisRegistry.remove(epName)
  }

  test("consume-side byte admission: each trigger is one bounded " +
    "recorder buffer (VCR_BUFFER_SIZE_BYTES semantics)") {
    val epName = s"bytes-${java.util.UUID.randomUUID()}"
    val ep = FakeKinesisRegistry.create(epName)
    ep.createStream("s", openShards = 1)
    ep.clock = () => 1709632800000L
    // 10 records x 1000 bytes; budget 2500 => 2 records per trigger
    // (3rd would overflow), so 5 non-empty triggers drain the stream
    ep.putRecords("s", (1 to 10).map(i =>
      PutRecordsEntry(s"k$i", Array.fill(1000)('x'.toByte))).toIndexedSeq)
    val stream = spark.readStream.format("kinesis-shaped")
      .option("endpoint", epName).option("stream", "s")
      .option("maxBytesPerTrigger", 2500L)
      .load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("bytecap").start()
    q.processAllAvailable()
    val perTrigger = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    q.stop()
    assert(perTrigger === Seq.fill(5)(2L),
      s"per-trigger rows $perTrigger != five 2-record buffers")
    assert(spark.table("bytecap").count() === 10)

    // an oversized record still makes progress (always >= 1 admitted)
    ep.putRecords("s", IndexedSeq(
      PutRecordsEntry("big", Array.fill(5000)('y'.toByte)),
      PutRecordsEntry("tail", Array.fill(100)('z'.toByte))))
    val q2 = stream.writeStream.outputMode("append")
      .format("memory").queryName("bytecap2").start()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.table("bytecap2").count() === 12)
    FakeKinesisRegistry.remove(epName)
  }

  test("getRecords is positional: re-reading an iterator range is " +
    "repeatable and closed shards drain to a null iterator") {
    val epName = s"pos-${java.util.UUID.randomUUID()}"
    val ep = FakeKinesisRegistry.create(epName)
    ep.createStream("s", openShards = 1)
    ep.putRecords("s",
      (1 to 5).map(i => PutRecordsEntry(s"k$i", bytes(s"p$i"))).toIndexedSeq)
    val shard = ep.listOpenShardIds("s").head

    val it = ep.getShardIterator("s", shard, ShardIteratorType.TrimHorizon)
    val r1 = ep.getRecords(it, 10)
    val r2 = ep.getRecords(it, 10) // same token → same slice
    assert(r1.records.map(_.sequenceNumber) === r2.records.map(_.sequenceNumber))
    assert(r1.records.size === 5)
    // open shard, fully caught up: iterator continues (tail polling)
    assert(r1.nextShardIterator.isDefined)
    assert(ep.getRecords(r1.nextShardIterator.get, 10).records.isEmpty)

    // AFTER_SEQUENCE_NUMBER resumes past a committed position
    val mid = r1.records(2).sequenceNumber
    val itAfter = ep.getShardIterator("s", shard,
      ShardIteratorType.AfterSequenceNumber, Some(mid))
    assert(ep.getRecords(itAfter, 10).records.map(_.sequenceNumber) ===
      r1.records.drop(3).map(_.sequenceNumber))

    // a closed shard drains to None (KCL shard-end semantics)
    ep.shardsOf("s").head.open = false
    val itClosed = ep.getShardIterator("s", shard, ShardIteratorType.TrimHorizon)
    assert(ep.getRecords(itClosed, 10).nextShardIterator.isEmpty)
    FakeKinesisRegistry.remove(epName)
  }

  /** Parse the source's offset JSON ({"shardId":"pos",…}). */
  private def positions(json: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2)).toMap

  /** The KCL parent-before-child invariant over a query's committed
    * offsets: whenever a child shard has consumed anything, every one
    * of its listed parents reads SHARD_END in the SAME offset; and each
    * shard's position advances monotonically (numeric, SHARD_END = ∞).
    */
  private def assertParentFirst(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      lineage: Map[String, Seq[String]]): Unit = {
    val offs = q.recentProgress.toSeq
      .flatMap(p => Option(p.sources.head.endOffset)).map(positions)
    assert(offs.nonEmpty)
    offs.foreach { m =>
      lineage.foreach { case (child, parents) =>
        if (m.get(child).exists(_.nonEmpty))
          parents.foreach(p => assert(m.get(p).contains("SHARD_END"),
            s"child $child active while parent $p at ${m.get(p)} in $m"))
      }
    }
    val shards = offs.flatMap(_.keySet).distinct
    shards.foreach { sh =>
      val trace = offs.flatMap(_.get(sh)).map {
        case "" => BigInt(-1)
        case "SHARD_END" => BigInt(Long.MaxValue)
        case seq => BigInt(seq)
      }
      trace.zip(trace.drop(1)).foreach { case (a, b) =>
        assert(a <= b, s"$sh position regressed: $trace")
      }
    }
  }

  test("mid-run shard split: parents drain to SHARD_END before children " +
    "start, no loss, checkpoint-resume intact") {
    val epName = s"reshard-${java.util.UUID.randomUUID()}"
    val ep = FakeKinesisRegistry.create(epName)
    ep.createStream("s", openShards = 1)
    ep.clock = () => 1709632800000L
    val parent = "shardId-000000000000"

    // wave 1 lands on the (sole) parent; the split closes it with its
    // records UNDRAINED — the mid-drain reshard case
    ep.putRecords("s",
      (1 to 6).map(i => PutRecordsEntry(s"a$i", bytes(s"p$i"))).toIndexedSeq)
    val (c1, c2) = ep.splitShard("s", parent)
    // wave 2 routes to the children (the only open shards now)
    ep.putRecords("s",
      (1 to 4).map(i => PutRecordsEntry(s"b$i", bytes(s"q$i"))).toIndexedSeq)

    // foreachBatch sink (memory sink can't recover from a checkpoint,
    // and the resume leg below must)
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def sinkTo(buf: scala.collection.mutable.ArrayBuffer[String]) =
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val rows = df.select("data").collect()
          .map(r => new String(r.getAs[Array[Byte]](0), UTF_8))
        buf.synchronized { buf ++= rows }
        ()
      }
    val ckpt = tmpDir()
    val stream = spark.readStream.format("kinesis-shaped")
      .option("endpoint", epName).option("stream", "s")
      .option("maxRecordsPerTrigger", 2)
      .load()
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(sinkTo(seen)).start()
    q.processAllAvailable()

    val wave12 = (1 to 6).map(i => s"p$i") ++ (1 to 4).map(i => s"q$i")
    assert(seen.synchronized(seen.sorted.toSeq) === wave12.sorted)

    // LIVE split while the query keeps running: c1 closes, grandkids
    // open; a third wave lands on the new open set
    val (g1, g2) = ep.splitShard("s", c1)
    ep.putRecords("s",
      (1 to 5).map(i => PutRecordsEntry(s"c$i", bytes(s"r$i"))).toIndexedSeq)
    q.processAllAvailable()
    val wave123 = wave12 ++ (1 to 5).map(i => s"r$i")
    assert(seen.synchronized(seen.sorted.toSeq) === wave123.sorted)

    assertParentFirst(q, Map(
      c1 -> Seq(parent), c2 -> Seq(parent),
      g1 -> Seq(c1), g2 -> Seq(c1)))
    q.stop()

    // checkpoint-resume across the reshard: a fresh query on the same
    // checkpoint sees ONLY the post-restart wave — nothing re-read,
    // nothing lost
    ep.putRecords("s",
      (1 to 3).map(i => PutRecordsEntry(s"d$i", bytes(s"s$i"))).toIndexedSeq)
    val resumed = scala.collection.mutable.ArrayBuffer.empty[String]
    val q2 = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(sinkTo(resumed)).start()
    q2.processAllAvailable()
    q2.stop()
    assert(resumed.synchronized(resumed.sorted.toSeq) ===
      (1 to 3).map(i => s"s$i").sorted)
    FakeKinesisRegistry.remove(epName)
  }

  test("mid-run shard merge: the merge child waits for BOTH parents to " +
    "drain") {
    val epName = s"merge-${java.util.UUID.randomUUID()}"
    val ep = FakeKinesisRegistry.create(epName)
    ep.createStream("m", openShards = 2)
    ep.clock = () => 1709632800000L
    val (pa, pb) = ("shardId-000000000000", "shardId-000000000001")

    // wave 1 spreads across both parents; the merge closes both with
    // records undrained
    ep.putRecords("m",
      (1 to 8).map(i => PutRecordsEntry(s"k$i", bytes(s"p$i"))).toIndexedSeq)
    val child = ep.mergeShards("m", pa, pb)
    ep.putRecords("m",
      (1 to 4).map(i => PutRecordsEntry(s"j$i", bytes(s"q$i"))).toIndexedSeq)

    val q = spark.readStream.format("kinesis-shaped")
      .option("endpoint", epName).option("stream", "m")
      .option("maxRecordsPerTrigger", 3)
      .load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir())
      .format("memory").queryName("merged").start()
    q.processAllAvailable()

    val got = spark.table("merged").collect()
      .map(r => new String(r.getAs[Array[Byte]]("data"), UTF_8)).toSeq
    assert(got.sorted ===
      ((1 to 8).map(i => s"p$i") ++ (1 to 4).map(i => s"q$i")).sorted)
    assertParentFirst(q, Map(child -> Seq(pa, pb)))
    q.stop()
    FakeKinesisRegistry.remove(epName)
  }
}
