package graft.vcr

import graft.SharedSpark
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDateTime

import org.scalatest.funsuite.AnyFunSuite

/** The Kinesis-shaped connector seam, exercised end to end: a tape
  * replayed through [[KinesisReplaySink]] against [[FakeKinesis]] must
  * show the reference's PutRecords behavior — batch limits respected,
  * per-sub-record failures retried WITHOUT re-sending accepted records,
  * exhausted retries failing the job, open-shard-only DescribeStream
  * counting feeding the estimator.
  */
class KinesisSinkSpec extends AnyFunSuite with SharedSpark {
  private def tmpDir(): String =
    Files.createTempDirectory("graft-kinesis").toString

  private def recordsDf(n: Int) = {
    import spark.implicits._
    (1 to n).map { i =>
      (s"payload-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf("2024-01-01 12:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
  }

  private def writeTape(n: Int): (String, String) = {
    val root = tmpDir()
    val stream = s"st-${java.util.UUID.randomUUID()}"
    TapeWriter.write(recordsDf(n), root, stream, numFiles = 3)
    (root, stream)
  }

  private def readTape(root: String, stream: String) =
    TapePlayer.read(spark, root, stream,
      LocalDateTime.parse("2024-01-01T00:00:00"), None)

  test("replay through the fake endpoint: exactly once, keyed, sharded") {
    val (root, stream) = writeTape(300)
    val ep = FakeKinesisRegistry.create("ep-happy")
    ep.createStream("target", openShards = 4)
    val sent = TapePlayer.play(readTape(root, stream),
      KinesisReplaySinkFactory("ep-happy", "target"), maxCount = 50)
    assert(sent === 300L)
    val got = ep.allRecords("target")
    assert(got.length === 300)
    assert(got.map(r => new String(r.data, UTF_8)).toSet ===
      (1 to 300).map(i => s"payload-$i").toSet)
    // deterministic partition keys (reference uses a random UUID)
    assert(got.forall(r => r.partitionKey ===
      PartitionKeys.forPayload(r.data)))
    // md5 hash-range routing spreads records over every open shard
    val byShard = ep.shardsOf("target").filter(_.open).map(_.records.size)
    assert(byShard.sum === 300)
    assert(byShard.forall(_ > 0), s"empty shard: $byShard")
    FakeKinesisRegistry.remove("ep-happy")
  }

  test("partial failure retries ONLY the failed sub-records") {
    val (root, stream) = writeTape(200)
    val ep = FakeKinesisRegistry.create("ep-partial")
    ep.createStream("target", openShards = 2)
    // every key whose first hex digit is < '4' fails its first attempt
    // with the throughput error the reference retries on
    ep.setFailureHook((e, attempt) =>
      if (attempt == 1 && e.partitionKey.head < '4')
        Some("ProvisionedThroughputExceededException") else None)
    val sent = TapePlayer.play(readTape(root, stream),
      KinesisReplaySinkFactory("ep-partial", "target"),
      maxCount = 50, retryTimeoutMillis = 15000L)
    assert(sent === 200L)
    val got = ep.allRecords("target")
    assert(got.length === 200) // every record exactly once — no dupes
    // failed records were attempted twice; accepted ones exactly once
    got.foreach { r =>
      val expected = if (r.partitionKey.head < '4') 2 else 1
      assert(ep.attemptCount("target", r.partitionKey) === expected,
        s"key ${r.partitionKey}")
    }
    FakeKinesisRegistry.remove("ep-partial")
  }

  test("a batch still failing at the deadline fails the job, not drops") {
    val (root, stream) = writeTape(20)
    val ep = FakeKinesisRegistry.create("ep-poison")
    ep.createStream("target", openShards = 1)
    ep.setFailureHook((_, _) => Some("InternalFailure")) // never succeeds
    val ex = intercept[org.apache.spark.SparkException] {
      TapePlayer.play(readTape(root, stream),
        KinesisReplaySinkFactory("ep-poison", "target"),
        maxCount = 50, retryTimeoutMillis = 300L)
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(_.isInstanceOf[TapePlayer.ReplayExhausted]),
      ex.toString)
    FakeKinesisRegistry.remove("ep-poison")
  }

  test("describeStream counts open shards only; estimator consumes it") {
    val ep = new FakeKinesis
    ep.createStream("resharded", openShards = 3, closedShards = 2)
    assert(ep.describeStreamOpenShards("resharded") === 3)
    // estimate through the endpoint seam: minutes = MB / shards / 60
    val (root, stream) = writeTape(100)
    val est = Estimator.estimate(spark.sparkContext.hadoopConfiguration,
      root, stream, LocalDateTime.parse("2024-01-01T00:00:00"), None,
      ep, "resharded")
    assert(est.shards === 3)
    assert(est.minutes === Estimator.minutesFor(est.bytes, 3))
    intercept[NoSuchElementException] {
      ep.describeStreamOpenShards("no-such-stream")
    }
  }

  test("putRecords enforces the public API limits atomically") {
    val ep = new FakeKinesis
    ep.createStream("limits", openShards = 1)
    def entry(k: String, n: Int) = PutRecordsEntry(k, Array.fill(n)(1.toByte))
    intercept[IllegalArgumentException] { // > 500 entries
      ep.putRecords("limits", (1 to 501).map(i => entry(s"k$i", 1)).toIndexedSeq)
    }
    intercept[IllegalArgumentException] { // single record over 1 MiB
      ep.putRecords("limits", IndexedSeq(entry("k", (1 << 20) + 1)))
    }
    intercept[IllegalArgumentException] { // request over 5 MiB
      ep.putRecords("limits",
        (1 to 6).map(i => entry(s"k$i", 1 << 20)).toIndexedSeq)
    }
    // a failed request stores nothing (atomic validation)
    assert(ep.allRecords("limits").isEmpty)
    // at the caps it succeeds
    val ok = ep.putRecords("limits",
      (1 to 500).map(i => entry(s"k$i", 100)).toIndexedSeq)
    assert(ok.failedRecordCount === 0)
    assert(ep.allRecords("limits").length === 500)
  }
}
