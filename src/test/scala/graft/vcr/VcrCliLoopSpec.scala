package graft.vcr

import graft.SharedSpark
import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The CLI surface end to end against the Kinesis-shaped endpoint —
  * the reference's whole lifecycle (KinesisVcr.java:25-110) in one
  * spec: `record` consumes the source stream, `play` replays the tape
  * to the target stream through the PutRecords sink, `estimate`
  * discovers the target's open shard count via DescribeStream. All
  * three selected by VCR_ENDPOINT-style config, no code changes.
  */
class VcrCliLoopSpec extends AnyFunSuite with SharedSpark {
  private def captured(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8")
  }

  test("record -> play -> estimate through the endpoint config") {
    val epName = s"cli-${java.util.UUID.randomUUID()}"
    val ep = FakeKinesisRegistry.create(epName)
    ep.createStream("cli-src", openShards = 2)
    ep.createStream("cli-dst", openShards = 3, closedShards = 1)
    ep.clock = () => 1709632800000L // 2024-03-05T10:00:00Z → dt partition

    val payloads = (1 to 40).map(i => s"cli-record-$i")
    ep.putRecords("cli-src", payloads.zipWithIndex.map { case (p, i) =>
      PutRecordsEntry(s"k$i", p.getBytes(UTF_8))
    }.toIndexedSeq)

    val root = Files.createTempDirectory("graft-cli").toString
    val cfg = VcrConfig(Some("cli-src"), Some("cli-dst"), Some(root),
      endpoint = Some(epName))
    cfg.validateForPlayback() // KinesisVcr.java:36-38

    // record: no input path + endpoint => consume from the fake stream
    val recOut = captured(VcrCli.run(spark, cfg, Array("record")))
    assert(recOut.contains("40 records on tape"), recOut)

    // play: replays the day through the PutRecords sink to cli-dst
    val playOut = captured(VcrCli.run(spark, cfg, Array("play", "2024-03-05")))
    assert(playOut.contains("Wrote 40 records"), playOut)
    val got = ep.allRecords("cli-dst")
    assert(got.map(r => new String(r.data, UTF_8)).sorted === payloads.sorted)
    got.foreach(r => assert(r.partitionKey === PartitionKeys.forPayload(r.data)))
    // closed target shards serve no writes
    assert(ep.shardsOf("cli-dst").filter(!_.open).forall(_.records.isEmpty))

    // estimate: shard count comes from DescribeStream on the endpoint
    val estOut = captured(VcrCli.run(spark, cfg, Array("estimate", "2024-03-05")))
    assert(estOut.contains("has 3 shards"), estOut)

    // decoded-byte math: the CLI's second model must report EXACTLY the
    // summed raw payload bytes (what PutRecords meters), not the
    // base64-inflated tape size the reference-parity listing reports
    val decodedBytes = payloads.map(_.getBytes(UTF_8).length.toLong).sum
    assert(estOut.contains(s"Decoded payload is $decodedBytes bytes"), estOut)
    val tapeBytes = new java.io.File(s"$root/cli-src/dt=2024-03-05")
      .listFiles().filter(_.isFile)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .map(_.length()).sum
    // and the two models differ by exactly the base64+newline framing
    val framed = payloads.map { p =>
      val n = p.getBytes(UTF_8).length; 4L * ((n + 2) / 3) + 1L
    }.sum
    assert(tapeBytes === framed, s"tape files $tapeBytes != framed $framed")
    assert(decodedBytes < tapeBytes)
    val viaApi = Estimator.estimateDecoded(spark, root, "cli-src",
      java.time.LocalDateTime.parse("2024-03-05T00:00:00"), None, 3)
    assert(viaApi.bytes === decodedBytes)
    assert(viaApi.minutes === Estimator.minutesFor(decodedBytes, 3))

    // config validation matches the reference: playback without a
    // target stream must refuse (KinesisVcr.java:36-38)
    val noTarget = cfg.copy(targetStream = None)
    val e = intercept[IllegalArgumentException](noTarget.validateForPlayback())
    assert(e.getMessage.contains("target stream"))

    // digest (V15): per-day integrity fingerprint over the stored
    // lines — deterministic across runs, counts the day's records
    val digOut = captured(VcrCli.run(spark, cfg,
      Array("digest", "2024-03-05")))
    assert(digOut.contains("2024-03-05  n=40"), digOut)
    val digOut2 = captured(VcrCli.run(spark, cfg,
      Array("digest", "2024-03-05")))
    assert(digOut === digOut2, "digest must be deterministic")

    // index (V13/V14): build the manifest, then the scoped-refresh ops
    // verb is a metadata no-op on the unchanged day, and the audit
    // walk agrees with it
    val idxOut = captured(VcrCli.run(spark, cfg, Array("index")))
    assert(idxOut.contains("records in the manifest"), idxOut)
    val refOut = captured(VcrCli.run(spark, cfg,
      Array("index", "--refresh", "2024-03-05")))
    assert(refOut.contains("+0 -0"), refOut)
    val audOut = captured(VcrCli.run(spark, cfg,
      Array("index", "--refresh")))
    assert(audOut.contains("+0 -0"), audOut)

    // expire (V11): dry-run reports without deleting; a cutoff after
    // the recorded day deletes it, after which play finds nothing —
    // and retention's scoped-refresh hook prunes the manifest rows of
    // exactly the expired day
    val dryOut = captured(VcrCli.run(spark, cfg,
      Array("expire", "2024-03-06", "--dry-run")))
    assert(dryOut.contains("Would delete 1 day partitions"), dryOut)
    assert(new java.io.File(s"$root/cli-src/dt=2024-03-05").exists())
    val expOut = captured(VcrCli.run(spark, cfg,
      Array("expire", "2024-03-06")))
    assert(expOut.contains("Deleted 1 day partitions"), expOut)
    assert(!new java.io.File(s"$root/cli-src/dt=2024-03-05").exists())
    assert(expOut.contains("Manifest pruned:"), expOut)
    spark.catalog.refreshByPath(s"$root/cli-src/_manifest")
    assert(TapeManifest.load(spark, root, "cli-src").count() === 0L)
    FakeKinesisRegistry.remove(epName)
  }
}
