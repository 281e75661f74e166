package graft.vcr

import graft.SharedSpark
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VcrSpec extends AnyFunSuite with SharedSpark {
  private def tmpDir(): String =
    Files.createTempDirectory("graft-vcr").toString

  private def recordsDf(n: Int) = {
    import spark.implicits._
    (1 to n).map { i =>
      val day = 1 + (i - 1) * 3 / n // spread over 3 days
      (s"payload-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-0$day%d 12:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
  }

  test("tape write → read roundtrip is the identity on payload bytes") {
    val root = tmpDir()
    val written = TapeWriter.write(recordsDf(300), root, "stream-a", numFiles = 4)
    assert(written > 0)
    val back = TapePlayer.read(spark, root, "stream-a",
      LocalDateTime.parse("2024-01-01T00:00:00"),
      Some(LocalDateTime.parse("2024-01-04T00:00:00")))
    val payloads = back.select(Tape.PayloadCol).collect()
      .map(r => new String(r.getAs[Array[Byte]](0), UTF_8)).sorted
    assert(payloads.length === 300)
    assert(payloads.toSet === (1 to 300).map(i => s"payload-$i").toSet)
  }

  test("tape files carry {firstSeq}-{lastSeq} names under dt= dirs") {
    val root = tmpDir()
    TapeWriter.write(recordsDf(90), root, "stream-b", numFiles = 3)
    val files = new java.io.File(s"$root/stream-b").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName)
      .filter(_.endsWith(".txt"))
    assert(files.nonEmpty)
    assert(files.forall(_.matches("\\d+-\\d+\\.txt")), files.mkString(","))
    // ranges must cover seq 1..90 without loss
    val covered = files.map(_.stripSuffix(".txt").split("-"))
      .flatMap { case Array(a, b) => a.toLong to b.toLong }
    assert(covered.toSet === (1L to 90L).toSet)
  }

  test("date-range read prunes to requested days only") {
    val root = tmpDir()
    TapeWriter.write(recordsDf(300), root, "stream-c", numFiles = 4)
    val day1 = TapePlayer.read(spark, root, "stream-c",
      LocalDateTime.parse("2024-01-01T00:00:00"), None)
    assert(day1.select(Tape.DtCol).distinct().collect()
      .map(_.getString(0)).toSet === Set("2024-01-01"))
    // partition filter must appear as a pushed partition predicate, not
    // a post-scan filter over all days
    val plan = day1.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") || !plan.contains("dt=2024-01-02"),
      "expected dt partition pruning in the physical plan")
  }

  test("empty tape lines are skipped like the reference's parser") {
    val root = tmpDir()
    val dir = new java.io.File(s"$root/stream-d/dt=2024-01-01")
    dir.mkdirs()
    Files.write(dir.toPath.resolve("1-3.txt"),
      ("" + "\n" + Tape64.enc("a") + "\n\n" + Tape64.enc("b") + "\n").getBytes(UTF_8))
    val got = TapePlayer.read(spark, root, "stream-d",
      LocalDateTime.parse("2024-01-01T00:00:00"), None)
      .select(Tape.PayloadCol).collect()
      .map(r => new String(r.getAs[Array[Byte]](0), UTF_8)).sorted
    assert(got.toSeq === Seq("a", "b"))
  }

  test("KinesisBatcher: count cap, byte cap, oversize drop, no loss") {
    def rec(size: Int, fill: Byte = 'x'): Array[Byte] = Array.fill(size)(fill)
    // count cap
    val byCount = KinesisBatcher.assemble(
      Iterator.fill(1200)(rec(10)), maxCount = 500, maxBytes = 1000000L).toList
    assert(byCount.map(_.count) === List(500, 500, 200))
    // byte cap: records of 400kB -> 2 per batch under 1MB
    val byBytes = KinesisBatcher.assemble(
      Iterator.fill(5)(rec(400000)), maxCount = 500, maxBytes = 1000000L).toList
    assert(byBytes.map(_.count) === List(2, 2, 1))
    // record that overflows a non-empty buffer starts the NEXT batch
    // (divergence from the reference, which drops it - see scaladoc)
    val overflow = KinesisBatcher.assemble(
      Iterator(rec(600000), rec(600000), rec(100)), maxCount = 500,
      maxBytes = 1000000L).toList
    assert(overflow.map(_.count) === List(1, 2))
    assert(overflow.map(_.bytes) === List(600000L, 600100L))
    // single record over the cap is dropped entirely
    val dropped = KinesisBatcher.assemble(
      Iterator(rec(2000000), rec(10)), maxCount = 500, maxBytes = 1000000L).toList
    assert(dropped.map(_.count) === List(1))
    assert(dropped.head.bytes === 10L)
  }

  test("play emits batches through a sink with none lost") {
    val root = tmpDir()
    TapeWriter.write(recordsDf(300), root, "stream-e", numFiles = 2)
    val tape = TapePlayer.read(spark, root, "stream-e",
      LocalDateTime.parse("2024-01-01T00:00:00"),
      Some(LocalDateTime.parse("2024-01-04T00:00:00")))
    val outDir = tmpDir()
    val sent = TapePlayer.play(tape, DirectoryReplaySinkFactory(outDir),
      maxCount = 50)
    assert(sent === 300L)
    val replayed = spark.read.textFile(outDir).collect().toSet
    assert(replayed === (1 to 300).map(i => s"payload-$i").toSet)
  }

  test("mtime window mode replays only objects modified strictly inside " +
    "(start, end), like the reference") {
    val root = tmpDir()
    TapeWriter.write(recordsDf(90), root, "stream-mt", numFiles = 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$root/stream-mt/dt=*/*"))
      .filter(_.isFile).map(_.getPath).sortBy(_.getName)
    assert(files.length >= 3)
    // first file modified at 10:00 (inside), the rest at 20:00 (outside)
    def epochMs(t: String) = java.time.Instant.parse(t).toEpochMilli
    fs.setTimes(files.head, epochMs("2024-01-01T10:00:00Z"), -1)
    files.tail.foreach(p => fs.setTimes(p, epochMs("2024-01-01T20:00:00Z"), -1))
    val inWindow = TapePlayer.read(spark, root, "stream-mt",
      LocalDateTime.parse("2024-01-01T09:00:00"),
      Some(LocalDateTime.parse("2024-01-01T11:00:00")), mtimeWindow = true)
    val srcs = inWindow.select("src").distinct().collect().map(_.getString(0))
    assert(srcs.length === 1 && srcs.head.endsWith(files.head.getName))
    // boundary is strict: an mtime exactly at `start` is excluded
    fs.setTimes(files.head, epochMs("2024-01-01T09:00:00Z"), -1)
    assert(TapePlayer.read(spark, root, "stream-mt",
      LocalDateTime.parse("2024-01-01T09:00:00"),
      Some(LocalDateTime.parse("2024-01-01T11:00:00")),
      mtimeWindow = true).count() === 0L)
  }

  test("estimator: integer-division chain and humanize match reference") {
    assert(Estimator.minutesFor(0L, 2) === 0L)
    // 6038 MB over 2 shards ≈ 50 mins (the reference README's example)
    assert(Estimator.minutesFor(6038L * 1000 * 1000, 2) === 50L)
    assert(Estimator.humanize(50) === "50 mins")
    assert(Estimator.humanize(59) === "59 mins")
    assert(Estimator.humanize(60) === "1 hours")
    assert(Estimator.humanize(60 * 24 - 1) === "23 hours")
    assert(Estimator.humanize(60 * 24) === "1 days")
    assert(Estimator.humanize(60 * 24 * 30) === "1 months")
  }

  test("estimator sums only files inside the day range") {
    val root = tmpDir()
    TapeWriter.write(recordsDf(300), root, "stream-f", numFiles = 2)
    val conf = spark.sparkContext.hadoopConfiguration
    val all = Estimator.estimate(conf, root, "stream-f",
      LocalDateTime.parse("2024-01-01T00:00:00"),
      Some(LocalDateTime.parse("2024-01-04T00:00:00")), shards = 2)
    val day1 = Estimator.estimate(conf, root, "stream-f",
      LocalDateTime.parse("2024-01-01T00:00:00"), None, shards = 2)
    assert(all.files > day1.files)
    assert(all.bytes > day1.bytes)
    assert(day1.human === "0 mins")
  }

  test("config env parsing + validation match reference rules") {
    val ok = VcrConfig.fromEnv(Map(
      "VCR_SOURCE_STREAM_NAME" -> "s", "VCR_BUCKET_NAME" -> "b",
      "VCR_BUFFER_SIZE_BYTES" -> "1234"))
    ok.validate()
    assert(ok.bufferSizeBytes === 1234L)
    assert(ok.bufferTimeMillis === VcrConfig.DefaultBufferTimeMillis)
    intercept[IllegalArgumentException] {
      VcrConfig.fromEnv(Map("VCR_BUCKET_NAME" -> "b")).validate()
    }
    intercept[IllegalArgumentException] {
      VcrConfig.fromEnv(Map("VCR_SOURCE_STREAM_NAME" -> "s")).validate()
    }
    intercept[IllegalArgumentException] {
      VcrConfig.fromEnv(Map("VCR_SOURCE_STREAM_NAME" -> "s",
        "VCR_BUCKET_NAME" -> "b")).validateForPlayback()
    }
  }

  test("time-arg parsing: date, datetime, invalid, end defaulting") {
    assert(TimeArg.parse("2015-08-01") ===
      Some(LocalDateTime.parse("2015-08-01T00:00:00")))
    assert(TimeArg.parse("2015-08-01T12:12:00") ===
      Some(LocalDateTime.parse("2015-08-01T12:12:00")))
    assert(TimeArg.parse("not-a-date") === None)
    val start = LocalDateTime.parse("2015-08-01T00:00:00")
    assert(TimeArg.effectiveEnd(start, None) ===
      LocalDateTime.parse("2015-08-01T23:59:59"))
    intercept[IllegalArgumentException] {
      TimeArg.effectiveEnd(start, Some(start.minusDays(1)))
    }
  }

  test("retry: succeeds after transient failures, rethrows foreign errors") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var now = 0L
    val got = Retry.withBackoff[String](
      () => { calls += 1; if (calls < 3) throw new RuntimeException("t"); "ok" },
      retryOn = _.getMessage == "t", timeoutMillis = 60000L,
      clock = () => now, sleep = s => { sleeps += s; now += s })
    assert(got === Some("ok"))
    assert(sleeps.toList === List(1000L, 2000L))
    intercept[IllegalStateException] {
      Retry.withBackoff[String](
        () => throw new IllegalStateException("boom"),
        retryOn = _.getMessage == "t", timeoutMillis = 1000L,
        clock = () => 0L, sleep = _ => ())
    }
  }
}

/** tiny helper: standard Base64 for spec fixtures */
object Tape64 {
  def enc(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
}
