package graft.vcr

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDateTime

import graft.SharedSpark
import graft.streaming.StreamDigest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every tape consumer — estimate, replay, fsck, the manifest, diff —
  * reads the tape through one listing and one reader, so they agree on
  * which files are tape data and which lines are records.
  */
class TapeReadSpec extends AnyFunSuite with SharedSpark {
  private val day = LocalDateTime.parse("2024-01-01T00:00:00")

  private def records(n: Int, days: Int = 1): DataFrame = {
    import spark.implicits._
    (1 to n).map { i =>
      (s"payload-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-0${1 + (i - 1) * days / n}%d 12:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
  }

  private def names(df: DataFrame, col: String): Set[String] =
    df.select(col).distinct().collect()
      .map(r => new java.io.File(r.getString(0)).getName).toSet

  test("estimate, both plays, fsck and the manifest see the same tape " +
    "files: in-flight temps and side files are not tape data") {
    val root = Files.createTempDirectory("graft-read-rule").toString
    TapeWriter.write(records(60), root, "s", numFiles = 2)
    val dayDir = new java.io.File(s"$root/s/dt=2024-01-01")
    val data = dayDir.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(data.length >= 2)
    // a writer's in-flight temp and a side file, both Base64 lines
    val line = Tape64.enc("not-a-record") + "\n"
    Files.write(dayDir.toPath.resolve(".inprogress-x"),
      (line * 7).getBytes(UTF_8))
    Files.write(dayDir.toPath.resolve("_x"), (line * 5).getBytes(UTF_8))
    val expected = data.map(_.getName).toSet

    val est = Estimator.estimate(spark.sparkContext.hadoopConfiguration,
      root, "s", day, None, shards = 1)
    assert(est.files === expected.size.toLong)
    assert(est.bytes === data.map(_.length).sum)
    val dec = Estimator.estimateDecoded(spark, root, "s", day, None, 1)
    assert(dec.files === expected.size.toLong)
    assert(dec.bytes === (1 to 60).map(i => s"payload-$i".length).sum.toLong)

    assert(names(TapePlayer.read(spark, root, "s", day, None), "src") ===
      expected)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val tenAm = java.time.Instant.parse("2024-01-01T10:00:00Z").toEpochMilli
    dayDir.listFiles().filter(_.isFile).foreach(f =>
      fs.setTimes(new org.apache.hadoop.fs.Path(f.toURI), tenAm, -1))
    val inWindow = TapePlayer.read(spark, root, "s",
      LocalDateTime.parse("2024-01-01T09:00:00"),
      Some(LocalDateTime.parse("2024-01-01T11:00:00")), mtimeWindow = true)
    assert(names(inWindow, "src") === expected)
    assert(inWindow.count() === 60L)

    assert(TapeFsck.fsck(spark, root, "s").collect().map(_.getString(1))
      .toSet === expected)
    assert(TapeManifest.build(spark, root, "s").collect()
      .map(_.getString(1)).toSet === expected)
  }

  test("a blank line is no record: fsck stays ok and fsck, the manifest " +
    "and play count the same lines") {
    val root = Files.createTempDirectory("graft-read-blank").toString
    val dayDir = new java.io.File(s"$root/s/dt=2024-01-01")
    dayDir.mkdirs()
    // a full file: three records for a declared range of width three
    Files.write(dayDir.toPath.resolve("1-3.txt"),
      Seq(Tape64.enc("a"), "", Tape64.enc("b"), Tape64.enc("c"))
        .mkString("", "\n", "\n").getBytes(UTF_8))
    val verdict = TapeFsck.fsck(spark, root, "s").collect()
    assert(verdict.map(r => (r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq === Seq(("1-3.txt", "ok", 3L)))
    val manifest = TapeManifest.build(spark, root, "s").collect()
    assert(manifest.map(_.getLong(4)).toSeq === Seq(3L))
    assert(TapePlayer.read(spark, root, "s", day, None).count() === 3L)
  }

  test("tape diff's per-day digest is StreamDigest over the replayed " +
    "lines, blank lines included") {
    val root = Files.createTempDirectory("graft-read-digest").toString
    TapeWriter.write(records(90, days = 3), root, "s", numFiles = 3)
    val day2 = new java.io.File(s"$root/s/dt=2024-01-02")
    val victim = day2.listFiles().filter(f => f.isFile &&
      f.getName.endsWith(".txt")).minBy(_.getName)
    Files.write(victim.toPath, "\n".getBytes(UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    // the append invalidates the local FS's .crc sidecar
    new java.io.File(day2, s".${victim.getName}.crc").delete()
    val viaDiff = TapeDiff.diff(spark, root, "s", root, "s").collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val played = TapePlayer.read(spark, root, "s", day,
      Some(LocalDateTime.parse("2024-01-03T23:59:59")))
    val viaPlay = StreamDigest.digests(played, col(Tape.LineCol))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(viaDiff.keySet === Set("2024-01-01", "2024-01-02", "2024-01-03"))
    assert(viaDiff === viaPlay)
  }
}
