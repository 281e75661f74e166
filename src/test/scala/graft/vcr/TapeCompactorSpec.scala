package graft.vcr

import graft.SharedSpark
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDateTime

import org.scalatest.funsuite.AnyFunSuite

class TapeCompactorSpec extends AnyFunSuite with SharedSpark {
  test("compaction merges small files, preserves content and naming") {
    val root = Files.createTempDirectory("graft-compact").toString
    import spark.implicits._
    val records = (1 to 400).map { i =>
      (s"payload-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-0${1 + (i - 1) / 200}%d 09:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    TapeWriter.write(records, root, "s", numFiles = 16) // many tiny files

    val start = LocalDateTime.parse("2024-01-01T00:00:00")
    val end = Some(LocalDateTime.parse("2024-01-03T00:00:00"))
    val before = TapePlayer.read(spark, root, "s", start, end)
      .select(Tape.PayloadCol).collect()
      .map(r => new String(r.getAs[Array[Byte]](0), UTF_8)).sorted.toSeq

    val res = TapeCompactor.compact(spark, root, "s", start, end,
      targetBytes = 1L << 20)
    assert(res.filesBefore > res.filesAfter)
    assert(res.groupsMerged > 0)

    // same payloads after compaction
    val after = TapePlayer.read(spark, root, "s", start, end)
      .select(Tape.PayloadCol).collect()
      .map(r => new String(r.getAs[Array[Byte]](0), UTF_8)).sorted.toSeq
    assert(after === before)

    // naming contract still holds and covers 1..400 exactly once
    val names = new java.io.File(s"$root/s").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName)
      .filter(_.endsWith(".txt"))
    assert(names.forall(_.matches("\\d+-\\d+\\.txt")), names.mkString(","))
    val covered = names.map(_.stripSuffix(".txt").split("-"))
      .flatMap { case Array(a, b) => a.toLong to b.toLong }
    assert(covered.sorted.toSeq === (1L to 400L))

    // idempotent-ish: a second pass has nothing big to merge
    val res2 = TapeCompactor.compact(spark, root, "s", start, end,
      targetBytes = 1L << 20)
    assert(res2.filesAfter <= res.filesAfter)
  }

  test("merged-name collision with a source file never opens a hole") {
    // overlapping seq ranges are legal, so a source can already carry
    // the group's full {first}-{last} name; whatever the FS's rename
    // semantics (HDFS: fails on existing dest; local: may overwrite),
    // every payload must survive compaction
    val root = Files.createTempDirectory("graft-compact3").toString
    val day = new java.io.File(s"$root/s/dt=2024-01-01")
    day.mkdirs()
    Files.write(day.toPath.resolve("1-100.txt"), "aaaa\nbbbb\n".getBytes(UTF_8))
    Files.write(day.toPath.resolve("50-60.txt"), "cccc\n".getBytes(UTF_8))
    TapeCompactor.compact(spark, root, "s",
      LocalDateTime.parse("2024-01-01T00:00:00"), None,
      targetBytes = 1L << 20)
    val lines = day.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("."))
      .flatMap(f => new String(Files.readAllBytes(f.toPath), UTF_8)
        .split("\n").filter(_.nonEmpty))
    assert(lines.sorted.toSeq === Seq("aaaa", "bbbb", "cccc"),
      s"payload lost or duplicated: ${lines.toSeq}")
    // no in-progress temp left behind
    assert(!day.listFiles().exists(_.getName.endsWith(".compacting")))
  }

  test("compaction only touches days inside the range") {
    val root = Files.createTempDirectory("graft-compact2").toString
    import spark.implicits._
    val records = (1 to 300).map { i =>
      (s"p-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-0${1 + (i - 1) / 100}%d 09:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    TapeWriter.write(records, root, "s", numFiles = 8)
    def filesIn(dt: String) = new java.io.File(s"$root/s/dt=$dt")
      .listFiles().count(f => f.isFile && f.getName.endsWith(".txt"))
    val day3Before = filesIn("2024-01-03")
    TapeCompactor.compact(spark, root, "s",
      LocalDateTime.parse("2024-01-01T00:00:00"),
      Some(LocalDateTime.parse("2024-01-02T23:59:59")), targetBytes = 1L << 20)
    assert(filesIn("2024-01-03") === day3Before) // untouched
    assert(filesIn("2024-01-01") === 1)
  }

  test("retention expires whole days before the cutoff, metadata-only; " +
    "dry run deletes nothing; replay sees exactly the survivors") {
    val root = Files.createTempDirectory("graft-retain").toString
    import spark.implicits._
    val records = (1 to 300).map { i =>
      (s"p-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-0${1 + (i - 1) / 100}%d 09:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    TapeWriter.write(records, root, "s", numFiles = 4)
    def dayExists(dt: String) = new java.io.File(s"$root/s/dt=$dt").exists()
    // dry run: full report, no deletion
    val dry = TapeCompactor.expire(spark, root, "s",
      java.time.LocalDate.parse("2024-01-03"), dryRun = true)
    assert(dry.daysDeleted === 2 && dry.filesDeleted > 0
      && dry.bytesDeleted > 0)
    assert(dayExists("2024-01-01") && dayExists("2024-01-02"))
    // real run: days 1-2 go, day 3 stays
    val res = TapeCompactor.expire(spark, root, "s",
      java.time.LocalDate.parse("2024-01-03"))
    assert(res.daysDeleted === 2)
    assert(res.filesDeleted === dry.filesDeleted
      && res.bytesDeleted === dry.bytesDeleted)
    assert(!dayExists("2024-01-01") && !dayExists("2024-01-02"))
    assert(dayExists("2024-01-03"))
    val left = TapePlayer.read(spark, root, "s",
        LocalDateTime.parse("2024-01-01T00:00:00"),
        Some(LocalDateTime.parse("2024-01-04T00:00:00")))
      .selectExpr(s"decode(${Tape.PayloadCol}, 'UTF-8') AS p")
      .collect().map(_.getString(0))
    assert(left.length === 100 && left.forall(_.stripPrefix("p-").toInt > 200))
    // idempotent: a second run finds nothing to do
    val again = TapeCompactor.expire(spark, root, "s",
      java.time.LocalDate.parse("2024-01-03"))
    assert(again === TapeCompactor.ExpireResult(0, 0L, 0L))
  }

  test("fsck: a clean tape is all ok; corrupt content, a lying name " +
    "and an inverted range are flagged with the right verdicts") {
    val root = Files.createTempDirectory("graft-fsck").toString
    import spark.implicits._
    val records = (1 to 120).map { i =>
      (s"p-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf("2024-02-01 09:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    TapeWriter.write(records, root, "s", numFiles = 3)
    val clean = TapeFsck.fsck(spark, root, "s").collect()
    assert(clean.nonEmpty)
    assert(clean.forall(_.getString(2) == "ok"), clean.mkString("\n"))
    assert(clean.map(_.getLong(3)).sum === 120L)
    // corrupt one file's content with a non-base64 line
    val day = new java.io.File(s"$root/s/dt=2024-02-01")
    val victims = day.listFiles().filter(f => f.isFile &&
      f.getName.endsWith(".txt")).sortBy(_.getName)
    Files.writeString(victims(0).toPath,
      "!!!not base64!!!\n", java.nio.file.StandardOpenOption.APPEND)
    // give another file an INVERTED declared range
    val inverted = new java.io.File(day, "900-100.txt")
    assert(victims(1).renameTo(inverted))
    // and make a third claim a range narrower than its content
    val lying = new java.io.File(day, "5-6.txt")
    assert(victims(2).renameTo(lying))
    // the first read's file listing (sizes + names) is cached on the
    // session; the corruption above changed both. And Hadoop's local
    // FS wrote .crc sidecars at write time — the hand-corruption
    // invalidates them, which is checksum corruption, not the tape
    // corruption under test: drop the sidecars so fsck sees the bytes
    day.listFiles().filter(_.getName.endsWith(".crc"))
      .foreach(f => Files.delete(f.toPath))
    spark.catalog.refreshByPath(s"$root/s")
    val report = TapeFsck.fsck(spark, root, "s").collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(report(victims(0).getName) === "bad_lines")
    assert(report("900-100.txt") === "bad_name")
    assert(report("5-6.txt") === "overfull")
  }

  test("manifest: per-file zone maps agree with names and contents; " +
    "seq-range seek reads ONLY overlapping files; bad names excluded") {
    val root = Files.createTempDirectory("graft-manifest").toString
    import spark.implicits._
    val records = (1 to 240).map { i =>
      (s"p-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf(f"2024-03-0${1 + (i - 1) / 120}%d 09:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    TapeWriter.write(records, root, "s", numFiles = 4)
    TapeManifest.write(spark, root, "s")
    val man = TapeManifest.load(spark, root, "s").collect()
    // one entry per tape file; counts and ranges match the layout
    val dayFiles = Seq("2024-03-01", "2024-03-02").flatMap { dt =>
      new java.io.File(s"$root/s/dt=$dt").listFiles().toSeq
        .filter(f => f.isFile && f.getName.endsWith(".txt"))
    }
    assert(man.length === dayFiles.length)
    assert(man.map(_.getLong(4)).sum === 240L)
    man.foreach { r =>
      val (first, last, n) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(first <= last)
      assert(n === last - first + 1, s"zone map lies: $r")
    }
    // seek [100, 130]: crosses the day boundary; only the files whose
    // declared range overlaps may be touched
    val hit = TapeManifest.readSeqRange(spark, root, "s", 100L, 130L)
    val srcs = hit.select("src").distinct().collect()
      .map(_.getString(0).replaceAll("^file:", "")).toSet
    val expected = man.filter(r => r.getLong(2) <= 130L && r.getLong(3) >= 100L)
    assert(srcs.size === expected.length, s"pruning read ${srcs.size} files")
    assert(srcs.size < dayFiles.length, "seek read the whole tape")
    // zone-map superset semantics: every requested seq's payload is
    // present (whole overlapping files come back)
    val payloads = hit.selectExpr(s"decode(${Tape.PayloadCol}, 'UTF-8') AS p")
      .collect().map(_.getString(0)).toSet
    (100 to 130).foreach(i => assert(payloads.contains(s"p-$i")))
    // an empty window prunes to zero files and zero rows
    assert(TapeManifest.readSeqRange(spark, root, "s", 5000L, 6000L)
      .count() === 0L)
    // a file with an unaddressable name is fsck's problem, not the
    // index's: it must drop out of the manifest on rebuild
    val day = new java.io.File(s"$root/s/dt=2024-03-01")
    val f = day.listFiles().filter(f => f.isFile &&
      f.getName.endsWith(".txt")).sortBy(_.getName).head
    assert(f.renameTo(new java.io.File(day, "999-1.txt")))
    day.listFiles().filter(_.getName.endsWith(".crc"))
      .foreach(x => Files.delete(x.toPath))
    spark.catalog.refreshByPath(s"$root/s")
    val rebuilt = TapeManifest.build(spark, root, "s").collect()
    assert(rebuilt.length === dayFiles.length - 1)
    assert(!rebuilt.exists(_.getString(1) == "999-1.txt"))
  }

  test("a seq range written twice: the writer's task-suffixed file is " +
    "ok for fsck, indexed by the manifest and read by a range seek") {
    val root = Files.createTempDirectory("graft-collide").toString
    import spark.implicits._
    val records = (1 to 60).map { i =>
      (s"p-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf("2024-05-01 09:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    TapeWriter.write(records, root, "s", numFiles = 1)
    TapeWriter.write(records, root, "s", numFiles = 1,
      mode = org.apache.spark.sql.SaveMode.Append)
    val names = new java.io.File(s"$root/s/dt=2024-05-01").listFiles()
      .map(_.getName).filter(_.endsWith(".txt")).sorted.toSeq
    assert(names.length === 2 && names.contains("1-60.txt") &&
      names.exists(_.matches("1-60-\\d+\\.txt")), names)
    val report = TapeFsck.fsck(spark, root, "s").collect()
    assert(report.map(_.getString(1)).sorted.toSeq === names)
    assert(report.forall(_.getString(2) == "ok"), report.mkString("\n"))
    TapeManifest.write(spark, root, "s")
    val man = TapeManifest.load(spark, root, "s").collect()
    assert(man.map(_.getString(1)).sorted.toSeq === names)
    assert(man.forall(r => r.getLong(2) == 1L && r.getLong(3) == 60L))
    val payloads = TapeManifest.readSeqRange(spark, root, "s", 10L, 20L)
      .selectExpr(s"decode(${Tape.PayloadCol}, 'UTF-8') AS p")
      .collect().map(_.getString(0))
    assert(payloads.sorted.toSeq ===
      (1 to 60).flatMap(i => Seq(s"p-$i", s"p-$i")).sorted)
  }

  test("manifest refresh is incremental: no-op on an unchanged tape, " +
    "appended days add rows, expired days drop rows") {
    val root = Files.createTempDirectory("graft-refresh").toString
    import spark.implicits._
    def day(n: Int, seqBase: Int) = (1 to 120).map { i =>
      (s"p-$seqBase-$i".getBytes(UTF_8), (seqBase + i).toLong,
        java.sql.Timestamp.valueOf(f"2024-04-0$n%d 09:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    TapeWriter.write(day(1, 0), root, "s", numFiles = 3)
    TapeManifest.write(spark, root, "s")
    val n1 = TapeManifest.load(spark, root, "s").count()
    // unchanged tape → pure metadata no-op
    val r0 = TapeManifest.refresh(spark, root, "s")
    assert(r0 === TapeManifest.RefreshResult(0L, 0L, n1))
    // append a second day: only its files are new
    TapeWriter.write(day(2, 1000), root, "s", numFiles = 3,
      mode = org.apache.spark.sql.SaveMode.Append)
    spark.catalog.refreshByPath(s"$root/s")
    val r1 = TapeManifest.refresh(spark, root, "s")
    assert(r1.removed === 0L && r1.kept === n1 && r1.added > 0L)
    // the incremental result equals a from-scratch rebuild exactly
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).toSet
    spark.catalog.refreshByPath(s"$root/s")
    assert(canon(TapeManifest.load(spark, root, "s").collect()) ===
      canon(TapeManifest.build(spark, root, "s").collect()))
    // retention: day 1 expires → its rows drop without a rebuild
    TapeCompactor.expire(spark, root, "s",
      java.time.LocalDate.parse("2024-04-02"))
    val r2 = TapeManifest.refresh(spark, root, "s")
    assert(r2.added === 0L && r2.removed === n1 && r2.kept === r1.added)
    spark.catalog.refreshByPath(s"$root/s")
    assert(canon(TapeManifest.load(spark, root, "s").collect()) ===
      canon(TapeManifest.build(spark, root, "s").collect()))
    // a corrupt manifest FAILS LOUDLY — silently treating it as empty
    // would reclassify every file as unseen and re-read the archive,
    // exactly the cost the index exists to avoid
    val manDir = new java.io.File(s"$root/s/${TapeManifest.ManifestDir}")
    val victim = manDir.listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).find(_.getName.endsWith(".parquet")).get
    Files.write(victim.toPath, "not a parquet file".getBytes(UTF_8))
    victim.getParentFile.listFiles().filter(_.getName.endsWith(".crc"))
      .foreach(f => Files.delete(f.toPath))
    spark.catalog.refreshByPath(manDir.toString)
    assertThrows[Exception](TapeManifest.refresh(spark, root, "s"))
  }

  test("manifest refresh at 10k files: reads only new-file content and " +
    "rewrites only changed-day manifest partitions") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-refresh-10k").toString
    // 10,000 tape files (10 days x 1,000), one base64 line each,
    // written directly — the archive layout, not the writer, is under
    // test, and at this count the writer would dominate the clock
    val days = (1 to 10).map(d => f"2024-05-$d%02d")
    days.zipWithIndex.foreach { case (dt, di) =>
      val dir = new java.io.File(s"$root/s/dt=$dt"); dir.mkdirs()
      (0 until 1000).foreach { i =>
        val seq = di * 1000 + i
        Files.write(new java.io.File(dir, s"$seq-$seq.txt").toPath,
          "AA==\n".getBytes(UTF_8))
      }
    }
    TapeManifest.write(spark, root, "s")
    assert(TapeManifest.load(spark, root, "s").count() === 10000L)
    // tamper a sample of OLD files' CONTENT (names unchanged): if the
    // refresh re-read them, their manifest stats would change
    val d1 = new java.io.File(s"$root/s/dt=2024-05-01")
    d1.listFiles().filter(_.getName.endsWith(".txt")).take(100).foreach {
      f => Files.write(f.toPath, "AA==\nAA==\nAA==\n".getBytes(UTF_8))
    }
    // snapshot the manifest partition files of every existing day
    def partFiles(dt: String): Set[(String, Long)] =
      new java.io.File(s"$root/s/${TapeManifest.ManifestDir}/dt=$dt")
        .listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    val before = days.map(dt => dt -> partFiles(dt)).toMap
    // a new day with 5 new files — the only content refresh may read
    val dNew = new java.io.File(s"$root/s/dt=2024-05-11"); dNew.mkdirs()
    (0 until 5).foreach { i =>
      Files.write(
        new java.io.File(dNew, s"${20000 + i}-${20000 + i}.txt").toPath,
        "AA==\n".getBytes(UTF_8))
    }
    spark.catalog.refreshByPath(s"$root/s")
    val r = TapeManifest.refresh(spark, root, "s")
    assert(r === TapeManifest.RefreshResult(5L, 0L, 10000L))
    val after = TapeManifest.load(spark, root, "s")
    assert(after.count() === 10005L)
    // every old row kept its ORIGINAL stats — the tampered files were
    // never re-read: refresh input is O(new files), not O(archive)
    assert(after.filter(col("n_lines") =!= 1L).count() === 0L)
    // unchanged days' manifest partitions are byte-untouched: refresh
    // output is O(changed days), not a whole-manifest rewrite
    days.foreach { dt =>
      assert(partFiles(dt) === before(dt), s"manifest dt=$dt rewritten")
    }
  }

  test("R27: scoped manifest refresh lists ONLY the scoped day dirs — " +
    "a single-day append costs a one-day LIST, not an archive walk; an " +
    "expired scoped day drops its rows with ZERO day listings") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.counting.impl", classOf[CountingFileSystem].getName)
    val local = Files.createTempDirectory("graft-scoped").toString
    val root = s"counting:$local"
    val tapeDir = s"$local/s"
    // 8-day archive laid down directly (the layout, not the writer, is
    // under test), read back through the counting scheme
    val days = (1 to 8).map(d => f"2024-07-$d%02d")
    days.zipWithIndex.foreach { case (dt, di) =>
      val dir = new java.io.File(s"$tapeDir/dt=$dt"); dir.mkdirs()
      (0 until 20).foreach { i =>
        val seq = di * 100 + i
        Files.write(new java.io.File(dir, s"$seq-$seq.txt").toPath,
          "AA==\n".getBytes(UTF_8))
      }
    }
    TapeManifest.write(spark, root, "s")
    assert(TapeManifest.load(spark, root, "s").count() === 160L)
    def canon = {
      spark.catalog.refreshByPath(s"$root/s")
      TapeManifest.load(spark, root, "s").collect().map(_.toSeq).toSet
    }
    def rebuild = TapeManifest.build(spark, root, "s")
      .collect().map(_.toSeq).toSet
    // the recorder's steady state: a trigger appends 3 files to ONE day
    val d8 = new java.io.File(s"$tapeDir/dt=2024-07-08")
    (0 until 3).foreach { i =>
      Files.write(new java.io.File(d8, s"${900 + i}-${900 + i}.txt").toPath,
        "AA==\n".getBytes(UTF_8))
    }
    spark.catalog.refreshByPath(s"$root/s")
    CountingFileSystem.reset()
    val r = TapeManifest.refresh(spark, root, "s", Set("2024-07-08"))
    assert(r === TapeManifest.RefreshResult(3L, 0L, 160L))
    // THE R27 contract: only the written day's directory was LISTed —
    // no other day, and not the tape root (no archive walk)
    assert(CountingFileSystem.dayDirsListed(tapeDir) ===
      Set("dt=2024-07-08"))
    assert(!CountingFileSystem.listed.contains(tapeDir),
      "scoped refresh walked the tape root")
    assert(canon === rebuild)
    // retention's half: expire reports its footprint, the scoped
    // refresh drops exactly those rows — and since the dir is GONE the
    // reconcile does not LIST a single day directory
    val res = TapeCompactor.expire(spark, root, "s",
      java.time.LocalDate.parse("2024-07-02"))
    assert(res.days === Seq("2024-07-01"))
    CountingFileSystem.reset()
    val r2 = TapeManifest.refresh(spark, root, "s", res.days.toSet)
    assert(r2.added === 0L && r2.removed === 20L)
    assert(CountingFileSystem.dayDirsListed(tapeDir) === Set.empty)
    assert(canon === rebuild)
    // the audit path still exists and walks everything: the unscoped
    // refresh is a no-op here but LISTs every remaining day
    CountingFileSystem.reset()
    val r3 = TapeManifest.refresh(spark, root, "s")
    assert(r3.added === 0L && r3.removed === 0L)
    assert(CountingFileSystem.dayDirsListed(tapeDir).size === 7)
  }

  test("tape diff: identical replicas all match; a one-line tamper " +
    "flags exactly its day as diverged; a deleted day reports missing") {
    val rootA = Files.createTempDirectory("graft-diff-a").toString
    val rootB = Files.createTempDirectory("graft-diff-b").toString
    import spark.implicits._
    val records = (1 to 300).map { i =>
      (s"rep-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf(f"2024-06-0${1 + (i - 1) / 100}%d 09:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    TapeWriter.write(records, rootA, "s", numFiles = 4)
    // replica = byte-for-byte copy
    def copyDir(a: java.io.File, b: java.io.File): Unit = {
      b.mkdirs()
      a.listFiles().foreach { f =>
        val t = new java.io.File(b, f.getName)
        if (f.isDirectory) copyDir(f, t)
        else Files.copy(f.toPath, t.toPath)
      }
    }
    copyDir(new java.io.File(s"$rootA/s"), new java.io.File(s"$rootB/s"))
    val clean = TapeDiff.diff(spark, rootA, "s", rootB, "s").collect()
    assert(clean.length === 3)
    assert(clean.forall(_.getString(1) == "match"), clean.mkString(","))
    // tamper ONE line of day 2 in the replica
    val day2 = new java.io.File(s"$rootB/s/dt=2024-06-02").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).head
    val ls = Files.readAllLines(day2.toPath)
    ls.set(0, ls.get(0).dropRight(1) + "X")
    Files.write(day2.toPath, ls)
    // the copy carried Hadoop's .crc sidecar; the tamper invalidates
    // it, and local-FS reads would fail on the checksum instead of
    // showing the divergence — drop the sidecar (a real replica
    // store has no such tattletale)
    val crc = new java.io.File(day2.getParentFile, s".${day2.getName}.crc")
    if (crc.exists()) crc.delete()
    spark.catalog.refreshByPath(s"$rootB/s")
    val tampered = TapeDiff.diff(spark, rootA, "s", rootB, "s").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tampered === Map("2024-06-01" -> "match",
      "2024-06-02" -> "diverged", "2024-06-03" -> "match"))
    // delete day 3 in the replica → missing_b
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(s"$rootB/s/dt=2024-06-03"))
    spark.catalog.refreshByPath(s"$rootB/s")
    val missing = TapeDiff.diff(spark, rootA, "s", rootB, "s").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(missing("2024-06-03") === "missing_b")
  }

  test("R33 standing retention: the frontier-relative policy expires " +
    "exactly the aged-out days through the stream face, prunes their " +
    "manifest rows, never LISTs a retained day, replays as a no-op, " +
    "and dry-run deletes nothing") {
    import graft.streaming.StreamExpire
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.counting.impl", classOf[CountingFileSystem].getName)
    val local = Files.createTempDirectory("graft-stream-expire").toString
    val root = s"counting:$local"
    val tapeDir = s"$local/s"
    val days = (1 to 8).map(d => f"2024-07-$d%02d")
    days.zipWithIndex.foreach { case (dt, di) =>
      val dir = new java.io.File(s"$tapeDir/dt=$dt"); dir.mkdirs()
      (0 until 20).foreach { i =>
        val seq = di * 100 + i
        Files.write(new java.io.File(dir, s"$seq-$seq.txt").toPath,
          "AA==\n".getBytes(UTF_8))
      }
    }
    TapeManifest.write(spark, root, "s")
    assert(TapeManifest.load(spark, root, "s").count() === 160L)
    def dayExists(dt: String) = new java.io.File(s"$tapeDir/dt=$dt").exists
    // dry-run pass: reports the 5 aged-out days, deletes nothing
    val dry = StreamExpire.expireOnce(spark, root, "s",
      StreamExpire.RetentionPolicy(3, dryRun = true))
    assert(dry.daysDeleted === 5 &&
      dry.days.toSet === days.take(5).toSet)
    assert(days.forall(dayExists))
    // the standing face: one tick = one pass; retain the newest 3 days
    import spark.implicits._
    val tdir = Files.createTempDirectory("graft-ticks").toString
    def tick(n: Int): Unit = {
      val stage = Files.createTempDirectory("graft-tick-stage").toString
      Seq(n.toLong).toDF("tick").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        java.nio.file.Paths.get(tdir, f"tick$n%02d.parquet"))
    }
    tick(0)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      TapeCompactor.ExpireResult]()
    CountingFileSystem.reset()
    val sq = StreamExpire.start(spark, root, "s",
      StreamExpire.RetentionPolicy(3),
      spark.readStream.schema("tick LONG")
        .option("maxFilesPerTrigger", 1).parquet(tdir),
      Files.createTempDirectory("graft-exp-ckpt").toString) { r =>
      results.add(r); ()
    }
    sq.processAllAvailable()
    // THE single-day contract: only EXPIRED day dirs were ever listed
    // (deletion accounting) — no retained day, and the manifest
    // reconcile's missing-dir branch listed nothing extra
    assert(CountingFileSystem.dayDirsListed(tapeDir).subsetOf(
      days.take(5).map(d => s"dt=$d").toSet),
      s"retention listed retained days: ${CountingFileSystem.dayDirsListed(tapeDir)}")
    // replay tick: a second pass finds nothing to do
    tick(1)
    sq.processAllAvailable(); sq.stop()
    import scala.jdk.CollectionConverters._
    val rs = results.asScala.toSeq
    assert(rs.map(_.daysDeleted) === Seq(5, 0),
      s"expected one real pass then a no-op, got ${rs.map(_.daysDeleted)}")
    assert(rs.head.filesDeleted === 100L)
    assert(days.take(5).forall(d => !dayExists(d)))
    assert(days.drop(5).forall(dayExists))
    // manifest pruned to exactly the retained days, still audit-clean
    spark.catalog.refreshByPath(s"$root/s")
    val m = TapeManifest.load(spark, root, "s")
    assert(m.count() === 60L)
    assert(m.select("dt").distinct().collect().map(_.getString(0)).toSet
      === days.drop(5).toSet)
    assert(TapeManifest.load(spark, root, "s").collect().map(_.toSeq).toSet
      === TapeManifest.build(spark, root, "s").collect().map(_.toSeq).toSet)
  }
}
