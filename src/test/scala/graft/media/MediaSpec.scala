package graft.media

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class MediaSpec extends AnyFunSuite with SharedSpark {
  private val dir = "/root/testdata/sf0.01"

  test("decode pipeline: typed boundary, deterministic stub features") {
    val feats = MediaPipeline.decodeFeatures(
      MediaPipeline.mediaTable(spark, dir)).collect()
    assert(feats.length === 500)
    feats.foreach { f =>
      assert(f.byte_len > 0)
      assert(f.width >= 16 && f.width < 16 + 1280)
      assert(f.height >= 16 && f.height < 16 + 720)
      assert(f.dominant >= 0 && f.dominant <= 255)
      assert(f.frames >= 1 && f.frames <= 4)
      assert(f.mime.startsWith("image/"))
    }
    // deterministic: a second run produces identical features
    val again = MediaPipeline.decodeFeatures(
      MediaPipeline.mediaTable(spark, dir)).collect()
    assert(feats.sortBy(_.media_id).toSeq === again.sortBy(_.media_id).toSeq)
  }

  test("decode runs partition-wise without collapsing parallelism") {
    val media = MediaPipeline.mediaTable(spark, dir).repartition(4)
    val decoded = MediaPipeline.decodeFeatures(media)
    assert(decoded.rdd.getNumPartitions === 4)
    assert(decoded.count() === 500)
  }

  test("frame sampling explodes 1->N with per-frame hashes") {
    val rows = MediaQueries.mediaFrames(spark, dir).collect()
    val byMedia = rows.groupBy(_.getLong(0))
    assert(byMedia.size === 500)
    byMedia.values.foreach { fs =>
      val n = fs.head.getInt(1)
      assert(fs.map(_.getInt(2)).sorted.toSeq === (1 to n))
      assert(fs.map(_.getString(3)).distinct.length === n)
    }
  }

  test("CDC chunking is insertion-robust where fixed windows are not") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the same long text, and a copy with ONE word prepended — fixed
    // 100-char windows all shift; CDC re-anchors at the first
    // surviving content boundary
    val words = (1 to 400).map(i => s"tok$i")
    val original = words.mkString(" ")
    val shifted = ("inserted " + original)
    val docs = Seq((1L, original), (2L, shifted)).toDF("doc_id", "text")
    // the gate query itself reports shared chunks: write the two-doc
    // corpus and count chunk hashes shared by BOTH media
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    docs.select(col("doc_id"), col("text"),
        lit("en").as("lang"), lit("s").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shared = MediaQueries.mediaCdcDedup(spark, dir)
      .filter(col("n_media") === 2).collect()
    // CDC: nearly the whole document dedups despite the shift
    val sharedWords = shared.map(_.getAs[Long]("n_words")).sum
    assert(shared.length >= 5, s"only ${shared.length} shared CDC chunks")
    assert(sharedWords >= 300,
      s"CDC re-anchored only $sharedWords of 400 words")
    // fixed windows on the same pair: zero shared chunks (every window
    // shifted by the insertion)
    val fixedShared = MediaQueries.mediaChunkDedup(spark, dir)
      .filter(col("n_media") === 2).count()
    assert(fixedShared === 0L,
      s"fixed windows unexpectedly aligned: $fixedShared")
  }

  test("perceptual aHash: an exact copy collides at hamming 0, a " +
    "one-slice edit stays within the radius, unrelated media do not pair") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 640-char payloads → seg = 10 chars/pixel. Media 2 = media 1 with
    // ONE 10-char slice rewritten (one pixel moves, mean shifts by
    // ≤ 255/64 per cell), media 3 = exact copy of 1, media 4 unrelated.
    val base = (0 until 64).map(i => f"slice$i%04d!!").mkString // 640 chars
    val oneSlice = base.substring(0, 300) + "XXXXXXXXXX" + base.substring(310)
    val other = (0 until 64).map(i => f"other$i%04d??").mkString
    val planted = Seq((1L, base), (2L, oneSlice), (3L, base), (4L, other))
      .toDF("media_id", "text")
    val out = MediaQueries.ahashOn(planted).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    graft.CachedFrames.releaseAll()
    assert(out((1L, 3L)) === 0L, "exact copy must collide at hamming 0")
    assert(out.contains((1L, 2L)) && out((1L, 2L)) <= MediaQueries.AhashRadius,
      s"one-slice edit escaped the radius: $out")
    assert(out((1L, 2L)) >= 1L, "edited slice should move at least its pixel")
    assert(!out.keySet.exists { case (a, b) => b == 4L || a == 4L },
      s"unrelated media paired: $out")
    // gate shape: pairs canonical (a < b), hamming within radius
    val gate = MediaQueries.mediaAhashDedup(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(gate.nonEmpty)
    gate.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) <= MediaQueries.AhashRadius)
    }
  }

  test("capped perceptual-hash clusters (M13): candidate mass strictly " +
    "below the uncapped band join, capping only REFINES the uncapped " +
    "components (never merges strangers), and recovers nearly all " +
    "clustered media") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"), col("text"))
    val h = MediaQueries.ahashFrame(docs)
    // pair-mass bound: capped candidates ⊆ and < the uncapped proposal
    val bands = MediaQueries.bandsOf(h).select("media_id", "band", "bk")
    val uncapped = bands.select(col("media_id").as("media_a"),
        col("band"), col("bk"))
      .join(bands.select(col("media_id").as("media_b"), col("band"),
        col("bk")), Seq("band", "bk"))
      .filter(col("media_a") < col("media_b"))
      .select("media_a", "media_b").distinct()
    val capped = MediaQueries.cappedMediaCandidates(h)
    val nU = uncapped.count(); val nC = capped.count()
    assert(nC < nU, s"cap did not cut candidate mass ($nC vs $nU)")
    assert(capped.join(uncapped, Seq("media_a", "media_b"), "left_anti")
      .count() === 0L, "capped candidates must be a subset")
    val gate = MediaQueries.mediaAhashClusters(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(gate.nonEmpty)
    gate.groupBy(_(1)).foreach { case (_, members) =>
      assert(members.length >= 2, "singleton cluster emitted")
    }
    // capped edges ⊆ uncapped edges, so capping can only REFINE the
    // uncapped components: every capped cluster lives inside ONE
    // uncapped component — strangers never merge (soundness)
    val uncappedEdges = MediaQueries.mediaAhashDedup(spark, dir)
      .select(col("media_a"), col("media_b"))
    val refCanon = graft.operators.ConnectedComponents.run(uncappedEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CachedFrames.releaseAll()
    gate.groupBy(_(1)).foreach { case (canon, members) =>
      val roots = members.map(m =>
        refCanon(m.head.asInstanceOf[Long])).distinct
      assert(roots.size === 1,
        s"capped cluster $canon spans uncapped components $roots")
    }
    // coverage: the cap may drop borderline pairs in >CapK buckets
    // whose star edge fails verification (the D15 trade, priced
    // here): ≥85% of uncapped clustered media must still cluster
    val cappedIds = gate.map(_.head.asInstanceOf[Long]).toSet
    assert(cappedIds.subsetOf(refCanon.keySet),
      "capped clustering invented a member")
    val recall = cappedIds.size.toDouble / refCanon.size
    assert(recall >= 0.85,
      f"capped clustering recovered only $recall%.2f of clustered media")
    assert(recall < 1.0 || cappedIds.size == refCanon.size)
  }

  test("hash-family agreement: exact copies land 'both' at hamming 0, " +
    "and the families genuinely disagree somewhere on the corpus") {
    val rows = MediaQueries.mediaHashAgreement(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not canonical")
      val verdict = r.getString(4)
      assert(Set("both", "ahash_only", "dhash_only")(verdict))
      // identical px frames hash identically under BOTH families: an
      // ah_hamming of 0 can never be one-sided
      if (!r.isNullAt(2) && r.getLong(2) == 0L)
        assert(verdict == "both" && r.getLong(3) == 0L,
          s"exact-copy pair one-sided: $r")
    }
    val verdicts = rows.map(_.getString(4)).toSet
    assert(verdicts.contains("both"), s"no high-confidence pairs: $verdicts")
    assert(verdicts.size >= 2,
      "families fully agree on this corpus — the audit surfaced nothing")
  }

  test("byte-level CDC re-anchors after a single-BYTE insertion; " +
    "fixed byte windows do not") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a pseudo-random (but deterministic) byte-ish payload with no
    // word structure at all — the regime word-level CDC can't touch —
    // and a copy with ONE byte prepended, shifting every fixed offset
    val rnd = new scala.util.Random(42)
    val original = (1 to 1200).map(_ =>
      (33 + rnd.nextInt(94)).toChar).mkString
    val shifted = "X" + original
    val docs = Seq((1L, original), (2L, shifted)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-cdcb").toString
    docs.select(col("doc_id"), col("text"),
        lit("en").as("lang"), lit("s").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shared = MediaQueries.mediaCdcBytes(spark, dir)
      .filter(col("n_media") === 2).collect()
    val sharedBytes = shared.map(_.getAs[Long]("n_bytes")).sum
    assert(shared.length >= 5, s"only ${shared.length} shared byte chunks")
    assert(sharedBytes >= 900,
      s"byte CDC re-anchored only $sharedBytes of 1200 bytes")
    // fixed 100-char windows on the same pair: nothing aligns
    val fixedShared = MediaQueries.mediaChunkDedup(spark, dir)
      .filter(col("n_media") === 2).count()
    assert(fixedShared === 0L,
      s"fixed windows unexpectedly aligned: $fixedShared")
  }

  test("scene detection: uniform media is one scene, a planted texture " +
    "change cuts, scenes partition the frame range") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // uniform texture → every sliding window hashes identically → one
    // scene (a flat image aHashes to all-zeros; so does every other
    // flat image — the cut signal is TEXTURE change, which is exactly
    // what the two-phase doc plants: xy-texture then qz-texture)
    val docs = Seq(
      (1L, "a" * 300),
      (2L, "xy" * 100 + "qz" * 100)).toDF("media_id", "text")
    val scenes = MediaQueries.scenesOn(docs).collect()
    val uni = scenes.filter(_.getLong(0) == 1L)
    assert(uni.length === 1, s"uniform media split: ${uni.toSeq}")
    val two = scenes.filter(_.getLong(0) == 2L)
    assert(two.length === 2, s"texture change missed: ${two.toSeq}")
    assert(two.forall(r => r.isNullAt(5) || r.getLong(5) >
      MediaQueries.SceneCutBits || r.getLong(1) == 1L))
    // on the real corpus: per media, scene ids are 1..K and scenes
    // tile the frame range contiguously (start of k+1 = end of k + 1)
    val real = MediaQueries.mediaScenes(spark, dir).collect()
    real.groupBy(_.getLong(0)).values.foreach { ss =>
      val sorted = ss.sortBy(_.getLong(1))
      assert(sorted.head.getLong(1) === 1L)
      assert(sorted.head.getLong(2) === 1L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(1) === a.getLong(1) + 1)
          assert(b.getLong(2) === a.getLong(3) + 1)
        case _ =>
      }
      sorted.foreach(s =>
        assert(s.getLong(3) - s.getLong(2) + 1 === s.getLong(4)))
    }
  }

  test("row-local fingerprinting equals the join form exactly — the " +
    "R31 streaming face rides the same (fkey, t1) rows as the M12 index") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tracks = (0 until 5).map(t =>
      (t.toLong, (1 to 37).map(i => s"eq-$t-$i"))).toDF("media_id", "w")
    val joinForm = MediaQueries.fingerprints(
        MediaQueries.peaksOf(tracks, lit(MediaQueries.ClipFrames)))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue())).toSet
    val rowLocal = MediaQueries.fingerprintsRowLocal(tracks)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue())).toSet
    assert(rowLocal === joinForm)
    assert(rowLocal.nonEmpty)
  }

  test("clip match: every excerpted clip resolves to its OWN source " +
    "track at the excision offset with the full in-window vote count") {
    val rows = MediaQueries.mediaClipMatch(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(rows.nonEmpty)
    val clipLen = MediaQueries.ClipTo - MediaQueries.ClipFrom + 1 // 16
    // in-window fingerprints: anchors 1..clipLen each pair with up to
    // ClipFan successors inside the window
    val expectedVotes = (1 to clipLen).map(t =>
      math.min(MediaQueries.ClipFan, clipLen - t)).sum
    rows.foreach { r =>
      def n(i: Int): Long = r.getAs[Number](i).longValue()
      assert(n(1) === n(0), s"clip of track ${n(0)} matched ${n(1)}")
      assert(n(2) === (MediaQueries.ClipFrom - 1).toLong)
      assert(n(3) === expectedVotes.toLong,
        s"votes ${n(3)} != all in-window fingerprints " +
          s"$expectedVotes — the offset histogram leaked mass")
    }
  }
}
