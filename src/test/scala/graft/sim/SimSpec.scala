package graft.sim

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class SimSpec extends AnyFunSuite with SharedSpark {
  private val dir = "/root/testdata/sf0.01"

  private def topn(df: org.apache.spark.sql.DataFrame, n: Int = 1) =
    df.filter(org.apache.spark.sql.functions.col("rank") <= n)
      .select("q_id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val brute = SimQueries.knnBrute(spark, dir)

  test("brute-force top-k: k rows per query, ranks dense, cos descending") {
    val rows = brute.collect()
    assert(rows.length === SimQueries.NumQueries * SimQueries.TopK)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to SimQueries.TopK))
      val cs = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("k-means|| init: deterministic, dense ranks, and its seeds " +
    "cover the corpus better than md5-uniform seeds") {
    val a = SimQueries.kmeansParInit(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val b = SimQueries.kmeansParInit(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.length === SimQueries.KppK)
    assert(a.map(_.getInt(0)).toSeq === (1 to SimQueries.KppK))
    val weights = a.map(_.getLong(2))
    assert(weights.zip(weights.tail).forall { case (x, y) => x >= y })
    // in-memory φ(C) = Σ_x min-cost over C, the objective k-means||
    // seeding exists to shrink (Bahmani et al. Thm 1 bounds it vs
    // OPT; uniform seeding has no such bound)
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        r.getLong(0) -> v.map(_ / n)
      }.toMap
    def phi(centerIds: Seq[Long]): Long = {
      val cs = centerIds.map(all)
      all.values.map { vn =>
        1000000L - cs.map { c =>
          val cos = vn.zip(c).map { case (x, y) => x * y }.sum
          BigDecimal(cos * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }.max
      }.sum
    }
    val kppSeeds = a.map(_.getLong(1)).toSeq
    val uniformSeeds = all.keys.toSeq
      .sortBy(id => java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).map("%02x".format(_)).mkString)
      .take(SimQueries.KppK)
    assert(phi(kppSeeds) < phi(uniformSeeds),
      s"k-means|| phi ${phi(kppSeeds)} not below uniform ${phi(uniformSeeds)}")
  }

  test("prefix refine: results come from the coarse shortlist, exact " +
    "scores agree with brute, recall@5 prices the 16-dim truncation") {
    val got = SimQueries.knnPrefixRefine(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(got.length === SimQueries.NumQueries * SimQueries.TopK)
    // exact-stage cosines must agree with brute's for shared pairs
    val bruteCos = brute.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteCos.get(key).foreach(c => assert(c === r.getDouble(3),
        s"exact rescore diverged from brute at $key"))
    }
    // recall@5 against brute truth: the 4x-cheaper coarse scan keeps
    // most of the true neighborhood (measured; floor pinned below)
    val truth = topn(brute, SimQueries.TopK)
    val mine = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = mine.intersect(truth).size.toDouble / truth.size
    info(s"prefix-refine recall@5 = $recall")
    assert(recall >= 0.5, s"recall collapsed: $recall")
  }

  test("binary quantization: packed words round-trip the per-dim sign " +
    "count, rerank cosines agree with brute, recall@5 prices one bit " +
    "per dimension") {
    import org.apache.spark.sql.functions._
    val got = SimQueries.knnBq(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(got.length === SimQueries.NumQueries * SimQueries.TopK)
    // packing round-trip: hamming from the two 32-bit words equals the
    // per-dimension sign-mismatch count computed the slow way
    val e = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val gotH = got.map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    for {
      ((qi, ni), h) <- gotH if e.contains(qi) && e.contains(ni)
    } {
      val slow = e(qi).zip(e(ni)).count { case (a, b) => (a >= 0) != (b >= 0) }
      assert(slow === h, s"packed hamming diverged at ($qi, $ni)")
    }
    // exact-stage cosines must agree with brute's for shared pairs
    val bruteCos = brute.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteCos.get(key).foreach(c => assert(c === r.getDouble(3),
        s"exact rescore diverged from brute at $key"))
    }
    val truth = topn(brute, SimQueries.TopK)
    val mine = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = mine.intersect(truth).size.toDouble / truth.size
    info(s"bq recall@5 = $recall")
    assert(recall >= 0.5, s"recall collapsed: $recall")
  }

  test("multi-probe LSH: candidates are a superset of plain LSH " +
    "(home keys probed), so recall can only rise; flipped probes are " +
    "real recall, not noise") {
    val plain = SimQueries.knnLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CachedFrames.releaseAll()
    val probed = SimQueries.knnLshProbe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CachedFrames.releaseAll()
    val truth = topn(brute, SimQueries.TopK)
    val rPlain = plain.intersect(truth).size.toDouble / truth.size
    val rProbe = probed.intersect(truth).size.toDouble / truth.size
    info(s"lsh recall@5 plain=$rPlain multiprobe=$rProbe")
    // superset of candidates => per-query top-k can only improve
    assert(rProbe >= rPlain,
      s"multiprobe recall $rProbe fell below plain $rPlain")
    assert(rProbe > 0.5, s"multiprobe recall collapsed: $rProbe")
  }

  test("ivf-bq cascade: candidates never leave the query's list, " +
    "rerank cosines equal brute bit-for-bit, and recall sits within " +
    "the 1-bit price of plain IVF") {
    import org.apache.spark.sql.functions._
    val got = SimQueries.knnIvfBq(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val ivf = SimQueries.knnIvf(spark, dir)
    val ivfRows = ivf.collect()
    graft.CachedFrames.releaseAll()
    // list containment: every result's cluster equals its query's
    val qCluster = ivfRows.map(r =>
      r.getLong(0) -> r.getAs[Number](2).longValue()).toMap
    got.foreach(r =>
      assert(r.getAs[Number](2).longValue() === qCluster(r.getLong(0)),
        s"candidate left the probe list at q=${r.getLong(0)}"))
    // exact-stage cosines must agree with brute's for shared pairs
    val bruteCos = brute.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteCos.get(key).foreach(c => assert(c === r.getDouble(4)))
    }
    // recall: bounded by IVF probe-1 (same list, shortlist-filtered),
    // and the 1-bit pre-filter keeps most of it
    val truth = topn(brute, SimQueries.TopK)
    val rIvf = ivfRows.map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(truth).size.toDouble / truth.size
    val rCasc = got.map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(truth).size.toDouble / truth.size
    info(s"recall@5 ivf=$rIvf ivf+bq=$rCasc")
    assert(rCasc <= rIvf + 1e-9)
    assert(rCasc >= rIvf - 0.2,
      s"1-bit pre-filter cost too much recall: $rCasc vs $rIvf")
  }

  test("ivf index artifact: write once, serve from parquet — equals " +
    "the in-memory trainer bit-for-bit; rebuild is idempotent; the " +
    "probe scan prunes to its cluster's partition") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files
      .createTempDirectory("graft-ivf-artifact").toString
    SimQueries.ivfIndexWrite(spark, dir, out)
    val served = SimQueries.ivfServeArtifact(spark, dir, out).collect()
      .map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val trained = SimQueries.knnIvfKmeans(spark, dir).collect()
      .map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served === trained,
      "artifact-served results diverged from the in-memory trainer")
    // rebuild idempotence: a second write yields the identical index
    val first = spark.read.parquet(s"$out/postings")
      .orderBy(col("vec_id")).collect().map(_.toSeq).toSeq
    SimQueries.ivfIndexWrite(spark, dir, out)
    graft.CachedFrames.releaseAll()
    val second = spark.read.parquet(s"$out/postings")
      .orderBy(col("vec_id")).collect().map(_.toSeq).toSeq
    assert(first === second, "index rebuild must be deterministic")
    // a single-cluster probe reads only its partition directory
    val one = spark.read.parquet(s"$out/postings")
      .filter(col("cluster") === 3)
    assert(one.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).contains("cluster=3")),
      "postings probe must prune to the cluster partition")
  }

  test("filtered serving from the persisted artifact (S21∘S27) equals " +
    "the in-memory knn_filtered bit-for-bit; the tenant probe prunes " +
    "to cluster partitions") {
    import org.apache.spark.sql.functions._
    val served = SimQueries.knnFilteredArtifact(spark, dir).collect()
      .map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val mem = SimQueries.knnFiltered(spark, dir).collect()
      .map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served === mem,
      "artifact-served filtered results diverged from knn_filtered")
    assert(served.nonEmpty)
    // pruning: a single-cluster tenant probe of the artifact postings
    // reads only that cluster's partition directory
    val out = java.nio.file.Files
      .createTempDirectory("graft-filtered-artifact").toString
    SimQueries.filteredIndexWrite(spark, dir, out)
    graft.CachedFrames.releaseAll()
    val one = spark.read.parquet(s"$out/postings")
      .filter(col("cluster") === 3 && col("tenant") === 1)
    assert(one.count() > 0)
    assert(one.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).contains("cluster=3")),
      "filtered postings probe must prune to the cluster partition")
  }

  test("IVF deletes (S31): tombstone serving ≡ the index rebuilt " +
    "without the deleted vectors; deleted ids never surface; " +
    "compaction preserves serving, retires tombstones, and is a " +
    "byte-level no-op below its threshold") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files
      .createTempDirectory("graft-ivf-del").toString
    SimQueries.ivfIndexWrite(spark, dir, out)
    graft.CachedFrames.releaseAll()
    val delIds = spark.read.parquet(s"$out/postings")
      .filter(col("vec_id") % SimQueries.DeleteMod === SimQueries.DeleteRem)
      .select(col("vec_id"))
    SimQueries.ivfDelete(spark, out, delIds)
    // add an orphan tombstone (id never indexed) — compaction must
    // retire it, serving must not care
    SimQueries.ivfDelete(spark, out,
      spark.range(1).select((col("id") - 999999L).as("vec_id")))
    val served = SimQueries.ivfServeArtifactDeleted(spark, dir, out)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served.nonEmpty)
    // hard constraint: no tombstoned id is ever a neighbor
    assert(served.forall(r => r(1).asInstanceOf[Long]
      % SimQueries.DeleteMod != SimQueries.DeleteRem),
      "a deleted vector surfaced as a neighbor")
    // tombstones ≡ rebuild: an artifact physically rebuilt without the
    // deleted rows must serve bit-for-bit the same
    val ref = java.nio.file.Files
      .createTempDirectory("graft-ivf-del-ref").toString
    spark.read.parquet(s"$out/centroids")
      .write.parquet(s"$ref/centroids")
    spark.read.parquet(s"$out/postings")
      .withColumn("cluster", col("cluster").cast("long"))
      .filter(col("vec_id") % SimQueries.DeleteMod =!= SimQueries.DeleteRem)
      .write.partitionBy("cluster").parquet(s"$ref/postings")
    val rebuilt = SimQueries.ivfServeArtifact(spark, dir, ref)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served === rebuilt,
      "tombstone serving diverged from the rebuilt-without-them index")
    // negative control: ignoring the tombstones serves differently
    val undeleted = SimQueries.ivfServeArtifact(spark, dir, out)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served !== undeleted,
      "delete set was supposed to change some result")
    // below-threshold compaction: postings files byte-identical
    def fileState(p: String) = {
      val root = new java.io.File(p)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).map(f => (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    }
    val before = fileState(s"$out/postings")
    SimQueries.ivfCompact(spark, out, minDead = Long.MaxValue)
    assert(fileState(s"$out/postings") === before,
      "below-threshold compaction must not touch postings files")
    // orphan retired even by the no-op pass
    assert(spark.read.parquet(s"$out/tombstones")
      .filter(col("vec_id") < 0).count() === 0L,
      "orphan tombstone survived compaction")
    // real compaction: serving unchanged, covered tombstones retired
    SimQueries.ivfCompact(spark, out, minDead = 1L)
    val servedAfter = SimQueries.ivfServeArtifactDeleted(spark, dir, out)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(servedAfter === served,
      "compaction changed serving results")
    assert(spark.read.parquet(s"$out/tombstones").count() === 0L,
      "compaction left covered tombstones behind")
  }

  test("IVF delete compaction drops a fully-dead list's partition " +
    "directory and serving never probes it again") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files
      .createTempDirectory("graft-ivf-dead-list").toString
    SimQueries.ivfIndexWrite(spark, dir, out)
    graft.CachedFrames.releaseAll()
    val post = spark.read.parquet(s"$out/postings")
      .withColumn("cluster", col("cluster").cast("long"))
    // kill EVERY member of one list
    val victim = post.groupBy("cluster").count()
      .orderBy(col("count"), col("cluster")).limit(1)
      .collect().head.getLong(0)
    SimQueries.ivfDelete(spark, out,
      post.filter(col("cluster") === victim).select("vec_id"))
    val served = SimQueries.ivfServeArtifactDeleted(spark, dir, out)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    SimQueries.ivfCompact(spark, out, minDead = 1L)
    // the swap is logical-first: the dead list leaves the RESOLVED
    // view at the manifest swap; its files (and then its empty dir)
    // are reclaimed by the next vacuum, one generation later
    assert(graft.streaming.SnapshotManifest
      .resolveDf(spark, out, "postings", SimQueries.PostingsDdl)
      .filter(col("cluster").cast("long") === victim).count() === 0L,
      "fully-dead list still resolves after the manifest swap")
    val after = SimQueries.ivfServeArtifactDeleted(spark, dir, out)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(after === served)
    assert(after.forall(_(2).asInstanceOf[Long] != victim))
    graft.streaming.SnapshotManifest.vacuum(
      graft.streaming.SnapshotManifest.fsOf(spark, out), out, "postings")
    assert(!new java.io.File(s"$out/postings/cluster=$victim").exists,
      "fully-dead list partition directory must be dropped by vacuum")
    spark.catalog.refreshByPath(s"$out/postings")
    val afterVacuum = SimQueries.ivfServeArtifactDeleted(spark, dir, out)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(afterVacuum === served, "vacuum changed serving")
  }

  test("IVF inserts (S32): append-only maintenance — existing postings " +
    "files byte-identical after insert, insert-then-serve ≡ the index " +
    "rebuilt with the same codebook over the full corpus, and the " +
    "inserted vectors change serving") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
    val out = java.nio.file.Files
      .createTempDirectory("graft-ivf-ins").toString
    SimQueries.ivfIndexWriteOn(
      e.filter(col("vec_id") % SimQueries.InsertMod
        =!= SimQueries.InsertRem), out)
    graft.CachedFrames.releaseAll()
    val served0 = SimQueries.ivfServeArtifact(spark, dir, out)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    def fileState(p: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    }
    val before = fileState(s"$out/postings")
    SimQueries.ivfInsert(spark, out,
      e.filter(col("vec_id") % SimQueries.InsertMod
        === SimQueries.InsertRem).select(col("vec_id"), col("vn")))
    val after = fileState(s"$out/postings")
    assert(before.toSet.subsetOf(after.toSet),
      "insert rewrote an existing postings file")
    assert(after.size > before.size, "insert appended no files")
    // the postings now hold exactly the full corpus id set
    val ids = spark.read.parquet(s"$out/postings")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val allIds = e.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === allIds, "postings id set != corpus id set after insert")
    // insert-then-serve ≡ rebuilt with the SAME codebook over all rows
    val ref = java.nio.file.Files
      .createTempDirectory("graft-ivf-ins-ref").toString
    spark.read.parquet(s"$out/centroids")
      .write.parquet(s"$ref/centroids")
    SimQueries.ivfInsert(spark, ref, e.select(col("vec_id"), col("vn")))
    val served = SimQueries.ivfServeArtifact(spark, dir, out)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val rebuilt = SimQueries.ivfServeArtifact(spark, dir, ref)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served === rebuilt,
      "insert-then-serve diverged from rebuilt-with-same-codebook")
    // non-vacuity: the inserted ninth must move some answer
    assert(served !== served0,
      "inserting a ninth of the corpus was supposed to change serving")
  }

  test("tombstoned filtered serving (S34): the tenant mask and the " +
    "delete mask compose — no deleted id and no cross-tenant id ever " +
    "surfaces, and the deletes genuinely move some answer") {
    val served = SimQueries.knnFilteredDelete(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served.nonEmpty)
    served.foreach { r =>
      val (q, n, t) = (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
        r(2).asInstanceOf[Long])
      assert(n % SimQueries.DeleteMod != SimQueries.DeleteRem,
        s"deleted vector $n surfaced for query $q")
      assert(t === q % SimQueries.FilterTenants,
        s"cross-tenant neighbor $n for query $q")
    }
    val undeleted = SimQueries.knnFilteredArtifact(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served !== undeleted,
      "the delete set was supposed to change some filtered answer")
  }

  test("IVF drift monitor (S33): the churned deployment recommends " +
    "retraining with an exact-integer gain, and a Lloyd refit is " +
    "monotone in the objective from ANY codebook (up to 6dp rounding)") {
    import org.apache.spark.sql.functions._
    val gate = SimQueries.knnIvfDrift(spark, dir).collect().head
    graft.CachedFrames.releaseAll()
    assert(gate.getBoolean(4),
      "a codebook trained on 2/3 of the corpus must want retraining")
    assert(gate.getLong(2) > 0L)
    assert(gate.getLong(0) + gate.getLong(2) === gate.getLong(1),
      "gain must be exactly the objective delta")
    // Lloyd monotonicity, checked from the FULLY-trained codebook
    // (where the gain is smallest): reassign + refit never drops the
    // spherical objective beyond micro-rounding slack
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
    val cb0 = KMeans.train(e, iterations = 1)
    def objMicro(a: org.apache.spark.sql.DataFrame): Long = a.agg(
      expr("sum(cast(round(ccos * 1e6, 0) as bigint)) div count(1)"))
      .head().getLong(0)
    val a1 = KMeans.assign(e.select(col("vec_id"), col("v")), cb0)
    val o1 = objMicro(a1)
    val cb1 = KMeans.meanByKey(a1.select(col("cluster"), col("v")),
      "cluster")
    val o2 = objMicro(KMeans.assign(e.select(col("vec_id"), col("v")),
      cb1))
    graft.CachedFrames.releaseAll()
    assert(o2 >= o1 - 10L,
      s"Lloyd refit dropped the objective: $o1 -> $o2")
  }

  test("literal-broadcast brute kNN equals the join form bit-for-bit") {
    // the gate runs the join-free broadcast-literal plan; the naive
    // nested-loop join form is the reference semantics it must match
    val a = brute.collect().map(_.toSeq).toSeq
    val b = SimQueries.knnBruteJoin(spark, dir).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("IVF probe-1 recalls a useful share of true top-1 neighbors") {
    val hits = topn(SimQueries.knnIvf(spark, dir)) intersect topn(brute)
    // unclustered corpus + probe=1: partial recall is expected; the
    // assertion pins the pipeline (deterministic), not ANN quality
    assert(hits.nonEmpty, "IVF found none of the true top-1 neighbors")
  }

  test("multi-probe IVF: recall@5 vs brute improves over nprobe=1, " +
      "and per-rank scores dominate") {
    def top5(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "neighbor").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = top5(brute)
    val p1 = SimQueries.knnIvfProbe(spark, dir, nprobe = 1)
    val p3 = SimQueries.knnIvfProbe(spark, dir)
    val r1 = (top5(p1) intersect truth).size
    val r3 = (top5(p3) intersect truth).size
    // probe-1 restricts candidates to the query's own list; probing the
    // top-3 lists widens the candidate set, so recall can only improve
    assert(r3 >= r1, s"recall@5 fell: nprobe=3 $r3 < nprobe=1 $r1")
    assert(r3 > r1, s"recall@5 did not improve: nprobe=3 $r3 == nprobe=1 $r1")
    // superset candidates => the rank-i cosine can never be worse
    def byRank(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        ((r.getLong(0), r.getInt(4)), r.getDouble(3))).toMap
    val c1 = byRank(p1); val c3 = byRank(p3)
    c1.foreach { case (key, cos1) =>
      assert(c3(key) >= cos1, s"$key: probe-3 cos ${c3(key)} < probe-1 $cos1")
    }
    // probe-1 restricted to the query's own cluster = knn_ivf exactly
    val ivf = SimQueries.knnIvf(spark, dir).collect().map(_.toSeq).toSeq
    assert(p1.collect().map(_.toSeq).toSeq === ivf)
  }

  test("LSH banded candidates recall a useful share of true top-1") {
    val hits = topn(SimQueries.knnLsh(spark, dir)) intersect topn(brute)
    assert(hits.nonEmpty, "LSH found none of the true top-1 neighbors")
  }

  test("ADC satisfies the decomposition invariant: adc = ||q - recon||^2") {
    // recall-vs-brute is not a sound check at this codebook resolution
    // (2x10 codes; quantization error exceeds this corpus's neighbor
    // signal) — the invariant that must hold exactly is that ADC is
    // the squared distance from the query to the neighbor's
    // reconstruction, decomposed into two table lookups
    import org.apache.spark.sql.functions._
    val (sub, cb0, cb1) = SimQueries.pqCore(spark, dir, vecCol = "vn")
    val qs = sub.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("s0"), col("s1")).collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Double](1).toVector, r.getSeq[Double](2).toVector))).toMap
    val m0 = cb0.toMap
    val m1 = cb1.toMap
    def d2(x: Seq[Double], c: Seq[Double]): Double =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    val rows = SimQueries.knnPqAdc(spark, dir).collect()
    assert(rows.length === 50) // 10 queries x top-5
    rows.foreach { r =>
      val (q, c0, c1, adc) =
        (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4))
      val (qs0, qs1) = qs(q)
      val want = d2(qs0, m0(c0)) + d2(qs1, m1(c1))
      assert(math.abs(adc - want) < 1e-4, s"q=$q adc=$adc want=$want")
    }
    // and the emitted ranking is by (adc, neighbor) within each query
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val byRank = g.sortBy(_.getInt(5)).map(r => (r.getDouble(4), r.getLong(1)))
      assert(byRank.toSeq === byRank.sortBy(identity).toSeq)
    }
  }

  test("IVF-PQ: candidates stay in the query's list; ADC scores agree") {
    import org.apache.spark.sql.functions._
    val ivfpq = SimQueries.knnIvfPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // one inverted list per query, and it is the query's own cluster
    val qCluster = SimQueries.knnIvf(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    ivfpq.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).toSet === Set(qCluster(q)),
        s"q=$q candidates left the query's inverted list")
    }
    // pruning changes the candidate set, not the scores: where a
    // (q, neighbor) pair also appears in the unpruned ADC ranking,
    // the adc value is identical
    val adc = SimQueries.knnPqAdc(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    ivfpq.foreach { case (q, n, _, d) =>
      adc.get((q, n)).foreach(expected => assert(d === expected))
    }
  }

  test("residual IVF-PQ approximates true distances better than raw") {
    import org.apache.spark.sql.functions._
    val vn = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        r.getLong(0) -> v.map(_ / n)
      }.toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def mae(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map { r =>
        math.abs(r.getDouble(3) - d2(vn(r.getLong(0)), vn(r.getLong(1))))
      }.sum / rows.length
    val cols = Seq("q_id", "neighbor", "cluster", "adc")
    val raw = SimQueries.knnIvfPq(spark, dir)
      .select(cols.head, cols.tail: _*).collect()
    val res = SimQueries.knnIvfPqResidual(spark, dir)
      .select(cols.head, cols.tail: _*).collect()
    // residuals are centered near zero, so the same code budget spends
    // its resolution on within-cluster structure — quantization error
    // against the TRUE distance must drop (measured ~0.90 -> ~0.71)
    assert(mae(res) < mae(raw),
      s"residual MAE ${mae(res)} not below raw MAE ${mae(raw)}")
    // and candidates still never leave the query's inverted list
    val qCluster = res.map(r => r.getLong(0) -> r.getInt(2)).toMap
    res.foreach(r => assert(r.getInt(2) === qCluster(r.getLong(0))))
  }

  test("multi-probe IVF-PQ: probe-1 degenerates to knn_ivfpq; probe-3 " +
    "per-rank ADC dominates") {
    val p1 = SimQueries.knnIvfPqProbe(spark, dir, nprobe = 1)
    val base = SimQueries.knnIvfPq(spark, dir)
    assert(p1.collect().map(_.toSeq).toSeq === base.collect().map(_.toSeq).toSeq)
    // widening to 3 lists can only find equal-or-closer candidates
    def byRank(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        ((r.getLong(0), r.getInt(4)), r.getDouble(3))).toMap
    val a1 = byRank(p1)
    val a3 = byRank(SimQueries.knnIvfPqProbe(spark, dir))
    a1.foreach { case (key, adc1) =>
      assert(a3(key) <= adc1, s"$key: probe-3 adc ${a3(key)} > probe-1 $adc1")
    }
  }

  test("graph refinement: the NN-descent round dominates per rank — " +
    "each node's j-th best edge never worsens (candidate superset)") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("vn", graft.functions.VectorFunctions.normalize(col("v")))
    val vecById = e.select(col("vec_id").as("cand"), col("vn").as("cvn"))
    // a deliberately weak starting graph: two fixed-stride rings
    val n = e.count()
    val ring = e.select(col("vec_id").as("src"),
      ((col("vec_id") + 17) % n).as("dst"))
      .union(e.select(col("vec_id").as("src"),
        ((col("vec_id") + 311) % n).as("dst")))
    def ranked(edges: org.apache.spark.sql.DataFrame)
    : Map[Long, Seq[Double]] =
      edges.join(vecById.select(col("cand").as("src"),
          col("cvn").as("svn")), Seq("src"))
        .join(vecById.select(col("cand").as("dst"),
          col("cvn").as("dvn")), Seq("dst"))
        .select(col("src"), round(graft.functions.VectorFunctions.dot(
          col("svn"), col("dvn")), 6).as("cos"))
        .collect().groupBy(_.getLong(0))
        .map { case (s, rows) =>
          s -> rows.map(_.getDouble(1)).sorted(Ordering[Double].reverse)
            .toSeq
        }
    val r1 = SimQueries.refineEdges(ring, vecById)
    val r2 = SimQueries.refineEdges(r1, vecById)
    val (k1, k2) = (ranked(r1), ranked(r2))
    graft.CachedFrames.releaseAll()
    // r2 selects top-M from a superset of r1's kept edges, so at every
    // rank j <= |r1(src)| the score can only improve
    k1.foreach { case (src, c1) =>
      val c2 = k2(src)
      c1.zip(c2).zipWithIndex.foreach { case ((a, b), j) =>
        assert(b >= a, s"src $src rank $j degraded: $a -> $b")
      }
    }
    // and measurable progress from the weak start: each node's BEST
    // edge (rank 1) improves on average — count-safe (kept-edge counts
    // grow across rounds, so whole-set means aren't comparable)
    val ring0 = ranked(ring)
    val best0 = ring0.values.map(_.head).sum / ring0.size
    val best1 = k1.values.map(_.head).sum / k1.size
    assert(best1 > best0,
      s"no rank-1 progress from the ring start: $best0 -> $best1")
  }

  test("S35/S36: the persisted graph artifacts serve row-identical to " +
    "the in-memory builds — the per-invocation NN-descent cost is paid " +
    "once at deploy, never at serve") {
    val flat = SimQueries.knnGraph(spark, dir).collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val flatArt = SimQueries.knnGraphArtifact(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(flatArt === flat,
      "artifact-served S12 diverged from the in-memory build")
    val layered = SimQueries.knnGraphHnsw(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val layeredArt = SimQueries.knnGraphHnswArtifact(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(layeredArt === layered,
      "artifact-served S13 diverged from the in-memory build")
    // serving a second time reuses the deployed artifact (the gate
    // caches per corpus) and stays deterministic
    val again = SimQueries.knnGraphArtifact(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(again === flat)
  }

  test("S36b/c: graph-artifact deletes mask results while keeping " +
    "routing; compaction restores the degree bound, removes the dead " +
    "physically, retires tombstones, and re-elects a dead entry point") {
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-hnsw-maint").toString
    SimQueries.hnswIndexWrite(spark, dir, art)
    graft.CachedFrames.releaseAll()
    val baseIds = spark.read.parquet(s"$art/members")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // an insert storm grows reverse-edge degrees past the bound
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val storm = e.limit(40)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("v"))
    graft.sim.SimQueries.hnswArtifactInsert(spark, art, storm, 1L)
    // logical state reads go through the snapshot-manifest view: after
    // a compaction the replaced files stay on disk until the next
    // vacuum (generation grace), so a raw directory read would see them
    def membersView = {
      spark.catalog.refreshByPath(s"$art/members")
      graft.streaming.SnapshotManifest
        .resolveDf(spark, art, "members", SimQueries.HnswMembersDdl)
    }
    def edgesView = {
      spark.catalog.refreshByPath(s"$art/edges")
      graft.streaming.SnapshotManifest
        .resolveDf(spark, art, "edges", SimQueries.HnswEdgesDdl)
    }
    def maxDeg = edgesView
      .groupBy(col("lvl"), col("src")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head().getLong(0)
    assert(maxDeg > SimQueries.GraphM,
      "storm failed to exceed the degree bound — strengthen the fixture")
    // deletes: tombstone every base id ≡ 4 (mod 9); serving masks them
    import spark.implicits._
    val dead = baseIds.filter(_ % 9 == 4)
    assert(dead.nonEmpty)
    SimQueries.graphDelete(spark, art, dead.toSeq.toDF("vec_id"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        graft.functions.VectorFunctions.normalize(col("v")).as("qvn"))
      .localCheckpoint(false)
    def servedDeleted = SimQueries
      .hnswServeArtifactDeleted(spark, q, art).collect().map(_.toSeq).toSeq
    val s1 = servedDeleted
    graft.CachedFrames.releaseAll()
    assert(s1.nonEmpty)
    assert(s1.forall(r => !dead.contains(r(1).asInstanceOf[Long])),
      "a tombstoned vector surfaced as a neighbor")
    assert(servedDeleted === s1, "masked serving is not deterministic")
    graft.CachedFrames.releaseAll()
    // mask-only so far: the dead still route (members intact)
    assert(membersView
      .filter(col("vec_id").isin(dead.toSeq: _*)).count() ===
      dead.size.toLong)
    // compaction: logical removal + degree restore + tombstone retire
    SimQueries.hnswCompact(spark, art)
    val after = membersView
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((after & dead).isEmpty, "compaction left dead members")
    assert(after.size === baseIds.size + 40 - dead.size,
      "compaction lost live members")
    assert(maxDeg <= SimQueries.GraphM,
      s"degree bound not restored: $maxDeg")
    val endpoints = edgesView
      .select(explode(array(col("src"), col("dst"))).as("v"))
      .filter(col("v").isin(dead.toSeq: _*)).count()
    assert(endpoints === 0L, "an edge still touches a dead node")
    spark.catalog.refreshByPath(s"$art/tombstones")
    assert(spark.read.schema("vec_id LONG")
      .parquet(s"$art/tombstones").count() === 0L,
      "covered tombstones were not retired")
    val s2 = servedDeleted
    graft.CachedFrames.releaseAll()
    assert(s2.nonEmpty)
    assert(s2.forall(r => !dead.contains(r(1).asInstanceOf[Long])))
    // entry death: tombstone the incumbent entry, compact, re-elected
    def entryId = graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "entry", SimQueries.HnswEntryDdl)
      .head().getLong(0)
    val entry0 = entryId
    SimQueries.graphDelete(spark, art, Seq(entry0).toDF("vec_id"))
    SimQueries.hnswCompact(spark, art)
    spark.catalog.refreshByPath(s"$art/entry")
    val entry1 = entryId
    assert(entry1 !== entry0, "dead entry point was not re-elected")
    val s3 = servedDeleted
    graft.CachedFrames.releaseAll()
    assert(s3.nonEmpty, "serving died with the old entry point")
  }

  test("S36b snapshot isolation: a streamed graph batch committing " +
    "inside hnswCompact's window (after the rewrite's snapshot, " +
    "before the manifest swap) survives in members AND edges with " +
    "exactly one copy, and its replay stays a no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-hnsw-midcommit").toString
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
    val m = SimQueries.InsertMod
    val r = SimQueries.InsertRem
    SimQueries.hnswIndexWriteOn(e.filter(col("vec_id") % m =!= r), art)
    graft.CachedFrames.releaseAll()
    // tombstone a slice (not the entry) so the rewrite has real work
    val entry0 = graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "entry", SimQueries.HnswEntryDdl)
      .head().getLong(0)
    // ids ≡ 3 (mod 9) are ≡ 0 (mod 3), so they exist in the
    // m/r-filtered training set (≡ 4 mod 9 would all be held out)
    val dead = spark.read.parquet(s"$art/members")
      .filter(col("vec_id") % 9 === 3 && col("vec_id") =!= entry0)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(dead.nonEmpty)
    SimQueries.graphDelete(spark, art, dead.toDF("vec_id"))
    val batch = e.filter(col("vec_id") % m === r)
      .select(col("vec_id"), col("v")).localCheckpoint(false)
    val batchIds = batch.select("vec_id").collect()
      .map(_.getLong(0)).toSeq
    var committedMid = false
    SimQueries.hnswCompact(spark, art, onPoint = { pt =>
      // the lost-batch window the re-list-at-delete design had: the
      // members rewrite is moved in, the manifest not yet swapped
      if (pt == "moved-in-members" && !committedMid) {
        committedMid = true
        SimQueries.hnswArtifactInsert(spark, art, batch, batchId = 3L)
      }
      ()
    })
    assert(committedMid, "the moved-in-members point never fired")
    def membersView() = graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "members", SimQueries.HnswMembersDdl)
    def edgesView() = graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "edges", SimQueries.HnswEdgesDdl)
    val mc = membersView().filter(col("vec_id").isin(batchIds: _*))
      .groupBy("vec_id").count().collect()
    assert(mc.length === batchIds.size,
      "the mid-compaction graph batch lost member rows to the swap")
    assert(mc.forall(_.getLong(1) === 1L))
    // its base adjacency survived too (edges committed in the window)
    val deg = edgesView().filter(col("lvl") === 0 &&
      col("src").isin(batchIds: _*))
      .select("src").distinct().count()
    assert(deg === batchIds.size.toLong,
      "a mid-compaction batch member lost its base adjacency")
    // the dead are still gone and no duplicate member exists anywhere
    assert(membersView().filter(col("vec_id").isin(dead: _*))
      .count() === 0L)
    assert(membersView().groupBy("vec_id").count()
      .filter(col("count") > 1).count() === 0L)
    // replay is a no-op
    SimQueries.hnswArtifactInsert(spark, art, batch, batchId = 3L)
    val mc2 = membersView().filter(col("vec_id").isin(batchIds: _*))
      .groupBy("vec_id").count().collect()
    assert(mc2.length === batchIds.size && mc2.forall(_.getLong(1) === 1L),
      "replaying the mid-compaction graph batch duplicated rows")
    // and the artifact still serves, masking nothing it shouldn't
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vn").as("qvn"))
      .localCheckpoint(false)
    val served = SimQueries.hnswServeArtifactDeleted(spark, q, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served.nonEmpty)
    assert(served.forall(r => !dead.contains(r(1).asInstanceOf[Long])))
  }

  test("AnnCli: the maintenance verbs operate a deployed artifact " +
    "(compact reclaims, vacuum reconciles disk to the manifest, " +
    "status and drift answer) and bad invocations fail loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-annctl").toString
    SimQueries.ivfIndexWrite(spark, dir, art)
    graft.CachedFrames.releaseAll()
    val delIds = spark.read.parquet(s"$art/postings")
      .filter(col("vec_id") % 7 === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    SimQueries.ivfDelete(spark, art, delIds.toDF("vec_id"))
    AnnCli.run(spark, Array("status", art)) // answers without throwing
    AnnCli.run(spark, Array("compact", art))
    spark.catalog.refreshByPath(s"$art/postings")
    val resolved = graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "postings", SimQueries.PostingsDdl)
    assert(resolved.filter(col("vec_id").isin(delIds: _*)).count() === 0L)
    // before vacuum the replaced files are still on disk (grace)...
    val rawBefore = graft.streaming.StagedCommit
      .committedParquet(spark, art, "postings").size
    AnnCli.run(spark, Array("vacuum", art))
    // ...after it, disk == the manifest's live view exactly
    val rawAfter = graft.streaming.StagedCommit
      .committedParquet(spark, art, "postings").toSet
    assert(rawAfter.size < rawBefore,
      "vacuum reclaimed nothing — grace deletion broken")
    assert(rawAfter === graft.streaming.SnapshotManifest
      .resolve(spark, art, "postings").toSet)
    AnnCli.run(spark, Array("status", art))
    // drift answers on a graph artifact, refuses an IVF one
    val gart = java.nio.file.Files
      .createTempDirectory("graft-annctl-g").toString
    SimQueries.hnswIndexWrite(spark, dir, gart)
    graft.CachedFrames.releaseAll()
    AnnCli.run(spark, Array("drift", gart))
    intercept[IllegalArgumentException](
      AnnCli.run(spark, Array("drift", art)))
    intercept[IllegalArgumentException](
      AnnCli.run(spark, Array("bogus", art)))
    intercept[IllegalArgumentException](
      AnnCli.run(spark, Array("status", java.nio.file.Files
        .createTempDirectory("graft-annctl-empty").toString)))
    intercept[IllegalArgumentException](
      AnnCli.run(spark, Array("status")))
  }

  test("S39 range search: brute returns EXACTLY the within-radius " +
    "set (cross-checked against the collected corpus), the IVF form " +
    "is a strict subset with a recall floor, and neither duplicates " +
    "a neighbor") {
    import org.apache.spark.sql.functions._
    val brute = SimQueries.knnRange(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    graft.CachedFrames.releaseAll()
    val ivf = SimQueries.knnRangeIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    graft.CachedFrames.releaseAll()
    assert(brute.nonEmpty, "radius too tight — no within-range pairs")
    assert(brute.forall(_._3 >= SimQueries.RangeTau))
    // no fixed k: some query must have MORE than TopK results or the
    // radius semantics degenerate to top-k at this corpus (guards the
    // fixture staying meaningful)
    assert(brute.groupBy(_._1).values.map(_.size).max !==
      brute.groupBy(_._1).values.map(_.size).min,
      "every query returned the same count — radius adds nothing over k")
    // exact recompute over the collected corpus
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        graft.functions.VectorFunctions
          .normalize(col("embedding").cast("array<double>")).as("vn"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { s0 += a(i) * b(i); i += 1 }
      BigDecimal(s0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byId = e.toMap
    val want = (for {
      (q, qv) <- e if q < SimQueries.NumQueries
      (n, nv) <- e if n != q
      c = cos(qv, nv) if c >= SimQueries.RangeTau
    } yield (q, n, c)).toSet
    assert(brute.toSet === want,
      "brute range drifted from the local recompute")
    // IVF ⊆ brute (same radius, probed candidates only), no dups
    assert(ivf.map(t => (t._1, t._2)).toSet
      .subsetOf(brute.map(t => (t._1, t._2)).toSet),
      "IVF range returned a pair outside the exact radius set")
    assert(ivf.length === ivf.map(t => (t._1, t._2)).distinct.length,
      "IVF range duplicated a neighbor across probe lists")
    // recall floor at this codebook/probe depth
    assert(ivf.length * 10 >= brute.length * 5,
      s"IVF range recall under 50%: ${ivf.length}/${brute.length}")
  }

  test("S42 graph refine delivers EXACTLY the objective the S38 " +
    "monitor promised, through the snapshot swap (a crash before the " +
    "commit leaves the deployed view bit-identical), and serving " +
    "stays alive post-refine") {
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-grefine").toString
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
      .localCheckpoint(false)
    val m = SimQueries.InsertMod; val r = SimQueries.InsertRem
    SimQueries.hnswIndexWriteOn(e.filter(col("vec_id") % m =!= r), art)
    graft.CachedFrames.releaseAll()
    SimQueries.hnswArtifactInsert(spark, art,
      e.filter(col("vec_id") % m === r).select(col("vec_id"), col("v")),
      batchId = 1L)
    graft.CachedFrames.releaseAll()
    val before = SimQueries.graphDriftOn(spark, art).head()
    graft.CachedFrames.releaseAll()
    assert(before.getAs[Boolean]("refine"),
      "the churned deployment must have refine signal")
    val promised = before.getAs[Long]("obj_refined_micro")
    // crash AFTER gen move-in, BEFORE the manifest commit: the moved
    // files are invisible, the monitor re-reads the identical view
    intercept[RuntimeException](SimQueries.graphRefine(spark, art,
      onPoint = p => if (p == "moved-in") throw new RuntimeException("kill")))
    spark.catalog.refreshByPath(s"$art/edges")
    val mid = SimQueries.graphDriftOn(spark, art).head()
    graft.CachedFrames.releaseAll()
    assert(mid.toSeq === before.toSeq,
      "a crashed refine changed the deployed view")
    // the real pass: the deployed objective becomes the promise
    SimQueries.graphRefine(spark, art)
    val after = SimQueries.graphDriftOn(spark, art).head()
    graft.CachedFrames.releaseAll()
    assert(after.getAs[Long]("obj_deployed_micro") === promised,
      s"refine delivered ${after.getAs[Long]("obj_deployed_micro")} " +
        s"but the monitor promised $promised")
    assert(after.getAs[Long]("gain_micro") >= 0L)
    // serving alive on the refined graph, masking nothing
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vn").as("qvn"))
      .localCheckpoint(false)
    val served = SimQueries.hnswServeArtifactDeleted(spark, q, art)
    assert(served.count() > 0)
    graft.CachedFrames.releaseAll()
  }

  test("S41 retrain delivers EXACTLY the gain the drift monitor " +
    "promised, the pointer swap is atomic under a crash (old " +
    "generation serves untouched, retry completes), and generations " +
    "retire on the grace schedule") {
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-reindex-spec").toString
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
      .localCheckpoint(false)
    IvfReindex.deployOn(
      e.filter(col("vec_id") % SimQueries.InsertMod =!=
        SimQueries.InsertRem), art)
    graft.CachedFrames.releaseAll()
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    assert(IvfReindex.currentGen(fs, art) === Some("gen-0"))
    // the monitor's promise on the churned deployment
    val monitor = SimQueries.ivfDriftOn(spark,
      IvfReindex.liveRoot(spark, art), dir).head()
    graft.CachedFrames.releaseAll()
    assert(monitor.getAs[Boolean]("retrain"))
    val promised = monitor.getAs[Long]("obj_retrained_micro")
    // crash between build and swap: serving stays on gen-0 entirely
    val before = IvfReindex.serve(spark, dir, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    intercept[RuntimeException](IvfReindex.retrain(spark, art, e,
      onPoint = p => if (p == "built") throw new RuntimeException("kill")))
    assert(IvfReindex.currentGen(fs, art) === Some("gen-0"),
      "a crashed retrain moved the pointer")
    spark.catalog.clearCache()
    assert(IvfReindex.serve(spark, dir, art)
      .collect().map(_.toSeq).toSeq === before,
      "a crashed retrain changed serving")
    graft.CachedFrames.releaseAll()
    // retry completes and swaps
    val g1 = IvfReindex.retrain(spark, art, e)
    graft.CachedFrames.releaseAll()
    assert(g1 === "gen-1")
    assert(IvfReindex.currentGen(fs, art) === Some("gen-1"))
    // the delivered objective IS the promised integer: score the
    // corpus under the swapped-in codebook with the monitor's own
    // arithmetic
    val cb1 = spark.read.parquet(s"$art/gen-1/centroids")
    val a = KMeans.assign(e.select(col("vec_id"), col("v")), cb1)
    val delivered = a.agg(
      expr("sum(cast(round(ccos * 1e6, 0) as bigint)) div count(1)"))
      .head().getLong(0)
    graft.CachedFrames.releaseAll()
    assert(delivered === promised,
      s"retrain delivered $delivered but the monitor promised $promised")
    // grace: a second retrain retires gen-0, keeps gen-1, serves gen-2
    val g2 = IvfReindex.retrain(spark, art, e)
    graft.CachedFrames.releaseAll()
    assert(g2 === "gen-2")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$art/gen-0")),
      "generation beyond the grace window survived")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$art/gen-1")),
      "the previous generation must survive one cycle (grace)")
    assert(IvfReindex.serve(spark, dir, art).count() > 0)
    graft.CachedFrames.releaseAll()
    // the CLI face: status and drift resolve the live generation;
    // retrain refuses a flat artifact and a missing corpus
    AnnCli.run(spark, Array("status", art))
    AnnCli.run(spark, Array("drift", art, dir))
    AnnCli.run(spark, Array("retrain", art, dir))
    assert(IvfReindex.currentGen(fs, art) === Some("gen-3"))
    graft.CachedFrames.releaseAll()
    intercept[IllegalArgumentException](
      AnnCli.run(spark, Array("retrain", art)))
    val flat = java.nio.file.Files
      .createTempDirectory("graft-reindex-flat").toString
    SimQueries.ivfIndexWrite(spark, dir, flat)
    graft.CachedFrames.releaseAll()
    intercept[IllegalArgumentException](
      AnnCli.run(spark, Array("retrain", flat, dir)))
  }

  test("S40 deployed range search: every returned pair is within the " +
    "exact radius set, no tombstoned vector ever surfaces, and the " +
    "partition-pruned serve is deterministic") {
    val del = SimQueries.knnRangeDelete(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    graft.CachedFrames.releaseAll()
    val brute = SimQueries.knnRange(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CachedFrames.releaseAll()
    assert(del.nonEmpty)
    assert(del.forall(_._3 >= SimQueries.RangeTau))
    assert(del.forall(t =>
      t._2 % SimQueries.DeleteMod != SimQueries.DeleteRem),
      "a tombstoned vector surfaced from the deployed range serve")
    assert(del.map(t => (t._1, t._2)).toSet.subsetOf(brute),
      "deployed range returned a pair outside the exact radius set")
    val again = SimQueries.knnRangeDelete(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    graft.CachedFrames.releaseAll()
    assert(again.toSeq === del.toSeq, "deployed range serve not deterministic")
  }

  test("AnnCli track migrates a legacy listing-based artifact to " +
    "manifest-held listings: same resolved file set, serving " +
    "unchanged, idempotent") {
    import org.apache.spark.sql.functions._
    val lart = java.nio.file.Files
      .createTempDirectory("graft-annctl-track").toString
    SimQueries.ivfIndexWrite(spark, dir, lart)
    graft.CachedFrames.releaseAll()
    val lfs = graft.streaming.SnapshotManifest.fsOf(spark, lart)
    // strip the build-time manifest → the pre-E33 legacy layout
    lfs.delete(new org.apache.hadoop.fs.Path(
      s"$lart/postings/_manifest"), true)
    assert(!graft.streaming.SnapshotManifest
      .read(lfs, lart, "postings").exists(_.held))
    val legacySet = graft.streaming.SnapshotManifest
      .resolve(spark, lart, "postings").toSet
    assert(legacySet.nonEmpty, "legacy listing path stopped serving")
    AnnCli.run(spark, Array("track", lart))
    val m = graft.streaming.SnapshotManifest
      .read(lfs, lart, "postings").get
    assert(m.held, "track did not flip the table to held")
    assert(graft.streaming.SnapshotManifest
      .resolve(spark, lart, "postings").toSet === legacySet,
      "the held view differs from the legacy listing it replaced")
    AnnCli.run(spark, Array("track", lart)) // idempotent
    assert(graft.streaming.SnapshotManifest
      .resolve(spark, lart, "postings").toSet === legacySet)
  }

  test("AnnCli drift on an IVF artifact: the deployed-codebook " +
    "monitor equals the knn_ivf_drift gate bit-for-bit (same " +
    "codebook, same refit), drives through the CLI verb, and " +
    "refuses loudly without a corpus") {
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-annctl-ivfdrift").toString
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
    // the S32/S33 scenario: deploy a codebook trained on 2/3 of the
    // corpus, then ask the monitor with the FULL corpus as current
    SimQueries.ivfIndexWriteOn(
      e.filter(col("vec_id") % SimQueries.InsertMod =!=
        SimQueries.InsertRem), art)
    graft.CachedFrames.releaseAll()
    val cli = SimQueries.ivfDriftOn(spark, art, dir).collect()
    graft.CachedFrames.releaseAll()
    val gate = SimQueries.knnIvfDrift(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(cli.map(_.toSeq).toSeq === gate.map(_.toSeq).toSeq,
      "artifact-read codebook drifted from the gate's trained one")
    assert(cli.head.getAs[Boolean]("retrain"),
      "the churned deployment must have retrain signal")
    AnnCli.run(spark, Array("drift", art, dir)) // the verb itself
    intercept[IllegalArgumentException](
      AnnCli.run(spark, Array("drift", art))) // corpus required
  }

  test("E31 maintenance lock: a held lock refuses a second " +
    "maintainer, releases on normal exit AND on a thrown pass, and " +
    "a stale lock from a hard-killed maintainer is broken") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val art = java.nio.file.Files
      .createTempDirectory("graft-mlock").toString
    SimQueries.ivfIndexWrite(spark, dir, art)
    graft.CachedFrames.releaseAll()
    val delIds = spark.read.parquet(s"$art/postings")
      .filter(col("vec_id") % 7 === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    SimQueries.ivfDelete(spark, art, delIds.toDF("vec_id"))
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    val lock = new org.apache.hadoop.fs.Path(s"$art/_maintenance")
    // while one maintainer holds the lock, compaction AND the
    // standalone vacuum verb both refuse — the race ADVICE named
    // (vacuum deleting a mid-compact's moved-in gen files) can't start
    graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
      assert(fs.exists(lock))
      intercept[IllegalStateException](
        SimQueries.ivfCompact(spark, art))
      intercept[IllegalStateException](
        AnnCli.run(spark, Array("vacuum", art)))
    }
    assert(!fs.exists(lock), "lock survived a normal exit")
    // released: the real pass runs now
    SimQueries.ivfCompact(spark, art)
    spark.catalog.refreshByPath(s"$art/postings")
    assert(graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "postings", SimQueries.PostingsDdl)
      .filter(col("vec_id").isin(delIds: _*)).count() === 0L)
    // a thrown pass still releases (in-process failure ≠ hard kill)
    intercept[RuntimeException](
      graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
        throw new RuntimeException("boom")
      })
    assert(!fs.exists(lock), "lock survived a thrown pass")
    // a hard-killed maintainer's leftover is broken once stale
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis() - 2L * 3600 * 1000, -1)
    var ran = false
    graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
      ran = true
    }
    assert(ran, "a stale lock blocked maintenance forever")
    assert(!fs.exists(lock))
    // the batch insert path shares the lock: its move-in → register
    // window mutates the postings dir with names vacuum's orphan audit
    // would otherwise reclaim mid-flight, so it must refuse while a
    // maintainer is in-flight
    val two = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("vn", graft.functions.VectorFunctions.normalize(col("v")))
      .select(col("vec_id") + 100000L as "vec_id", col("vn")).limit(2)
      .localCheckpoint(false)
    graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
      intercept[IllegalStateException](
        SimQueries.ivfInsert(spark, art, two))
    }
    graft.CachedFrames.releaseAll()
  }

  test("E34b stale-lock break is claim-by-rename: two waiters racing " +
    "over the same stale marker — never two maintainers, and no " +
    "waiter deletes another's freshly created lock") {
    val art = java.nio.file.Files
      .createTempDirectory("graft-mlock-race").toString
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    val lock = new org.apache.hadoop.fs.Path(s"$art/_maintenance")
    (1 to 8).foreach { round =>
      fs.create(lock, false).close()
      fs.setTimes(lock, System.currentTimeMillis() - 2L * 3600 * 1000, -1)
      val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxConc = new java.util.concurrent.atomic.AtomicInteger(0)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val ts = (1 to 2).map { _ =>
        new Thread(() => {
          gate.await()
          try {
            graft.streaming.SnapshotManifest
              .withMaintenanceLock(fs, art) {
                val c = inBody.incrementAndGet()
                maxConc.updateAndGet(m => math.max(m, c))
                Thread.sleep(20)
                inBody.decrementAndGet()
              }
            wins.incrementAndGet()
          } catch { case _: IllegalStateException => () }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(maxConc.get() <= 1,
        s"round $round: two maintainers ran concurrently — the " +
          "delete-based stale break's TOCTOU")
      assert(wins.get() >= 1,
        s"round $round: the stale lock blocked every waiter")
      assert(!fs.exists(lock), s"round $round: lock leaked")
      // no stale tombstones accumulate either
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(art)).toSeq
        .map(_.getPath.getName)
        .count(_.startsWith("_maintenance.stale-")) === 0,
        s"round $round: claim tombstone leaked")
    }
  }

  test("E34c lease renewal: a LIVE holder running past staleMs is " +
    "never usurped (the heartbeat re-touches the marker; waiters keep " +
    "refusing), while a hard-killed holder's beat-less marker still " +
    "breaks; a displaced holder never deletes the new holder's lock " +
    "and surfaces the displacement") {
    val art = java.nio.file.Files
      .createTempDirectory("graft-mlock-lease").toString
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    val lock = new org.apache.hadoop.fs.Path(s"$art/_maintenance")
    fs.mkdirs(new org.apache.hadoop.fs.Path(art))
    // slow holder: body runs 4× the lease; a waiter probing mid-pass
    // must observe a FRESH marker and refuse rather than break
    val holderDone = new java.util.concurrent.CountDownLatch(1)
    val waiterBroke = new java.util.concurrent.atomic.AtomicBoolean(false)
    val holder = new Thread(() => {
      graft.streaming.SnapshotManifest
        .withMaintenanceLock(fs, art, staleMs = 400L) {
          Thread.sleep(1600L)
        }
      holderDone.countDown()
    })
    holder.start()
    Thread.sleep(900L) // well past staleMs — only the heartbeat keeps it fresh
    try {
      graft.streaming.SnapshotManifest
        .withMaintenanceLock(fs, art, staleMs = 400L) {
          waiterBroke.set(true)
        }
    } catch { case _: IllegalStateException => () }
    assert(!waiterBroke.get(),
      "a waiter usurped a LIVE holder whose pass outlived the lease")
    holder.join()
    assert(holderDone.getCount === 0L)
    assert(!fs.exists(lock), "slow holder failed to release its lock")
    // beat-less (hard-killed) marker still breaks at the same lease
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis() - 1000L, -1)
    var ran = false
    graft.streaming.SnapshotManifest
      .withMaintenanceLock(fs, art, staleMs = 400L) { ran = true }
    assert(ran, "a dead holder's marker blocked maintenance")
    // displaced holder: ownership stolen mid-pass (simulated by
    // rewriting the lock with a foreign owner) — the release must NOT
    // delete the foreign lock, and the displacement must surface
    val foreign = java.util.UUID.randomUUID().toString
    val ex = intercept[IllegalStateException](
      graft.streaming.SnapshotManifest
        .withMaintenanceLock(fs, art, staleMs = 60L * 60 * 1000) {
          val o = fs.create(lock, true)
          try o.write(foreign.getBytes("UTF-8")) finally o.close()
        })
    assert(ex.getMessage.contains("usurped"), ex.getMessage)
    val in = fs.open(lock)
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    assert(content === foreign,
      "the displaced holder deleted or rewrote the new holder's lock")
    fs.delete(lock, false)
  }

  test("E35 lock backend seam: object-store schemes refuse loudly by " +
    "default naming the registration remedy, and a registered " +
    "backend converts the refusal into a working lock") {
    val art = java.nio.file.Files
      .createTempDirectory("graft-lockseam").toString
    val fs = new S3aShapedFs()
    fs.initialize(java.net.URI.create("s3a:///"),
      spark.sparkContext.hadoopConfiguration)
    val ex = intercept[UnsupportedOperationException](
      graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
        fail("body ran on a denylisted scheme")
      })
    assert(ex.getMessage.contains("registerLockBackend"), ex.getMessage)
    // the registration point: a real deployment lands a conditional-put
    // adapter here; the test lands the local-atomic backend, proving
    // the lease machinery is backend-agnostic end-to-end
    graft.streaming.SnapshotManifest.registerLockBackend("s3a",
      f => new graft.streaming.SnapshotManifest.HadoopLockBackend(f))
    try {
      var ran = false
      graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
        ran = true
      }
      assert(ran, "registered backend did not acquire")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$art/_maintenance")), "registered backend did not release")
    } finally
      graft.streaming.SnapshotManifest.unregisterLockBackend("s3a")
  }

  test("E35a failed owner write after a successful exclusive create " +
    "leaves NO lock behind: the failure is retryable, not a " +
    "full-lease outage") {
    val art = java.nio.file.Files
      .createTempDirectory("graft-lockwfail").toString
    val fs = new WriteFailFs()
    fs.initialize(java.net.URI.create("wfail:///"),
      spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$art/_maintenance")
    var bodyRan = false
    intercept[IllegalStateException](
      graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
        bodyRan = true
      })
    assert(!bodyRan, "body ran despite the poisoned owner write")
    assert(!fs.exists(lock),
      "a half-born lock was left behind — every retry (and every " +
        "other maintainer) would block for the full lease")
    // a healthy maintainer succeeds IMMEDIATELY — no stale-break wait
    val good = graft.streaming.SnapshotManifest.fsOf(spark, art)
    var ran = false
    graft.streaming.SnapshotManifest.withMaintenanceLock(good, art) {
      ran = true
    }
    assert(ran)
  }

  test("E35b release distinguishes a read glitch from usurpation: a " +
    "successful pass whose final owner reads fail still releases " +
    "via the heartbeat-mtime fallback instead of reporting itself " +
    "suspect") {
    val art = java.nio.file.Files
      .createTempDirectory("graft-lockglitch").toString
    val fs = new GlitchyReadFs()
    fs.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$art/_maintenance")
    GlitchyReadFs.fail.set(false)
    try {
      // must NOT throw the usurped IllegalStateException: the owner
      // read glitches but the lock's mtime is the exact stamp only
      // our own lease could carry
      graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
        GlitchyReadFs.fail.set(true)
      }
    } finally GlitchyReadFs.fail.set(false)
    assert(!fs.exists(lock),
      "the glitched release left the lock in place")
  }

  test("S52 Lloyd-trained deployed books STRICTLY beat the " +
    "label-seeded books on the same corpus (the S49 monitor priced " +
    "against a label rebuild shows the downgrade), and the " +
    "TRAINER-FAITHFUL default prices the Lloyd rebuild — promise ≡ " +
    "delivery, gain exactly zero on an un-drifted corpus") {
    val art = SimQueries.pqLloydArtifactOf(spark, dir)
    // explicit label override: the r13 verdict's done criterion —
    // err under the trained books strictly below the seed books
    val down = SimQueries
      .ivfPqDriftOn(spark, art, dir, trainer = Some("label"))
      .collect().head
    graft.CachedFrames.releaseAll()
    val deployed = down.getAs[Long]("err_deployed_micro")
    val seedReb = down.getAs[Long]("err_refreshed_micro")
    assert(deployed < seedReb,
      s"Lloyd books ($deployed micro) must STRICTLY beat the " +
        s"label-mean rebuild ($seedReb micro)")
    assert(!down.getAs[Boolean]("refresh"),
      "the monitor blessed replacing trained books with seed books")
    // trainer-faithful default: the `_books` marker routes the
    // rebuild through the SAME Lloyd alternation — identical corpus
    // ⇒ identical books ⇒ gain is EXACTLY zero, refresh refused
    val faithful = SimQueries.ivfPqDriftOn(spark, art, dir)
      .collect().head
    graft.CachedFrames.releaseAll()
    assert(faithful.getAs[Long]("gain_micro") === 0L,
      "trainer-faithful rebuild of an un-drifted corpus must " +
        "reproduce the deployed books to the integer")
    assert(!faithful.getAs[Boolean]("refresh"))
    // an unknown trainer marker refuses by name
    val ex = intercept[UnsupportedOperationException](
      SimQueries.ivfPqDriftOn(spark, art, dir,
        trainer = Some("gradient")))
    assert(ex.getMessage.contains("gradient"), ex.getMessage)
  }

  test("S51 encoding-aware insert: an opq artifact refuses inserts " +
    "lacking the raw vector column by name, and an unknown encoding " +
    "refuses by kind at closure build — no foreign-space encode can " +
    "slip through") {
    import org.apache.spark.sql.functions._
    // opq: the rotation replays over RAW vectors; a vn-only frame
    // must refuse naming `v`, not silently rotate the wrong thing
    val opqArt = SimQueries.opqArtifactOf(spark, dir)
    val inserter = SimQueries.ivfPqInserter(spark, opqArt)
    val noV = graft.Tables.embeddings(spark, dir).limit(1)
      .select(col("vec_id") + 900000L as "vec_id",
        graft.functions.VectorFunctions
          .normalize(col("embedding").cast("array<double>")).as("vn"))
    val ex = intercept[IllegalArgumentException](inserter(noV))
    assert(ex.getMessage.contains("`v`"), ex.getMessage)
    graft.CachedFrames.releaseAll()
    // a kind no branch understands refuses by NAME — a future
    // encoding must never fall through to raw arithmetic
    val out = java.nio.file.Files
      .createTempDirectory("graft-alien-enc").toString
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
      .filter(col("vec_id") < 300)
    SimQueries.ivfPqIndexWriteOn(e, out)
    val encFs = graft.streaming.SnapshotManifest.fsOf(spark, out)
    val encOut = encFs.create(
      new org.apache.hadoop.fs.Path(s"$out/_encoding"), true)
    try encOut.write("zorp".getBytes("UTF-8")) finally encOut.close()
    val ex2 = intercept[UnsupportedOperationException](
      SimQueries.ivfPqInserter(spark, out))
    assert(ex2.getMessage.contains("zorp"), ex2.getMessage)
    graft.CachedFrames.releaseAll()
  }

  test("insert path under maintenance: the bounded retry waits a " +
    "routine pass out instead of failing, still surfaces a refusal " +
    "past the bound, and two CONCURRENT staged inserts never clobber " +
    "each other's staging (unique per-batch dirs)") {
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-insert-retry").toString
    SimQueries.ivfPqIndexWrite(spark, dir, art)
    graft.CachedFrames.releaseAll()
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    // a maintainer holds the lock for ~600 ms; the retrying insert
    // lands AFTER it releases instead of killing the caller
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
        Thread.sleep(600L)
      }
      release.countDown()
    })
    var retried = false
    holder.start()
    Thread.sleep(50L)
    SimQueries.withMaintenanceLockRetry(fs, art,
      retries = 20, initialBackoffMs = 50L) { retried = true }
    assert(retried, "the retrying acquirer never got the lock")
    holder.join()
    // past the bound the single-maintainer refusal surfaces unchanged
    graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
      intercept[IllegalStateException](
        SimQueries.withMaintenanceLockRetry(fs, art,
          retries = 1, initialBackoffMs = 10L) { () })
    }
    // concurrent staged inserts: disjoint batches from two threads —
    // the fixed staging dir would have dropped/doubled one batch (the
    // ADVICE race); unique per-batch dirs land BOTH exactly once
    val inserter = SimQueries.ivfPqInserter(spark, art)
    def batch(offset: Long) = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 6)
      .select((col("vec_id") + offset).as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
      .select(col("vec_id"), col("vn")).localCheckpoint(false)
    val b1 = batch(7000000L)
    val b2 = batch(8000000L)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(b1, b2).map { b =>
      new Thread(() => {
        try inserter(b)
        catch { case t: Throwable => errs.add(t); () }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent staged insert failed: ${errs.peek()}")
    val view = graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "codes", SimQueries.CodesDdl)
    val got = view.filter(col("vec_id") >= 7000000L)
      .groupBy(col("vec_id")).count().collect()
    assert(got.length === 12,
      s"expected 12 inserted ids visible, got ${got.length}")
    assert(got.forall(_.getLong(1) === 1L),
      "an inserted row landed twice (staging clobber)")
    // no staging dirs left behind
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(art)).toSeq
      .map(_.getPath.getName)
      .count(_.startsWith("_codes_inserting")) === 0,
      "staged dirs leaked")
    graft.CachedFrames.releaseAll()
  }

  test("AnnCli on a VERSIONED deployment locks at the artifact ROOT: " +
    "maintenance verbs and retrain mutually exclude, so a retrain's " +
    "generation-grace deletion can never race a mid-flight vacuum") {
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-cli-rootlock").toString
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    // minimal versioned layout: one gen with a postings table + pointer
    graft.Tables.embeddings(spark, dir).limit(5)
      .select(col("vec_id"), lit(0L).as("cluster"))
      .write.parquet(s"$art/gen-0/postings")
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$art/_current"),
      true)
    out.write("gen-0".getBytes("UTF-8")); out.close()
    // retrain's lock lives at the root — while it is held, vacuum and
    // track must refuse (pre-fix they locked at gen-0 and ran anyway)
    graft.streaming.SnapshotManifest.withMaintenanceLock(fs, art) {
      intercept[IllegalStateException](
        AnnCli.run(spark, Array("vacuum", art)))
      intercept[IllegalStateException](
        AnnCli.run(spark, Array("track", art)))
    }
    // released: the verbs run (and release both locks on exit)
    AnnCli.run(spark, Array("vacuum", art))
    AnnCli.run(spark, Array("track", art))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$art/_maintenance")))
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$art/gen-0/_maintenance")))
    // a FLAT artifact keeps single-level locking (no self-refusal)
    val flat = java.nio.file.Files
      .createTempDirectory("graft-cli-flatlock").toString
    graft.Tables.embeddings(spark, dir).limit(5)
      .select(col("vec_id"), lit(0L).as("cluster"))
      .write.parquet(s"$flat/postings")
    AnnCli.run(spark, Array("vacuum", flat))
  }

  test("S43 deployed IVFPQ artifact: serve-from-artifact equals the " +
    "in-memory twin bit-for-bit, deletes mask at compressed grain, " +
    "compaction through E31 leaves serving identical, and the CLI " +
    "recognizes the shape") {
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-spec").toString
    SimQueries.ivfPqIndexWrite(spark, dir, art)
    graft.CachedFrames.releaseAll()
    // deploy → reload → serve ≡ train → serve (the S27 contract at
    // compressed grain)
    val served = SimQueries.ivfPqServeArtifact(spark, dir, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val twin = SimQueries.knnIvfPq(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served === twin,
      "artifact serving drifted from the in-memory IVFPQ twin")
    // deletes: tombstoned ids never surface; untouched ranks resort
    val delIds = spark.read.parquet(s"$art/codes")
      .filter(col("vec_id") % 7 === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(delIds.nonEmpty)
    import spark.implicits._
    SimQueries.ivfDelete(spark, art, delIds.toDF("vec_id"))
    val afterDelete = SimQueries.ivfPqServeArtifact(spark, dir, art)
      .collect()
    graft.CachedFrames.releaseAll()
    assert(afterDelete.nonEmpty)
    assert(afterDelete.forall(r => r.getLong(1) % 7 != 3),
      "a tombstoned vector surfaced from the compressed artifact")
    // compaction: the shared E31 body pointed at codes — serving is
    // IDENTICAL before and after, dead rows physically leave, the
    // rewrite is snapshot-isolated (gen files + manifest swap)
    SimQueries.ivfPqCompact(spark, art)
    spark.catalog.refreshByPath(s"$art/codes")
    val afterCompact = SimQueries.ivfPqServeArtifact(spark, dir, art)
      .collect()
    graft.CachedFrames.releaseAll()
    assert(afterCompact.map(_.toSeq).toSeq ===
      afterDelete.map(_.toSeq).toSeq,
      "compaction changed compressed serving")
    val m = graft.streaming.SnapshotManifest
      .fsOf(spark, art)
    val manifest = graft.streaming.SnapshotManifest
      .read(m, art, "codes").get
    assert(manifest.gen.nonEmpty, "no gen files after a codes rewrite")
    // the resolved view no longer contains any tombstoned row
    assert(graft.streaming.SnapshotManifest
      .resolveDf(spark, art, "codes", SimQueries.CodesDdl)
      .filter(col("vec_id").isin(delIds: _*)).count() === 0L,
      "compaction left tombstoned codes in the resolved view")
    // the CLI face recognizes the compressed shape
    AnnCli.run(spark, Array("status", art))
    AnnCli.run(spark, Array("vacuum", art))
    AnnCli.run(spark, Array("compact", art))
    graft.CachedFrames.releaseAll()
  }

  test("AnnCli retrain corpus-reader seam: a corpus in a NON-default " +
    "layout retrains the deployment through a custom CorpusReader, " +
    "and the result equals the default-shape retrain on the same " +
    "numbers") {
    import org.apache.spark.sql.functions._
    def deploy(): String = {
      val a = java.nio.file.Files
        .createTempDirectory("graft-reader-seam").toString
      val e = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"), col("label"))
        .withColumn("vn",
          graft.functions.VectorFunctions.normalize(col("v")))
        .localCheckpoint(false)
      IvfReindex.deployOn(e, a)
      graft.CachedFrames.releaseAll()
      a
    }
    val art = deploy()
    val twin = deploy()
    // the same corpus in a FOREIGN layout: (id, vec), different names
    val foreign = java.nio.file.Files
      .createTempDirectory("graft-foreign-corpus").toString
    graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .write.mode("overwrite").parquet(foreign)
    val custom = new CorpusReader {
      def vectors(s: org.apache.spark.sql.SparkSession,
                  corpus: String): org.apache.spark.sql.DataFrame =
        s.read.parquet(corpus)
          .select(col("id").as("vec_id"),
            col("vec").cast("array<double>").as("v"))
          .withColumn("vn",
            graft.functions.VectorFunctions.normalize(col("v")))
    }
    AnnCli.run(spark, Array("retrain", art, foreign), custom)
    graft.CachedFrames.releaseAll()
    AnnCli.run(spark, Array("retrain", twin, dir)) // default reader
    graft.CachedFrames.releaseAll()
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    assert(IvfReindex.currentGen(fs, art) === Some("gen-1"))
    def cents(a: String): Seq[Seq[Any]] =
      spark.read.parquet(s"$a/gen-1/centroids")
        .orderBy(col("cluster")).collect().map(_.toSeq).toSeq
    assert(cents(art) === cents(twin),
      "custom-reader retrain drifted from the default-shape retrain")
    assert(IvfReindex.serve(spark, dir, art).count() > 0)
    graft.CachedFrames.releaseAll()
  }

  test("S44 compressed inserts: frozen codebooks route new vectors " +
    "into the deployed codes table — existing code files untouched, " +
    "add-* files manifest-registered, inserted vectors " +
    "candidate-visible, gate ≡ the spec's own deployment") {
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-ins-spec").toString
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
      .localCheckpoint(false)
    SimQueries.ivfPqIndexWriteOn(
      e.filter(col("vec_id") % SimQueries.InsertMod =!=
        SimQueries.InsertRem), art)
    graft.CachedFrames.releaseAll()
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    val before = graft.streaming.SnapshotManifest
      .read(fs, art, "codes").get.files.get
    val servedBefore = SimQueries.ivfPqServeArtifact(spark, dir, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    SimQueries.ivfPqInsert(spark, art,
      e.filter(col("vec_id") % SimQueries.InsertMod ===
        SimQueries.InsertRem).select(col("vec_id"), col("vn")))
    val after = graft.streaming.SnapshotManifest
      .read(fs, art, "codes").get.files.get
    assert(before.subsetOf(after),
      "insert rewrote or dropped existing code files")
    val added = after -- before
    assert(added.nonEmpty &&
      added.forall(_.matches("cluster=\\d+/add-.*\\.parquet")),
      s"unexpected insert file names: $added")
    val servedAfter = SimQueries.ivfPqServeArtifact(spark, dir, art)
      .collect()
    graft.CachedFrames.releaseAll()
    assert(servedAfter.map(_.toSeq).toSeq !== servedBefore,
      "a third of the corpus inserted and no served answer moved")
    assert(servedAfter.exists(_.getLong(1) % SimQueries.InsertMod ===
      SimQueries.InsertRem),
      "no inserted vector ever surfaced as a neighbor")
    // the gate's cached deployment reproduces this exact serving
    val gate = SimQueries.knnIvfPqInsert(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(gate === servedAfter.map(_.toSeq).toSeq,
      "gate deployment drifted from the spec's own insert flow")
  }

  test("S45 residual-encoded deployed artifact: serve-from-artifact " +
    "equals the in-memory by_residual twin bit-for-bit, and the " +
    "encoding-agnostic tombstone/compaction machinery applies " +
    "unchanged") {
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-ivfpqres-spec").toString
    SimQueries.ivfPqResIndexWrite(spark, dir, art)
    graft.CachedFrames.releaseAll()
    val served = SimQueries.ivfPqResServeArtifact(spark, dir, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val twin = SimQueries.knnIvfPqResidual(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served === twin,
      "residual artifact serving drifted from the in-memory twin")
    // deletes + compaction ride the same machinery (codes payload is
    // encoding-agnostic)
    import spark.implicits._
    val delIds = spark.read.parquet(s"$art/codes")
      .filter(col("vec_id") % 7 === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    SimQueries.ivfDelete(spark, art, delIds.toDF("vec_id"))
    val afterDelete = SimQueries.ivfPqResServeArtifact(spark, dir, art)
      .collect()
    graft.CachedFrames.releaseAll()
    assert(afterDelete.nonEmpty &&
      afterDelete.forall(_.getLong(1) % 7 != 3))
    SimQueries.ivfPqCompact(spark, art)
    spark.catalog.refreshByPath(s"$art/codes")
    assert(SimQueries.ivfPqResServeArtifact(spark, dir, art)
      .collect().map(_.toSeq).toSeq ===
      afterDelete.map(_.toSeq).toSeq,
      "compaction changed residual serving")
    graft.CachedFrames.releaseAll()
  }

  test("S46 compressed generation refresh: crash-before-swap leaves " +
    "gen-0 serving untouched, the retry swaps atomically to a " +
    "full-corpus build, generations retire on the grace schedule, " +
    "the CLI routes the verb by kind, and a label-less reader is " +
    "refused") {
    import org.apache.spark.sql.functions._
    val art = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-refresh-spec").toString
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn",
        graft.functions.VectorFunctions.normalize(col("v")))
      .localCheckpoint(false)
    IvfPqReindex.deployOn(
      e.filter(col("vec_id") % SimQueries.InsertMod =!=
        SimQueries.InsertRem), art)
    graft.CachedFrames.releaseAll()
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    assert(IvfReindex.currentGen(fs, art) === Some("gen-0"))
    val before = IvfPqReindex.serve(spark, dir, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    // crash between build and swap: serving stays on gen-0 entirely
    intercept[RuntimeException](IvfPqReindex.refresh(spark, art, e,
      onPoint = p => if (p == "built") throw new RuntimeException("kill")))
    assert(IvfReindex.currentGen(fs, art) === Some("gen-0"),
      "a crashed refresh moved the pointer")
    spark.catalog.clearCache()
    assert(IvfPqReindex.serve(spark, dir, art)
      .collect().map(_.toSeq).toSeq === before,
      "a crashed refresh changed serving")
    graft.CachedFrames.releaseAll()
    // retry completes; the refreshed deployment IS a full-corpus
    // build — bit-identical to the S43 gate's fresh artifact
    assert(IvfPqReindex.refresh(spark, art, e) === "gen-1")
    graft.CachedFrames.releaseAll()
    val after = IvfPqReindex.serve(spark, dir, art)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(after !== before,
      "a third of the corpus arrived and the refresh changed nothing")
    val fullTwin = SimQueries.knnIvfPqArtifact(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(after === fullTwin,
      "the refreshed generation is not a full-corpus build")
    // grace: a second refresh retires gen-0, keeps gen-1
    assert(IvfPqReindex.refresh(spark, art, e) === "gen-2")
    graft.CachedFrames.releaseAll()
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$art/gen-0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$art/gen-1")))
    // the CLI routes retrain → refresh on a compressed deployment —
    // and CHAINS the S48 retune against the swapped-in generation
    // (round 14, r13 verdict item 5): the refreshed books' recall
    // curve is non-monotone in nprobe, so the re-chosen knob must
    // land in the verb's own output, not stay a separate manual step
    val cliOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cliOut, true, "UTF-8")) {
      AnnCli.run(spark, Array("retrain", art, dir))
    }
    graft.CachedFrames.releaseAll()
    val cliText = cliOut.toString("UTF-8")
    assert(cliText.contains("Post-refresh tune on gen-3: nprobe="),
      cliText)
    assert(cliText.contains("recall_micro="), cliText)
    assert(IvfReindex.currentGen(fs, art) === Some("gen-3"))
    assert(IvfPqReindex.serve(spark, dir, art).count() > 0)
    graft.CachedFrames.releaseAll()
    // a reader that cannot supply labels is refused loudly
    val noLabel = new CorpusReader {
      def vectors(s: org.apache.spark.sql.SparkSession,
                  corpus: String): org.apache.spark.sql.DataFrame =
        graft.Tables.embeddings(s, corpus)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("vn",
            graft.functions.VectorFunctions.normalize(col("v")))
    }
    val ex = intercept[IllegalArgumentException](
      AnnCli.run(spark, Array("retrain", art, dir), noLabel))
    assert(ex.getMessage.contains("label"))
  }

  test("S43 zero-LIST serving: the deployed IVFPQ artifact is " +
    "listing-held at birth — a serve does NO directory enumeration " +
    "under the codes table") {
    import org.apache.spark.sql.functions._
    spark.sparkContext.hadoopConfiguration.set("fs.counting.impl",
      classOf[graft.vcr.CountingFileSystem].getName)
    val base = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-count").toString
    val art = s"counting://$base"
    SimQueries.ivfPqIndexWrite(spark, dir, art)
    graft.CachedFrames.releaseAll()
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    val m0 = graft.streaming.SnapshotManifest.read(fs, art, "codes").get
    assert(m0.held, "the IVFPQ builder did not flip codes to held mode")
    assert(m0.files.get.nonEmpty)
    spark.catalog.refreshByPath(s"$art/codes")
    graft.vcr.CountingFileSystem.reset()
    val served = SimQueries.ivfPqServeArtifact(spark, dir, art).collect()
    graft.CachedFrames.releaseAll()
    assert(served.nonEmpty)
    import scala.jdk.CollectionConverters._
    val scans = graft.vcr.CountingFileSystem.listedDirs.asScala.toSeq
      .filter(p => p.startsWith(s"$base/codes") &&
        !p.contains("_manifest"))
    assert(scans === Seq.empty,
      s"the compressed serve enumerated the codes dir: $scans")
    graft.vcr.CountingFileSystem.reset()
  }

  test("S38 drift monitor on a degenerate deployment (no scoreable " +
    "base edges) fails with a clean error naming the artifact, not " +
    "an NPE") {
    val art = java.nio.file.Files
      .createTempDirectory("graft-drift-empty").toString
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$art/members"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$art/edges"))
    val ex = intercept[IllegalArgumentException](
      SimQueries.graphDriftOn(spark, art).collect())
    assert(ex.getMessage.contains(art))
  }

  test("S22b deployed tuner: recall is monotone in probe depth on the " +
    "production serving core, and chosen is the 90%-of-best elbow") {
    val t = SimQueries.ivfTuneDeployed(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(4), r.getBoolean(5)))
      .sortBy(_._1)
    graft.CachedFrames.releaseAll()
    assert(t.map(_._1).toSeq === SimQueries.TuneProbes)
    // deeper probes only add candidate lists — recall cannot drop
    t.sliding(2).foreach { case Array((p1, r1, _), (p2, r2, _)) =>
      assert(r2 >= r1, s"recall dropped from nprobe=$p1 to $p2")
    }
    val maxR = t.map(_._2).max
    val expected = t.filter(x => x._2 * 10 >= maxR * 9).map(_._1).min
    assert(t.count(_._3) === 1)
    assert(t.find(_._3).get._1 === expected,
      "chosen is not the smallest rung within 90% of the best recall")
  }

  test("S38 graph drift monitor: an insert-churned deployment " +
    "recommends refinement with an exact-integer gain, the decision " +
    "is deterministic, and refinement is monotone (gain never " +
    "negative) even on a fresh build") {
    val d1 = SimQueries.knnGraphDrift(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(d1.length === 1)
    val r1 = d1.head
    assert(r1.getAs[Boolean]("refine"),
      "insert churn must recommend refinement")
    assert(r1.getAs[Long]("gain_micro") > 0L)
    assert(r1.getAs[Long]("obj_refined_micro") ===
      r1.getAs[Long]("obj_deployed_micro") + r1.getAs[Long]("gain_micro"))
    val d2 = SimQueries.knnGraphDrift(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(d1.map(_.toSeq).toSeq === d2.map(_.toSeq).toSeq,
      "the drift decision is not deterministic")
    // monotone on a fresh (near-fixpoint) build: the superset argument
    // makes a negative gain impossible
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-drift-fresh").toString
    SimQueries.hnswIndexWrite(spark, dir, fresh)
    graft.CachedFrames.releaseAll()
    val f = SimQueries.graphDriftOn(spark, fresh).head()
    graft.CachedFrames.releaseAll()
    assert(f.getAs[Long]("gain_micro") >= 0L,
      "refinement lowered the per-node best — impossible by superset")
    // both cover the full corpus (train 2/3 + inserted 1/3 = fresh)
    assert(f.getAs[Long]("n_nodes") === r1.getAs[Long]("n_nodes"))
  }

  test("graph ANN: deterministic run to run; recall@5 beats the IVF " +
    "probe-1 baseline (beam search escapes the query's own list)") {
    val a = SimQueries.knnGraph(spark, dir).collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val b = SimQueries.knnGraph(spark, dir).collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(a === b, "beam search is not deterministic")
    def recall5(rows: Seq[Seq[Any]]): Double = {
      val got = rows.map(r => (r.head.asInstanceOf[Long],
        r(1).asInstanceOf[Long])).toSet
      val truth = topn(brute, 5)
      (got intersect truth).size.toDouble / truth.size
    }
    val graphRecall = recall5(a)
    val ivfRecall = {
      val got = topn(SimQueries.knnIvf(spark, dir), 5)
      (got intersect topn(brute, 5)).size.toDouble / topn(brute, 5).size
    }
    assert(graphRecall >= ivfRecall,
      s"graph recall $graphRecall < ivf probe-1 recall $ivfRecall")
    assert(graphRecall > 0.5, s"graph recall $graphRecall too low")
  }

  test("multi-probe residual IVF-PQ: probe-1 degenerates to " +
    "knn_ivfpq_res; probe-3 per-rank ADC dominates") {
    // probe-1's single probed list is the query's own cluster, and its
    // per-list residual LUT is then exactly S7's own-cluster LUT
    val p1 = SimQueries.knnIvfPqResidualProbe(spark, dir, nprobe = 1)
    val base = SimQueries.knnIvfPqResidual(spark, dir)
    assert(p1.collect().map(_.toSeq).toSeq ===
      base.collect().map(_.toSeq).toSeq)
    // widening to 3 lists (each scored against its own centroid's LUT)
    // can only find equal-or-closer candidates at every rank
    def byRank(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        ((r.getLong(0), r.getInt(4)), r.getDouble(3))).toMap
    val a1 = byRank(p1)
    val a3 = byRank(SimQueries.knnIvfPqResidualProbe(spark, dir))
    a1.foreach { case (key, adc1) =>
      assert(a3(key) <= adc1, s"$key: probe-3 adc ${a3(key)} > probe-1 $adc1")
    }
  }

  test("cold in-memory IVF-PQ gates served through the deployed closure " +
    "run no more Spark jobs than their standalone pipelines did") {
    // the standalone pipelines ran 21 (knn_ivfpq) and 22
    // (knn_ivfpq_res_probe) jobs cold on this corpus
    val gates = Seq(
      ("knn_ivfpq", 21, () => SimQueries.knnIvfPq(spark, dir)),
      ("knn_ivfpq_res_probe", 22,
        () => SimQueries.knnIvfPqResidualProbe(spark, dir)))
    for ((gate, bound, run) <- gates) {
      graft.CachedFrames.releaseAll()
      val (rows, jobs) = SharedSpark.jobsOf(run().collect())
      assert(rows.length === SimQueries.NumQueries * SimQueries.TopK)
      assert(jobs.size <= bound, s"$gate: ${jobs.size} jobs: $jobs")
    }
    graft.CachedFrames.releaseAll()
  }

  test("OPQ: the trained permutation is orthogonal (a bijection of " +
    "dims) and beats the naive split on planted anisotropy") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
    // a permutation matrix is orthogonal: applying it preserves norms
    // exactly; assert it's a bijection of 1..64
    val perm = SimQueries.opqPermutation(
      (1 to 64).map(i => (i, 64.0 - i))) // synthetic variances, distinct
    assert(perm.sorted === (1 to 64))
    // planted anisotropy: a geometric per-dim variance ramp (descending)
    // puts every high-variance dim in the naive split's FIRST subspace;
    // OPQ's variance-balancing allocation must strictly cut the PQ
    // reconstruction error (measured ~4.5% on this corpus at both
    // sf0.001 and sf0.01) — the planted-pathology pattern DedupSpec
    // uses for the hot-shingle cap
    val ramp = (0 until 64).map(i => 4.0 * math.pow(0.92, i))
    val planted = e.withColumn("v", expr(
      s"transform(v, (x, i) -> x * element_at(array(${ramp.mkString(",")}), i + 1))"))
    def errSum(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum(col("err"))).collect().head.getDouble(0)
    val naive = errSum(SimQueries.opqPqOn(planted, (1 to 64)))
    val varsP = planted.select(explode(expr(
        "transform(sequence(1, size(v)), i -> struct(i, element_at(v, i)))"))
        .as("x"))
      .select(col("x.i").as("i"), col("x.col2").as("xi"))
      .groupBy(col("i")).agg(round(var_pop(col("xi")), 6).as("vr"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
    val opq = errSum(SimQueries.opqPqOn(planted,
      SimQueries.opqPermutation(varsP)))
    assert(opq < naive,
      s"OPQ err $opq not strictly below naive split $naive")
    assert(opq < naive * 0.99,
      s"OPQ err $opq within noise of naive $naive — allocation not paying")
    graft.CachedFrames.releaseAll()
  }

  test("dense OPQ rotation: orthogonal (norms preserved), and on " +
    "planted OFF-AXIS anisotropy it beats the permutation where the " +
    "permutation provably cannot act") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
    // planted: one dominant DIAGONAL direction (unit mass on all 64
    // dims — maximally cross-subspace) whose coefficient is 4-modal
    // and label-independent: v' = v + (mode - 1.5) * ones (mode from a
    // Knuth-hash of vec_id, spacing 8 along ones/8). Per-dim variances
    // rise UNIFORMLY, so variance-ranked allocation (S11) sees nothing
    // to reorder — the regime where only a dense rotation can help.
    val planted = e.withColumn("v", expr(
      "transform(v, x -> x + cast((vec_id * 2654435761) % 4 as double)" +
        " - 1.5)"))
    def errSum(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum(col("err"))).collect().head.getDouble(0)
    val iters = 5
    val naive = errSum(SimQueries.opqPqOnTrained(planted, 1 to 64, iters))
    graft.CachedFrames.releaseAll()
    val varsP = planted.select(explode(expr(
        "transform(sequence(1, size(v)), i -> struct(i, element_at(v, i)))"))
        .as("x"))
      .select(col("x.i").as("i"), col("x.col2").as("xi"))
      .groupBy(col("i")).agg(round(var_pop(col("xi")), 6).as("vr"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
    val perm = errSum(SimQueries.opqPqOnTrained(planted,
      SimQueries.opqPermutation(varsP), iters))
    graft.CachedFrames.releaseAll()
    // the learned rotation: integer power iteration + Householder
    val u = SimQueries.powerIterate(SimQueries.covMicro(planted))
    val rot = SimQueries.rotated(planted, u)
    // orthogonality: a reflection preserves norms (6dp coordinate
    // rounding is the only slack)
    val normDrift = planted.select(col("vec_id"),
        expr("aggregate(v, 0D, (a, x) -> a + x * x)").as("n2"))
      .join(rot.select(col("vec_id"),
        expr("aggregate(v, 0D, (a, x) -> a + x * x)").as("r2")), Seq("vec_id"))
      .agg(max(abs(col("n2") - col("r2")) / col("n2"))).collect()
      .head.getDouble(0)
    assert(normDrift < 1e-4, s"reflection drifted norms by $normDrift")
    val varsR = rot.select(explode(expr(
        "transform(sequence(1, size(v)), i -> struct(i, element_at(v, i)))"))
        .as("x"))
      .select(col("x.i").as("i"), col("x.col2").as("xi"))
      .groupBy(col("i")).agg(round(var_pop(col("xi")), 6).as("vr"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
    val dense = errSum(SimQueries.opqPqOnTrained(rot,
      SimQueries.opqPermutation(varsR), iters))
    graft.CachedFrames.releaseAll()
    // the permutation can't see off-axis structure: within 1% of naive
    assert(math.abs(perm - naive) < 0.01 * naive,
      s"perm $perm not ~ naive $naive on uniform per-dim variances")
    // the dense rotation concentrates the planted direction: a real win
    assert(dense < perm * 0.98,
      s"dense-rotation err $dense not below perm $perm by >2%")
  }

  test("deflated rotation: round 1 alone IS the S14 rotation " +
    "bit-for-bit, and a second round pays on a second planted mode") {
    import org.apache.spark.sql.functions._
    // round-1 parity on the real corpus: deflation with R=1 reduces to
    // the single-shot S14 pipeline exactly (same covariance, same
    // power iteration, off=0 reflection == rotated)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
    val one = SimQueries.deflatedVecs(e, 1)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val s14 = SimQueries.rotated(e,
        SimQueries.powerIterate(SimQueries.covMicro(e)))
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(one === s14, "one deflation round diverged from S14")
    graft.CachedFrames.releaseAll()

    // two planted ORTHOGONAL off-axis modes: ones/8 (4-level) and the
    // alternating ±1/8 direction (3-level, independent hash). Per-dim
    // variances again rise uniformly (each direction hits every dim
    // with equal mass), so only dense rotations can act; round 1
    // deflates the dominant mode, round 2 must find the second one.
    val planted = e.withColumn("v", expr(
      "transform(v, (x, i) -> x" +
        " + (cast((vec_id * 2654435761) % 4 as double) - 1.5)" +
        " + (case when i % 2 = 0 then 2.0 else -2.0 end)" +
        "   * (cast((vec_id * 40507) % 3 as double) - 1.0))"))
    def errSum(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum(col("err"))).collect().head.getDouble(0)
    def vars(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(expr(
          "transform(sequence(1, size(v)), i -> struct(i, element_at(v, i)))"))
          .as("x"))
        .select(col("x.i").as("i"), col("x.col2").as("xi"))
        .groupBy(col("i")).agg(round(var_pop(col("xi")), 6).as("vr"))
        .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
    val iters = 5
    val r1 = SimQueries.deflatedVecs(planted, 1).localCheckpoint(false)
    val err1 = errSum(SimQueries.opqPqOnTrained(r1,
      SimQueries.opqPermutation(vars(r1)), iters))
    graft.CachedFrames.releaseAll()
    val r2 = SimQueries.deflatedVecs(planted, 2).localCheckpoint(false)
    val err2 = errSum(SimQueries.opqPqOnTrained(r2,
      SimQueries.opqPermutation(vars(r2)), iters))
    graft.CachedFrames.releaseAll()
    assert(err2 < err1 * 0.99,
      s"second deflation round did not pay: $err2 vs $err1")
  }

  test("IVF tuning curve: recall is monotone in nprobe, the ladder is " +
    "complete, and chosen is the 90%-of-best elbow") {
    val rows = SimQueries.ivfTune(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(rows.map(_.getInt(0)).toSeq === SimQueries.TuneProbes)
    // a larger probe set is a candidate superset: any truth member
    // displaced from the top-k is displaced by a closer vector, which
    // is itself truth — so recall can only rise with nprobe
    val recalls = rows.map(_.getLong(4))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in nprobe: ${recalls.toSeq}")
    val chosen = rows.filter(_.getBoolean(5))
    assert(chosen.length === 1)
    val maxR = recalls.max
    val wantChosen = rows.filter(_.getLong(4) * 10 >= maxR * 9)
      .map(_.getInt(0)).min
    assert(chosen.head.getInt(0) === wantChosen)
    // hits never exceed truth, pairs = |Q|·k per rung
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3))
      assert(r.getLong(1) === SimQueries.NumQueries.toLong * SimQueries.TopK)
    }
  }

  test("filtered ANN: tenant predicate holds on every result, recall " +
    "tracks the filtered-brute truth, and the filter provably bites") {
    import org.apache.spark.sql.functions._
    val rows = SimQueries.knnFiltered(spark, dir).collect()
    // the predicate is a hard constraint, never best-effort
    rows.foreach { r =>
      assert(r.getLong(1) % SimQueries.FilterTenants ===
        r.getLong(0) % SimQueries.FilterTenants,
        s"q ${r.getLong(0)} returned cross-tenant neighbor ${r.getLong(1)}")
      assert(r.getLong(1) % SimQueries.FilterTenants === r.getLong(2))
    }
    // filtered-brute truth: exact within-tenant top-k
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("vn", expr(
        "transform(v, x -> x / sqrt(aggregate(zip_with(v, v, " +
          "(a, b) -> a * b), 0D, (acc, y) -> acc + y)))"))
    val q = e.filter(col("vec_id") < SimQueries.NumQueries)
      .select(col("vec_id").as("q_id"), col("vn").as("qvn"))
    val truth = q.join(e, col("vec_id") =!= col("q_id") &&
        col("vec_id") % SimQueries.FilterTenants ===
          col("q_id") % SimQueries.FilterTenants)
      .withColumn("cos", round(expr(
        "aggregate(zip_with(qvn, vn, (a, b) -> a * b), 0D, " +
          "(acc, x) -> acc + x)"), 6))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= SimQueries.TopK)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.5,
      s"filtered multi-probe recall $recall below the S-family floor")
    // the filter bites: some query's filtered top-1 differs from the
    // unfiltered IVF top-1 (otherwise the predicate was vacuous here)
    val unf = SimQueries.knnIvfProbe(spark, dir).collect()
      .filter(_.getInt(4) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fil = rows.filter(_.getInt(4) == 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fil.exists { case (q2, n) => unf.get(q2).exists(_ != n) },
      "every filtered top-1 equals the unfiltered one — predicate vacuous")
  }

  test("coupled OPQ: gate emits the full candidate ladder, chosen is " +
    "the (err, depth) argmin, and the decision is deterministic") {
    val a = SimQueries.opqRotateCoupled(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val b = SimQueries.opqRotateCoupled(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq,
      "coupled ladder not run-to-run deterministic")
    assert(a.map(_.getInt(0)).toSeq === (0 to SimQueries.DeflateRounds),
      "ladder must cover every deflation prefix exactly once")
    val chosen = a.filter(_.getBoolean(2))
    assert(chosen.length === 1, "exactly one candidate must be chosen")
    val best = a.minBy(r => (r.getLong(1), r.getInt(0)))
    assert(chosen.head.getInt(0) === best.getInt(0),
      s"chosen depth ${chosen.head.getInt(0)} is not the argmin " +
        s"${best.getInt(0)}")
  }

  test("coupled OPQ: on planted off-axis anisotropy the coupling picks " +
    "a rotation — trained assignment error, not variance, decides") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
    // the S14 spec corpus: a label-independent 4-modal coefficient on
    // the all-ones diagonal — per-dim variances rise uniformly, so a
    // variance-only criterion is blind; only the trained error of the
    // rotated-space codebooks can tell the candidates apart
    val planted = e.withColumn("v", expr(
      "transform(v, x -> x + cast((vec_id * 2654435761) % 4 as double)" +
        " - 1.5)"))
    val ladder = SimQueries.coupledLadder(planted, SimQueries.DeflateRounds)
    graft.CachedFrames.releaseAll()
    val t = ladder.toMap
    assert(t(1) < t(0),
      s"depth-1 trained error ${t(1)} not below identity ${t(0)} on the " +
        "planted mode — the rotation isn't paying under trained books")
    val winner = ladder.minBy { case (d, v) => (v.toLong, d) }._1
    assert(winner >= 1,
      s"coupling chose the identity (depth $winner) despite a planted " +
        "off-axis mode")
  }

  test("SQ8: codes are 8-bit, reconstruction error beats PQ by orders") {
    val rows = SimQueries.sq8Quantize(spark, dir).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val codes = r.getString(1).split("-").map(_.toLong)
      assert(codes.length === 64)
      assert(codes.forall(c => c >= 0L && c <= 255L))
      assert(r.getDouble(2) >= 0.0)
    }
    // 8 bits per DIMENSION (SQ8) vs 2 codes per VECTOR (PQ): mean
    // squared reconstruction error must be far smaller
    val sq8Err = rows.map(_.getDouble(2)).sum / rows.length
    val pqErr = SimQueries.pqQuantize(spark, dir).collect()
      .map(_.getDouble(3)).sum / 500
    assert(sq8Err < pqErr / 100.0,
      s"sq8 mean err $sq8Err not << pq mean err $pqErr")
  }

  test("PQ: codes in range; per-subspace split dominates one full codebook") {
    import org.apache.spark.sql.functions._
    val rows = SimQueries.pqQuantize(spark, dir).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 9)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 9)
      assert(r.getDouble(3) >= 0.0)
    }
    // independent per-subspace argmins can only beat (or tie) assigning
    // the WHOLE vector to one label-mean centroid: min_a d0(a) +
    // min_b d1(b) <= d0(c) + d1(c) for every single c
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
    val full = KMeans.collectCodebook(KMeans.meanByKey(
      e.select(col("label").cast("long").as("code"), col("v")), "code")).toMap
    val vecs = e.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toVector)).toMap
    def d2(x: Seq[Double], c: Seq[Double]): Double =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    val pqErr = rows.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    vecs.foreach { case (id, v) =>
      val bestFull = full.values.map(c => d2(v, c)).min
      assert(pqErr(id) <= bestFull + 1e-3,
        s"vec $id: pq ${pqErr(id)} > full $bestFull")
    }
  }

  test("HNSW graph ANN: deterministic; recall@5 >= the flat S12 graph " +
    "with strictly fewer base-layer expansion rounds; layers nest") {
    import org.apache.spark.sql.functions._
    val a = SimQueries.knnGraphHnsw(spark, dir).collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val b = SimQueries.knnGraphHnsw(spark, dir).collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(a === b, "hnsw search is not deterministic")
    def recall5(rows: Seq[Seq[Any]]): Double = {
      val got = rows.map(r => (r.head.asInstanceOf[Long],
        r(1).asInstanceOf[Long])).toSet
      val truth = topn(brute, 5)
      (got intersect truth).size.toDouble / truth.size
    }
    val flat = SimQueries.knnGraph(spark, dir).collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val (hr, fr) = (recall5(a), recall5(flat))
    assert(hr >= fr, s"hnsw recall $hr < flat recall $fr")
    // the layered descent must BUY something: fewer full-graph rounds
    assert(SimQueries.HnswBaseRounds < SimQueries.GraphRounds)
    // levels are md5-deterministic and nested: |L2| < |L1| < n, and
    // upper layers are sampled subsets, not empty or everything
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("vn", graft.functions.VectorFunctions.normalize(col("v")))
    val lv = SimQueries.hnswLevels(e)
    val n = lv.count()
    val n1 = lv.filter(col("lvl") >= 1).count()
    val n2 = lv.filter(col("lvl") >= 2).count()
    graft.CachedFrames.releaseAll()
    assert(n2 > 0 && n2 < n1 && n1 < n, s"layer sizes $n/$n1/$n2")
  }

  test("graph build: refinement rescoring never broadcasts the vector " +
    "table (the one O(corpus) frame — must shuffle-join on id)") {
    import org.apache.spark.sql.functions._
    // with the threshold disabled, any BroadcastExchange left in the
    // plan could only come from a hint — the exact regression this
    // guards against. (The beam-search FRONTIER broadcast is a
    // different, kilobyte-sized frame and lives in the serving plan.)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("vn",
          graft.functions.VectorFunctions.normalize(col("v")))
      val vecById = e.select(col("vec_id").as("cand"),
        col("vn").as("cvn"))
      val seed = e.select(col("vec_id").as("src"),
        ((col("vec_id") + 17) % lit(100)).as("dst"))
      val p = SimQueries.refineEdges(seed, vecById)
        .queryExecution.executedPlan.toString()
      assert(!p.contains("BroadcastExchange"), p)
      assert(!p.contains("BroadcastHashJoin"), p)
    }
  }

  test("IVF-PQ refine cascade: candidates stay in the query's list, " +
    "exact cosines agree with brute, recall never drops below raw IVF-PQ") {
    val refined = SimQueries.knnIvfPqRefine(spark, dir).collect()
    assert(refined.length === SimQueries.NumQueries * SimQueries.TopK)
    // coarse prune is inherited unchanged: one inverted list per query
    val qCluster = SimQueries.knnIvf(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    refined.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getInt(2)).toSet === Set(qCluster(q)),
        s"q=$q refine candidates left the query's inverted list")
    }
    // the refine stage rescoring is the true cosine
    val bruteCos = brute.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    refined.foreach { r =>
      bruteCos.get((r.getLong(0), r.getLong(1)))
        .foreach(want => assert(r.getDouble(4) === want))
    }
    // same dominance argument as the flat refine, vs the IVF-PQ stage
    val truth = topn(brute, SimQueries.TopK)
    val ivfpqHits =
      topn(SimQueries.knnIvfPq(spark, dir), SimQueries.TopK) intersect truth
    val refineHits =
      refined.map(r => (r.getLong(0), r.getLong(1))).toSet intersect truth
    assert(refineHits.size >= ivfpqHits.size,
      s"cascade recall ${refineHits.size} < ivfpq recall ${ivfpqHits.size}")
  }

  test("PQ refine: exact rescore of the ADC shortlist — recall@5 " +
    "dominates raw ADC, and survivor cosines equal brute force") {
    val refined = SimQueries.knnPqRefine(spark, dir).collect()
    assert(refined.length === SimQueries.NumQueries * SimQueries.TopK)
    // recall dominance is a theorem here, not a tendency: the rerank
    // restricts brute force's total order (cos desc, neighbor) to the
    // shortlist, so every true top-k member the shortlist captures
    // keeps a final rank <= its global rank <= k. ADC's top-5 is a
    // subset of the shortlist, so ADC can never beat refine.
    val truth = topn(brute, SimQueries.TopK)
    val adcHits =
      topn(SimQueries.knnPqAdc(spark, dir), SimQueries.TopK) intersect truth
    val refineSet = refined.map(r => (r.getLong(0), r.getLong(1))).toSet
    val refineHits = refineSet intersect truth
    assert(refineHits.size >= adcHits.size,
      s"refine recall ${refineHits.size} < adc recall ${adcHits.size}")
    // the rescored cosine is the true cosine: wherever a survivor also
    // appears in the brute top-5, the values agree bit-for-bit
    val bruteCos = brute.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    refined.foreach { r =>
      bruteCos.get((r.getLong(0), r.getLong(1)))
        .foreach(want => assert(r.getDouble(3) === want))
    }
    // and the refine stage visibly repairs quantization error at this
    // codebook resolution (2x10 codes): strictly better than ADC alone
    assert(refineHits.size > adcHits.size,
      "refine did not improve recall over ADC at this resolution")
  }

  test("PQ training: one Lloyd alternation per subspace never raises " +
    "aggregate quantization error, and visibly lowers it here") {
    val out = SimQueries.pqTrain(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(out.length === 500)
    val seed = out.map(_.getDouble(3)).sum
    val trained = out.map(_.getDouble(4)).sum
    // assignment→update→re-assignment is non-increasing in exact
    // arithmetic; 6dp rounding adds at most 1e-6 per term
    assert(trained <= seed + 500 * 4e-6,
      s"Lloyd raised error: $seed -> $trained")
    assert(trained < seed * 0.999,
      s"training produced no measurable win: $seed -> $trained")
    // codes stay within the seeded code space
    val codes0 = out.map(_.getLong(1)).distinct
    val codes1 = out.map(_.getLong(2)).distinct
    assert(codes0.forall(c => c >= 0 && c < 10) && codes0.length > 1)
    assert(codes1.forall(c => c >= 0 && c < 10) && codes1.length > 1)
  }

  test("recall eval harness agrees with an independent per-method " +
    "recomputation and reports all methods") {
    val eval = SimQueries.knnRecallEval(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(eval.map(_.getString(0)).sorted.toSeq ===
      Seq("ivf", "ivfpq", "ivfpq_refine", "lsh", "pq_adc", "pq_refine"))
    val truth = topn(SimQueries.knnBrute(spark, dir), SimQueries.TopK)
    val byName = Map(
      "ivf" -> SimQueries.knnIvf(spark, dir),
      "lsh" -> SimQueries.knnLsh(spark, dir),
      "pq_adc" -> SimQueries.knnPqAdc(spark, dir),
      "ivfpq" -> SimQueries.knnIvfPq(spark, dir),
      "pq_refine" -> SimQueries.knnPqRefine(spark, dir),
      "ivfpq_refine" -> SimQueries.knnIvfPqRefine(spark, dir))
    val recall = eval.map(r => r.getString(0) -> r.getLong(2)).toMap
    eval.foreach { r =>
      val m = r.getString(0)
      val pairs = topn(byName(m), SimQueries.TopK)
      assert(r.getLong(1) === pairs.size.toLong, s"$m n_pairs")
      assert(r.getLong(2) === (pairs intersect truth).size.toLong,
        s"$m hits")
      assert(r.getLong(3) === truth.size.toLong)
      assert(r.getLong(4) ===
        r.getLong(2) * 1000000L / truth.size, s"$m recall_micro")
      assert(r.getLong(4) <= 1000000L)
    }
    // the bucket methods recall; the refine cascades repair their raw
    // ADC counterparts (the S16/S17 claim, here as measured numbers)
    assert(recall("ivf") > 0L && recall("lsh") > 0L)
    assert(recall("pq_refine") > recall("pq_adc"))
    assert(recall("ivfpq_refine") >= recall("ivfpq"))
    assert(recall("pq_refine") > 0L && recall("ivfpq_refine") > 0L)
    graft.CachedFrames.releaseAll()
  }

  // ---- round 13: deployed multi-probe / tuner / drift / OPQ ----

  test("S47 deployed multi-probe: artifact probe-p serving equals the " +
    "in-memory S6b/S7b twins bit-for-bit, and probe-1 degenerates to " +
    "the probe-less deployed closures") {
    def rows(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect().map(_.toSeq).toSeq
      graft.CachedFrames.releaseAll()
      r
    }
    assert(rows(SimQueries.knnIvfPqArtifactProbe(spark, dir)) ===
      rows(SimQueries.knnIvfPqProbe(spark, dir)),
      "deployed raw multi-probe drifted from the in-memory twin")
    assert(rows(SimQueries.knnIvfPqResArtifactProbe(spark, dir)) ===
      rows(SimQueries.knnIvfPqResidualProbe(spark, dir)),
      "deployed residual multi-probe drifted from the in-memory twin")
    assert(rows(SimQueries.knnIvfPqArtifactProbe(spark, dir, nprobe = 1))
      === rows(SimQueries.knnIvfPqArtifact(spark, dir)),
      "probe-1 did not degenerate to the probe-less raw closure")
    assert(
      rows(SimQueries.knnIvfPqResArtifactProbe(spark, dir, nprobe = 1))
        === rows(SimQueries.knnIvfPqResArtifact(spark, dir)),
      "probe-1 did not degenerate to the probe-less residual closure")
  }

  test("S48 deployed compressed tuner: every rung served, exactly one " +
    "chosen rung = the smallest within 90% of the best, counts " +
    "consistent — and the ladder EXPOSES the ADC-specific fact that " +
    "recall is NOT monotone in nprobe (wider candidate pools let the " +
    "quantized ranking displace true hits), which is exactly why the " +
    "compressed deployment needs its own tuner instead of the flat " +
    "S22b's monotone exact-cosine ladder") {
    val t = SimQueries.ivfPqTuneDeployed(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(t.map(_.getInt(0)).toSeq === SimQueries.TuneProbes)
    val chosen = t.filter(_.getBoolean(5))
    assert(chosen.length === 1)
    val best = t.map(_.getLong(4)).max
    assert(best > 0L, "no rung recalled anything")
    assert(chosen.head.getLong(4) * 10 >= best * 9)
    assert(t.filter(r => r.getLong(4) * 10 >= best * 9)
      .map(_.getInt(0)).min === chosen.head.getInt(0))
    t.foreach { r =>
      assert(r.getLong(3) ===
        SimQueries.NumQueries.toLong * SimQueries.TopK)
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(2) <= r.getLong(3))
    }
  }

  test("S49 drift contract: the monitor's promised err_refreshed_micro " +
    "IS the refresh's delivered objective (measured on the swapped-in " +
    "generation) — on a deployment with PROVABLE signal (books trained " +
    "with half the label space absent: rebuilt books can only add " +
    "codewords for the missing labels, so the argmin error strictly " +
    "drops) — and the gain zeroes after the refresh") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-drift-contract").toString
    val e = CorpusReader.default.vectors(spark, dir)
    IvfPqReindex.deployOn(e.filter(col("label") < 5), root)
    val before = SimQueries.ivfPqDriftOn(spark, s"$root/gen-0", dir)
      .head()
    graft.CachedFrames.releaseAll()
    assert(before.getBoolean(4),
      "missing-label books must lose to rebuilt full-label books")
    assert(before.getLong(2) > 0L)
    IvfPqReindex.refresh(spark, root, e)
    val after = SimQueries.ivfPqDriftOn(spark, s"$root/gen-1", dir)
      .head()
    graft.CachedFrames.releaseAll()
    // promise == delivery, to the integer (the S41/S42 discipline)
    assert(after.getLong(0) === before.getLong(1),
      s"refresh delivered ${after.getLong(0)} but the monitor " +
        s"promised ${before.getLong(1)}")
    assert(after.getLong(2) === 0L && !after.getBoolean(4),
      "a just-refreshed deployment must not recommend another refresh")
    // the GATE's scenario (2/3-subset books, full corpus current) is
    // the honest flip side: label-seeded means are corpus-robust —
    // dropping a third of the rows barely moves any label's mean, so
    // the micro-gain there is ≤ 0 and the verdict is DON'T refresh
    // (hash-pinned by the oracle). The monitor earns its keep in both
    // directions: it fires on real distortion and refuses to bless a
    // pointless rebuild.
    val gate = SimQueries.knnIvfPqDrift(spark, dir).head()
    graft.CachedFrames.releaseAll()
    assert(gate.getLong(2) <= 0L && !gate.getBoolean(4))
  }

  test("the _encoding marker: refresh refuses a residual generation " +
    "by name (no silent encoding swap), and AnnCli drift kind-routes " +
    "codes artifacts by encoding — S49 on raw, S49b on residual") {
    import org.apache.spark.sql.functions._
    // residual deployment under a _current pointer
    val root = java.nio.file.Files
      .createTempDirectory("graft-enc-marker").toString
    SimQueries.ivfPqResIndexWrite(spark, dir, s"$root/gen-0")
    graft.CachedFrames.releaseAll()
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, root)
    IvfReindex.swapPointer(fs, root, "gen-0")
    val e = CorpusReader.default.vectors(spark, dir)
    val ex = intercept[IllegalArgumentException](
      IvfPqReindex.refresh(spark, root, e))
    assert(ex.getMessage.contains("residual"),
      s"refusal must name the encoding: ${ex.getMessage}")
    // CLI drift on the residual artifact routes to the S49b monitor
    // (corpus still required, refused loudly without it)
    intercept[IllegalArgumentException](
      AnnCli.run(spark, Array("drift", s"$root/gen-0")))
    AnnCli.run(spark, Array("drift", s"$root/gen-0", dir))
    graft.CachedFrames.releaseAll()
    // ...and the S49 monitor on a raw one (needs the corpus)
    val raw = java.nio.file.Files
      .createTempDirectory("graft-enc-raw").toString
    SimQueries.ivfPqIndexWrite(spark, dir, raw)
    graft.CachedFrames.releaseAll()
    intercept[IllegalArgumentException](
      AnnCli.run(spark, Array("drift", raw)))
    AnnCli.run(spark, Array("drift", raw, dir))
    graft.CachedFrames.releaseAll()
  }

  test("S49b residual drift: on a STRONG-MODE corpus (tight label " +
    "clusters — where the residual geometry carries the label " +
    "structure), a missing-label residual deployment provably loses " +
    "to the full rebuild; the monitor's promise equals a fresh " +
    "residual build's measured distortion to the integer; and on the " +
    "noise-dominated gate corpus the verdict is honestly DON'T " +
    "(residual distortion washes the missing-label signal out — " +
    "measured, both engines agree)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 10 near-orthogonal modes, 20 tight members each: v = e_label
    // with a small deterministic per-(vector, dim) jitter — no RNG
    val rows = for (lbl <- 0 until 10; k <- 0 until 20) yield {
      val id = lbl * 20L + k
      val v = Array.tabulate(64)(i =>
        (if (i == lbl) 1.0 else 0.0) +
          0.02 * (((id * 31 + i * 7) % 11) - 5))
      (id, v.toSeq, lbl)
    }
    val planted = rows.toDF("vec_id", "v", "label")
      .withColumn("vn", graft.functions.VectorFunctions
        .normalize(col("v")))
      .localCheckpoint(false)
    val part = java.nio.file.Files
      .createTempDirectory("graft-resdrift-part").toString
    SimQueries.ivfPqResIndexWriteOn(planted.filter(col("label") < 5),
      part)
    graft.CachedFrames.releaseAll()
    val before = SimQueries.ivfPqResDriftFrom(spark, part, planted)
      .head()
    graft.CachedFrames.releaseAll()
    assert(before.getBoolean(4) && before.getLong(2) > 0L,
      s"missing-label residual books must lose on tight modes: $before")
    // promise == delivery: a fresh FULL residual build measures the
    // monitor's exact promised integer as its deployed distortion
    val full = java.nio.file.Files
      .createTempDirectory("graft-resdrift-full").toString
    SimQueries.ivfPqResIndexWriteOn(planted, full)
    graft.CachedFrames.releaseAll()
    val after = SimQueries.ivfPqResDriftFrom(spark, full, planted)
      .head()
    graft.CachedFrames.releaseAll()
    assert(after.getLong(0) === before.getLong(1),
      s"rebuild delivered ${after.getLong(0)} but the monitor " +
        s"promised ${before.getLong(1)}")
    assert(after.getLong(2) === 0L && !after.getBoolean(4))
    // the corpus-facing gate: the embeddings table is noise-dominated
    // (within-label residual norm² ≈ 1.2), so the same missing-label
    // scenario honestly reads DON'T refresh — the residual monitor
    // refusing a pointless rebuild is the S49 discipline, measured
    val gate = SimQueries.knnIvfPqResDrift(spark, dir).head()
    graft.CachedFrames.releaseAll()
    assert(!gate.getBoolean(4) && gate.getLong(2) <= 0L)
  }

  test("S50 deployed OPQ rotation: artifact serving equals the " +
    "in-memory S20-chosen twin bit-for-bit (queries rotated from the " +
    "PERSISTED rotation table), the artifact carries rotation + opq " +
    "marker, and refresh refuses the opq encoding") {
    import org.apache.spark.sql.functions._
    val served = SimQueries.knnOpqArtifact(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val twin = SimQueries.knnOpq(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    assert(served === twin,
      "OPQ artifact serving drifted from the in-memory twin")
    assert(served.nonEmpty)
    val art = SimQueries.opqArtifactOf(spark, dir)
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, art)
    assert(SimQueries.encodingOf(fs, art) === "opq")
    val rot = spark.read.parquet(s"$art/rotation").collect()
    assert(rot.exists(_.getAs[String]("kind") == "perm"),
      "rotation table must pin the permutation")
    // a refresh must never rebuild this artifact un-rotated
    val root = java.nio.file.Files
      .createTempDirectory("graft-opq-refresh").toString
    SimQueries.opqIndexWrite(spark, dir, s"$root/gen-0")
    graft.CachedFrames.releaseAll()
    IvfReindex.swapPointer(fs, root, "gen-0")
    val ex = intercept[IllegalArgumentException](
      IvfPqReindex.refresh(spark, root,
        CorpusReader.default.vectors(spark, dir)))
    assert(ex.getMessage.contains("opq"))
  }

  test("recall eval equals the standalone method pipelines (round-15: " +
    "the harness shares one trained state across its method panel)") {
    import org.apache.spark.sql.functions.col
    val eval = SimQueries.knnRecallEval(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    graft.CachedFrames.releaseAll()
    val truth = SimQueries.knnBrute(spark, dir)
      .select("q_id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CachedFrames.releaseAll()
    val standalone = Seq(
      ("ivf", SimQueries.knnIvf(spark, dir)),
      ("lsh", SimQueries.knnLsh(spark, dir)),
      ("pq_adc", SimQueries.knnPqAdc(spark, dir)),
      ("ivfpq", SimQueries.knnIvfPq(spark, dir)),
      ("pq_refine", SimQueries.knnPqRefine(spark, dir)),
      ("ivfpq_refine", SimQueries.knnIvfPqRefine(spark, dir)))
    standalone.foreach { case (m, df) =>
      val pairs = df.select(col("q_id"), col("neighbor")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      graft.CachedFrames.releaseAll()
      val (nPairs, hits) = eval(m)
      assert(nPairs === pairs.length.toLong,
        s"$m: shared-parts pair count diverged from the standalone gate")
      assert(hits === pairs.count(truth).toLong,
        s"$m: shared-parts hit count diverged from the standalone gate")
    }
  }
}

/** A local FS that REPORTS an object-store scheme — the E35 seam
  * spec's stand-in for s3a (paths map 1:1 onto local disk, so a
  * registered backend can actually exercise the lease machinery).
  */
class S3aShapedFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "s3a"
  override def getUri: java.net.URI = java.net.URI.create("s3a:///")
}

/** A local FS whose `_maintenance` create SUCCEEDS but whose owner
  * write then fails — the r13 ADVICE scenario: the half-born lock
  * must not survive the failed acquire.
  */
class WriteFailFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "wfail"
  override def getUri: java.net.URI = java.net.URI.create("wfail:///")

  private def poison(f: org.apache.hadoop.fs.Path,
      real: org.apache.hadoop.fs.FSDataOutputStream)
  : org.apache.hadoop.fs.FSDataOutputStream =
    if (f.getName == "_maintenance") {
      real.close() // the exclusive create itself DID succeed
      new org.apache.hadoop.fs.FSDataOutputStream(
        new java.io.OutputStream {
          override def write(b: Int): Unit =
            throw new java.io.IOException("injected owner-write failure")
        }, null)
    } else real

  override def create(f: org.apache.hadoop.fs.Path,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
  : org.apache.hadoop.fs.FSDataOutputStream =
    poison(f, super.create(f, overwrite, bufferSize, replication,
      blockSize, progress))

  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
  : org.apache.hadoop.fs.FSDataOutputStream =
    poison(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
}

/** A file-scheme FS whose `_maintenance` reads fail while the flag is
  * up — the E35b release-path read-glitch injection (stat and delete
  * stay healthy, so the mtime fallback can prove ownership).
  */
class GlitchyReadFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
  : org.apache.hadoop.fs.FSDataInputStream = {
    if (GlitchyReadFs.fail.get() && f.getName == "_maintenance")
      throw new java.io.IOException("injected read glitch")
    super.open(f, bufferSize)
  }
}

object GlitchyReadFs {
  val fail = new java.util.concurrent.atomic.AtomicBoolean(false)
}
