package graft.pipeline

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with SharedSpark {
  private val dir = "/root/testdata/sf0.01"

  test("data_split partitions every doc exactly once, ~80/10/10") {
    val rows = PipelineQueries.dataSplit(spark, dir).collect()
    val bySplit = rows.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(bySplit.values.sum === 500L)
    // md5 buckets: binomial(500, 0.8) — loose 3σ-ish bounds
    assert(bySplit("train") > 350 && bySplit("train") < 450)
    assert(bySplit.keySet === Set("train", "validation", "test"))
  }

  test("data_split is deterministic (same assignment on re-run)") {
    val a = PipelineQueries.dataSplit(spark, dir).collect().toSeq
    val b = PipelineQueries.dataSplit(spark, dir).collect().toSeq
    assert(a === b)
  }

  test("filter chain attributes first failed rule; keep = no rule fired") {
    val rows = PipelineQueries.textFilterChain(spark, dir).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val (toks, keep, reason) = (r.getInt(1), r.getBoolean(4), r.getString(5))
      assert(keep === (reason == "kept"))
      if (toks < 15) assert(reason === "too_short") // rule 1 wins
    }
    val reasons = rows.map(_.getString(5)).toSet
    assert(reasons.contains("kept"))
    assert((reasons - "kept").nonEmpty, "no rule fired at all — thresholds dead")
  }

  test("decontam flags only train docs and only above the threshold") {
    val rows = PipelineQueries.textDecontam(spark, dir).collect()
    assert(rows.nonEmpty, "no contamination found — planted overlap missed")
    rows.foreach { r =>
      assert(r.getLong(0) % 20 != 0L, "benchmark doc leaked into output")
      assert(r.getDouble(3) >= 0.2)
      assert(r.getLong(2) <= r.getLong(1)) // overlap ≤ own shingles
    }
  }

  test("data_pack: shards are contiguous, budget-bounded, and total-preserving") {
    val rows = PipelineQueries.dataPack(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 500)
    // shard ids are non-decreasing in doc order (packing is sequential)
    assert(rows.sliding(2).forall { case Array(a, b) => a._3 <= b._3; case _ => true })
    // exclusive prefix rule: doc starts a new shard only when the
    // running total crossed the budget boundary
    var cum = 0L
    rows.foreach { case (_, toks, shard) =>
      assert(shard === cum / 2000, s"cum=$cum toks=$toks")
      cum += toks
    }
  }

  test("data_mix keeps ~100% of even sources and ~25% of odd ones") {
    val rows = PipelineQueries.dataMix(spark, dir).collect()
    rows.foreach { r =>
      val (src, n, kept, rate) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))
      val even = src.drop(3).toInt % 2 == 0
      assert(rate === (if (even) 100 else 25))
      if (even) assert(kept === n, s"$src lost docs at rate 100")
      else assert(kept <= n && kept >= 0)
    }
    // aggregate odd-source keep ratio near 25% (binomial, loose bounds)
    val odd = rows.filter(_.getString(0).drop(3).toInt % 2 != 0)
    val (k, n) = (odd.map(_.getLong(2)).sum.toDouble, odd.map(_.getLong(1)).sum.toDouble)
    assert(k / n > 0.15 && k / n < 0.35, s"odd keep ratio ${k / n}")
  }

  test("data_epoch_value: planted duplication prices exactly by the " +
    "closed form — unique source at par, fully-doubled source at 75%, " +
    "and efficiency is monotone in duplication") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // srcA: 4 unique docs. srcB: 2 docs, each duplicated once (T=2U).
    // srcC: 1 doc repeated 4 times (T=4U, e=4).
    // srcD: every payload's keeper lives in srcA (pure cross-source
    // duplicate) — tokens_unique = 0, the division-guard case
    val docs = (
      (1 to 4).map(i => (s"srcA", 100L + i, s"alpha beta gamma $i")) ++
      Seq(("srcB", 201L, "delta epsilon"), ("srcB", 202L, "delta epsilon"),
        ("srcB", 203L, "zeta eta theta"), ("srcB", 204L, "zeta eta theta")) ++
      (1 to 4).map(i => ("srcC", 300L + i, "iota kappa")) ++
      (1 to 2).map(i => ("srcD", 400L + i, s"alpha beta gamma $i"))
    ).toDF("source", "doc_id", "text")
    val tdir = java.nio.file.Files
      .createTempDirectory("graft-epochs").toString
    docs.write.parquet(s"$tdir/documents.parquet")
    val out = PipelineQueries.dataEpochValue(spark, tdir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    graft.CachedFrames.releaseAll()
    // srcA: e=1, effective = U exactly, efficiency = 1.0
    val (ta, ua, ea, fa, pa) = out("srcA")
    assert(ta === ua && ea === 1L && fa === ua * 1000000L
      && pa === 1000000L)
    // srcB: T=2U, e=2 → effective = 1.5·U, efficiency = 750000 ppm
    val (tb, ub, eb, fb, pb) = out("srcB")
    assert(tb === 2 * ub && eb === 2L)
    assert(fb === (ub * 1.5 * 1e6).round)
    assert(pb === 750000L)
    // srcC: T=4U, e=4 → effective = U·(2 − 1/8) = 1.875·U,
    // efficiency = 468750 ppm — monotone: more duplication, less value
    val (tc, uc, ec, fc, pc) = out("srcC")
    assert(tc === 4 * uc && ec === 4L)
    assert(fc === (uc * 1.875 * 1e6).round)
    assert(pc === 468750L)
    assert(pa > pb && pb > pc)
    // srcD: fully cross-source-duplicated — the tokens_unique = 0 guard
    // must yield zeros, not NULL-poisoned epochs (least(NULL, 62) = 62)
    val (td, ud, ed, fd, pd) = out("srcD")
    assert(td > 0L && ud === 0L)
    assert(ed === 0L && fd === 0L && pd === 0L)
  }

  test("unigram LM: rare-word docs score higher NLL than common-word docs") {
    val rows = PipelineQueries.textUnigramLm(spark, dir).collect()
    assert(rows.length === 500)
    rows.foreach(r => assert(r.getLong(1) > 0L)) // -ln p > 0 always
    // sanity: scores vary across the corpus (not a constant)
    assert(rows.map(_.getLong(1)).distinct.length > 100)
  }

  test("PII scrub: every digit run redacted, rewrite verified by hash") {
    import org.apache.spark.sql.functions._
    val rows = PipelineQueries.piiScrub(spark, dir).collect()
    assert(rows.length === 10000)
    // the props payloads embed numbers; every row must flag >=1 run
    assert(rows.forall(_.getLong(2) >= 1L))
    assert(rows.forall(_.getLong(1) === 0L)) // no emails in this corpus
    // re-derive one redaction by hand and match the emitted md5
    val sample = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("props")).limit(5).collect()
    val got = rows.map(r => r.getLong(0) -> r.getString(3)).toMap
    sample.foreach { r =>
      val redacted = r.getString(1)
        .replaceAll(PipelineQueries.EmailRe, "<EMAIL>")
        .replaceAll(PipelineQueries.NumRe, "<NUM>")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(redacted.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(got(r.getLong(0)) === md5)
    }
  }

  test("decontam plan broadcasts the benchmark shingle set") {
    val plan = PipelineQueries.textDecontam(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark join not broadcast:\n$plan")
  }

  test("weighted sampling (A-ES): deterministic, k per source, and " +
    "length-biased — P(sampled) tracks n_chars") {
    import org.apache.spark.sql.functions._
    val a = PipelineQueries.weightedSample(spark, dir).collect()
    val b = PipelineQueries.weightedSample(spark, dir).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.length === 20 * PipelineQueries.WsK)
    assert(a.groupBy(_.getString(0)).forall(_._2.length ===
      PipelineQueries.WsK))
    // size-biased draw: the sampled mean length must sit measurably
    // above the corpus mean (measured ratio ~1.16 on this corpus)
    val sampledMean = a.map(_.getLong(3)).sum.toDouble / a.length
    val corpusMean = spark.read.parquet(s"$dir/documents.parquet")
      .agg(avg(col("n_chars"))).collect().head.getDouble(0)
    assert(sampledMean > corpusMean * 1.05,
      s"sampled mean $sampledMean not above corpus mean $corpusMean")
  }

  test("KMV sketch: estimates land within the k=64 error envelope, " +
    "and theta-sketch intersections track the exact overlaps") {
    import org.apache.spark.sql.functions._
    val rows = PipelineQueries.sketchKmv(spark, dir).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(3))
      assert(exact > PipelineQueries.KmvK,
        s"${r.getString(0)}: only $exact distinct — estimation unexercised")
      // KMV relative error ~1/sqrt(k-2) = 12.7% at k=64; 3.5 sigma
      assert(math.abs(est - exact).toDouble / exact < 0.45,
        s"${r.getString(0)}: est $est vs exact $exact")
    }
    // theta-sketch intersections vs the EXACT pairwise overlaps,
    // recomputed from the same distinct (source, h) base
    val sh = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(w)-2)," +
          " i -> concat_ws(' ', slice(w, i, 3)))")).as("sh"))
      .select(col("source"),
        graft.dedup.Shingling.h28(col("sh")).as("h"))
      .distinct()
    val exactInter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ov = PipelineQueries.sketchKmvOverlap(spark, dir).collect()
    assert(ov.length === 20 * 19 / 2)
    // per-pair expected matches at k=64 are Poisson(~3-6) — too noisy
    // for per-pair bands — so the accuracy statement is AGGREGATE:
    // over the substantially-overlapping pairs (exact > 100), the
    // summed intersection estimate tracks the summed exact overlap,
    // and the sketch detects most of them individually
    val big = ov.filter { r =>
      exactInter.getOrElse((r.getString(0), r.getString(1)), 0L) > 100L }
    assert(big.length >= 10, s"only ${big.length} substantial pairs")
    val exSum = big.map(r =>
      exactInter((r.getString(0), r.getString(1)))).sum.toDouble
    val estSum = big.map(_.getLong(5)).sum.toDouble
    assert(estSum > exSum * 0.4 && estSum < exSum * 2.5,
      s"aggregate est $estSum vs exact $exSum over ${big.length} pairs")
    val detected = big.count(_.getLong(2) > 0)
    assert(detected * 2 >= big.length,
      s"sketch detected only $detected of ${big.length} overlapping pairs")
    graft.CachedFrames.releaseAll()
  }

  test("DSIR selection ranks target-distribution lookalikes above " +
    "disjoint-vocabulary decoys, deterministically") {
    import spark.implicits._
    // target docs define a bigram vocabulary; lookalikes reuse it with
    // different word order (different bigrams, SAME hashed buckets for
    // the shared pairs); decoys use a disjoint vocabulary entirely
    val tgt = (1 to 5).map(i =>
      (100L + i, "alpha beta gamma delta alpha beta gamma", "t"))
    val like = (1 to 8).map(i =>
      (200L + i, "beta gamma delta alpha beta gamma delta", "raw"))
    val decoy = (1 to 8).map(i =>
      (300L + i, "zig zag quux corge zig zag quux", "raw"))
    val docs = (tgt ++ like ++ decoy).toDF("doc_id", "text", "source")
    val out = PipelineQueries.dsirOn(docs, "t").collect()
    graft.CachedFrames.releaseAll()
    assert(out.length === 21)
    val score = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val likeMin = (101L to 105L).map(score).min min
      (201L to 208L).map(score).min
    val decoyMax = (301L to 308L).map(score).max
    assert(likeMin > decoyMax,
      s"lookalike floor $likeMin did not beat decoy ceiling $decoyMax")
    // n_feats = bigram occurrences = words - 1
    out.foreach(r => assert(r.getLong(3) === 6L))
    // deterministic: a second run reproduces the selection exactly
    val again = PipelineQueries.dsirOn(docs, "t").collect()
    graft.CachedFrames.releaseAll()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("leakage-free split: no verified near-dup pair straddles a " +
    "split boundary, and the naive per-doc split would have") {
    val out = PipelineQueries.splitLeakageFree(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val split = out.map(r => r.getLong(0) -> r.getString(3)).toMap
    val edges = graft.dedup.DedupQueries.dedupJaccard(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(edges.nonEmpty)
    edges.foreach { e =>
      val (a, b) = (e.getLong(0), e.getLong(1))
      (split.get(a), split.get(b)) match {
        case (Some(sa), Some(sb)) =>
          assert(sa === sb, s"near-dup pair ($a,$b) straddles $sa/$sb")
        case other =>
          fail(s"near-dup pair ($a,$b) missing from the ledger: $other")
      }
    }
    // the ledger proves the fix was needed: some doc's naive split
    // differed from its cluster split
    assert(out.exists(_.getLong(4) == 1L),
      "no doc moved — the leakage scenario never arose in this corpus")
    // canonicals keep their own split (canonical splits by its own id)
    out.filter(r => r.getLong(0) == r.getLong(1))
      .foreach(r => assert(r.getString(2) === r.getString(3)))
  }

  test("P22: perplexity band filter — verdicts partition the held-out " +
    "docs around the corpus-mean NLL, exactly") {
    val rows = PipelineQueries.pplFilter(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    // one verdict per held-out scored doc (T15's grain)
    val t15 = graft.text.TextQueries.textPerplexityJm(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(rows.length === t15.length,
      "filter grain diverged from the T15 scorer")
    // recompute the band from the emitted scores: integer mean, then
    // every verdict must match the [mean/2, 3*mean/2] rule bit-for-bit
    val mean = rows.map(_.getLong(1)).sum / rows.length
    rows.foreach { r =>
      val nll = r.getLong(1)
      val want =
        if (nll * 2 < mean) "drop_low"
        else if (nll * 2 > mean * 3) "drop_high"
        else "keep"
      assert(r.getString(2) === want, s"doc ${r.getLong(0)}: verdict " +
        s"${r.getString(2)} != $want (nll $nll, mean $mean)")
    }
    // this homogeneous synthetic corpus sits inside the band — every
    // verdict is a keep (separation is planted below, where the
    // distribution is actually bimodal)
    assert(rows.forall(_.getString(2) === "keep"))
  }

  test("P23: source report recomputes from the raw table — volumes, " +
    "keeper-rule dup counts, and language mix all agree") {
    import org.apache.spark.sql.functions._
    val rows = PipelineQueries.sourceReport(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val raw = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
    assert(rows.map(_.getLong(1)).sum === raw.length,
      "per-source doc counts don't cover the corpus")
    // independent keeper rule: global min doc_id per exact text
    val keeper = raw.groupBy(_._4).map { case (_, ds) =>
      ds.map(_._1).min -> ds.map(_._1).toSet }.toMap
    val dupIds = keeper.values.flatMap(ids => ids - ids.min).toSet
    val bySource = raw.groupBy(_._2)
    rows.foreach { r =>
      val src = r.getString(0)
      val ds = bySource(src)
      assert(r.getLong(1) === ds.length.toLong, s"$src n_docs")
      assert(r.getLong(2) === ds.count(d => dupIds.contains(d._1)).toLong,
        s"$src n_dup_docs")
      assert(r.getLong(3) ===
        ds.map(_._4.split(" ", -1).length.toLong).sum, s"$src tok_total")
      val langCounts = ds.groupBy(_._3).view.mapValues(_.length).toMap
      val wantTop = langCounts.toSeq.minBy { case (l, n) => (-n, l) }._1
      assert(r.getString(4) === wantTop, s"$src top_lang")
      assert(r.getLong(5) === langCounts.size.toLong, s"$src n_langs")
      assert(r.getLong(6) >= 0L && r.getLong(6) <= 1000000L,
        s"$src mean quality out of range")
    }
  }

  test("P24: domain reweighting — weights recompute from the emitted " +
    "excess column, at-or-below-baseline domains get zero, and the " +
    "upweighted set is nonempty") {
    val rows = PipelineQueries.domainReweight(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(rows.nonEmpty)
    val totalExcess = rows.map(_.getLong(3)).sum
    assert(totalExcess > 0L,
      "no domain above the corpus mean — reweighting vacuous here")
    rows.foreach { r =>
      val (excess, w) = (r.getLong(3), r.getLong(4))
      assert(w === excess * 1000000L / totalExcess,
        s"${r.getString(0)}: weight $w inconsistent with excess")
      if (excess == 0L) assert(w === 0L)
    }
    // the floor genuinely splits the sources: some zeroed, some not
    assert(rows.exists(_.getLong(4) > 0L))
    assert(rows.exists(_.getLong(4) === 0L),
      "every domain above baseline — mean floor not separating")
    // weights sum to ~1e6 (truncation leaves at most n_sources ulps)
    val ws = rows.map(_.getLong(4)).sum
    assert(ws > 1000000L - rows.length && ws <= 1000000L)
  }

  test("P22: the band separates a planted bimodal score distribution " +
    "into all three verdicts") {
    import spark.implicits._
    // 10 boilerplate docs (nll 1), 80 normal (10), 10 garbage (40):
    // integer mean = 1210 div 100 = 12 → keep iff 6 ≤ nll ≤ 18
    val planted = ((1 to 10).map(i => (i.toLong, 1L)) ++
      (11 to 90).map(i => (i.toLong, 10L)) ++
      (91 to 100).map(i => (i.toLong, 40L))).toDF("doc_id", "nll_micro")
    val out = PipelineQueries.pplBand(planted).collect()
    graft.CachedFrames.releaseAll()
    val byV = out.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byV === Map("drop_low" -> 10, "keep" -> 80, "drop_high" -> 10),
      s"band verdicts $byV did not separate the planted modes")
  }

  test("P29: the curation writer materializes exactly the purge plan's " +
    "keep set, partitioned by source, reproducibly") {
    val out = java.nio.file.Files.createTempDirectory("graft-curated")
      .toString
    val n = CurationWriter.write(spark, dir, out)
    graft.CachedFrames.releaseAll()
    val plan = graft.dedup.DedupQueries.dedupPurgePlan(spark, dir)
      .collect()
    graft.CachedFrames.releaseAll()
    val expectedKeep = plan.filter(_.getString(2) != "drop_neardup")
      .map(_.getLong(0)).toSet
    assert(n === expectedKeep.size.toLong)
    val written = spark.read.parquet(out)
    assert(written.select("doc_id").collect().map(_.getLong(0)).toSet
      === expectedKeep)
    // layout: one directory per source, each with parquet files
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("source="))
    assert(dirs.length === 20, dirs.mkString(","))
    // every dropped doc is really absent; every keeper's text survives
    val dropped = plan.filter(_.getString(2) == "drop_neardup")
      .map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "no near-dups dropped — composition inert?")
    assert(written.filter(col("doc_id").isin(dropped.toSeq.map(Long.box): _*))
      .count() === 0L)
    // idempotent: a second write produces the identical row set
    val n2 = CurationWriter.write(spark, dir, out)
    graft.CachedFrames.releaseAll()
    assert(n2 === n)
  }

  test("P32 token packing: every block but the last holds exactly " +
    "PackBlock tokens, block ids are contiguous from 0, the stream " +
    "conserves the corpus token count, and boundary-crossing docs " +
    "are real (zero padding waste)") {
    val blocks = PipelineQueries.dataPackTokens(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    graft.CachedFrames.releaseAll()
    assert(blocks.nonEmpty)
    assert(blocks.map(_._1).toSeq === (0L until blocks.length).toSeq,
      "block ids must be contiguous from 0")
    blocks.dropRight(1).foreach { case (b, n, _, _) =>
      assert(n === PipelineQueries.PackBlock,
        s"block $b is not full — continuous packing never pads")
    }
    assert(blocks.last._2 <= PipelineQueries.PackBlock)
    val total = graft.text.TextQueries.bpeTokenSequences(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_tokens")).head().getLong(0)
    graft.CachedFrames.releaseAll()
    assert(blocks.map(_._2).sum === total,
      "packing lost or duplicated tokens")
    // docs genuinely cross boundaries: some block holds >1 doc and
    // some doc spans blocks (first_doc repeats across blocks)
    assert(blocks.exists(_._3 > 1L), "no block holds two docs?")
    assert(blocks.map(_._4).distinct.length < blocks.length,
      "no document crosses a block boundary at this block size?")
  }

  test("P33 epoch ordering: each epoch is a true permutation of the " +
    "block set, the two epochs genuinely differ, and the order is " +
    "deterministic with no stored state") {
    val ord = PipelineQueries.dataEpochOrder(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    graft.CachedFrames.releaseAll()
    val blocks = PipelineQueries.dataPackTokens(spark, dir)
      .select("block_id").collect().map(_.getLong(0)).toSet
    graft.CachedFrames.releaseAll()
    val byEpoch = ord.groupBy(_._1)
    assert(byEpoch.keySet === (0 until PipelineQueries.PackEpochs).toSet)
    byEpoch.foreach { case (e, rows) =>
      assert(rows.map(_._3).toSet === blocks,
        s"epoch $e is not a permutation of the block set")
      assert(rows.map(_._2).sorted.toSeq ===
        (1L to blocks.size.toLong).toSeq,
        s"epoch $e positions are not dense 1..N")
    }
    val seq0 = byEpoch(0).sortBy(_._2).map(_._3).toSeq
    val seq1 = byEpoch(1).sortBy(_._2).map(_._3).toSeq
    assert(seq0 !== seq1, "epochs 0 and 1 drew the same order")
    assert(seq0 !== seq0.sorted, "epoch 0 is the identity order — " +
      "the shuffle shuffled nothing")
    val again = PipelineQueries.dataEpochOrder(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    graft.CachedFrames.releaseAll()
    assert(again.sorted.toSeq === ord.sorted.toSeq,
      "epoch ordering is not deterministic")
  }

  test("P35 shuffled packing: same conservation laws as P32 (full " +
    "blocks, contiguous ids, token count conserved, boundary " +
    "crossings), the document order genuinely differs from doc_id " +
    "order, and the shuffle is deterministic") {
    val shuffled = PipelineQueries.dataPackShuffled(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .sortBy(_._1)
    graft.CachedFrames.releaseAll()
    val plain = PipelineQueries.dataPackTokens(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(_._1)
    graft.CachedFrames.releaseAll()
    assert(shuffled.nonEmpty)
    assert(shuffled.map(_._1).toSeq ===
      (0L until shuffled.length).toSeq)
    shuffled.dropRight(1).foreach { case (b, n, _, _, _) =>
      assert(n === PipelineQueries.PackBlock,
        s"shuffled block $b is not full — packing must never pad")
    }
    // same corpus, same block size → identical block count and the
    // identical multiset of block sizes (only the ORDER moved)
    assert(shuffled.length === plain.length)
    assert(shuffled.map(_._2).sum === plain.map(_._2).sum,
      "the shuffle lost or duplicated tokens")
    // the document order genuinely differs: first_doc per block is no
    // longer monotone (doc_id-order packing makes it monotone)
    val firstDocs = shuffled.map(_._4).toSeq
    assert(firstDocs !== firstDocs.sorted,
      "salted order degenerated to doc_id order — shuffle inert")
    assert(plain.map(_._3).toSeq === plain.map(_._3).toSeq.sorted,
      "P32's doc_id-order packing lost its monotone first_doc — " +
        "fixture assumption broken")
    // boundary crossings survive the shuffle (zero padding waste)
    assert(shuffled.exists(_._3 > 1L))
    // deterministic, no RNG state: a second run is bit-identical
    val again = PipelineQueries.dataPackShuffled(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .sortBy(_._1)
    graft.CachedFrames.releaseAll()
    assert(again.toSeq === shuffled.toSeq,
      "shuffled packing is not deterministic")
  }

  test("P36 shard manifest: every epoch's blocks split round-robin " +
    "across the workers exactly once — counts balanced to ±1, token " +
    "totals conserve the corpus, and each shard's Merkle digest " +
    "equals the independently recomputed two-level chunk fold") {
    val shards = PipelineQueries.dataShardManifest(spark, dir).collect()
      .map(r => ((r.getInt(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
      .toMap
    graft.CachedFrames.releaseAll()
    val ord = PipelineQueries.dataEpochOrder(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    graft.CachedFrames.releaseAll()
    val sizes = PipelineQueries.dataPackTokens(spark, dir)
      .select("block_id", "n_tokens", "token_md5").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    graft.CachedFrames.releaseAll()
    val w = PipelineQueries.LoaderWorkers
    assert(shards.keySet ===
      (for (e <- 0 until PipelineQueries.PackEpochs; r <- 0 until w)
        yield (e, r.toLong)).toSet,
      "missing or extra (epoch, worker) shards")
    // independent recompute of every shard from the epoch order
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    ord.groupBy(_._1).foreach { case (e, rows) =>
      val byWorker = rows.sortBy(_._2).groupBy(t => (t._2 - 1) % w)
      val counts = byWorker.values.map(_.length).toSeq
      assert(counts.max - counts.min <= 1,
        s"epoch $e shard imbalance beyond the round-robin ±1: $counts")
      assert(byWorker.values.map(_.length.toLong).sum === rows.length.toLong)
      byWorker.foreach { case (r, blk) =>
        val (nb, nt, m, tm) = shards((e, r))
        assert(nb === blk.length.toLong)
        assert(nt === blk.map(b => sizes(b._3)._1).sum,
          s"epoch $e worker $r token total drifted")
        // the reference fold, from first principles: the shard's
        // ordered block ids in fixed-width runs of ShardChunk
        // consecutive shard positions, md5 per run, then md5 of the
        // ordered run digests — bounded aggregation state at any
        // blocks/W (the r11 VERDICT item)
        def fold(vals: Seq[String]): (Int, String) = {
          val chunkDigests = vals
            .grouped(PipelineQueries.ShardChunk.toInt).toSeq
            .map(run => md5hex(run.mkString("-")))
          (chunkDigests.length, md5hex(chunkDigests.mkString("-")))
        }
        val orderedBlocks = blk.sortBy(_._2).map(_._3)
        val (nChunks, blocksFold) =
          fold(orderedBlocks.map(_.toString))
        assert(nChunks > 1,
          s"epoch $e worker $r: one chunk only — the fold's second " +
            "level is untested at this SF, shrink ShardChunk")
        assert(m === blocksFold,
          s"epoch $e worker $r Merkle digest != recomputed chunk fold")
        // the TOKEN digest: same fold over the per-block token md5s
        // in shard order — pins token bytes in the manifest
        assert(tm === fold(orderedBlocks.map(b => sizes(b)._2))._2,
          s"epoch $e worker $r token Merkle digest != recomputed fold")
      }
    }
    // conservation across the whole epoch
    val corpusTokens = sizes.values.map(_._1).sum
    (0 until PipelineQueries.PackEpochs).foreach { e =>
      assert((0 until w).map(r => shards((e, r.toLong))._2).sum ===
        corpusTokens, s"epoch $e lost tokens across shards")
    }
  }

  test("deploy packs the corpus once: a cold deploy runs at most 34 " +
    "Spark jobs and writes the data_shard_manifest gate's rows") {
    graft.CachedFrames.releaseAll()
    graft.text.TextQueries.releaseDeployedTokenSequences()
    val out = java.nio.file.Files.createTempDirectory("graft-deploy").toString
    val (_, jobs) = graft.SharedSpark.jobsOf(ShardReader.deploy(spark, dir, out))
    // half the 68 jobs of a deploy that packed the corpus twice and
    // trained its tokenizer with several Spark jobs per merge
    assert(jobs.size <= 34, s"${jobs.size} jobs: $jobs")
    // the corpus is read once: one schema inference of `documents`
    val inferred = jobs.filter(_._1.exists(_.startsWith("parquet at Tables")))
    assert(inferred.size <= 1, s"documents read ${inferred.size} times: $jobs")
    val gate = PipelineQueries.dataShardManifest(spark, dir).collect()
      .map(_.toSeq).toSeq
    graft.CachedFrames.releaseAll()
    val written = spark.read.parquet(s"$out/manifest")
      .select("epoch", "worker", "n_blocks", "n_tokens", "blocks_md5",
        "tokens_md5").orderBy("epoch", "worker").collect().map(_.toSeq).toSeq
    assert(written === gate)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("P39 readShard: ranks are pairwise disjoint, each shard is " +
    "position-ordered, and the union over ranks IS the epoch order " +
    "bit-for-bit") {
    val w = PipelineQueries.LoaderWorkers
    val art = ShardReader.deployedOf(spark, dir)
    graft.CachedFrames.releaseAll()
    val shards = (0 until w).map { r =>
      val rows = ShardReader.readShard(spark, art, 0, r)
        .select("position", "block_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq
      graft.CachedFrames.releaseAll()
      assert(rows.map(_._1) === rows.map(_._1).sorted,
        s"rank $r shard not position-ordered")
      rows.foreach { case (p, _) =>
        assert((p - 1) % w === r.toLong,
          s"rank $r yielded position $p belonging to rank ${(p - 1) % w}")
      }
      rows
    }
    // pairwise disjoint: each epoch position appears in exactly one
    // rank's shard ("exactly its manifest's blocks and no others")
    val union = shards.flatten
    assert(union.map(_._1).distinct.length === union.length,
      "a position surfaced in two ranks")
    val expected = PipelineQueries.dataEpochOrder(spark, dir)
      .filter(org.apache.spark.sql.functions.col("epoch") === 0)
      .select("position", "block_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    graft.CachedFrames.releaseAll()
    assert(union.sortBy(_._1) === expected,
      "union over ranks != the epoch order")
  }

  test("P39 readShard digest gates: a tampered token payload and a " +
    "dropped block both refuse to yield; a tamper OUTSIDE the " +
    "requested shard does not tax this rank") {
    val art = ShardReader.deployedOf(spark, dir)
    graft.CachedFrames.releaseAll()
    val clean = ShardReader.readShard(spark, art,
      ShardReader.ShardEpoch, ShardReader.ShardRank)
      .select("block_id").collect().map(_.getLong(0))
    graft.CachedFrames.releaseAll()
    val inShard = clean.head
    // (a) payload tamper at UNCHANGED length (every id bumped in one
    // block, stored token_md5/n_tokens left as written): the
    // per-block content check fires first and counts the corruption
    val t1 = java.nio.file.Files
      .createTempDirectory("graft-shard-tamper1").toString
    spark.read.parquet(s"$art/manifest").write.parquet(s"$t1/manifest")
    spark.read.parquet(s"$art/blocks")
      .withColumn("token_ids",
        when(col("block_id") === inShard,
          expr("transform(token_ids, t -> t + 1)"))
          .otherwise(col("token_ids")))
      .write.parquet(s"$t1/blocks")
    val ex1 = intercept[IllegalStateException](
      ShardReader.readShard(spark, t1,
        ShardReader.ShardEpoch, ShardReader.ShardRank))
    graft.CachedFrames.releaseAll()
    assert(ex1.getMessage.contains("token_md5"),
      s"wrong gate fired for payload tamper: ${ex1.getMessage}")
    // (a2) CONSISTENT tamper: token_ids rewritten AND the stored
    // per-block md5 recomputed to match, length unchanged — the
    // stored-digest check passes by construction, so only the
    // manifest's token-byte Merkle fold can refuse (the residual the
    // first reader cut shipped with — closed and pinned here)
    val t1b = java.nio.file.Files
      .createTempDirectory("graft-shard-tamper1b").toString
    spark.read.parquet(s"$art/manifest").write.parquet(s"$t1b/manifest")
    spark.read.parquet(s"$art/blocks")
      .withColumn("token_ids",
        when(col("block_id") === inShard,
          expr("transform(token_ids, t -> t + 1)"))
          .otherwise(col("token_ids")))
      .withColumn("token_md5",
        when(col("block_id") === inShard, md5(concat_ws("-",
          expr("transform(token_ids, t -> cast(t as string))"))))
          .otherwise(col("token_md5")))
      .write.parquet(s"$t1b/blocks")
    val ex1b = intercept[IllegalStateException](
      ShardReader.readShard(spark, t1b,
        ShardReader.ShardEpoch, ShardReader.ShardRank))
    graft.CachedFrames.releaseAll()
    assert(ex1b.getMessage.contains("digest mismatch"),
      s"consistent tamper slipped past the manifest fold: " +
        ex1b.getMessage)
    // (b) a dropped block: membership/order breaks the Merkle digest
    // (the stateless re-derivation ranks WITHOUT the missing block,
    // so the whole shard order shifts — caught before any yield)
    val t2 = java.nio.file.Files
      .createTempDirectory("graft-shard-tamper2").toString
    spark.read.parquet(s"$art/manifest").write.parquet(s"$t2/manifest")
    spark.read.parquet(s"$art/blocks")
      .filter(col("block_id") =!= inShard)
      .write.parquet(s"$t2/blocks")
    val ex2 = intercept[IllegalStateException](
      ShardReader.readShard(spark, t2,
        ShardReader.ShardEpoch, ShardReader.ShardRank))
    graft.CachedFrames.releaseAll()
    assert(ex2.getMessage.contains("digest mismatch"),
      s"wrong gate fired for dropped block: ${ex2.getMessage}")
    // (c) a tamper in a block NO shard position of this rank touches:
    // this rank's read verifies ITS shard only and still yields —
    // ranks do not pay for each other's verification
    val inOther = PipelineQueries.dataEpochOrder(spark, dir)
      .filter(col("epoch") === ShardReader.ShardEpoch &&
        expr(s"(position - 1) % ${PipelineQueries.LoaderWorkers}")
          =!= ShardReader.ShardRank)
      .select("block_id").head().getLong(0)
    graft.CachedFrames.releaseAll()
    val t3 = java.nio.file.Files
      .createTempDirectory("graft-shard-tamper3").toString
    spark.read.parquet(s"$art/manifest").write.parquet(s"$t3/manifest")
    spark.read.parquet(s"$art/blocks")
      .withColumn("token_ids",
        when(col("block_id") === inOther,
          expr("transform(token_ids, t -> t + 1)"))
          .otherwise(col("token_ids")))
      .write.parquet(s"$t3/blocks")
    val served = ShardReader.readShard(spark, t3,
      ShardReader.ShardEpoch, ShardReader.ShardRank).count()
    graft.CachedFrames.releaseAll()
    assert(served === clean.length.toLong)
    // out-of-range coordinates refuse loudly
    intercept[IllegalArgumentException](
      ShardReader.readShard(spark, art, PipelineQueries.PackEpochs, 0))
    intercept[IllegalArgumentException](
      ShardReader.readShard(spark, art, 0, PipelineQueries.LoaderWorkers))
  }

  test("P39b mid-epoch resume: the yielded suffix equals the full " +
    "shard cut at the position, and a tamper in the ALREADY-CONSUMED " +
    "prefix still refuses (verification covers the whole shard)") {
    val art = ShardReader.deployedOf(spark, dir)
    graft.CachedFrames.releaseAll()
    val full = ShardReader.readShard(spark, art,
      ShardReader.ShardEpoch, ShardReader.ShardRank)
      .select("position", "block_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    graft.CachedFrames.releaseAll()
    val cut = ShardReader.ResumeFrom
    val resumed = ShardReader.readShard(spark, art,
      ShardReader.ShardEpoch, ShardReader.ShardRank, cut)
      .select("position", "block_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    graft.CachedFrames.releaseAll()
    assert(resumed === full.filter(_._1 > cut),
      "resume suffix != the full shard cut at the position")
    assert(resumed.nonEmpty && resumed.length < full.length,
      "the fixed cut must be interior to the shard at this SF")
    // a CONSISTENT tamper (ids + stored md5) in a block the resume
    // SKIPS: the resumed read must still refuse — the digest contract
    // covers the whole shard, not just the yielded suffix
    val prefixBlock = full.filter(_._1 <= cut).head._2
    val t4 = java.nio.file.Files
      .createTempDirectory("graft-shard-tamper4").toString
    spark.read.parquet(s"$art/manifest").write.parquet(s"$t4/manifest")
    spark.read.parquet(s"$art/blocks")
      .withColumn("token_ids",
        when(col("block_id") === prefixBlock,
          expr("transform(token_ids, t -> t + 1)"))
          .otherwise(col("token_ids")))
      .withColumn("token_md5",
        when(col("block_id") === prefixBlock, md5(concat_ws("-",
          expr("transform(token_ids, t -> cast(t as string))"))))
          .otherwise(col("token_md5")))
      .write.parquet(s"$t4/blocks")
    val ex = intercept[IllegalStateException](
      ShardReader.readShard(spark, t4,
        ShardReader.ShardEpoch, ShardReader.ShardRank, cut))
    graft.CachedFrames.releaseAll()
    assert(ex.getMessage.contains("digest mismatch"),
      s"a consumed-prefix tamper slipped past resume: ${ex.getMessage}")
  }

  test("P38 decontaminated writer: every doc any decontamination " +
    "method flags is absent, every unflagged keeper survives, and " +
    "the drop accounting reconciles") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files
      .createTempDirectory("graft-decontam-write").toString
    val (written, dropped) =
      CurationWriter.writeDecontaminated(spark, dir, out)
    graft.CachedFrames.releaseAll()
    val flagged = PipelineQueries.decontamReport(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.CachedFrames.releaseAll()
    val plan = graft.dedup.DedupQueries.dedupPurgePlan(spark, dir)
      .collect()
    graft.CachedFrames.releaseAll()
    val keepers = plan.filter(_.getString(2) != "drop_neardup")
      .map(_.getLong(0)).toSet
    assert(flagged.nonEmpty, "no contamination at this SF — fixture inert")
    val back = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(back === (keepers -- flagged),
      "written set != purge keepers minus the flagged union")
    assert(written === back.size.toLong)
    assert(dropped === (keepers intersect flagged).size.toLong,
      "contamination drop accounting drifted")
  }

  test("P37 block writer: the written artifact is checkable against " +
    "the P32 gate bit-for-bit (per-block md5 and counts), ids sit at " +
    "their global positions, and the write is idempotent") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files
      .createTempDirectory("graft-blocks").toString
    CurationWriter.writeBlocks(spark, dir, out)
    graft.CachedFrames.releaseAll()
    val gate = PipelineQueries.dataPackTokens(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    graft.CachedFrames.releaseAll()
    def written = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[Long](4), r.getString(5))).sortBy(_._1).toSeq
    val back = written
    assert(back.length === gate.size)
    assert(back.map(_._2).sum === gate.values.map(_._1).sum)
    back.foreach { case (b, n, nd, fd, ids, m) =>
      val (gn, gnd, gfd, gm) = gate(b)
      assert(n === gn && nd === gnd && fd === gfd,
        s"block $b counts drifted from the gate")
      assert(m === gm, s"block $b md5 != the gate's hash-pinned value")
      assert(ids.size.toLong === n,
        s"block $b token_ids length != n_tokens")
    }
    // global-position contract: block b's ids ARE positions
    // [b*PackBlock, b*PackBlock + n) of the corpus stream
    val stream = PipelineQueries.packedTokenStream(spark, dir)
      .select("gpos", "tok").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CachedFrames.releaseAll()
    back.take(5).foreach { case (b, _, _, _, ids, _) =>
      ids.zipWithIndex.foreach { case (tok, i) =>
        assert(stream(b * PipelineQueries.PackBlock + i) === tok,
          s"block $b position $i holds the wrong token")
      }
    }
    // idempotent
    CurationWriter.writeBlocks(spark, dir, out)
    graft.CachedFrames.releaseAll()
    assert(written === back)
  }

  test("P29b: the tokenized writer materializes T29's token-id " +
    "sequences beside the curated text — same keep set, every row's " +
    "ids sized to its n_tokens, and the token bill reconciles with " +
    "the per-doc encode over exactly the kept docs") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-curated-tok").toString
    val (n, totalToks) = CurationWriter.writeTokenized(spark, dir, out)
    graft.CachedFrames.releaseAll()
    val plan = graft.dedup.DedupQueries.dedupPurgePlan(spark, dir)
      .collect()
    graft.CachedFrames.releaseAll()
    val expectedKeep = plan.filter(_.getString(2) != "drop_neardup")
      .map(_.getLong(0)).toSet
    assert(n === expectedKeep.size.toLong)
    val written = spark.read.parquet(out)
    assert(written.select("doc_id").collect().map(_.getLong(0)).toSet
      === expectedKeep)
    // per-row: the array is exactly n_tokens long
    assert(written
      .filter(size(col("token_ids")).cast("long") =!= col("n_tokens"))
      .count() === 0L)
    // the written token bill == the T17 encode summed over kept docs
    val bill = graft.text.TextQueries.textBpeEncode(spark, dir).collect()
      .filter(r => expectedKeep.contains(r.getLong(0)))
      .map(_.getLong(2)).sum
    graft.CachedFrames.releaseAll()
    assert(totalToks === bill,
      s"writer billed $totalToks tokens, the encode says $bill")
  }

  test("P42 self-describing loader artifact: the reader derives with " +
    "the ARTIFACT's pinned parameters (a W=3 artifact reads fine from " +
    "this W=4 build), refuses out-of-range coordinates NAMING the " +
    "pinned parameter, refuses a malformed sidecar by key, and a " +
    "legacy artifact (no sidecar) keeps the compile-time behavior") {
    import org.apache.spark.sql.functions._
    val src = ShardReader.deployedOf(spark, dir)
    val out = java.nio.file.Files
      .createTempDirectory("graft-shard-params").toString
    // copy the deployed blocks, then re-manifest for W=3 ranks with
    // the parameterized writer folds and pin W=3 in the sidecar — a
    // foreign build's artifact, bit-faithful
    val blocksDf = spark.read.parquet(s"$src/blocks")
    blocksDf.write.mode("overwrite").parquet(s"$out/blocks")
    val packed = blocksDf
      .select(col("block_id"), col("n_tokens"), col("token_md5"))
    val ord = PipelineQueries.epochOrderOn(
      packed.select(col("block_id")), PipelineQueries.PackEpochs)
    PipelineQueries.shardManifestOn(ord, packed, 3,
      PipelineQueries.ShardChunk)
      .write.mode("overwrite").parquet(s"$out/manifest")
    ShardReader.writeParams(spark, out, ShardReader.LoaderParams(
      3, PipelineQueries.PackEpochs, PipelineQueries.PackBlock,
      PipelineQueries.ShardChunk))
    // reads (and digest-verifies) under the artifact's own W=3 —
    // impossible before P42: this build's LoaderWorkers=4 derivation
    // would have refused with a digest mismatch
    val rows = ShardReader.readShard(spark, out, 1, 2)
      .select("position").collect().map(_.getLong(0))
    graft.CachedFrames.releaseAll()
    assert(rows.nonEmpty)
    assert(rows.forall(p => (p - 1) % 3 == 2),
      "positions not the W=3 round-robin of rank 2")
    // out-of-range rank/epoch refuse NAMING the pinned parameter
    val exR = intercept[IllegalArgumentException](
      ShardReader.readShard(spark, out, 1, 3))
    assert(exR.getMessage.contains("loader_workers=3"), exR.getMessage)
    val exE = intercept[IllegalArgumentException](
      ShardReader.readShard(spark, out, PipelineQueries.PackEpochs, 0))
    assert(exE.getMessage.contains(
      s"pack_epochs=${PipelineQueries.PackEpochs}"), exE.getMessage)
    // malformed sidecar refuses by MISSING KEY, never by digest
    val fs = graft.streaming.SnapshotManifest.fsOf(spark, out)
    val pPath = new org.apache.hadoop.fs.Path(s"$out/_params")
    val o = fs.create(pPath, true)
    try o.write("loader_workers=3\n".getBytes("UTF-8"))
    finally o.close()
    val exM = intercept[IllegalStateException](
      ShardReader.readShard(spark, out, 1, 2))
    assert(exM.getMessage.contains("pack_epochs"), exM.getMessage)
    // INSANE values refuse by key too (r13 ADVICE): loader_workers=0
    // would otherwise surface as `% 0` arithmetic, and an
    // Int-overflowing pin as a silently-wrong truncated derivation
    val o0 = fs.create(pPath, true)
    try o0.write(("loader_workers=0\npack_epochs=2\n" +
      "pack_block=512\nshard_chunk=128\n").getBytes("UTF-8"))
    finally o0.close()
    val exZ = intercept[IllegalStateException](
      ShardReader.readShard(spark, out, 1, 2))
    assert(exZ.getMessage.contains("loader_workers"), exZ.getMessage)
    val oBig = fs.create(pPath, true)
    try oBig.write(("loader_workers=4\npack_epochs=9999999999\n" +
      "pack_block=512\nshard_chunk=128\n").getBytes("UTF-8"))
    finally oBig.close()
    val exB = intercept[IllegalStateException](
      ShardReader.readShard(spark, out, 1, 2))
    assert(exB.getMessage.contains("pack_epochs"), exB.getMessage)
    // legacy (sidecar absent): compile-time constants, the pre-P42
    // path — the standard deployment still reads
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$src/_params"),
      false))
    try {
      val legacy = ShardReader.readShard(spark, src,
        ShardReader.ShardEpoch, ShardReader.ShardRank)
        .select("position").collect()
      graft.CachedFrames.releaseAll()
      assert(legacy.nonEmpty)
    } finally ShardReader.writeParams(spark, src,
      ShardReader.LoaderParams(PipelineQueries.LoaderWorkers,
        PipelineQueries.PackEpochs, PipelineQueries.PackBlock,
        PipelineQueries.ShardChunk))
  }
}
