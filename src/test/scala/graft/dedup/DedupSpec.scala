package graft.dedup

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SharedSpark {
  private val dir = "/root/testdata/sf0.01"

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val truth: Set[(Long, Long)] = pairs(DedupQueries.dedupJaccard(spark, dir))

  test("jaccard dedup finds the planted near-dup pairs, nothing else") {
    // the sf0.01 corpus plants 25 pairs with 3-gram jaccard >= 0.9;
    // background pairs top out far below the 0.5 threshold
    assert(truth.size === 25)
    val sims = DedupQueries.dedupJaccard(spark, dir).collect()
      .map(_.getDouble(2))
    assert(sims.forall(_ >= 0.5))
    assert(sims.count(_ >= 0.9) === 25)
  }

  test("a cold purge plan reads the corpus once and runs at most 37 " +
    "Spark jobs") {
    graft.CachedFrames.releaseAll()
    val (rows, jobs) = SharedSpark.jobsOf(
      DedupQueries.dedupPurgePlan(spark, dir).collect())
    graft.CachedFrames.releaseAll()
    assert(rows.length === 500)
    // each read of the corpus infers its schema with a job of its own
    assert(jobs.size <= 37, s"${jobs.size} jobs: $jobs")
    assert(jobs.count(_._1.exists(_.startsWith("parquet at Tables"))) === 1,
      s"corpus schema inferred more than once: $jobs")
  }

  test("minhash-LSH recalls every jaccard near-dup pair") {
    val got = pairs(DedupQueries.dedupMinhash(spark, dir))
    assert(got === truth) // 8x4 banding at j>=0.9: recall 1 here
  }

  test("allpairs prefix filter: EXACTLY the D2 result (prefix pruning " +
    "provably loses no qualifying pair) from strictly fewer candidates") {
    import org.apache.spark.sql.functions._
    // exact equality with the full-index jaccard join: pairs AND scores
    val ap = DedupQueries.dedupAllpairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val jc = DedupQueries.dedupJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ap === jc)
    assert(ap.size === 25)
    // and the prefix candidate set is a strict subset of the full
    // inverted-index pair explosion — the reason the operator exists
    val kept = Shingling.cappedShingles(
      Shingling.shingles(graft.Tables.documents(spark, dir)))
    val counts = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val nCand = DedupQueries.allPairsCandidates(kept, counts).count()
    val nFull = kept.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(kept.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct().count()
    assert(nCand * 2 < nFull,
      s"prefix filter should at least halve candidates: $nCand vs $nFull")
    // PPJoin (prefix x prefix + positional filter) admits strictly
    // fewer candidates than the round-6 prefix x full-index shape
    val dfTab = kept.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val pos = kept.join(dfTab, Seq("shingle"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
    val prefixOnly = pos.join(counts, Seq("doc_id"))
      .filter(col("pos") <= expr("n div 2 + 1"))
      .select(col("doc_id").as("doc_p"), col("shingle"))
      .join(kept.select(col("doc_id").as("doc_k"), col("shingle")),
        Seq("shingle"))
      .filter(col("doc_p") =!= col("doc_k"))
      .select(least(col("doc_p"), col("doc_k")).as("doc_a"),
        greatest(col("doc_p"), col("doc_k")).as("doc_b"))
      .distinct()
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .filter(lit(2) * least(col("na"), col("nb")) >=
        greatest(col("na"), col("nb")))
    val nPrefixOnly = prefixOnly.count()
    graft.CachedFrames.releaseAll()
    assert(nCand < nPrefixOnly,
      s"positional filter should cut candidates: $nCand vs $nPrefixOnly")
  }

  test("k-core peel: planted clique survives, planted chain dissolves, " +
    "and the fixed round count sits PAST the corpus fixpoint") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a 4-clique (every node degree 3) + a 6-chain (interior degree 2)
    // + a pendant hanging off the clique
    val clique = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val chain = (10L to 14L).map(i => (i, i + 1))
    val pendant = Seq((1L, 99L))
    val e = (clique ++ chain ++ pendant).toDF("doc_a", "doc_b")
    val core = DedupQueries.kcorePeel(e, 3, 6)
      .select(col("src")).distinct().collect().map(_.getLong(0)).toSet
    assert(core === Set(1L, 2L, 3L, 4L),
      "3-core must be exactly the planted clique")
    // fixpoint: one MORE round changes nothing on the real corpus
    val atR = DedupQueries.dedupKcore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val kept = Shingling.cappedShingles(
      Shingling.shingles(graft.Tables.documents(spark, dir)))
    val corpusE = kept.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(kept.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("doc_a"), col("doc_b"))
    val atR1 = DedupQueries.kcorePeel(
        corpusE, DedupQueries.KcoreK, DedupQueries.KcoreRounds + 1)
      .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CachedFrames.releaseAll()
    assert(atR === atR1, "round count must sit past the fixpoint")
    assert(atR.nonEmpty)
  }

  test("fuzzy-key join: the deletion neighborhood catches every edit " +
    "class and equals the brute-force DP") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one planted case per edit class against 'alpha'
    val ents = Seq(
      (1L, "alpha"), (2L, "alpha"), // equal names, distinct keys (d=0)
      (3L, "alphla"),               // insertion  (d=1)
      (4L, "alph"),                 // deletion   (d=1)
      (5L, "alpka"),                // substitution (d=1)
      (6L, "beta")).toDF("key", "name")
    val got = DedupQueries.fuzzyJoinEd1(ents)
      .select(col("key_a"), col("key_b"), col("dist")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((1L, 2L, 0), (1L, 3L, 1), (1L, 4L, 1), (1L, 5L, 1),
      (2L, 3L, 1), (2L, 4L, 1), (2L, 5L, 1)))
    // completeness vs the O(n²) DP on the sf0.001 customer table
    val c = graft.Tables.customer(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey").as("key"), col("c_name").as("name"))
    val fuzzy = DedupQueries.fuzzyJoinEd1(c)
      .select(col("key_a"), col("key_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = c.select(col("key").as("ka"), col("name").as("na"))
      .crossJoin(c.select(col("key").as("kb"), col("name").as("nb")))
      .filter(col("ka") < col("kb") &&
        levenshtein(col("na"), col("nb")) <= 1)
      .select(col("ka"), col("kb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fuzzy === brute)
    assert(fuzzy.nonEmpty)
  }

  test("minhash estimation: planted near-identical pairs estimate high, " +
    "and the per-pair measured error stays inside the k=32 envelope") {
    val rows = DedupQueries.dedupMinhashEst(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (est, exact, err) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(est >= 0L && est <= 1000000L)
      assert(err === math.abs(est - exact), "err column inconsistent")
      // est is a multiple of 1e6/32 by construction
      assert(est % (1000000L / graft.dedup.Shingling.NumHashes) === 0L)
    }
    // every planted jaccard>=0.9 pair is present and estimates high
    val byPair = rows.map(r =>
      (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    truth.foreach { p =>
      val (est, exact) = byPair(p)
      assert(exact >= 900000L, s"$p exact $exact below planted 0.9")
      assert(est >= 700000L,
        s"$p signature estimate $est implausibly low for a 0.9 pair")
    }
    // the estimator is USEFUL: mean measured error well inside the
    // k=32 sampling envelope (sigma <= 0.088, mean|err| ~ 0.7 sigma)
    val meanErr = rows.map(_.getLong(4)).sum / rows.length
    assert(meanErr < 100000L, s"mean |est-exact| $meanErr >= 0.1")
  }

  test("simhash finds exactly the planted pairs (guaranteed radius)") {
    // planted pairs sit at hamming 1..9; background pairs start ~18 —
    // with 10 chunks, recall at radius 9 is pigeonhole-guaranteed
    val got = pairs(DedupQueries.dedupSimhash(spark, dir))
    assert(got === truth, s"missing: ${truth -- got}, extra: ${got -- truth}")
  }

  test("wide simhash banding: candidate volume drops, planted pairs " +
    "within radius 3 survive") {
    // same corpus, two banding configs: 10 chunks x 6 bits (64 buckets
    // per chunk) vs 4 chunks x 15 bits (32768 buckets per chunk). The
    // wide config's buckets are ~512x more selective, so its candidate
    // pair set must be strictly smaller — that is the knob a 100 TB
    // corpus turns (radius down, selectivity up).
    val narrow = DedupQueries.simhashCandidates(spark, dir,
      Shingling.SimHashChunks, Shingling.SimHashChunkBits).count()
    val wide = DedupQueries.simhashCandidates(spark, dir,
      Shingling.SimHashChunksWide, Shingling.SimHashWideChunkBits).count()
    assert(wide < narrow, s"wide banding candidates $wide !< narrow $narrow")
    // recall is still pigeonhole-guaranteed to radius chunks-1 = 3:
    // every planted pair at hamming <= 3 appears in the wide result
    val within3 = DedupQueries.dedupSimhash(spark, dir).collect()
      .filter(_.getInt(2) <= Shingling.SimHashWideRadius)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(DedupQueries.dedupSimhashWide(spark, dir))
    // both configs guarantee recall to radius 3, and both verify
    // exactly — so at radius 3 they must agree exactly
    assert(got === within3,
      s"missed: ${within3 -- got}, extra: ${got -- within3}")
  }

  test("span dedup: cross-doc spans only, and planted near-dups share " +
    "identical 10-word windows") {
    val rows = DedupQueries.dedupSpans(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 2L) // n_docs
      assert(r.getLong(2) >= r.getLong(1)) // occurrences >= docs
    }
    // the planted jaccard near-dups differ in only a few words, so at
    // least one pair must share an exact 10-word window
    assert(rows.map(_.getLong(1)).max >= 2L)
  }

  test("exact dedup groups the event payloads") {
    val rows = DedupQueries.dedupExact(spark, dir).collect()
    assert(rows.length === 100) // 100 distinct payloads at sf0.01
    assert(rows.map(_.getLong(2)).sum === 10000L)
  }

  test("embedding near-dup pairs are symmetric-free and thresholded") {
    val rows = DedupQueries.dedupEmbedding(spark, dir).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getDouble(2) >= 0.4))
    assert(rows.nonEmpty)
  }

  test("cluster resolution = transitive closure of the pair set") {
    val rows = DedupQueries.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // reference union-find over the D2 truth pairs (test-side only)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    truth.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = truth.flatMap(p => Seq(p._1, p._2)).map(d => d -> find(d)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap === want,
      "labels differ from union-find closure")
    val sizes = want.groupBy(_._2).view.mapValues(_.size).toMap
    rows.foreach { case (doc, canon, n) =>
      assert(n === sizes(canon).toLong)
      assert(n >= 2)
      assert(canon <= doc)
    }
  }

  test("bucketed embedding dedup vs the all-pairs baseline: sound, and " +
    "full recall on high-cosine pairs") {
    val brute = DedupQueries.dedupEmbeddingBrute(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val got = pairs(DedupQueries.dedupEmbedding(spark, dir))
    // soundness: exact verification means no pair outside the baseline
    assert(got.subsetOf(brute.keySet), s"extra: ${got -- brute.keySet}")
    // recall: every strongly-similar pair must share a hyperplane band
    val high = brute.filter(_._2 >= 0.9).keySet
    assert(high.subsetOf(got), s"missed: ${high -- got}")
    assert(got.nonEmpty)
  }

  test("D5b: the capped embedding rung is sound (output ⊆ uncapped D5), " +
    "keeps full recall on strong pairs here, and the capped purge plan " +
    "stays verdict-consistent over the whole corpus") {
    val un = DedupQueries.dedupEmbedding(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    graft.CachedFrames.releaseAll()
    val cap = DedupQueries.dedupEmbeddingCapped(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    graft.CachedFrames.releaseAll()
    assert(cap.nonEmpty)
    // capped candidates ⊆ band candidates and both verify exactly, so
    // capped OUTPUT ⊆ uncapped output with identical cosines
    assert(cap.keySet.subsetOf(un.keySet),
      s"capped emitted a pair the uncapped join never saw: " +
        s"${(cap.keySet -- un.keySet).take(3)}")
    cap.foreach { case (k, c) => assert(c === un(k)) }
    // at this corpus' bucket occupancies the cap loses nothing strong:
    // every cosine ≥ 0.9 uncapped pair survives the capped rung
    val strong = un.filter(_._2 >= 0.9).keySet
    assert(strong.subsetOf(cap.keySet),
      s"cap dropped a strong pair: ${(strong -- cap.keySet).take(3)}")
    // D30b: the purge plan over the capped rung — exactly one verdict
    // per document, keepers self-referential, drops point at keepers
    val plan = DedupQueries.dedupPurgePlanCapped(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val nDocs = graft.Tables.documents(spark, dir).count()
    assert(plan.length.toLong === nDocs)
    val verdictOf = plan.map(r => r.getLong(0) -> r.getString(2)).toMap
    plan.foreach { r =>
      val (doc, keeper, verdict, size) =
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))
      verdict match {
        case "unique" => assert(keeper === doc && size === 1L)
        case "keeper" => assert(keeper === doc && size >= 2L)
        case "drop_neardup" =>
          assert(keeper !== doc)
          assert(verdictOf(keeper) === "keeper",
            s"doc $doc drops toward non-keeper $keeper")
        case other => fail(s"unknown verdict $other")
      }
    }
  }

  test("df cap bounds the hot-shingle join bucket; rare-shingle " +
    "near-dups survive") {
    import spark.implicits._
    // 60 docs all sharing one boilerplate shingle ("terms of service"),
    // otherwise pairwise-disjoint — plus one planted near-dup pair
    // (1000, 1001) that shares many RARE shingles.
    val boiler = "terms of service"
    val docs = (0 until 60).map { i =>
      val filler = (0 until 8).map(j => s"w${i}_$j").mkString(" ")
      (i.toLong, s"$boiler $filler")
    } ++ Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (1001L, "alpha beta gamma delta epsilon zeta eta theta kappa"))
    val sh = Shingling.shingles(docs.toDF("doc_id", "text"))

    // uncapped: the boilerplate shingle alone creates C(60,2) = 1770
    // candidate pairs — the quadratic bucket the cap exists to kill
    val uncapped = DedupQueries.jaccardPairs(sh, maxDf = Long.MaxValue)
    assert(uncapped.count() >= 1770L)

    // capped at 10: the 60-doc shingle is dropped before the self-join,
    // so ONLY pairs meeting on rare (df<=10) shingles remain
    val capped = DedupQueries.jaccardPairs(sh, maxDf = 10L)
    val got = capped.collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        r.getAs[Double]("jaccard"))).toMap
    assert(got.keySet === Set((1000L, 1001L)),
      s"hot-shingle pairs leaked through the cap: ${got.keySet}")
    // and the planted near-dup's jaccard stays high: 6 shared of 8
    // distinct shingles in the capped space
    assert(got((1000L, 1001L)) === 0.75)

    // the gate's default cap (100) passes this corpus through unchanged
    val dflt = DedupQueries.jaccardPairs(sh).count()
    assert(dflt === uncapped.count())
  }

  test("pagerank over the candidate graph: deterministic, damped floor " +
    "holds, and hubs outrank leaves") {
    import org.apache.spark.sql.functions._
    val a = DedupQueries.dedupPagerank(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val b = DedupQueries.dedupPagerank(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.nonEmpty)
    // integer damping floor: rank >= 0.15e6 always (every node keeps
    // the teleport mass; truncation only shrinks the propagated part)
    a.foreach { r =>
      assert(r.getLong(2) >= 150000L,
        s"doc ${r.getLong(0)} rank ${r.getLong(2)} below the floor")
    }
    // structural check on a PLANTED graph (cross-component degree
    // comparisons are NOT a PageRank property — a 2-clique leaf sits
    // at exactly 1e6): a star's hub must strictly outrank its leaves
    // (closed form ~1.92e6 vs ~0.69e6), and a symmetric pair must sit
    // at the 1e6 fixed point up to integer truncation
    import spark.implicits._
    val planted = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L),
      (200L, 201L)).toDF("doc_a", "doc_b")
    val pr = DedupQueries.pagerankOn(planted).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.CachedFrames.releaseAll()
    assert(pr(100L) > pr(1L) * 2,
      s"star hub ${pr(100L)} does not dominate leaf ${pr(1L)}")
    (1L to 4L).foreach(l => assert(pr(l) === pr(1L)))
    assert(math.abs(pr(200L) - 1000000L) <= PrTruncSlack &&
      pr(200L) === pr(201L), s"pair fixed point drifted: ${pr(200L)}")
  }

  private val PrTruncSlack = 10L

  test("weighted pagerank: uniform weights reduce bit-identically to " +
    "the unweighted iteration, and heavier edges pull more rank") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // uniform-weight reduction: floor(r*w / (w*deg)) = floor(r/deg),
    // so every round — and hence every rank — matches D13 exactly
    val planted = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L),
      (200L, 201L)).toDF("doc_a", "doc_b")
    val unw = DedupQueries.pagerankOn(planted).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.CachedFrames.releaseAll()
    val uni = DedupQueries.pagerankWeightedOn(
      planted.withColumn("w", lit(500000L))).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.CachedFrames.releaseAll()
    assert(uni === unw, "uniform weights diverged from unweighted ranks")
    // weight sensitivity: hub 1 splits rank 9:1 between leaves 2 and 3
    val skewed = Seq((1L, 2L, 900000L), (1L, 3L, 100000L))
      .toDF("doc_a", "doc_b", "w")
    val pw = DedupQueries.pagerankWeightedOn(skewed).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.CachedFrames.releaseAll()
    assert(pw(2L) > pw(3L) * 2,
      s"heavy-edge leaf ${pw(2L)} does not dominate light ${pw(3L)}")
    // the gate query is deterministic and floor-respecting like D13
    val a = DedupQueries.dedupPagerankWeighted(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(a.nonEmpty)
    a.foreach(r => assert(r.getLong(2) >= 150000L))
  }

  test("keeper election: keeper is the in-cluster rank argmax, and on " +
    "a planted star the hub wins even against the min-id rule") {
    import org.apache.spark.sql.functions._
    val out = DedupQueries.dedupKeeper(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(out.nonEmpty)
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (canonical, rows) =>
      val keeper = rows.head.getLong(4)
      // one keeper per cluster, and it is a member of the cluster
      assert(rows.forall(_.getLong(4) === keeper))
      assert(rows.exists(_.getLong(0) === keeper),
        s"keeper $keeper not a member of cluster $canonical")
      // keeper holds the max rank; ties break to the min doc_id
      val maxRank = rows.map(_.getLong(3)).max
      assert(rows.head.getLong(5) === maxRank)
      val argmax = rows.filter(_.getLong(3) === maxRank)
        .map(_.getLong(0)).min
      assert(keeper === argmax)
    }
    // planted star, hub id ABOVE the leaves: D6's min-id rule would
    // crown leaf 1; centrality crowns the hub
    import spark.implicits._
    val planted = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L))
      .toDF("doc_a", "doc_b")
    val pk = DedupQueries.keeperOn(planted).collect()
    graft.CachedFrames.releaseAll()
    assert(pk.forall(_.getLong(4) === 100L),
      s"star hub not elected: ${pk.map(_.toSeq).mkString(", ")}")
    assert(pk.forall(_.getLong(1) === 1L))
    assert(pk.forall(_.getLong(2) === 5L))
  }

  test("triangle counting: a planted 4-clique closes all its wedges, " +
    "a path closes none, and every triangle counts exactly once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 4-clique on {1,2,3,4} + path 10-11-12: the clique has C(4,3)=4
    // triangles (each node in 3), clustering 1.0 everywhere; the path
    // has none, middle node clustering 0 at degree 2
    val planted = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (10L, 11L), (11L, 12L)).toDF("doc_a", "doc_b")
    val out = DedupQueries.trianglesOn(planted).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    graft.CachedFrames.releaseAll()
    (1L to 4L).foreach { n =>
      assert(out(n) === ((3L, 3L, 1.0)), s"clique node $n: ${out(n)}")
    }
    assert(out(11L) === ((2L, 0L, 0.0)))
    assert(out(10L)._2 === 0L && out(12L)._2 === 0L)
    // total per-node counts = 3 × number of triangles (each counted
    // exactly once per corner, never more — the orientation guarantee)
    assert(out.values.map(_._2).sum === 3L * 4L)
    // gate shape on the real corpus: deterministic, coefficients in
    // [0, 1], and triangle-free nodes exist alongside clustered ones
    val a = DedupQueries.dedupTriangles(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(a.nonEmpty)
    a.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("label propagation: a bridged pair of cliques splits into two " +
    "communities where connected components weld them into one") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two 5-cliques {1..5} and {11..15} joined by ONE bridge edge
    // 5-15: CC reports a single component; LPA outvotes the bridge
    val clique = (ns: Seq[Long]) =>
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val planted = (clique(1L to 5L) ++ clique(11L to 15L) :+ (5L, 15L))
      .toDF("doc_a", "doc_b")
    val cc = graft.operators.ConnectedComponents.run(
      planted.select(col("doc_a"), col("doc_b"))).collect()
    assert(cc.map(_.getLong(1)).toSet.size === 1, "bridge should weld CC")
    val out = DedupQueries.communitiesOn(planted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    graft.CachedFrames.releaseAll()
    val left = (1L to 5L).map(out(_)._1).toSet
    val right = (11L to 15L).map(out(_)._1).toSet
    assert(left.size === 1, s"left clique not uniform: $left")
    assert(right.size === 1, s"right clique not uniform: $right")
    assert(left != right, "bridge edge outvoted neither clique")
    assert(out(1L)._2 === 5L && out(11L)._2 === 5L)
    // gate shape on the real corpus: deterministic, sizes consistent,
    // and communities refine the near-dup components (every community
    // lives inside one CC component)
    val gate = DedupQueries.dedupCommunities(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(gate.nonEmpty)
    val bySize = gate.groupBy(_.getLong(1))
    bySize.foreach { case (c, rows) =>
      assert(rows.forall(_.getLong(2) === rows.length.toLong),
        s"community $c size column disagrees with membership count")
    }
  }

  test("capped band candidates: a planted mega-bucket yields linear " +
    "pair mass, and capped clusters refine the uncapped ones") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one bucket with 200 members: all-pairs would be C(200,2)=19900;
    // the cap must produce exactly (occ-1) star + C(8,2) bottom-k pairs
    val n = 200
    val mega = (1 to n).flatMap(i => (0 until 8).map(b =>
      (i.toLong, b, s"key-$b"))).toDF("doc_id", "band", "band_key")
    val cand = DedupQueries.cappedCandidates(mega).collect()
    val k = DedupQueries.CapK
    assert(cand.length === (n - 1) + k * (k - 1) / 2 - (k - 1),
      s"expected linear pair mass, got ${cand.length}")
    // (star edges (1,j) duplicate the k-1 bottom-k pairs touching the
    // min id — distinct() collapses them, hence the -(k-1) above)
    // connectivity: every member appears in an edge, and every edge
    // either touches the bucket min or stays inside the bottom-k set —
    // one star component covering the whole bucket
    assert(cand.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      === (1L to n.toLong).toSet)
    assert(cand.forall(r => r.getLong(0) === 1L ||
      (r.getLong(0) <= k && r.getLong(1) <= k)))
    // refinement on the real corpus: every capped cluster sits inside
    // exactly one uncapped cluster (capped edges are a subset, so
    // components can only split, never merge across)
    val un = DedupQueries.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CachedFrames.releaseAll()
    val capped = DedupQueries.dedupClustersCapped(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(capped.nonEmpty)
    capped.groupBy(_.getLong(1)).foreach { case (canon, rows) =>
      val parents = rows.map(r => un(r.getLong(0))).distinct
      assert(parents.length === 1,
        s"capped cluster $canon spans uncapped clusters $parents")
    }
  }

  test("LSH tuning: ledger equals an independent local recomputation " +
    "from the raw pair similarities, and the curve trade-offs hold") {
    val out = DedupQueries.lshTune(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(out.length === 6)
    // independent recompute: same binning, same multiplication chains
    val js = DedupQueries.jaccardPairs(
      graft.dedup.Shingling.shingles(
        graft.Tables.documents(spark, dir)))
      .select("jaccard").collect().map(_.getDouble(0))
    graft.CachedFrames.releaseAll()
    val hist = js.groupBy(j => math.round(j * 100).toInt / 5)
      .view.mapValues(_.length.toLong).toMap
    def pMicro(jMid: Double, b: Int, r: Int): Long = {
      val jr = (1 to r).map(_ => jMid).reduce(_ * _)
      val q = 1.0 - jr
      val qb = (1 to b).map(_ => q).reduce(_ * _)
      BigDecimal((1.0 - qb) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val expected = DedupQueries.LshConfigs.map { case (b, r) =>
      var fp = 0L; var fn = 0L
      hist.foreach { case (bucket, mass) =>
        val jMid = (bucket.toDouble * 5.0 + 2.5) / 100.0
        val p = pMicro(jMid, b, r)
        if (jMid < 0.5) fp += p * mass else fn += (1000000L - p) * mass
      }
      (b, r) -> ((fp, fn))
    }.toMap
    out.foreach { row =>
      val key = (row.getInt(0), row.getInt(1))
      assert((row.getLong(2), row.getLong(3)) === expected(key),
        s"config $key ledger mismatch")
      assert(row.getLong(4) === row.getLong(2) + row.getLong(3))
    }
    // the S-curve trade: ultra-strict (1 band of 32 rows) misses true
    // near-dups; ultra-loose (32 bands of 1 row) floods with false
    // candidates — both relative to a balanced middle config
    val byCfg = out.map(r =>
      (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(byCfg((1, 32))._2 > byCfg((8, 4))._2,
      "strict banding should miss more true pairs")
    assert(byCfg((32, 1))._1 > byCfg((8, 4))._1,
      "loose banding should propose more false candidates")
    // the ledger is sorted by total expected error
    assert(out.map(_.getLong(4)).toSeq === out.map(_.getLong(4)).sorted)
  }

  test("containment catches a planted wholesale quotation that " +
    "jaccard misses, in pure integer arithmetic") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc 1: a 20-word passage; doc 2: that passage quoted inside 180
    // unrelated words → jaccard ~0.1 (below D2's 0.5) but containment
    // of the small side ≈ 1.0
    val passage = (1 to 20).map(i => s"quote$i").mkString(" ")
    val filler1 = (1 to 90).map(i => s"pad$i").mkString(" ")
    val filler2 = (91 to 180).map(i => s"pad$i").mkString(" ")
    val unrelated = (1 to 60).map(i => s"other$i").mkString(" ")
    val docs = Seq(
      (1L, passage),
      (2L, s"$filler1 $passage $filler2"),
      (3L, unrelated)).toDF("doc_id", "text")
    val tdir = java.nio.file.Files.createTempDirectory("graft-cont").toString
    docs.select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("s").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tdir/documents.parquet")
    val cont = DedupQueries.dedupContainment(spark, tdir).collect()
    graft.CachedFrames.releaseAll()
    val jac = pairs(DedupQueries.dedupJaccard(spark, tdir))
    graft.CachedFrames.releaseAll()
    // jaccard at 0.5 does NOT pair them; containment does, oriented
    // small → big, with the small side ~fully contained
    assert(!jac.contains((1L, 2L)), "jaccard unexpectedly paired them")
    val hit = cont.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(hit.isDefined, s"containment missed the quotation: ${cont.toSeq}")
    val r = hit.get
    assert(r.getLong(5) >= DedupQueries.ContainmentMicro)
    // exact integer check: cont_micro = shared*1e6 div n_small
    assert(r.getLong(5) === r.getLong(2) * 1000000L / r.getLong(3))
    assert(r.getLong(3) < r.getLong(4), "orientation small->big broken")
    // the unrelated doc never pairs
    assert(cont.forall(x => x.getLong(0) != 3L && x.getLong(1) != 3L))
  }

  test("D34 substring runs catch a planted boundary-straddling quote " +
    "the disjoint-tile gate provably misses, with exact start " +
    "positions and length; maximal runs merge, sub-k repeats stay out") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc 1: d1..d30. doc 2 quotes doc 1's words 6..20 (15 words) at
    // its own position 4 — chosen so NO 10-word tile of either doc
    // equals a tile of the other (doc1 tiles break at 10/20, the
    // quote spans 6..20; doc2's tiles break mid-quote differently)
    val d = (1 to 30).map(i => s"d$i")
    val doc1 = d.mkString(" ")
    val doc2 = ((1 to 3).map(i => s"z$i") ++ d.slice(5, 20) ++
      (19 to 30).map(i => s"z$i")).mkString(" ")
    // doc 3: a 9-word repeat of doc 1 (below k) — must NOT surface
    val doc3 = (d.slice(0, 9) ++ (1 to 21).map(i => s"y$i")).mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3))
      .toDF("doc_id", "text")
    // negative control: D7's disjoint-tile logic on the same corpus
    val tiles = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 10)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) div 10), " +
          "k -> concat_ws(' ', slice(w, (k-1)*10+1, 10)))")).as("span"))
      .groupBy(col("span")).agg(countDistinct(col("doc_id")).as("n"))
      .filter(col("n") >= 2).count()
    assert(tiles === 0L,
      "the plant is supposed to defeat the tile grain — fixture broken")
    val runs = DedupQueries.substringRunsOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    graft.CachedFrames.releaseAll()
    // exactly one maximal run: doc1[6..20] == doc2[4..18], 15 words
    assert(runs.toSeq === Seq((1L, 2L, 6L, 4L, 15L)),
      s"expected the one straddling quote, got ${runs.toSeq}")
    // the real corpus face agrees with its own tile gate's keepers:
    // every tile-grain repeat is covered by some stride-1 run pair
    val corpusRuns = DedupQueries.dedupSubstrings(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(corpusRuns.nonEmpty,
      "the sf corpus has tile-level repeats, stride-1 must see them")
    assert(corpusRuns.forall(_.getLong(4) >= DedupQueries.SubstringK))
  }

  test("P34 exact-substring decontamination catches a planted short " +
    "verbatim eval quote that BOTH ratio gates provably miss (P3's " +
    "contamination threshold and P25's jaccard band floor), with " +
    "exact offsets; sub-k repeats stay out") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // eval doc: e1..e40. train doc 1: 200 words with eval words
    // 11..22 (a 12-word verbatim quote) planted at position 101.
    // train doc 2: only a 9-word (< k) eval repeat — control.
    val e = (1 to 40).map(i => s"e$i")
    val evalDoc = e.mkString(" ")
    val quote = e.slice(10, 22) // e11..e22, 12 words
    val train1 = ((1 to 100).map(i => s"t$i") ++ quote ++
      (101 to 188).map(i => s"t$i")).mkString(" ")
    val train2 = ((1 to 50).map(i => s"u$i") ++ e.slice(0, 9) ++
      (51 to 80).map(i => s"u$i")).mkString(" ")
    val train = Seq((1L, train1), (2L, train2)).toDF("doc_id", "text")
    val ev = Seq((20L, evalDoc)).toDF("doc_id", "text")
    // P3 misses: the quote's 10 shared 3-grams are ~5% of the train
    // doc's 198 shingles — far under the 20% contamination threshold
    val evalShingles = e.sliding(3).map(_.mkString(" ")).toSeq
    val p3 = graft.pipeline.PipelineQueries
      .decontamAnnotate(train, evalShingles).collect()
    assert(p3.isEmpty,
      s"the plant is supposed to sit under P3's threshold: ${p3.toSeq}")
    // P25 misses: token-set jaccard 12/228 ≈ 0.05 — under any useful
    // band threshold (the gate's floor is 0.4)
    val j = quote.toSet.size.toDouble /
      (train1.split(" ").toSet ++ e.toSet).size
    assert(j < 0.4, s"fixture broken: jaccard $j not under the floor")
    // P34 reports exactly the quote, with both 1-based offsets
    val runs = DedupQueries.decontamSubstringsOn(train, ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    graft.CachedFrames.releaseAll()
    assert(runs.toSeq === Seq((1L, 20L, 101L, 11L, 12L)),
      s"expected the one planted quote, got ${runs.toSeq}")
  }

  test("P40 normalized-grain decontamination catches a planted " +
    "REFORMATTED quote (case, punctuation, hyphenation edits) that " +
    "word-grain P34 provably misses, with canonical-token offsets") {
    import spark.implicits._
    // eval doc: 40 canonical lowercase words. The train doc quotes
    // eval words 11..25 (15 words ≥ k) but REFORMATTED: every word
    // capitalized, a comma after every third word, and two adjacent
    // words joined by a hyphen — the casing/punctuation/word-boundary
    // edit classes Lee et al.'s sub-word grain absorbs and raw
    // space-split shingles do not
    val words = (1 to 40).map(i => s"word$i")
    val evalDoc = words.mkString(" ")
    val quote = words.slice(10, 25)
    val reformatted = quote.zipWithIndex.map { case (w, i) =>
      val cap = w.capitalize
      if (i % 3 == 2) cap + "," else cap
    }
    val hyph = reformatted.take(5) ++
      Seq(reformatted(5) + "-" + reformatted(6)) ++ reformatted.drop(7)
    val train1 = ((1 to 60).map(i => s"tr$i") ++ hyph ++
      (61 to 120).map(i => s"tr$i")).mkString(" ")
    val train = Seq((1L, train1)).toDF("doc_id", "text")
    val ev = Seq((20L, evalDoc)).toDF("doc_id", "text")
    // word-grain P34 on the raw text: the reformatting defeats every
    // 10-word raw shingle — nothing reported (the documented gap)
    val word = DedupQueries.decontamSubstringsOn(train, ev).collect()
    graft.CachedFrames.releaseAll()
    assert(word.isEmpty,
      s"fixture broken: word grain caught the reformat ${word.toSeq}")
    // P40: the canonical sequence restores the 15-word run exactly —
    // train position 61 (after 60 canonical tr-words), eval 11
    val norm = DedupQueries.decontamSubstringsOn(
      DedupQueries.normalizedDocs(train),
      DedupQueries.normalizedDocs(ev)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    graft.CachedFrames.releaseAll()
    assert(norm.toSeq === Seq((1L, 20L, 61L, 11L, 15L)),
      s"expected the one reformatted quote, got ${norm.toSeq}")
    // and the corpus-facing gate agrees with its oracle's shape: every
    // row at least k long, train side never an eval doc
    val gate = DedupQueries.decontamSubstringsNorm(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    gate.foreach { r =>
      assert(r.getLong(0) % 20 != 0L, "eval doc on the train side")
      assert(r.getLong(1) % 20 === 0L, "train doc on the eval side")
      assert(r.getLong(4) >= DedupQueries.SubstringK.toLong)
    }
  }

  test("P41 token-grain decontamination catches a planted INTRA-WORD " +
    "typo quote that canonical-word P40 provably misses — the edit " +
    "splits the quote into two sub-10-word halves at word grain, but " +
    "both halves clear k at the finer token grain, with offsets in " +
    "token positions") {
    import spark.implicits._
    // eval doc: 30 six-char words; the train doc quotes eval words
    // 8..22 (15 words) with word 15 — the quote's middle — typo'd.
    // Word halves: 7 words each, both under k=10 → every word-grain
    // rung (P34 raw, P40 canonical) reports NOTHING. Subword tokens
    // (two 3-char pieces per word, the spec's deterministic stand-in
    // tokenizer) put 14 tokens on each side of the edit — both ≥ k.
    val evWords = (1 to 30).map(i => f"w$i%05d")
    val quote = evWords.slice(7, 22)
    val typod = quote.updated(7, "zzzzzz")
    val trWords = (1 to 50).map(i => f"t$i%05d") ++ typod ++
      (51 to 70).map(i => f"t$i%05d")
    val trainDocs = Seq((1L, trWords.mkString(" ")))
      .toDF("doc_id", "text")
    val evDocs = Seq((20L, evWords.mkString(" "))).toDF("doc_id", "text")
    // word grain (P40's canonical rung — strictly stronger than raw
    // P34) finds nothing: the typo'd plant is the documented residual
    val word = DedupQueries.decontamSubstringsOn(
      DedupQueries.normalizedDocs(trainDocs),
      DedupQueries.normalizedDocs(evDocs)).collect()
    graft.CachedFrames.releaseAll()
    assert(word.isEmpty,
      s"fixture broken: word grain caught the typo plant ${word.toSeq}")
    // token grain: each 6-char word -> two 3-char subword ids
    def toks(ws: Seq[String]): Seq[Long] =
      ws.flatMap(_.grouped(3)).map(_.hashCode.toLong & 0x7fffffffL)
    val train = Seq((1L, toks(trWords))).toDF("doc_id", "token_ids")
    val ev = Seq((20L, toks(evWords))).toDF("doc_id", "token_ids")
    val runs = DedupQueries.decontamSubstringsTokOn(train, ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    graft.CachedFrames.releaseAll()
    // both halves of the quote report: train tokens 101..114 ↔ eval
    // 15..28 and train 117..130 ↔ eval 31..44 (the typo'd word's two
    // tokens 115..116 split the diagonal run)
    assert(runs.toSeq === Seq((1L, 20L, 101L, 15L, 14L),
      (1L, 20L, 117L, 31L, 14L)),
      s"expected the two typo-split halves, got ${runs.toSeq}")
    // the corpus-facing gate keeps the oracle's shape
    val gate = DedupQueries.decontamSubstringsTok(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    gate.foreach { r =>
      assert(r.getLong(0) % 20 != 0L, "eval doc on the train side")
      assert(r.getLong(1) % 20 === 0L, "train doc on the eval side")
      assert(r.getLong(4) >= DedupQueries.SubstringK.toLong)
    }
  }

  test("D35 token-grain cross-doc substrings: a typo'd 17-word shared " +
    "quote that word-grain D34 provably misses (both halves under 10 " +
    "words) reports as two token-grain runs with token offsets; doc " +
    "order and run lengths exact") {
    import spark.implicits._
    // doc 1 carries the clean quote (its words 8..24); doc 2 quotes it
    // with word 9 OF THE QUOTE typo'd, at its words 51..67
    val aWords = (1 to 30).map(i => f"w$i%05d")
    val quote = aWords.slice(7, 24) // 17 words
    val typod = quote.updated(8, "zzzzzz")
    val bWords = (1 to 50).map(i => f"t$i%05d") ++ typod ++
      (51 to 70).map(i => f"t$i%05d")
    // word grain: halves of 8 words sit under D34's k=10 — nothing
    val word = DedupQueries.substringRunsOn(
      Seq((1L, aWords.mkString(" ")), (2L, bWords.mkString(" ")))
        .toDF("doc_id", "text")).collect()
    graft.CachedFrames.releaseAll()
    assert(word.isEmpty,
      s"fixture broken: word grain caught the typo plant ${word.toSeq}")
    // token grain (two 3-char subword ids per 6-char word): both
    // 16-token halves clear k=15
    def toks(ws: Seq[String]): Seq[Long] =
      ws.flatMap(_.grouped(3)).map(_.hashCode.toLong & 0x7fffffffL)
    val runs = DedupQueries.dedupSubstringsTokOn(
      Seq((1L, toks(aWords)), (2L, toks(bWords)))
        .toDF("doc_id", "token_ids")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    graft.CachedFrames.releaseAll()
    assert(runs.toSeq === Seq((1L, 2L, 15L, 101L, 16L),
      (1L, 2L, 33L, 119L, 16L)),
      s"expected the two typo-split halves, got ${runs.toSeq}")
    // corpus gate keeps the oracle's shape
    val gate = DedupQueries.dedupSubstringsTok(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    gate.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "doc order violated")
      assert(r.getLong(4) >= DedupQueries.TokDedupK.toLong)
    }
  }

  test("semantic dedup equals an independent local within-cluster " +
    "recompute; keeper precedes removed; no cross-cluster pruning") {
    import org.apache.spark.sql.functions._
    val assigned = graft.sim.SimQueries.assignedVecs(spark, dir)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray, r.getInt(2)))
    val out = DedupQueries.dedupSemantic(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(out.nonEmpty)
    // independent recompute over the collected (500 x 64) corpus
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCluster = assigned.groupBy(_._3)
    val expected = byCluster.values.flatMap { vs =>
      val sorted = vs.sortBy(_._1)
      sorted.flatMap { case (id, v, c) =>
        val smaller = sorted.filter(_._1 < id)
          .map { case (oid, ov, _) => (oid, cos(ov, v)) }
          .filter(_._2 >= DedupQueries.SemThreshold)
        if (smaller.isEmpty) None
        else Some((id, c, smaller.map(_._1).min, smaller.map(_._2).max))
      }
    }.toSet
    val got = out.map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === expected)
    out.foreach { r =>
      assert(r.getLong(2) < r.getLong(0), "keeper must precede removed")
    }
  }

  test("b-bit minhash: same pair set and exact values as the " +
    "full-width estimator; debiasing works; error envelope priced") {
    val bb = DedupQueries.dedupMinhashBbit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    graft.CachedFrames.releaseAll()
    val fw = DedupQueries.dedupMinhashEst(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    graft.CachedFrames.releaseAll()
    assert(bb.keySet === fw.keySet, "candidate pair sets diverged")
    bb.foreach { case (k, (_, exact, _)) =>
      assert(exact === fw(k)._2, s"exact jaccard diverged at $k") }
    // debiasing: near-identical pairs must still estimate high even
    // through 2-bit components
    bb.foreach { case (k, (est, exact, _)) =>
      if (exact >= 900000L)
        assert(est >= 600000L, s"planted pair under-estimated at $k: $est")
    }
    val meanBb = bb.values.map(_._3).sum / bb.size
    val meanFw = fw.values.map(_._3).sum / fw.size
    info(s"mean |err|: b-bit $meanBb vs full-width $meanFw")
    // Li & Konig: variance inflates ~1/(1-C)^2 = 1.78x at b=2; allow
    // generous room on this small candidate set, but the 14x-smaller
    // signature must not cost an order of magnitude of accuracy
    assert(meanBb <= 4L * math.max(meanFw, 20000L),
      s"b-bit error $meanBb blew past the envelope (full-width $meanFw)")
  }

  test("threshold sweep: pairs and coverage fall monotonically as tau " +
    "rises, and the rungs agree with the direct jaccard gate") {
    val rows = DedupQueries.dedupThresholdSweep(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(rows.map(_.getInt(0)).toSeq === DedupQueries.SweepTaus)
    val pairs = rows.map(_.getLong(1))
    val docs = rows.map(_.getLong(2))
    pairs.zip(pairs.tail).foreach { case (a, b) =>
      assert(a >= b, "pair count rose with tau") }
    docs.zip(docs.tail).foreach { case (a, b) =>
      assert(a >= b, "doc coverage rose with tau") }
    // the 0.5 rung must equal dedup_jaccard's pair count exactly
    val direct = DedupQueries.dedupJaccard(spark, dir).count()
    graft.CachedFrames.releaseAll()
    val rung50 = rows.find(_.getInt(0) == 50).get.getLong(1)
    assert(rung50 === direct,
      s"sweep rung 50 ($rung50) != dedup_jaccard ($direct)")
  }
}
