package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the 100 TB story in executable
  * form. If a refactor un-pushes a filter, drops a broadcast, or breaks
  * whole-stage codegen on a hot path, these fail before any benchmark
  * notices.
  */
class PlanSpec extends AnyFunSuite with SharedSpark {
  private val dir = "/root/testdata/sf0.001"

  /** The broadcast guards read plans at Spark's default size threshold:
    * a threshold leaked in from another spec (-1 turns size-based
    * broadcast off) would let every "no broadcast" guard pass vacuously. */
  private def plan(name: String): String = {
    val threshold = SQLConf.AUTO_BROADCASTJOIN_THRESHOLD
    assert(JavaUtils.byteStringAsBytes(spark.conf.get(threshold.key)) ===
      threshold.defaultValue.get)
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString()
  }

  test("scan pushdown: filters and pruned schema reach the parquet scan") {
    val p = plan("q_scan_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity") ||
      p.contains("GreaterThan(l_shipdate") || p.contains("IsNotNull"), p)
    // projection pruning: the scan must not read all 11 lineitem columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), readSchema)
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("dim joins broadcast; the fact join is the only shuffle join") {
    val p3 = plan("q3_shipping")
    assert(p3.contains("BroadcastHashJoin"), p3)
    val p5 = plan("q5_local_supplier")
    assert(p5.contains("BroadcastHashJoin"), p5)
  }

  test("aggregations are two-phase (map-side partial before shuffle)") {
    val p = plan("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_revenue")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tape replay read prunes day partitions in the planner") {
    val root = java.nio.file.Files.createTempDirectory("graft-plan").toString
    import spark.implicits._
    val records = (1 to 60).map { i =>
      (s"p$i".getBytes, i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-0${1 + (i - 1) / 20}%d 08:00:00"))
    }.toDF(vcr.Tape.DataCol, vcr.Tape.SeqCol, vcr.Tape.TsCol)
    vcr.TapeWriter.write(records, root, "s", numFiles = 2)
    val day1 = vcr.TapePlayer.read(spark, root, "s",
      java.time.LocalDateTime.parse("2024-01-01T00:00:00"), None)
    val scan = day1.queryExecution.executedPlan.toString()
    // the day bounds reach the tape scan, which prunes the day
    // directories before it lists them
    assert(scan.contains("prunedBy=[") &&
      scan.contains("GreaterThanOrEqual(dt,2024-01-01)") &&
      scan.contains("LessThanOrEqual(dt,2024-01-01)"), scan)
    // only one of the three day directories survives pruning
    val srcs = day1.select("src").distinct().collect().map(_.getString(0))
    assert(srcs.nonEmpty && srcs.forall(_.contains("dt=2024-01-01")), srcs.toSeq)
  }

  test("hot vector scoring uses the codegen'd custom expression") {
    // signature + verify must run graft's DotProduct — never the
    // allocating aggregate(zip_with(...)) fold or a fallback eval
    val p = plan("dedup_embedding")
    assert(p.contains("dotproduct("), p)
    assert(!p.contains("zip_with"), p)
    assert(!p.contains("CodegenFallback"), p)
  }

  test("allpairs exact join: no broadcast anywhere — every stage " +
    "shuffles on keys the index already has") {
    // both sides of every join are O(corpus): the prefix candidates,
    // the count attaches, and the pair-local docset verify. A
    // broadcast election of any of them is the sf1 regression class
    // (the 160 MB mis-estimated index); the shuffle_hash hints state
    // the contract and this assert keeps it from regressing silently.
    val p = plan("dedup_allpairs")
    assert(!p.contains("BroadcastExchange"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("binary quantization serves off the packed words: hamming is " +
    "codegen'd bit arithmetic, exact cosine only after the shortlist") {
    val p = plan("knn_bq")
    assert(p.contains("bit_count"), p)
    // the scan phase must rank on hamming BEFORE any dot product runs:
    // the rerank's DotProduct appears above the hrank window filter
    assert(p.contains("dotproduct("), p)
    assert(p.indexOf("bit_count") > p.indexOf("dotproduct("),
      "rerank (outer) should print before the hamming scan (inner) in " +
        "the plan tree — packed-word phase must feed the shortlist")
  }

  test("no gate query plans a nested-loop or cartesian join") {
    // the all-pairs baselines (knnBruteJoin, dedupEmbeddingBrute) are
    // spec-level cross-checks only: at 100 TB a nested-loop pair
    // enumeration is the textbook scale-killer, so the gate — what a
    // user reaches for — must never plan one. The ONE exemption is
    // pair enumeration over SKETCH rows, not corpus rows:
    // sketch_kmv_overlap joins |sources| k-long KMV summaries on
    // a.source < b.source — O(|sources|²) kilobyte rows by
    // construction, which is the entire point of sketching (the
    // corpus-sized equivalent, P11, joins equi on the span hash)
    val sketchRowPairs = Set("sketch_kmv_overlap")
    (SparkEntry.queries.keys.toSet -- sketchRowPairs).toSeq.sorted.foreach {
      name =>
      val p = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString()
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a BNLJ")
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian")
    }
    // the exempted pair join must still be over the AGGREGATED sketch
    // frame (one row per source, bounded arrays), never corpus rows
    val sk = SparkEntry.queries("sketch_kmv_overlap")(spark, dir)
      .queryExecution.executedPlan.toString()
    assert(sk.contains("kmvagg"),
      s"sketch pair join no longer feeds from the KMV aggregate:\n$sk")
  }

  test("q_skew_join shuffles on the salted key and spreads the hot key") {
    val p = plan("q_skew_join")
    // the join must be a shuffled join on (user_id, __salt) — the salt
    // in the exchange partitioning IS the skew spread
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("__salt")), p)
    // and the spread is real: a single hot key's rows land on >1 salt
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, dir)
    val salts = ev.filter(col("user_id") === 0L)
      .withColumn("__salt", pmod(xxhash64(
        col("user_id"), col("event_type"), col("value")), lit(8)).cast("int"))
      .select("__salt").distinct().count()
    assert(salts > 1, s"hot key landed on $salts salt(s)")
  }

  test("hot-shingle cap is a SHUFFLED anti-join on the index key — " +
    "no window, no stop-set broadcast") {
    // round-5 sf1 probe: the stop set is N/maxDf members — 17 MB on a
    // vocabulary-dense corpus, gigabytes at 100 TB — so it must NOT
    // broadcast; and a window count would sort the whole index. The
    // anti-join keys on `shingle`, the same partitioning the df
    // aggregate and every downstream self-join already need.
    val p = plan("dedup_jaccard")
    assert(p.contains("LeftAnti"), p)
    val broadcastAnti = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
    assert(!broadcastAnti, s"stop-shingle set broadcast:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("deployed-index serving scans are PARTITION-PRUNED: the probed " +
    "cluster set reaches the postings scan as a partition filter " +
    "(round-9 S37 regression guard; S35's per-round edge scans carry " +
    "the same isin discipline but execute behind localCheckpoints, so " +
    "their evidence is the sf1 probe, not this final plan)") {
    // multi-probe artifact serve: the bounded probed-cluster collect
    // must land as a partition filter on the postings scan — without
    // it every partition of the deployed index is read per query batch
    val p37 = plan("knn_ivf_probe_artifact")
    val prunedPostings = p37.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cluster") &&
        !l.contains("PartitionFilters: []"))
    assert(prunedPostings,
      s"S37 postings scan lost its cluster partition pruning:\n$p37")
    graft.CachedFrames.releaseAll()
    // S37b: the TOMBSTONED multi-probe serving core carries the same
    // discipline — the probed-cluster collect must prune the
    // manifest-resolved postings scan (round 10; this is the R19b
    // streamed topology's per-trigger plan)
    val p37b = plan("knn_ivf_delete_probe")
    val prunedDeleted = p37b.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cluster") &&
        !l.contains("PartitionFilters: []"))
    assert(prunedDeleted,
      s"S37b tombstoned postings scan lost its partition pruning:\n$p37b")
    graft.CachedFrames.releaseAll()
  }

  test("compressed-artifact serving (S43/S45) partition-prunes the " +
    "codes scan to the probed lists and keeps the ADC LUT joins " +
    "broadcast — the deployed-PQ plan shape at 100 TB") {
    // the probed-cluster collect must land as a partition filter on
    // the codes scan (two small ints per corpus vector is only cheap
    // if a query batch reads its probe lists, not the whole code
    // table), and the |Q|×k LUTs must join broadcast (kilobytes),
    // never shuffle the code table on (q_id, code)
    // round 13: the multi-probe (S47) and OPQ-rotated (S50) deployed
    // paths carry the identical discipline — at nprobe > 1 the probed
    // union is |Q|·p labels, still a bounded driver set, and it MUST
    // still land as a partition filter (the r12 verdict's done-bar)
    Seq("knn_ivfpq_artifact", "knn_ivfpq_delete", "knn_ivfpq_insert",
      "knn_ivfpq_res_artifact", "knn_ivfpq_artifact_probe",
      "knn_ivfpq_res_artifact_probe", "knn_opq_artifact").foreach { q =>
      val p = plan(q)
      val pruned = p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("cluster") &&
          !l.contains("PartitionFilters: []"))
      assert(pruned, s"$q codes scan lost its partition pruning:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q lost its broadcast LUT joins:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q sort-merges on the serving path:\n$p")
      graft.CachedFrames.releaseAll()
    }
  }

  test("data_read_shard joins the rank's block map as a BROADCAST " +
    "into the blocks scan — zero shuffle of token payload — and its " +
    "stateless rank derivation keeps the two-phase bucket windows") {
    val p = plan("data_read_shard")
    assert(p.contains("BroadcastHashJoin"),
      s"the rank block map no longer broadcasts into the scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the shard read sort-merges (token payload would shuffle):\n$p")
    // the epochOrderOn subplan (broadcast side) must keep its md5-
    // prefix bucket partitions on every block-rank window (the P33
    // two-phase discipline — same guard as data_epoch_order)
    val blockRanks = p.linesIterator.filter(l =>
      l.contains("row_number()") && l.contains("block_id")).toList
    assert(blockRanks.nonEmpty,
      s"data_read_shard lost its rank window entirely:\n$p")
    blockRanks.foreach(l => assert(l.contains("kb#"),
      s"shard-read rank window lost its bucket partition:\n$l"))
    graft.CachedFrames.releaseAll()
  }

  test("the O(corpus) index joins stay shuffled — no broadcast of the " +
    "shingle or band index at any estimate (sf1-probe regression guard)") {
    // the static planner underestimates the cached/anti-joined index
    // subtrees, and with no shuffle boundary under the join AQE never
    // corrects it: at sf1 it elected 80-160 MB broadcasts of relations
    // that ARE the corpus at production scale. The SHUFFLE_HASH hints
    // must keep every such join an inner ShuffledHashJoin (the
    // stop-shingle anti-join is now shuffled too — round-5 probe; AQE
    // may still broadcast genuinely small attach sides it can
    // MEASURE — those have a shuffle beneath them).
    Seq("dedup_jaccard" -> "shingle", "dedup_minhash" -> "band",
      "dedup_pagerank" -> "band", "dedup_triangles" -> "shingle",
      "dedup_minhash_est" -> "band")
      .foreach { case (q, key) =>
        val p = plan(q)
        val broadcastOnKey = p.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && !l.contains("LeftAnti") &&
            l.matches(s".*BroadcastHashJoin \\[$key.*"))
        assert(!broadcastOnKey,
          s"$q broadcasts its $key-index self-join:\n$p")
        assert(p.contains("ShuffledHashJoin"),
          s"$q lost its shuffled index join:\n$p")
        graft.CachedFrames.releaseAll()
      }
  }

  test("the JM reference-model joins stay shuffled — no broadcast of " +
    "the bigram/context/unigram count tables (round-8 sf1 regression " +
    "guard)") {
    // the model tables are vocabulary-scale (Heaps'-law growth; the
    // sf1 probe measured the AQE-elected broadcast at 16.8 MB — GBs at
    // 100 TB). The SHUFFLE_HASH hints in jmScore must hold for every
    // consumer whatever the static estimate.
    Seq("text_perplexity_jm", "ppl_filter", "domain_reweight")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("BroadcastHashJoin"),
          s"$q broadcasts a reference-model side:\n$p")
        assert(p.contains("ShuffledHashJoin"),
          s"$q lost its shuffled model joins:\n$p")
        graft.CachedFrames.releaseAll()
      }
  }

  test("the exact-dedup keeper rides a window over the hash shuffle — " +
    "no keeper-frame join survives in the plan (round-8 sf1 " +
    "regression guard)") {
    // the aggregate-then-join-back form's keeper frame is one row per
    // distinct payload (corpus-sized; 18.9 MB AQE broadcast at sf1).
    // The min-window form has no join on the hash at all: assert no
    // hash-keyed join of either flavor remains, and the window is
    // there doing the work.
    Seq("data_dedup_budget", "data_alpha_mix_dedup", "source_report")
      .foreach { q =>
        val p = plan(q)
        val hashJoin = p.linesIterator.exists(l =>
          (l.contains("BroadcastHashJoin") ||
            l.contains("ShuffledHashJoin") ||
            l.contains("SortMergeJoin")) && l.matches(".*\\[h#.*"))
        assert(!hashJoin, s"$q still joins on the payload hash:\n$p")
        assert(p.contains("Window"), s"$q lost the keeper window:\n$p")
        graft.CachedFrames.releaseAll()
      }
  }

  test("text_unigram_lm scores at the (doc, word) grain and " +
    "shuffle-joins its Heaps'-law vocab — never broadcasts it " +
    "(round-8 sf1 regression guard)") {
    val p = plan("text_unigram_lm")
    assert(!p.contains("BroadcastHashJoin"),
      s"unigram vocab broadcast:\n$p")
    assert(p.contains("ShuffledHashJoin"), p)
    graft.CachedFrames.releaseAll()
  }

  test("media_ahash_dedup: the band self-join stays shuffled (same " +
    "sf1 regression class as the shingle/band index joins)") {
    // both sides of the candidate join are the O(corpus) hash frame;
    // the SHUFFLE_HASH hint must hold whatever the static estimate
    val p = plan("media_ahash_dedup")
    val broadcastOnBand = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.matches(".*\\[band.*"))
    assert(!broadcastOnBand, s"ahash band self-join broadcast:\n$p")
    assert(p.contains("ShuffledHashJoin"), p)
    graft.CachedFrames.releaseAll()
  }

  test("text_repeated_spans: the cross-doc flag joins back on the hash " +
    "SHUFFLED (the flag frame is O(corpus) at production scale)") {
    val p = plan("text_repeated_spans")
    val broadcastOnHash = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.matches(".*\\[h#.*"))
    assert(!broadcastOnHash, s"repeated-span flag broadcast:\n$p")
    assert(p.contains("ShuffledHashJoin"), p)
    graft.CachedFrames.releaseAll()
  }

  test("text_bpe_encode: the corpus word stream tokenizes once — the " +
    "vocabulary build and the encode join both read the persisted frame") {
    val p = plan("text_bpe_encode")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"bpe encode re-tokenizes the corpus per consumer:\n$p")
    graft.CachedFrames.releaseAll()
  }

  test("dedup_semantic: the within-cluster self-join stays shuffled " +
    "(both sides are the O(corpus) assigned-vector frame)") {
    val p = plan("dedup_semantic")
    val broadcastOnCluster = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.matches(".*\\[cluster.*"))
    assert(!broadcastOnCluster, s"semantic cluster self-join broadcast:\n$p")
    assert(p.contains("ShuffledHashJoin"), p)
    graft.CachedFrames.releaseAll()
  }

  test("dsir_select: the B-row weight table broadcasts; the corpus " +
    "feature stream never does") {
    val p = plan("dsir_select")
    assert(p.contains("BroadcastHashJoin"),
      s"dsir weight join lost its broadcast:\n$p")
    // the scoring join's build side must be the bucket weight table
    // (≤ B rows), never the exploded corpus feature stream
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    graft.CachedFrames.releaseAll()
  }

  test("decontam_fuzzy: the eval-side band index broadcasts; no " +
    "corpus-sized band self-join") {
    val p = plan("decontam_fuzzy")
    // the candidate join's build side is the eval band index (5% of
    // docs × 8 bands — KBs however large the corpus)
    assert(p.contains("BroadcastHashJoin"),
      s"eval band index lost its broadcast:\n$p")
    // the verify joins keep the shuffle discipline of jaccardPairs
    assert(p.contains("ShuffledHashJoin"), p)
    graft.CachedFrames.releaseAll()
  }

  test("approx_count_distinct (HLL++) lands within its error bound") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
      .collect().head
    val (exact, approx) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05,
      s"exact=$exact approx=$approx")
  }

  test("q19's disjunction splits per table and reaches both scans") {
    val p = plan("q19_disjunctive")
    assert(p.contains("BroadcastHashJoin"), p)
    // both FileScans carry an Or(...) in PushedFilters — the scaladoc's
    // claim, held by a test
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).toList
    assert(pushed.count(_.contains("Or(")) >= 2, pushed.mkString("\n"))
  }

  test("q_topk_per_group is a single aggregate — no window exchange") {
    val p = plan("q_topk_per_group")
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }

  test("stratified_sample ranks via the bounded heap — no stratum sort") {
    // a handful of language strata means row_number() OVER (PARTITION
    // BY lang) sorts each stratum through ONE task — tens of TB for the
    // dominant language. The TopKAgg plan ships k·strata rows instead.
    val p = plan("stratified_sample")
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }

  test("text_repetition is a narrow per-doc map — no corpus-wide shuffle") {
    // the statistic is per-row; the only exchange allowed is the output
    // ORDER BY's range partitioning. A groupBy(doc_id, bg) idiom would
    // shuffle every bigram of the corpus (twice) for it.
    val p = plan("text_repetition")
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert("Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("text_bm25 tokenizes the corpus once (persisted token stream)") {
    // dl and tf both read `toks`; without the persist the split+explode
    // runs per consumer — the plan must show the InMemoryRelation reused
    val p = plan("text_bm25")
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"), p)
    graft.CachedFrames.releaseAll()
  }

  test("q_heavy_hitters: k-bounded sketch aggregate + broadcast verify") {
    val p = plan("q_heavy_hitters")
    // the sketch pass is an ObjectHashAggregate (partial per task, one
    // k-entry summary through the shuffle), and the exact verify joins
    // the <=k candidate set as a broadcast — the full key space never
    // group-bys
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("misragries"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dedup_bloom: the filter probe is join-free codegen arithmetic") {
    val p = plan("dedup_bloom")
    // membership tests run inside projections/aggregates over the
    // broadcast literal words; the ONLY join is the exact-seen
    // broadcast join — no join keyed on bit positions
    // (the probe expression itself is elided from plan strings — the
    // join census is the observable: exactly one broadcast join, no
    // sort-merge join anywhere)
    assert("BroadcastHashJoin".r.findAllIn(p).size === 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("data_epoch_order ranks its block-scale frame TWO-PHASE: every " +
    "rank window partitions on the md5-prefix bucket, never on epoch " +
    "alone (round-10 P33 de-weak guard)") {
    // the block table is corpus_tokens/PackBlock rows — data-sized. A
    // row_number() window partitioned only by epoch funnels each
    // epoch's whole block set through ONE task; the two-phase form
    // ranks within 256 uniform md5-prefix buckets and adds bounded
    // bucket offsets (the P4/P26 discipline). Guard: any rank window
    // that orders block rows must carry the bucket in its partition
    // spec.
    val p = plan("data_epoch_order")
    val blockRanks = p.linesIterator.filter(l =>
      l.contains("row_number()") && l.contains("block_id")).toList
    assert(blockRanks.nonEmpty,
      s"data_epoch_order lost its rank window entirely:\n$p")
    blockRanks.foreach(l => assert(l.contains("kb#"),
      s"block rank window lost its md5-prefix bucket partition:\n$l"))
    graft.CachedFrames.releaseAll()
  }

  test("data_pack_shuffled computes its doc offsets TWO-PHASE: every " +
    "window over the doc-axis token counts carries the md5-prefix " +
    "bucket partition (the P33 discipline applied to the pack order)") {
    // the sequence table is corpus-sized; a prefix-sum window ordered
    // by the salted key WITHOUT the bucket partition would funnel the
    // whole corpus through one task. The bounded window over the 256
    // bucket totals aggregates `bt`, not `n_tokens`, so the filter
    // below isolates exactly the doc-axis windows.
    val p = plan("data_pack_shuffled")
    val docWindows = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && l.contains("n_tokens#")).toList
    assert(docWindows.nonEmpty,
      s"data_pack_shuffled lost its doc-offset window entirely:\n$p")
    docWindows.foreach(l => assert(l.contains("kb#"),
      s"doc-offset window lost its md5-prefix bucket partition:\n$l"))
    graft.CachedFrames.releaseAll()
  }

  test("approx_percentile lands near the exact percentile (scale path)") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    val row = li.agg(
      percentile(col("l_extendedprice"), lit(0.5)).as("exact"),
      approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000))
        .as("approx"))
      .collect().head
    val (exact, approx) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.01,
      s"exact=$exact approx=$approx")
  }

  test("custom dot product equals the compositional fold bit-for-bit") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, dir)
      .select(col("embedding").cast("array<double>").as("v"))
    val diff = e.select(
      (functions.VectorFunctions.dot(col("v"), col("v")) -
        functions.VectorFunctions.dotFold(col("v"), col("v"))).as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(diff === 0L)
  }

  test("custom hamming distance equals the sequence+filter " +
    "composition on every doc-pair hash; NULL on width mismatch") {
    import org.apache.spark.sql.functions._
    // real 64-char hashes from the corpus, crossed 200×200
    val h = Tables.documents(spark, dir).limit(200)
      .select(md5(col("text")).as("x"))
      .select(concat(col("x"), md5(col("x"))).substr(1, 64).as("h"))
    val pairs = h.select(col("h").as("a"))
      .crossJoin(h.select(col("h").as("b")))
    val diff = pairs.select(
      (graft.functions.HammingDistance(col("a"), col("b")) -
        expr("cast(size(filter(sequence(1, 64), i -> " +
          "substring(a, i, 1) != substring(b, i, 1))) as bigint)"))
        .as("d"))
      .filter(col("d") =!= 0L).count()
    assert(diff === 0L)
    val mismatch = spark.sql(
      "SELECT 1").select(graft.functions.HammingDistance(
        lit("abc"), lit("abcd")).as("hd")).head()
    assert(mismatch.isNullAt(0), "width mismatch must be NULL")
    // and the kernel runs inside whole-stage codegen on the gate path
    val p = plan("media_hash_agreement")
    assert(p.contains("hammingdistance") || p.contains("HammingDistance"),
      s"gate no longer uses the native kernel:\n$p")
    graft.CachedFrames.releaseAll()
  }
}
