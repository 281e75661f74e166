package graft.dedup

import graft.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite (SURVEY §2.3). Every pipeline — including
  * MinHash-LSH and SimHash — has a DuckDB oracle running the SAME
  * algorithm via md5-derived portable hashes (Shingling), so the gate
  * checks the pipelines end to end, not just their row counts.
  *
  * Scale notes (100 TB): exact dedup shuffles on md5(payload), never on
  * raw text. Jaccard builds an inverted shingle index (pairs only for
  * docs sharing a shingle — no n²). MinHash-LSH is the linear-ish scale
  * path: 8 band-bucket joins over 4-row signatures; exact verification
  * touches candidates only. SimHash buckets by equal chunks: with c
  * chunks a pair at hamming ≤ c-1 shares a clean chunk (pigeonhole), so
  * recall is guaranteed up to the radius. Embedding near-dup is the
  * brute-force baseline; the ANN buckets in graft.sim are the scale
  * path.
  */
object DedupQueries {
  import Shingling._

  /** D1: exact dedup of the event stream by payload — keeper + count.
    * Shuffles on md5(payload), never the payload itself (SURVEY §5):
    * the grouping key stays 16 bytes however large the documents get;
    * the payload rides along as a min() aggregate (all values within a
    * group are identical, so min() is just "the value", and map-side
    * partial aggregation collapses it to one copy per key per task
    * before the exchange).
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(md5(col("props").cast("binary")).as("k"))
      .agg(min(col("props")).as("payload"),
        min(col("event_id")).as("keeper_event"),
        count(lit(1)).as("n_dups"))
      .select(col("payload"), col("keeper_event"), col("n_dups"))
      .orderBy(col("payload"))

  val dedupExactSql: String = """
    SELECT min(props) AS payload, min(event_id) AS keeper_event,
           count(*) AS n_dups
    FROM events GROUP BY md5(props) ORDER BY payload"""

  private def shingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

  /** Exact pairwise jaccard for pairs of docs sharing ≥1 shingle, over
    * the df-capped shingle space: boilerplate shingles (df > maxDf) are
    * dropped BEFORE the self-join — see [[Shingling.MaxShingleDf]] —
    * so no join bucket exceeds C(maxDf,2) pairs however skewed the
    * corpus. Counts and intersections both use the capped set, so
    * `jaccard` is the exact jaccard of the capped shingle space (the
    * DuckDB oracle applies the identical cap).
    */
  private[dedup] def jaccardPairs(
      sh: DataFrame, maxDf: Long = MaxShingleDf): DataFrame = {
    // persist the capped index: three consumers (counts + both sides
    // of the self-join), and — the sf1-probe lesson — an ACCURATE
    // InMemoryRelation size is what stops the planner from
    // broadcast-electing a self-join side it underestimated (the
    // capped index is O(corpus): at sf1 the mis-estimated side
    // measured 160 MB broadcast; at 100 TB it is the dataset)
    val kept = graft.CachedFrames.persist(cappedShingles(sh, maxDf))
    val counts = shingleCounts(kept)
    val a = kept.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = kept.select(col("doc_id").as("doc_b"), col("shingle"))
    // SHUFFLE_HASH on every join whose build side scales with the
    // corpus (the index self-join and the per-doc count attach). The
    // static planner underestimates these cached/anti-joined subtrees
    // and — with no shuffle boundary beneath the join — AQE never gets
    // real sizes to re-plan, so the mis-estimate stands: the sf1 probe
    // measured a 160 MB broadcast of the (doc, shingle) index elected
    // this way. Both sides are O(corpus); broadcast is never the right
    // strategy at scale, so the hint states it declaratively.
    a.hint("shuffle_hash").join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("c"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("jaccard", round(col("c") / (col("na") + col("nb") - col("c")), 6))
  }

  private[graft] val jaccardPairsSql: String = s"""
    shingles AS ($shinglesSql),
    kept AS (
      SELECT doc_id, shingle FROM shingles
      QUALIFY count(*) OVER (PARTITION BY shingle) <= $MaxShingleDf),
    counts AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM kept a JOIN kept b ON a.shingle = b.shingle
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    jp AS (
      SELECT doc_a, doc_b, c, na.n AS na, nb.n AS nb,
             round(c / (na.n + nb.n - c), 6) AS jaccard
      FROM pairs JOIN counts na ON na.doc_id = doc_a
                 JOIN counts nb ON nb.doc_id = doc_b)"""

  /** D2: n-gram Jaccard near-dup pairs via the inverted shingle index. */
  def dedupJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(shingles(Tables.documents(s, dir)))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  val dedupJaccardSql: String = s"""
    WITH $jaccardPairsSql
    SELECT doc_a, doc_b, jaccard FROM jp
    WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""

  /** D32: k-core decomposition of the near-dup graph — the density
    * rung of the graph-analytics family (D6 CC answers "which docs
    * are connected", D13 PageRank "which are central", D25 triangles
    * "how clustered"; k-core answers "which docs sit in the densely
    * cross-duplicated REGION" — the template/boilerplate families a
    * purge plan treats differently from isolated near-dup pairs).
    * Edges = capped-index pairs sharing ≥ 2 shingles (the df-capped
    * build D2/D26 already persist). Peeling is the textbook fixpoint
    * — drop nodes with degree < k, restrict, repeat — run for a FIXED
    * [[KcoreRounds]] rounds in BOTH engines (fixpoint lands by round
    * 4 at both gate SFs, spec-asserted; later rounds are provable
    * no-ops, so the fixed count keeps the oracle a finite CTE chain).
    * Each round is one map-side-combined degree aggregate plus two
    * semi-joins on the edge list's existing keys, and the edge set
    * only ever SHRINKS; per-round localCheckpoint truncates lineage —
    * the D13 discipline (persist alone stacked ten rounds of plan
    * into a 2 GB description string).
    */
  val KcoreK = 3
  val KcoreRounds = 6

  def dedupKcore(s: SparkSession, dir: String): DataFrame = {
    val kept = graft.CachedFrames.persist(
      cappedShingles(shingles(Tables.documents(s, dir))))
    val a = kept.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = kept.select(col("doc_id").as("doc_b"), col("shingle"))
    val e = a.hint("shuffle_hash").join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("doc_a"), col("doc_b"))
    kcorePeel(e, KcoreK, KcoreRounds)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("doc_id"), col("core_deg"))
      .orderBy(col("doc_id"))
  }

  /** The peel loop on an undirected edge list (doc_a, doc_b); returns
    * the surviving directed edge list (src, dst), both directions.
    */
  private[dedup] def kcorePeel(
      e: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    (1 to rounds).foreach { _ =>
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      edges = edges
        .join(keep.hint("shuffle_hash"), Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")).hint("shuffle_hash"),
          Seq("dst"), "left_semi")
        .localCheckpoint()
    }
    edges
  }

  val dedupKcoreSql: String = {
    val rounds = (1 to KcoreRounds).map { r =>
      val prev = if (r == 1) "ed" else s"e${r - 1}"
      s"""
    n$r AS (SELECT src FROM $prev GROUP BY src
            HAVING count(*) >= $KcoreK),
    e$r AS MATERIALIZED (
      SELECT p.src, p.dst FROM $prev p
      WHERE p.src IN (SELECT src FROM n$r)
        AND p.dst IN (SELECT src FROM n$r))"""
    }.mkString(",")
    s"""
    WITH $jaccardPairsSql,
    e AS (SELECT doc_a, doc_b FROM pairs WHERE c >= 2),
    ed AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM e
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM e),$rounds
    SELECT src AS doc_id, count(*) AS core_deg
    FROM e$KcoreRounds GROUP BY src ORDER BY doc_id"""
  }

  /** D33 core: edit-distance ≤ 1 fuzzy self-join of a (key, name)
    * frame via deletion neighborhoods (the FastSS / SymSpell
    * candidate scheme). Every name explodes into its len+1
    * single-deletion variants (position i removed; i = len+1 is the
    * identity), candidates are an EQUI-join on the variant string,
    * and `levenshtein` — the same integer DP in Spark and DuckDB —
    * verifies candidates exactly. Completeness for d ≤ 1: a
    * substitution pair shares the variant deleting the differing
    * position; an insertion/deletion pair shares the shorter string
    * itself (the longer side's deletion of the inserted char, the
    * shorter side's identity). So the quadratic all-pairs DP becomes
    * one equi-join whose buckets are bounded by alphabet size per
    * position — never a cross product, and the variant explosion is
    * ×(len+1) on the ENTITY table, the small side of any real
    * pipeline.
    */
  /** The len+1 single-deletion variants of string column `c`
    * (position i removed; i = len+1 yields the string itself).
    */
  private def deletionVariants(c: String) = expr(
    s"transform(sequence(1, length($c) + 1), " +
      s"i -> concat(substring($c, 1, i - 1), " +
      s"substring($c, i + 1, length($c))))")

  private[dedup] def fuzzyJoinEd1(entities: DataFrame): DataFrame = {
    val vars = entities.select(col("key"),
      explode(deletionVariants("name")).as("v"))
    val cand = vars.select(col("key").as("key_a"), col("v"))
      .hint("shuffle_hash")
      .join(vars.select(col("key").as("key_b"), col("v"))
        .hint("shuffle_hash"), Seq("v"))
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b")).distinct()
    cand
      .join(entities.select(col("key").as("key_a"),
        col("name").as("name_a")).hint("shuffle_hash"), Seq("key_a"))
      .join(entities.select(col("key").as("key_b"),
        col("name").as("name_b")).hint("shuffle_hash"), Seq("key_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 1)
  }

  /** Cross-sided D33: match a PROBE stream of (key, name) against a
    * static REFERENCE dictionary (ref_key, ref_name) at edit distance
    * ≤ 1 — the decontam-asymmetric shape (P25's): the reference side
    * is the small dimension, its variant index broadcastable, and the
    * probe side needs no self-join, so the match is STATELESS — each
    * record resolves against the same static index regardless of
    * arrival order, which is what makes the R28 streaming face a
    * plain stream-static join with exact batch parity.
    */
  private[graft] def fuzzyMatchEd1(
      probe: DataFrame, ref: DataFrame): DataFrame = {
    val pv = probe.select(col("key"), col("name"),
      explode(deletionVariants("name")).as("v"))
    val rv = ref.select(col("ref_key"), col("ref_name"),
      explode(deletionVariants("ref_name")).as("v"))
    // duplicates (a probe/ref pair sharing several variants) collapse
    // via a keyed aggregate, NOT distinct: a probe row's variants all
    // land in its own trigger, so the update-mode streaming emission
    // of this groupBy is final per key — the R23 argument
    pv.join(broadcast(rv), Seq("v"))
      .groupBy(col("key"), col("name"), col("ref_key"), col("ref_name"))
      .agg(count(lit(1)).as("n_variant_hits"))
      .withColumn("dist", levenshtein(col("name"), col("ref_name")))
      .filter(col("dist") <= 1)
  }

  /** D33: fuzzy-key entity resolution — the record-linkage rung the
    * text-grain dedup family lacks: near-identical KEYS (typo'd
    * names, off-by-one ids) rather than near-identical documents.
    * Runs [[fuzzyJoinEd1]] over customer names; DedupSpec pins
    * completeness against the brute-force O(n²) DP on a small corpus
    * and plants one case of each edit class.
    */
  def dedupFuzzyKeys(s: SparkSession, dir: String): DataFrame =
    fuzzyJoinEd1(Tables.customer(s, dir)
      .select(col("c_custkey").as("key"), col("c_name").as("name")))
      .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"),
        col("dist"))
      .orderBy(col("key_a"), col("key_b"))

  val dedupFuzzyKeysSql: String = """
    WITH vars AS (
      SELECT c_custkey AS key,
             substring(c_name, 1, i - 1) || substring(c_name, i + 1) AS v
      FROM (SELECT c_custkey, c_name,
                   unnest(range(1, length(c_name) + 2)) AS i
            FROM customer)),
    cand AS (
      SELECT DISTINCT a.key AS key_a, b.key AS key_b
      FROM vars a JOIN vars b ON a.v = b.v AND a.key < b.key)
    SELECT c.key_a, c.key_b, ca.c_name AS name_a, cb.c_name AS name_b,
           levenshtein(ca.c_name, cb.c_name) AS dist
    FROM cand c JOIN customer ca ON ca.c_custkey = c.key_a
                JOIN customer cb ON cb.c_custkey = c.key_b
    WHERE levenshtein(ca.c_name, cb.c_name) <= 1
    ORDER BY c.key_a, c.key_b"""

  /** D31 candidate stage, PPJoin shape (Xiao et al., WWW'08; upgraded
    * round 8 from the AllPairs prefix ⋈ full-index form). Tokens order
    * globally by (df ASC, shingle ASC) — rarest first — and a doc's
    * PREFIX is its first ⌊n/2⌋+1 tokens in that order.
    *
    * Candidates come from prefix ⋈ PREFIX, not prefix ⋈ full index.
    * Exactness: J(x,y) ≥ τ bounds the overlap o ≥ ⌈τ·|x|⌉ (J ≤
    * o/max), so if the pair's FIRST common token w₀ sat beyond x's
    * prefix, all o common tokens would fit in the trailing
    * |x| − (⌊|x|/2⌋+1) = ⌈|x|/2⌉−1 < ⌈τ|x|⌉ positions — contradiction;
    * symmetrically for y. Hence w₀ lies inside BOTH prefixes and the
    * prefix-prefix join loses no qualifying pair.
    *
    * The POSITIONAL filter then prices each candidate at that first
    * collision: both per-doc token orders restrict one global order,
    * so min(pos_a) and min(pos_b) over a pair's collisions are
    * attained at the same token w₀, every common token sits at
    * positions ≥ (i, j) = (pos of w₀), and o ≤ 1 + min(na−i, nb−j).
    * A qualifying pair needs o ≥ ⌈τ/(1+τ)·(na+nb)⌉ = ⌈(na+nb)/3⌉ at
    * τ = 0.5, so candidates whose tail can no longer reach α drop
    * BEFORE verification. The length filter 2·min(na,nb) ≥ max(na,nb)
    * is the τ = 0.5 necessary condition J ≤ min/max, exact in
    * integers.
    *
    * Cost: the per-doc position is a window over the DOC partition
    * (bounded by doc length, never corpus-sized); the df attach and
    * the candidate join shuffle on `shingle` — the partitioning the
    * inverted index already lives in. Prefixes concentrate on RARE
    * tokens, so candidate mass is Σ_t pref_df(t)² ≪ Σ_t df(t)² (the
    * old shape paid Σ_t pref_df(t)·df(t); DedupSpec asserts the
    * strict improvement), and the df cap still bounds the worst
    * bucket.
    */
  private[dedup] def allPairsCandidates(
      kept: DataFrame, counts: DataFrame): DataFrame = {
    val dfTab = kept.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val pos = kept.hint("shuffle_hash")
      .join(dfTab.hint("shuffle_hash"), Seq("shingle"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("df"), col("shingle"))))
    val prefix = pos
      .join(counts.hint("shuffle_hash"), Seq("doc_id"))
      .filter(col("pos") <= expr("n div 2 + 1"))
      .select(col("doc_id"), col("shingle"), col("pos"), col("n"))
    val a = prefix.select(col("doc_id").as("doc_a"), col("shingle"),
      col("pos").as("pos_a"), col("n").as("n_a"))
    val b = prefix.select(col("doc_id").as("doc_b"), col("shingle"),
      col("pos").as("pos_b"), col("n").as("n_b"))
    a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"),
        col("n_a").as("na"), col("n_b").as("nb"))
      .agg(min(col("pos_a")).as("ia"), min(col("pos_b")).as("ib"))
      .filter(lit(2) * least(col("na"), col("nb")) >=
        greatest(col("na"), col("nb")))
      .filter(lit(1) + least(col("na") - col("ia"), col("nb") - col("ib"))
        >= expr("(na + nb + 2) div 3"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
  }

  /** D31: AllPairs — EXACT τ-Jaccard similarity join via prefix
    * filtering (Bayardo et al., WWW'07; Chaudhuri's SSJoin prefix
    * filter), the exact complement to D3: MinHash-LSH trades a
    * recall guarantee for fixed cost, AllPairs keeps exactness and
    * prunes candidates by the prefix argument instead of hashing.
    * Verification computes the true intersection ONLY for surviving
    * candidates (two equi-joins against the capped index, shuffled on
    * doc id), so the full df-pair explosion never materializes. The
    * output provably equals D2's (same capped shingle space, same
    * threshold) — DedupSpec pins both the equality and the candidate
    * reduction.
    */
  def dedupAllpairs(s: SparkSession, dir: String): DataFrame = {
    val kept = graft.CachedFrames.persist(
      cappedShingles(shingles(Tables.documents(s, dir))))
    val counts = shingleCounts(kept)
    val candf = allPairsCandidates(kept, counts)
    // verify is PAIR-LOCAL, the AllPairs paper's shape: attach each
    // side's sorted token ARRAY (bounded per doc) and intersect in
    // the row — O(|a|+|b|) per candidate, no join explosion. The
    // first cut verified by re-joining the inverted index, which
    // shuffles Σ_cand |a| exploded rows; the sf1 probe priced that at
    // 79 s warm vs ~7 s for everything else in this pipeline.
    val docsets = kept.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("shingle"))).as("toks"))
    candf
      .join(docsets.select(col("doc_id").as("doc_a"),
        col("toks").as("ta")).hint("shuffle_hash"), Seq("doc_a"))
      .join(docsets.select(col("doc_id").as("doc_b"),
        col("toks").as("tb")).hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("c", size(array_intersect(col("ta"), col("tb")))
        .cast("long"))
      .withColumn("jaccard",
        round(col("c") / (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupAllpairsSql: String = s"""
    WITH shingles AS ($shinglesSql),
    kept AS (
      SELECT doc_id, shingle FROM shingles
      QUALIFY count(*) OVER (PARTITION BY shingle) <= $MaxShingleDf),
    counts AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    df AS (SELECT shingle, count(*) AS df FROM kept GROUP BY shingle),
    ordered AS (
      SELECT k.doc_id, k.shingle,
             row_number() OVER (PARTITION BY k.doc_id
                                ORDER BY d.df, k.shingle) AS pos
      FROM kept k JOIN df d USING (shingle)),
    prefix AS (
      SELECT o.doc_id, o.shingle
      FROM ordered o JOIN counts c USING (doc_id)
      WHERE o.pos <= c.n // 2 + 1),
    cand AS (
      SELECT DISTINCT least(p.doc_id, k.doc_id) AS doc_a,
                      greatest(p.doc_id, k.doc_id) AS doc_b
      FROM prefix p JOIN kept k USING (shingle)
      WHERE p.doc_id <> k.doc_id),
    candf AS (
      SELECT doc_a, doc_b, ca.n AS na, cb.n AS nb
      FROM cand JOIN counts ca ON ca.doc_id = doc_a
                JOIN counts cb ON cb.doc_id = doc_b
      WHERE 2 * least(ca.n, cb.n) >= greatest(ca.n, cb.n)),
    docsets AS (
      SELECT doc_id, list_sort(list(shingle)) AS toks
      FROM kept GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, c.na, c.nb,
             len(list_intersect(da.toks, db.toks))::BIGINT AS c
      FROM candf c JOIN docsets da ON da.doc_id = c.doc_a
                   JOIN docsets db ON db.doc_id = c.doc_b)
    SELECT doc_a, doc_b, round(c / (na + nb - c), 6) AS jaccard
    FROM inter WHERE round(c / (na + nb - c), 6) >= 0.5
    ORDER BY doc_a, doc_b"""

  /** MinHash band keys per (doc, band): 8 bands × 4 rows of
    * min((a_i·h28 + b_i) mod P) signatures. The k mins come from the
    * one-pass MinHashAgg (no ×k row explosion); banding slices the
    * signature array.
    */
  private[graft] def minhashBands(sh: DataFrame): DataFrame =
    sh.withColumn("h", h28(col("shingle")))
      .groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAgg(col("h")).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(NumHashes / BandRows - 1))).as("band"))
      .withColumn("band_key", expr(
        s"array_join(transform(slice(sig, band * $BandRows + 1, $BandRows), " +
          "x -> cast(x as string)), '-')"))
      .select(col("doc_id"), col("band"), col("band_key"))

  private[graft] val minhashBandsSql: String = s"""
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(shingle), 1, 7))::BIGINT AS h
      FROM shingles),
    sig AS (
      SELECT doc_id, i,
             min((((i+1) * 2654435761) % $P * h + ((i+1) * 2654435789 + 97) % $P)
                 % $P) AS mh
      FROM hashed, (SELECT unnest(range(0, $NumHashes)) AS i)
      GROUP BY doc_id, i),
    bands AS (
      SELECT doc_id, i // $BandRows AS band,
             string_agg(mh::VARCHAR, '-' ORDER BY i) AS band_key
      FROM sig GROUP BY 1, 2)"""

  /** D3: MinHash+LSH near-dup pairs — band-bucket join for candidates,
    * exact jaccard on candidates only.
    */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(Tables.documents(s, dir))
    // both sides of the band-bucket self-join read it; the accurate
    // cached size keeps the O(corpus) band index off the broadcast
    // path (sf1 probe: the unpersisted frame mis-estimated small and
    // broadcast 80 MB)
    val bands = graft.CachedFrames.persist(minhashBands(sh))
    // the band index self-join: both sides O(corpus) — SHUFFLE_HASH
    // for the same estimate-blindness reason as jaccardPairs
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("band_key"))
      .hint("shuffle_hash")
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    verifiedPairs(cand, sh)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact-jaccard verification restricted to candidate pairs (the LSH
    * point: never pay the all-pairs index join); values identical to
    * jaccardPairs, including its df cap — signatures hash the FULL
    * shingle set, the verify totals use the capped one. Shared by D3
    * and D15.
    */
  private def verifiedPairs(cand: DataFrame, sh: DataFrame,
                            minJaccard: Double = 0.5): DataFrame = {
    // persisted for the same three-consumer + accurate-stats reasons
    // as jaccardPairs (sf1 probe)
    val capped = graft.CachedFrames.persist(cappedShingles(sh))
    val counts = shingleCounts(capped)
    // O(corpus) build sides carry SHUFFLE_HASH — see jaccardPairs
    val common = cand
      .join(capped.select(col("doc_id").as("doc_a"), col("shingle"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(capped.select(col("doc_id").as("doc_b"), col("shingle"))
        .hint("shuffle_hash"), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("c"))
    common
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("jaccard", round(col("c") / (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  val dedupMinhashSql: String = s"""
    WITH $jaccardPairsSql,
    $minhashBandsSql,
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, jaccard
    FROM cand JOIN jp USING (doc_a, doc_b)
    WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""

  /** D26: dedup threshold sweep — D22 tunes the LSH BAND config for a
    * fixed target threshold; this tunes the THRESHOLD itself: for each
    * rung of a τ ladder, how many verified pairs survive and how many
    * documents they touch — the pairs-vs-coverage elbow a curator
    * reads before committing a dedup pass (τ too low merges the
    * corpus, too high keeps near-identical boilerplate). One shared
    * edge build (the persisted D2 inverted-index jaccard — no
    * per-rung recompute), one ladder explode over the PAIR set (tiny:
    * candidates, not corpus), two aggregates per rung. Monotonicity
    * is structural — each rung's pairs are a superset of the next —
    * and the spec asserts it.
    */
  val SweepTaus: Seq[Int] = Seq(30, 40, 50, 60, 70, 80)

  def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val jp = jaccardPairs(shingles(Tables.documents(s, dir)))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val ladder = explode(typedLit(SweepTaus)).as("tau_pct")
    val tagged = jp.select(col("doc_a"), col("doc_b"), col("jaccard"),
        ladder)
      .filter(col("jaccard") >= col("tau_pct") / lit(100.0))
    val pairsPerRung = tagged.groupBy(col("tau_pct"))
      .agg(count(lit(1)).as("n_pairs"))
    val docsPerRung = tagged
      .select(col("tau_pct"), explode(array(col("doc_a"), col("doc_b")))
        .as("doc_id"))
      .groupBy(col("tau_pct"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
    pairsPerRung.join(docsPerRung, Seq("tau_pct"))
      .orderBy(col("tau_pct"))
  }

  val dedupThresholdSweepSql: String = s"""
    WITH $jaccardPairsSql,
    ladder AS (SELECT unnest([${SweepTaus.mkString(", ")}]) AS tau_pct),
    tagged AS (
      SELECT tau_pct, doc_a, doc_b FROM jp, ladder
      WHERE jaccard >= tau_pct / 100.0),
    pp AS (SELECT tau_pct, count(*) AS n_pairs FROM tagged GROUP BY tau_pct),
    dd AS (SELECT tau_pct, count(DISTINCT doc_id) AS n_docs
           FROM (SELECT tau_pct, unnest([doc_a, doc_b]) AS doc_id
                 FROM tagged)
           GROUP BY tau_pct)
    SELECT tau_pct, n_pairs, n_docs
    FROM pp JOIN dd USING (tau_pct) ORDER BY tau_pct"""

  /** P25 (lives here for the shared LSH machinery): FUZZY benchmark
    * decontamination — P3 flags training docs by exact n-gram overlap
    * with the eval set; a PARAPHRASED eval item (reworded question,
    * shuffled clauses) slips past exact shingle membership. This gate
    * runs the D3 MinHash-LSH machinery CROSS-SIDED: training band keys
    * join EVAL band keys, so a training doc surfaces when any band of
    * its signature collides with an eval doc's — robust to partial
    * rewording the way signatures are — then the exact capped-set
    * Jaccard verifies candidates at a LOWER threshold (0.4) than
    * near-dup dedup uses, because "contaminated" is a looser relation
    * than "duplicate". The scale shape is the decontamination
    * asymmetry P3 exploits: the eval-side band index is KBs–MBs
    * however large the corpus, so the candidate join BROADCASTS it —
    * no self-join over the corpus-sized band index (D3's shuffle
    * pays that only because both its sides are the corpus).
    */
  def decontamFuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sh = shingles(docs)
    val bands = graft.CachedFrames.persist(minhashBands(sh))
    val evB = bands.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("eval_id"), col("band"), col("band_key"))
    val cand = bands.filter(col("doc_id") % 20 =!= 0)
      .join(broadcast(evB), Seq("band", "band_key"))
      .select(col("doc_id").as("doc_a"), col("eval_id").as("doc_b"))
      .distinct()
    verifiedPairs(cand, sh, minJaccard = 0.4)
      .select(col("doc_a").as("train_id"), col("doc_b").as("eval_id"),
        col("jaccard"))
      .orderBy(col("train_id"), col("eval_id"))
  }

  val decontamFuzzySql: String = s"""
    WITH $jaccardPairsSql,
    $minhashBandsSql,
    cand AS (
      SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
      FROM bands t JOIN bands e
        ON t.band = e.band AND t.band_key = e.band_key
      WHERE t.doc_id % 20 != 0 AND e.doc_id % 20 = 0)
    SELECT train_id, eval_id, jaccard
    FROM cand JOIN jp ON jp.doc_a = least(train_id, eval_id)
                     AND jp.doc_b = greatest(train_id, eval_id)
    WHERE jaccard >= 0.4 ORDER BY train_id, eval_id"""

  /** D23: MinHash Jaccard ESTIMATION with in-gate verified error —
    * the textbook use of the signature D3 only banded: est(J) =
    * matching components / k, an unbiased estimator whose whole point
    * is never touching the shingle sets at comparison time. Emitted
    * per band-candidate pair: the integer-micro estimate from the
    * signatures alone, the exact capped-set Jaccard, and |est−exact|
    * — so the estimator's quality is a hash-verified number per pair
    * (the P14 n_exact discipline: a sketch that ships with its own
    * measured error).
    *
    * TWO honesty points this gate surfaced:
    *  - The signatures here are a fresh MD5 family (mh_i = min over
    *    shingles of md5(i|shingle)), NOT D3's affine family
    *    (a_i·h+b_i mod P over a shared 28-bit base hash). Building
    *    this gate MEASURED the affine family as badly non-min-wise
    *    independent on small dense shingle sets — pairs with true
    *    J=0.016 matched 29/32 components (a doc's min base-h shingle
    *    tends to minimize EVERY near-monotone affine map, so minima
    *    collide without set overlap). D3 stays sound because banding
    *    only PROPOSES and the exact verify disposes; an estimator has
    *    no verify to hide behind, so it needs the independent family.
    *    Cost: k md5s per (doc, shingle) in a k-row explode — what
    *    MinHashAgg's one-pass avoided; production folds this family
    *    into the same agg shape.
    *  - The exact side is the TRUE distinct-shingle Jaccard, not D3's
    *    capped verify (signatures hash the full set; the capped value
    *    is a different target and would book the cap's bias as
    *    estimator error). Uncapped is scale-safe HERE because the
    *    join keys on (doc, shingle) of band-bounded candidate pairs —
    *    never on the shingle alone, so no hot bucket exists to cap.
    * Zero-overlap hash-collision candidates carry no exact value and
    * are dropped by the same inner join in both engines.
    */
  def dedupMinhashEst(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(Tables.documents(s, dir))
    val bands = graft.CachedFrames.persist(minhashBands(sh))
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"),
        col("band_key"))
      .hint("shuffle_hash")
      .join(bands.select(col("doc_id").as("doc_b"), col("band"),
        col("band_key")), Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val shd = graft.CachedFrames.persist(
      sh.select(col("doc_id"), col("shingle")).distinct())
    val sigs = graft.CachedFrames.persist(
      shd.select(col("doc_id"), col("shingle"),
          explode(expr(s"sequence(0, ${NumHashes - 1})")).as("i"))
        .withColumn("hi", expr("cast(conv(substring(md5(concat(" +
          "cast(i as string), '|', shingle)), 1, 7), 16, 10) as bigint)"))
        .groupBy(col("doc_id"), col("i"))
        .agg(min(col("hi")).as("mh")))
    val est = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("i"),
        col("mh").as("ma")).hint("shuffle_hash"), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("i"),
        col("mh").as("mb")).hint("shuffle_hash"), Seq("doc_b", "i"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("m"))
      .withColumn("est_micro",
        expr(s"cast(m * 1000000 div $NumHashes as bigint)"))
      .select(col("doc_a"), col("doc_b"), col("est_micro"))
    val counts = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val exact = cand
      .join(shd.select(col("doc_id").as("doc_a"), col("shingle"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(shd.select(col("doc_id").as("doc_b"), col("shingle"))
        .hint("shuffle_hash"), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("c"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("jaccard_micro", expr(
        "cast(round(c * 1000000.0 / (na + nb - c), 0) as bigint)"))
      .select(col("doc_a"), col("doc_b"), col("jaccard_micro"))
    est.join(exact, Seq("doc_a", "doc_b"))
      .withColumn("err_micro", abs(col("est_micro") - col("jaccard_micro")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupMinhashEstSql: String = s"""
    WITH shingles AS ($shinglesSql),
    $minhashBandsSql,
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id),
    shd AS (SELECT DISTINCT doc_id, shingle FROM shingles),
    sig23 AS (
      SELECT doc_id, i,
             min(('0x' || substring(md5(i::VARCHAR || '|' || shingle),
               1, 7))::BIGINT) AS mh
      FROM shd, (SELECT unnest(range(0, $NumHashes)) AS i)
      GROUP BY doc_id, i),
    est AS (
      SELECT c.doc_a, c.doc_b,
             (sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) * 1000000
               // $NumHashes)::BIGINT AS est_micro
      FROM cand c JOIN sig23 sa ON sa.doc_id = c.doc_a
                  JOIN sig23 sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
      GROUP BY c.doc_a, c.doc_b),
    cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    ex AS (
      SELECT doc_a, doc_b,
             CAST(round(c * 1000000.0 / (na + nb - c), 0) AS BIGINT)
               AS jaccard_micro
      FROM (
        SELECT c.doc_a, c.doc_b, count(*) AS c
        FROM cand c JOIN shd a ON a.doc_id = c.doc_a
                    JOIN shd b ON b.doc_id = c.doc_b
                             AND b.shingle = a.shingle
        GROUP BY c.doc_a, c.doc_b) j
      JOIN (SELECT doc_id, n AS na FROM cnt) ca ON ca.doc_id = j.doc_a
      JOIN (SELECT doc_id, n AS nb FROM cnt) cb ON cb.doc_id = j.doc_b)
    SELECT doc_a, doc_b, est_micro, jaccard_micro,
           abs(est_micro - jaccard_micro) AS err_micro
    FROM est JOIN ex USING (doc_a, doc_b)
    ORDER BY doc_a, doc_b"""

  /** D29: b-bit MinHash (Li & König, 2010) — D23's estimator at 1/14th
    * the signature storage: keep only the low b=2 BITS of each minhash
    * component (32×2 bits = 8 bytes per doc vs 32×28 bits). Unequal
    * minima now collide with probability C = 2⁻ᵇ = ¼, so the raw match
    * fraction f is debiased: Ĵ = (f − C)/(1 − C), computed entirely in
    * integer micro with the negative clamp taken BEFORE the division
    * (greatest(0, 4f − 10⁶) div 3 — dividing a possibly-negative
    * numerator would hit the truncate-vs-floor divergence). The gate
    * emits the b-bit estimate beside the exact Jaccard and its error,
    * so the storage/accuracy trade is a hash-verified number per pair;
    * the spec compares the b-bit error envelope against D23's
    * full-width one (theory: variance inflates by ~1/(1−C)²).
    */
  val BbitMask = 4L // 2^b for b = 2

  def dedupMinhashBbit(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(Tables.documents(s, dir))
    val bands = graft.CachedFrames.persist(minhashBands(sh))
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"),
        col("band_key"))
      .hint("shuffle_hash")
      .join(bands.select(col("doc_id").as("doc_b"), col("band"),
        col("band_key")), Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val shd = graft.CachedFrames.persist(
      sh.select(col("doc_id"), col("shingle")).distinct())
    val sigs = graft.CachedFrames.persist(
      shd.select(col("doc_id"), col("shingle"),
          explode(expr(s"sequence(0, ${NumHashes - 1})")).as("i"))
        .withColumn("hi", expr("cast(conv(substring(md5(concat(" +
          "cast(i as string), '|', shingle)), 1, 7), 16, 10) as bigint)"))
        .groupBy(col("doc_id"), col("i"))
        .agg(expr(s"min(hi) % $BbitMask").as("mb")))
    val est = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("i"),
        col("mb").as("ba")).hint("shuffle_hash"), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("i"),
        col("mb").as("bb")).hint("shuffle_hash"), Seq("doc_b", "i"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(when(col("ba") === col("bb"), 1L).otherwise(0L)).as("m"))
      .withColumn("f_micro", expr(s"m * 1000000 div $NumHashes"))
      .withColumn("est_bbit_micro",
        expr("greatest(0L, 4 * f_micro - 1000000) div 3"))
      .select(col("doc_a"), col("doc_b"), col("m"),
        col("est_bbit_micro"))
    val counts = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val exact = cand
      .join(shd.select(col("doc_id").as("doc_a"), col("shingle"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(shd.select(col("doc_id").as("doc_b"), col("shingle"))
        .hint("shuffle_hash"), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("c"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("jaccard_micro", expr(
        "cast(round(c * 1000000.0 / (na + nb - c), 0) as bigint)"))
      .select(col("doc_a"), col("doc_b"), col("jaccard_micro"))
    est.join(exact, Seq("doc_a", "doc_b"))
      .withColumn("err_micro",
        abs(col("est_bbit_micro") - col("jaccard_micro")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupMinhashBbitSql: String = s"""
    WITH shingles AS ($shinglesSql),
    $minhashBandsSql,
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id),
    shd AS (SELECT DISTINCT doc_id, shingle FROM shingles),
    sigb AS (
      SELECT doc_id, i,
             min(('0x' || substring(md5(i::VARCHAR || '|' || shingle),
               1, 7))::BIGINT) % $BbitMask AS mb
      FROM shd, (SELECT unnest(range(0, $NumHashes)) AS i)
      GROUP BY doc_id, i),
    est AS (
      SELECT doc_a, doc_b, m,
             greatest(0, 4 * (m * 1000000 // $NumHashes) - 1000000) // 3
               AS est_bbit_micro
      FROM (
        SELECT c.doc_a, c.doc_b,
               sum(CASE WHEN sa.mb = sb.mb THEN 1 ELSE 0 END)::BIGINT AS m
        FROM cand c JOIN sigb sa ON sa.doc_id = c.doc_a
                    JOIN sigb sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
        GROUP BY c.doc_a, c.doc_b)),
    cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    ex AS (
      SELECT doc_a, doc_b,
             CAST(round(c * 1000000.0 / (na + nb - c), 0) AS BIGINT)
               AS jaccard_micro
      FROM (
        SELECT c.doc_a, c.doc_b, count(*) AS c
        FROM cand c JOIN shd a ON a.doc_id = c.doc_a
                    JOIN shd b ON b.doc_id = c.doc_b
                             AND b.shingle = a.shingle
        GROUP BY c.doc_a, c.doc_b) j
      JOIN (SELECT doc_id, n AS na FROM cnt) ca ON ca.doc_id = j.doc_a
      JOIN (SELECT doc_id, n AS nb FROM cnt) cb ON cb.doc_id = j.doc_b)
    SELECT doc_a, doc_b, m, est_bbit_micro, jaccard_micro,
           abs(est_bbit_micro - jaccard_micro)::BIGINT AS err_micro
    FROM est JOIN ex USING (doc_a, doc_b)
    ORDER BY doc_a, doc_b"""

  /** D13: PageRank centrality over the near-dup candidate graph — the
    * canonical-document signal: inside a duplicate neighborhood, the
    * doc most linked-to by band-bucket candidacy is the natural keeper
    * (D6's min-id rule is the cheap tiebreak; centrality is the
    * quality-aware upgrade). Relational iteration at the 100 TB shape:
    * PrIters rounds of edge-shuffled contributions + per-node
    * aggregate — rank/degree/damping all in exact integer micro units
    * (contribution = r div deg per edge, r' = 0.15e6 + 85·Σ div 100),
    * so sums are order-free BIGINTs and the DuckDB oracle (an
    * adjacency-list matvec in a recursive CTE, the S14 idiom) matches
    * bit-for-bit. Per-round localCheckpoint per the §8a lineage lesson.
    */
  val PrIters = 10

  /** D15 bottom-k bucket cap — declared beside PrIters because the
    * D17 oracle string above D15 interpolates it: a later declaration
    * initializes AFTER the string (Scala top-to-bottom val order) and
    * bakes in 0.
    */
  val CapK = 8

  /** The iteration over any undirected pair frame (doc_a, doc_b) —
    * shared by the gate (band-candidate pairs) and DedupSpec's planted
    * star/pair structural checks.
    */
  private[dedup] def pagerankOn(cand: DataFrame): DataFrame = {
    val edges = graft.CachedFrames.persist(
      cand.union(cand.select(col("doc_b"), col("doc_a")))
        .toDF("src", "dst"))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // round-14 probe note (guide §2.4): caching `ed` pre-partitioned
    // by src to elide the per-round join exchange was tried and
    // MEASURED OUT — under Spark 4.1 AQE both localCheckpoint frames
    // and cached repartitioned relations report UnknownPartitioning
    // to the next round's planner (probed via executedPlan), so no
    // exchange is elided and the extra repartition+sort only costs;
    // at bench scale the round join broadcasts the rank side anyway
    // (one exchange per round — the contribution re-key — is already
    // the steady state).
    val ed = graft.CachedFrames.persist(edges.join(deg, Seq("src")))
    // §8a iterative-loop discipline (same as ConnectedComponents):
    // each round's rank frame is localCheckpoint()ed, truncating its
    // logical plan to a LogicalRDD. persist() alone does NOT — the
    // round-t plan then nests every prior round's (join + AQE + cached
    // relation) subtree, and the per-execution plan-description string
    // grows multiplicatively: at sf0.1 it capped at Int.MaxValue chars
    // (2 GB), turning a ~2 s query into ~60 s of string building and
    // aborting test JVMs. Round RDD blocks (|V| rows each) are freed
    // by the ContextCleaner as the loop drops references.
    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("r"))
      .localCheckpoint(false)
    var t = 0
    while (t < PrIters) {
      ranks = ed.join(ranks, col("src") === col("node"))
        .select(col("dst").as("node2"), expr("r div deg").as("c"))
        .groupBy(col("node2"))
        .agg(expr("150000 + 85 * sum(c) div 100").as("r"))
        .select(col("node2").as("node"), col("r"))
        .localCheckpoint(false)
      t += 1
    }
    ranks.join(deg.select(col("src").as("node"), col("deg")), Seq("node"))
      .select(col("node").as("doc_id"), col("deg").as("degree"), col("r")
        .as("rank_micro"))
      .orderBy(col("doc_id"))
  }

  def dedupPagerank(s: SparkSession, dir: String): DataFrame = {
    // persisted: self-join + accurate stats, as in dedupMinhash
    val bands = graft.CachedFrames.persist(
      minhashBands(shingles(Tables.documents(s, dir))))
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"),
        col("band_key"))
      .hint("shuffle_hash")
      .join(bands.select(col("doc_id").as("doc_b"), col("band"),
        col("band_key")), Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    pagerankOn(cand)
  }

  val dedupPagerankSql: String = s"""
    WITH RECURSIVE shingles AS ($shinglesSql),
    $minhashBandsSql,
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
              UNION ALL SELECT doc_b, doc_a FROM cand),
    degs AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT src AS node, deg,
                     row_number() OVER (ORDER BY src) AS idx
              FROM degs),
    adj AS (SELECT nv.idx AS vidx, list(nu.idx ORDER BY nu.idx) AS ins
            FROM edges e JOIN nodes nu ON nu.node = e.src
                         JOIN nodes nv ON nv.node = e.dst
            GROUP BY nv.idx),
    mats AS MATERIALIZED (
      SELECT (SELECT list(ins ORDER BY vidx) FROM adj) AS al,
             (SELECT list(deg ORDER BY idx) FROM nodes) AS dv,
             (SELECT count(*) FROM nodes) AS n),
    pr AS (
      SELECT 0 AS t,
             list_transform(range(1, n + 1), i -> 1000000::BIGINT) AS r
      FROM mats
      UNION ALL
      SELECT t + 1,
             list_transform(range(1, CAST(len(al) AS BIGINT) + 1), v ->
               150000::BIGINT + (85 * CAST(list_sum(list_transform(al[v],
                 u -> r[u] // dv[u])) AS BIGINT)) // 100)
      FROM pr, mats WHERE t < $PrIters)
    SELECT n.node AS doc_id, n.deg::BIGINT AS degree, r[n.idx] AS rank_micro
    FROM pr, nodes n WHERE t = $PrIters ORDER BY doc_id"""

  /** D14: centrality-aware keeper election — D13's PageRank composed
    * into D6's clusters: per duplicate component the keeper is the
    * argmax-centrality member (tiebreak min doc_id), upgrading D6's
    * min-id rule to the quality-aware choice a curation pipeline
    * actually wants (keep the most-corroborated copy). One edge frame
    * (jaccard ≥ 0.5) feeds BOTH the CC labels and the rank iteration;
    * the election itself is a per-component max(struct(rank, −id)) —
    * a partial-aggregating groupBy over |V| rows, no window, no extra
    * corpus pass. Ranks are D13's exact integer micro units, so the
    * argmax is deterministic cross-engine.
    */
  private[dedup] def keeperOn(edges0: DataFrame): DataFrame = {
    val edges = graft.CachedFrames.persist(edges0)
    // round-14 (guide §2.6): CC and PageRank are INDEPENDENT given the
    // edge frame, but ran strictly in sequence — CC's per-round
    // star-forest checks first, then PR's ten checkpointed rounds at
    // the final action. Force the shared edge cache once, then run both
    // label passes from a driver pool; the PR branch counts its result so
    // its round chain materializes inside the overlap (the final
    // re-read serves from the checkpointed rounds).
    edges.count()
    val Seq(labels, ranks) = graft.operators.Concurrent.par(Seq(
      () => graft.operators.ConnectedComponents.run(edges),
      () => { val r = pagerankOn(edges); r.count(); r }))
    val ranked = graft.CachedFrames.persist(
      labels.join(ranks.select(col("doc_id").as("node"),
        col("rank_micro")), Seq("node")))
    val keepers = ranked.groupBy(col("root"))
      .agg(max(struct(col("rank_micro"), (-col("node")).as("neg_id")))
        .as("kb"), count(lit(1)).as("cluster_size"))
      .select(col("root"), col("cluster_size"),
        (-col("kb.neg_id")).as("keeper"),
        col("kb.rank_micro").as("keeper_rank_micro"))
    ranked.join(keepers, Seq("root"))
      .select(col("node").as("doc_id"), col("root").as("canonical"),
        col("cluster_size"), col("rank_micro"), col("keeper"),
        col("keeper_rank_micro"))
      .orderBy(col("doc_id"))
  }

  def dedupKeeper(s: SparkSession, dir: String): DataFrame =
    keeperOn(jaccardPairs(shingles(Tables.documents(s, dir)))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b")))

  val dedupKeeperSql: String = s"""
    WITH RECURSIVE $jaccardPairsSql,
    e14 AS (SELECT doc_a, doc_b FROM jp WHERE jaccard >= 0.5),
    und14 AS (SELECT doc_a AS a, doc_b AS b FROM e14
              UNION ALL SELECT doc_b, doc_a FROM e14),
    n14 AS (SELECT DISTINCT a AS doc FROM und14),
    reach14(doc, r) AS (
      SELECT doc, doc FROM n14
      UNION
      SELECT u.b, reach14.r FROM reach14 JOIN und14 u ON u.a = reach14.doc),
    comp14 AS (SELECT doc, min(r) AS canonical FROM reach14 GROUP BY doc),
    sizes14 AS (SELECT canonical, count(*) AS cluster_size
                FROM comp14 GROUP BY canonical),
    degs14 AS (SELECT a AS src, count(*) AS deg FROM und14 GROUP BY src),
    nodes14 AS (SELECT src AS node, deg,
                       row_number() OVER (ORDER BY src) AS idx
                FROM degs14),
    adj14 AS (SELECT nv.idx AS vidx, list(nu.idx ORDER BY nu.idx) AS ins
              FROM und14 e JOIN nodes14 nu ON nu.node = e.a
                           JOIN nodes14 nv ON nv.node = e.b
              GROUP BY nv.idx),
    mats14 AS MATERIALIZED (
      SELECT (SELECT list(ins ORDER BY vidx) FROM adj14) AS al,
             (SELECT list(deg ORDER BY idx) FROM nodes14) AS dv,
             (SELECT count(*) FROM nodes14) AS n),
    pr14 AS (
      SELECT 0 AS t,
             list_transform(range(1, n + 1), i -> 1000000::BIGINT) AS r
      FROM mats14
      UNION ALL
      SELECT t + 1,
             list_transform(range(1, CAST(len(al) AS BIGINT) + 1), v ->
               150000::BIGINT + (85 * CAST(list_sum(list_transform(al[v],
                 u -> r[u] // dv[u])) AS BIGINT)) // 100)
      FROM pr14, mats14 WHERE t < $PrIters),
    ranks14 AS (SELECT n.node AS doc_id, r[n.idx] AS rank_micro
                FROM pr14, nodes14 n WHERE t = $PrIters),
    ranked14 AS (
      SELECT comp14.doc AS doc_id, comp14.canonical, sizes14.cluster_size,
             ranks14.rank_micro
      FROM comp14 JOIN sizes14 USING (canonical)
                  JOIN ranks14 ON ranks14.doc_id = comp14.doc),
    keep14 AS (
      SELECT canonical, doc_id AS keeper, rank_micro AS keeper_rank_micro
      FROM (SELECT *, row_number() OVER (PARTITION BY canonical
              ORDER BY rank_micro DESC, doc_id) AS rn FROM ranked14)
      WHERE rn = 1)
    SELECT r.doc_id, r.canonical, r.cluster_size, r.rank_micro,
           k.keeper, k.keeper_rank_micro
    FROM ranked14 r JOIN keep14 k USING (canonical) ORDER BY r.doc_id"""

  /** D17: PageRank over the CAPPED candidate graph — D13 composed with
    * D15's occupancy caps, the shape a recrawl-heavy corpus actually
    * runs: band-candidate centrality where every bucket contributes
    * O(occ) star + bottom-k pairs instead of O(occ²), so the edge
    * shuffle each iteration is linear in bucket occupancy. Same
    * integer iteration and recursive-CTE matvec oracle as D13, over
    * the D15 candidate CTEs.
    */
  def dedupPagerankCapped(s: SparkSession, dir: String): DataFrame =
    pagerankOn(cappedCandidates(graft.CachedFrames.persist(
      minhashBands(shingles(Tables.documents(s, dir))))))

  val dedupPagerankCappedSql: String = s"""
    WITH RECURSIVE shingles AS ($shinglesSql),
    $minhashBandsSql,
    bmin17 AS (SELECT band, band_key, min(doc_id) AS m
               FROM bands GROUP BY band, band_key),
    star17 AS (SELECT bm.m AS doc_a, b.doc_id AS doc_b
               FROM bands b JOIN bmin17 bm USING (band, band_key)
               WHERE b.doc_id != bm.m),
    topk17 AS (SELECT band, band_key, doc_id
               FROM (SELECT *, row_number() OVER (
                       PARTITION BY band, band_key ORDER BY doc_id) AS rn
                     FROM bands)
               WHERE rn <= $CapK),
    kp17 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM topk17 a JOIN topk17 b
               ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    cand17 AS (SELECT DISTINCT doc_a, doc_b FROM
               (SELECT doc_a, doc_b FROM star17
                UNION ALL SELECT doc_a, doc_b FROM kp17)),
    edges17 AS (SELECT doc_a AS src, doc_b AS dst FROM cand17
                UNION ALL SELECT doc_b, doc_a FROM cand17),
    degs17 AS (SELECT src, count(*) AS deg FROM edges17 GROUP BY src),
    nodes17 AS (SELECT src AS node, deg,
                       row_number() OVER (ORDER BY src) AS idx
                FROM degs17),
    adj17 AS (SELECT nv.idx AS vidx, list(nu.idx ORDER BY nu.idx) AS ins
              FROM edges17 e JOIN nodes17 nu ON nu.node = e.src
                             JOIN nodes17 nv ON nv.node = e.dst
              GROUP BY nv.idx),
    mats17 AS MATERIALIZED (
      SELECT (SELECT list(ins ORDER BY vidx) FROM adj17) AS al,
             (SELECT list(deg ORDER BY idx) FROM nodes17) AS dv,
             (SELECT count(*) FROM nodes17) AS n),
    pr17 AS (
      SELECT 0 AS t,
             list_transform(range(1, n + 1), i -> 1000000::BIGINT) AS r
      FROM mats17
      UNION ALL
      SELECT t + 1,
             list_transform(range(1, CAST(len(al) AS BIGINT) + 1), v ->
               150000::BIGINT + (85 * CAST(list_sum(list_transform(al[v],
                 u -> r[u] // dv[u])) AS BIGINT)) // 100)
      FROM pr17, mats17 WHERE t < $PrIters)
    SELECT n.node AS doc_id, n.deg::BIGINT AS degree, r[n.idx] AS rank_micro
    FROM pr17, nodes17 n WHERE t = $PrIters ORDER BY doc_id"""

  /** D18: triangle counting + local clustering coefficient over the
    * verified near-dup graph — the structure signal past degree:
    * inside a duplicate neighborhood, triangles say whether the
    * component is one tight clique (a true duplicate cluster) or a
    * chain of borderline pairs (transitive drift a curator should
    * split). Compact-forward orientation: every edge points from
    * lower (degree, id) rank to higher, so each triangle {a,b,c} with
    * rank a<b<c is found EXACTLY once as wedge (a→b, a→c) closed by
    * b→c, and wedge fan-out per node is bounded by its FORWARD degree
    * — the classic O(m^{3/2}) bound that survives hub skew (a
    * high-degree node's wedges are generated by its low-degree
    * neighbors, not by the hub). Rank packs as one BIGINT
    * (deg·10¹² + id), so both engines orient identically; the
    * coefficient divides exact integers.
    */
  def dedupTriangles(s: SparkSession, dir: String): DataFrame =
    trianglesOn(jaccardPairs(shingles(Tables.documents(s, dir)))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b")))

  /** The count over any canonical (doc_a, doc_b) pair frame — shared
    * by the gate and DedupSpec's planted clique/path structural check.
    */
  private[dedup] def trianglesOn(e0: DataFrame): DataFrame = {
    val und = graft.CachedFrames.persist(
      e0.union(e0.select(col("doc_b"), col("doc_a")))
        .toDF("u", "v"))
    val rk = und.groupBy(col("u"))
      .agg(count(lit(1)).as("deg"))
      .withColumn("rk", col("deg") * lit(1000000000000L) + col("u"))
    val rku = rk.select(col("u"), col("rk").as("rku"))
    val rkv = rk.select(col("u").as("v"), col("rk").as("rkv"))
    // the rank table is O(V): SHUFFLE_HASH on both attach joins
    val o = graft.CachedFrames.persist(
      und.join(rku.hint("shuffle_hash"), Seq("u"))
        .join(rkv.hint("shuffle_hash"), Seq("v"))
        .filter(col("rku") < col("rkv"))
        .select(col("u"), col("v"), col("rkv")))
    val tri = o.select(col("u"), col("v").as("y"), col("rkv").as("rky"))
      .join(o.select(col("u"), col("v").as("z"), col("rkv").as("rkz")),
        Seq("u"))
      .filter(col("rky") < col("rkz"))
      .join(o.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
      .select(col("u").as("x"), col("y"), col("z"))
    val perNode = tri.select(explode(array(col("x"), col("y"), col("z")))
        .as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    rk.join(perNode, col("u") === col("node"), "left")
      .select(col("u").as("doc_id"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        round(when(col("deg") >= 2,
          lit(2.0) * coalesce(col("n_tri"), lit(0L))
            / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)), 6).as("clustering"))
      .orderBy(col("doc_id"))
  }

  val dedupTrianglesSql: String = s"""
    WITH $jaccardPairsSql,
    e18 AS (SELECT doc_a, doc_b FROM jp WHERE jaccard >= 0.5),
    und18 AS (SELECT doc_a AS u, doc_b AS v FROM e18
              UNION ALL SELECT doc_b, doc_a FROM e18),
    rk18 AS (SELECT u, count(*) AS deg,
                    count(*) * 1000000000000 + u AS rk
             FROM und18 GROUP BY u),
    o18 AS (SELECT e.u, e.v, rv.rk AS rkv
            FROM und18 e
            JOIN rk18 ru ON ru.u = e.u
            JOIN rk18 rv ON rv.u = e.v
            WHERE ru.rk < rv.rk),
    tri18 AS (SELECT o1.u AS x, o1.v AS y, o2.v AS z
              FROM o18 o1
              JOIN o18 o2 ON o1.u = o2.u AND o1.rkv < o2.rkv
              JOIN o18 o3 ON o3.u = o1.v AND o3.v = o2.v),
    pern18 AS (SELECT node, count(*) AS n_tri FROM (
                 SELECT x AS node FROM tri18
                 UNION ALL SELECT y FROM tri18
                 UNION ALL SELECT z FROM tri18)
               GROUP BY node)
    SELECT r.u AS doc_id, r.deg AS degree,
           coalesce(n_tri, 0)::BIGINT AS n_triangles,
           round(CASE WHEN r.deg >= 2
             THEN 2.0 * coalesce(n_tri, 0) / (r.deg * (r.deg - 1))
             ELSE 0.0 END, 6) AS clustering
    FROM rk18 r LEFT JOIN pern18 ON pern18.node = r.u
    ORDER BY doc_id"""

  /** D19 synchronous-LPA round count: fixed so the output is a
    * deterministic function of the edge set whether or not the labels
    * have converged (synchronous LPA can 2-cycle on bipartite
    * structure; a fixed horizon sidesteps the stopping-rule
    * nondeterminism that plagues async LPA).
    */
  val LpaIters = 4

  /** D19: label-propagation communities over the verified near-dup
    * graph — the resolution between D6's connected components (which
    * weld two tight duplicate clusters together the moment ONE
    * borderline pair bridges them) and per-pair verdicts: each node
    * repeatedly adopts the most common label among its neighbors
    * (ties → smallest label), so dense neighborhoods agree on a label
    * while a single bridge edge is outvoted — a planted two-clique
    * bridge splits into two communities where CC reports one
    * (DedupSpec). Deterministic by construction: synchronous rounds
    * (every update reads the PREVIOUS round's labels), integer
    * argmax via max(struct(cnt, −lbl)), [[LpaIters]] fixed. The
    * per-round plan is the 100 TB PageRank shape — edges ⋈ labels on
    * dst, two partial-aggregating groupBys, nothing resident but the
    * O(V) label frame — with per-round localCheckpoint per §8a. The
    * DuckDB oracle runs the same rounds as a recursive-CTE label
    * vector; mode-with-min-tiebreak packs (deg − cnt)·2³² + lbl and
    * takes list_min, the D18 rank-packing idiom.
    */
  private[dedup] def communitiesOn(cand: DataFrame): DataFrame = {
    val edges = graft.CachedFrames.persist(
      cand.union(cand.select(col("doc_b"), col("doc_a")))
        .toDF("src", "dst"))
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(false)
    var t = 0
    while (t < LpaIters) {
      labels = edges.join(labels, col("dst") === col("node"))
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("kb"))
        .select(col("src").as("node"), (-col("kb.neg")).as("lbl"))
        .localCheckpoint(false)
      t += 1
    }
    val sizes = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("lbl"))
      .select(col("node").as("doc_id"), col("lbl").as("community"),
        col("community_size"))
      .orderBy(col("doc_id"))
  }

  def dedupCommunities(s: SparkSession, dir: String): DataFrame =
    communitiesOn(jaccardPairs(shingles(Tables.documents(s, dir)))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b")))

  val dedupCommunitiesSql: String = s"""
    WITH RECURSIVE $jaccardPairsSql,
    e19 AS (SELECT doc_a, doc_b FROM jp WHERE jaccard >= 0.5),
    und19 AS (SELECT doc_a AS a, doc_b AS b FROM e19
              UNION ALL SELECT doc_b, doc_a FROM e19),
    nodes19 AS (SELECT a AS node, row_number() OVER (ORDER BY a) AS idx
                FROM (SELECT DISTINCT a FROM und19)),
    adj19 AS (SELECT nv.idx AS vidx, list(nu.idx ORDER BY nu.idx) AS ins
              FROM und19 e JOIN nodes19 nu ON nu.node = e.a
                           JOIN nodes19 nv ON nv.node = e.b
              GROUP BY nv.idx),
    mats19 AS MATERIALIZED (
      SELECT (SELECT list(ins ORDER BY vidx) FROM adj19) AS al,
             (SELECT list(node ORDER BY idx) FROM nodes19) AS ids),
    lpa19 AS (
      SELECT 0 AS t, ids AS l FROM mats19
      UNION ALL
      SELECT t + 1,
             list_transform(range(1, CAST(len(al) AS BIGINT) + 1), v ->
               list_min(list_transform(
                 list_transform(al[v], u -> l[u]), x ->
                   (CAST(len(al[v]) AS BIGINT)
                     - CAST(len(list_filter(
                         list_transform(al[v], u -> l[u]),
                         y -> y = x)) AS BIGINT)) * 4294967296 + x))
               % 4294967296)
      FROM lpa19, mats19 WHERE t < $LpaIters),
    labs19 AS (SELECT n.node AS doc_id, l[n.idx] AS community
               FROM lpa19, nodes19 n WHERE t = $LpaIters),
    sizes19 AS (SELECT community, count(*) AS community_size
                FROM labs19 GROUP BY community)
    SELECT doc_id, community, community_size
    FROM labs19 JOIN sizes19 USING (community) ORDER BY doc_id"""

  /** D16: WEIGHTED PageRank — D13 with each edge carrying its VERIFIED
    * jaccard similarity as mass (w_micro = round(jaccard·1e6)), so a
    * 0.95-duplicate pulls ~10× the rank a borderline 0.5 pair does:
    * centrality now measures how strongly-corroborated a copy is, not
    * just how often it collides. Same exact-integer discipline as D13
    * with per-node weight totals replacing degrees: contribution =
    * (r·w) div sw per edge (sw = Σ out-weights), r' = 0.15e6 +
    * 85·Σ div 100 — order-free BIGINT sums, recursive-CTE weighted
    * matvec oracle. Uniform weights reduce BIT-IDENTICALLY to D13
    * (floor(r·w / (w·deg)) = floor(r/deg)) — spec'd, so the two
    * rungs provably agree where they overlap.
    */
  private[graft] def pagerankWeightedOn(pairs: DataFrame): DataFrame = {
    // pairs: (doc_a, doc_b, w) with w a positive integer weight
    val edges = graft.CachedFrames.persist(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"), col("w"))
        .union(pairs.select(col("doc_b"), col("doc_a"), col("w"))))
    val sw = edges.groupBy(col("src")).agg(sum(col("w")).as("sw"))
    val ed = graft.CachedFrames.persist(edges.join(sw, Seq("src")))
    // per-round localCheckpoint — §8a, see pagerankOn
    var ranks = sw.select(col("src").as("node"), lit(1000000L).as("r"))
      .localCheckpoint(false)
    var t = 0
    while (t < PrIters) {
      ranks = ed.join(ranks, col("src") === col("node"))
        .select(col("dst").as("node2"), expr("r * w div sw").as("c"))
        .groupBy(col("node2"))
        .agg(expr("150000 + 85 * sum(c) div 100").as("r"))
        .select(col("node2").as("node"), col("r"))
        .localCheckpoint(false)
      t += 1
    }
    ranks.join(sw.select(col("src").as("node"), col("sw").as("w_out_micro")),
        Seq("node"))
      .select(col("node").as("doc_id"), col("w_out_micro"),
        col("r").as("rank_micro"))
      .orderBy(col("doc_id"))
  }

  def dedupPagerankWeighted(s: SparkSession, dir: String): DataFrame =
    pagerankWeightedOn(
      jaccardPairs(shingles(Tables.documents(s, dir)))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard") * 1e6, 0).cast("long").as("w")))

  val dedupPagerankWeightedSql: String = s"""
    WITH RECURSIVE $jaccardPairsSql,
    e16 AS (SELECT doc_a, doc_b, CAST(round(jaccard * 1e6, 0) AS BIGINT) AS w
            FROM jp WHERE jaccard >= 0.5),
    und16 AS (SELECT doc_a AS a, doc_b AS b, w FROM e16
              UNION ALL SELECT doc_b, doc_a, w FROM e16),
    sw16 AS (SELECT a AS src, sum(w)::BIGINT AS sw FROM und16 GROUP BY a),
    nodes16 AS (SELECT src AS node, sw,
                       row_number() OVER (ORDER BY src) AS idx
                FROM sw16),
    adj16 AS (SELECT nv.idx AS vidx,
                     list(nu.idx ORDER BY nu.idx) AS ins,
                     list(e.w ORDER BY nu.idx) AS ws
              FROM und16 e JOIN nodes16 nu ON nu.node = e.a
                           JOIN nodes16 nv ON nv.node = e.b
              GROUP BY nv.idx),
    mats16 AS MATERIALIZED (
      SELECT (SELECT list(ins ORDER BY vidx) FROM adj16) AS al,
             (SELECT list(ws ORDER BY vidx) FROM adj16) AS wl,
             (SELECT list(sw ORDER BY idx) FROM nodes16) AS sv,
             (SELECT count(*) FROM nodes16) AS n),
    pr16 AS (
      SELECT 0 AS t,
             list_transform(range(1, n + 1), i -> 1000000::BIGINT) AS r
      FROM mats16
      UNION ALL
      SELECT t + 1,
             list_transform(range(1, CAST(len(al) AS BIGINT) + 1), v ->
               150000::BIGINT + (85 * CAST(list_sum(list_transform(
                 range(1, CAST(len(al[v]) AS BIGINT) + 1),
                 j -> (r[al[v][j]] * wl[v][j]) // sv[al[v][j]]))
                 AS BIGINT)) // 100)
      FROM pr16, mats16 WHERE t < $PrIters)
    SELECT n.node AS doc_id, n.sw AS w_out_micro, r[n.idx] AS rank_micro
    FROM pr16, nodes16 n WHERE t = $PrIters ORDER BY doc_id"""

  /** 60-bit SimHash per doc over its shingle set — one-pass SimHashAgg
    * (no doc×bit row explosion).
    */
  private def simhashes(sh: DataFrame): DataFrame =
    sh.withColumn("h", h60(col("shingle")))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg(col("h")).as("simhash"))

  private val simhashesSql: String = s"""
    hashed60 AS (
      SELECT doc_id, ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS h
      FROM shingles),
    bitsums AS (
      SELECT doc_id, j, sum(2 * ((h >> j) & 1) - 1) AS s
      FROM hashed60, (SELECT unnest(range(0, $SimHashBits)) AS j)
      GROUP BY doc_id, j),
    sim AS (
      SELECT doc_id,
             sum(CASE WHEN s >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
      FROM bitsums GROUP BY doc_id)"""

  /** SimHash chunk-bucket candidate pairs, parameterized by the
    * banding config: `nChunks` chunks of `chunkBits` bits. Exposed for
    * DedupSpec's candidate-volume measurement across configs.
    */
  private[dedup] def simhashCandidates(
      s: SparkSession, dir: String,
      nChunks: Int, chunkBits: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1
    val sim = simhashes(shingles(Tables.documents(s, dir)))
    val chunks = sim.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(nChunks - 1))).as("c"))
      .withColumn("chunk", expr(
        s"shiftright(simhash, c * $chunkBits) & $mask"))
    chunks.select(col("doc_id").as("doc_a"),
      col("simhash").as("sim_a"), col("c"), col("chunk"))
      .join(chunks.select(col("doc_id").as("doc_b"),
        col("simhash").as("sim_b"), col("c"), col("chunk")),
        Seq("c", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b")).distinct()
  }

  /** D4: SimHash near-dup pairs — chunk bucket join with guaranteed
    * recall for hamming ≤ nChunks-1 (pigeonhole), then exact
    * hamming ≤ radius. Two gate configs share this core: the
    * recall-side 10×6 (radius 9) and the scale-side 4×15 (radius 3,
    * ~1300× fewer expected candidates — [[Shingling.SimHashChunksWide]]).
    */
  private def dedupSimhashCore(s: SparkSession, dir: String,
      nChunks: Int, chunkBits: Int, radius: Int): DataFrame =
    simhashCandidates(s, dir, nChunks, chunkBits)
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("hamming") <= radius)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    dedupSimhashCore(s, dir, SimHashChunks, SimHashChunkBits, SimHashRadius)

  def dedupSimhashWide(s: SparkSession, dir: String): DataFrame =
    dedupSimhashCore(s, dir, SimHashChunksWide, SimHashWideChunkBits,
      SimHashWideRadius)

  private def dedupSimhashSqlFor(
      nChunks: Int, chunkBits: Int, radius: Int): String = s"""
    WITH shingles AS ($shinglesSql),
    $simhashesSql,
    chunks AS (
      SELECT doc_id, simhash, c,
             (simhash >> (c * $chunkBits)) & ${(1L << chunkBits) - 1} AS chunk
      FROM sim, (SELECT unnest(range(0, $nChunks)) AS c)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sim_a, b.simhash AS sim_b
      FROM chunks a JOIN chunks b ON a.c = b.c AND a.chunk = b.chunk
      WHERE a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b))::INT AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= $radius
    ORDER BY doc_a, doc_b"""

  val dedupSimhashSql: String =
    dedupSimhashSqlFor(SimHashChunks, SimHashChunkBits, SimHashRadius)

  val dedupSimhashWideSql: String =
    dedupSimhashSqlFor(SimHashChunksWide, SimHashWideChunkBits,
      SimHashWideRadius)

  /** D5: embedding-cosine near-dup pairs via hyperplane-LSH buckets —
    * the scale path is the GATE path: candidates are pairs sharing a
    * 4-bit band of their 16-bit sign signature (equi-join on
    * (band, bkey) — no cross product anywhere), then the exact cosine
    * filter runs on candidates only. Recall is probabilistic in the
    * LSH sense (a pair at angle θ shares a band w.p.
    * 1-(1-(1-θ/π)^4)^4 → ~1 for true near-dups); the DuckDB oracle
    * runs the SAME banding so the gate checks the pipeline end to end,
    * and DedupSpec cross-checks recall against the all-pairs baseline
    * (`dedupEmbeddingBrute`) on planted near-dups.
    */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("vn", VectorFunctions.normalize(col("v")))
    val dim = e.select(size(col("v")).as("d")).head().getInt(0)
    val sigs = e.select(col("vec_id"),
      graft.sim.Hyperplanes.signature(col("v"), dim).as("sig"))
    val bands = sigs.select(col("vec_id"), col("sig"),
      explode(sequence(lit(0), lit(graft.sim.Hyperplanes.Bands - 1))).as("band"))
      .withColumn("bkey",
        graft.sim.Hyperplanes.bandKey(col("sig"), col("band")))
    val cand = bands.select(col("vec_id").as("vec_a"), col("band"), col("bkey"))
      .join(bands.select(col("vec_id").as("vec_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("vn").as("va")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("vn").as("vb")), Seq("vec_b"))
      .withColumn("cosine",
        round(VectorFunctions.dot(col("va"), col("vb")), 6))
      .filter(col("cosine") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val dedupEmbeddingSql: String = s"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding::DOUBLE[], x ->
               x / sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[]))) AS vn
      FROM embeddings),
    src AS (SELECT vec_id AS id, v FROM e),
    ${graft.sim.Hyperplanes.sigsSql("src")},
    cand AS (
      SELECT DISTINCT a.id AS vec_a, b.id AS vec_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
      WHERE a.id < b.id),
    scored AS (
      SELECT vec_a, vec_b,
             round(list_dot_product(ea.vn, eb.vn), 6) AS cosine
      FROM cand JOIN e ea ON ea.vec_id = vec_a
                JOIN e eb ON eb.vec_id = vec_b)
    SELECT vec_a, vec_b, cosine FROM scored
    WHERE cosine >= 0.4 ORDER BY vec_a, vec_b"""

  /** D5b: occupancy-capped embedding near-dup — the D15/M13 cap
    * applied to the hyperplane band join, closing the one similarity
    * family whose pair mass had no capped rung (the sf1 probe measured
    * D5's true-pair contract at 6.7× per data decade under whole-corpus
    * duplication). Per (band, bkey) bucket: every member pairs with the
    * bucket MIN id (star — O(occ), bucket connectivity preserved) plus
    * all-pairs among the bottom-CapK ids (≤ C(CapK,2) — borderline
    * robustness where the hub itself fails the cosine test). Candidate
    * mass per bucket is O(occ + k²) instead of O(occ²); survivors still
    * verify with the EXACT cosine, so precision is unchanged — the cap
    * trades candidate recall only on pairs whose every shared bucket is
    * heavily occupied, the documented 100 TB trade. Reuses D15's
    * `cappedCandidates` verbatim under a column rename.
    */
  def dedupEmbeddingCapped(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("vn", VectorFunctions.normalize(col("v")))
    val dim = e.select(size(col("v")).as("d")).head().getInt(0)
    val sigs = e.select(col("vec_id"),
      graft.sim.Hyperplanes.signature(col("v"), dim).as("sig"))
    val bands = sigs.select(col("vec_id"), col("sig"),
      explode(sequence(lit(0), lit(graft.sim.Hyperplanes.Bands - 1))).as("band"))
      .withColumn("bkey",
        graft.sim.Hyperplanes.bandKey(col("sig"), col("band")))
    val cand = cappedCandidates(bands.select(col("vec_id").as("doc_id"),
        col("band"), col("bkey").as("band_key")))
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("vn").as("va")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("vn").as("vb")), Seq("vec_b"))
      .withColumn("cosine",
        round(VectorFunctions.dot(col("va"), col("vb")), 6))
      .filter(col("cosine") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val dedupEmbeddingCappedSql: String = s"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding::DOUBLE[], x ->
               x / sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[]))) AS vn
      FROM embeddings),
    src AS (SELECT vec_id AS id, v FROM e),
    ${graft.sim.Hyperplanes.sigsSql("src")},
    bminE AS (SELECT band, bkey, min(id) AS m
              FROM bands GROUP BY band, bkey),
    starE AS (SELECT bm.m AS vec_a, b.id AS vec_b
              FROM bands b JOIN bminE bm USING (band, bkey)
              WHERE b.id != bm.m),
    topkE AS (SELECT band, bkey, id
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY band, bkey ORDER BY id) AS rn
                    FROM bands)
              WHERE rn <= $CapK),
    kpE AS (SELECT a.id AS vec_a, b.id AS vec_b
            FROM topkE a JOIN topkE b
              ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
    candE AS (SELECT DISTINCT vec_a, vec_b FROM
              (SELECT vec_a, vec_b FROM starE
               UNION ALL SELECT vec_a, vec_b FROM kpE)),
    scored AS (
      SELECT vec_a, vec_b,
             round(list_dot_product(ea.vn, eb.vn), 6) AS cosine
      FROM candE JOIN e ea ON ea.vec_id = vec_a
                 JOIN e eb ON eb.vec_id = vec_b)
    SELECT vec_a, vec_b, cosine FROM scored
    WHERE cosine >= 0.4 ORDER BY vec_a, vec_b"""

  /** The all-pairs exactness baseline D5 replaces at the gate: every
    * O(n²) pair costs one codegen'd dot product over once-normalized
    * vectors. Spec-checked against `dedupEmbedding` (the bucketed path
    * must find every brute pair on the planted near-dups); deliberately
    * NOT a gate entry — a cartesian plan is the textbook 100 TB
    * scale-killer.
    */
  private[graft] def dedupEmbeddingBrute(
      s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), VectorFunctions.normalize(
        col("embedding").cast("array<double>")).as("vn"))
    val a = e.select(col("vec_id").as("vec_a"), col("vn").as("va"))
    val b = e.select(col("vec_id").as("vec_b"), col("vn").as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        round(VectorFunctions.dot(col("va"), col("vb")), 6))
      .filter(col("cosine") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** D6: duplicate-CLUSTER resolution — pair detection (D2-D5) says
    * "a≈b"; a real pipeline must then pick one keeper per transitive
    * group (a≈b, b≈c ⇒ {a,b,c} keep one). Connected components over the
    * jaccard ≥ 0.5 edge set via the alternating large-star/small-star
    * operator ([[graft.operators.ConnectedComponents]]): O(log n)
    * rounds AND skew-resistant — a viral near-dup hub's adjacency is
    * redistributed rather than funneled through one reducer, which is
    * what matters when a boilerplate page has 10⁶ near-duplicates at
    * corpus scale. Parallelism is sized to the dup graph (≪ corpus)
    * before entering the loop; per-round lineage truncation lives in
    * the operator (SURVEY §8a).
    *
    * Output: every doc in a non-trivial component with its canonical
    * (min doc_id in component) and the component size. The DuckDB
    * oracle computes the same components by recursive transitive
    * closure, so the gate checks the clustering end to end.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clustersOn(Tables.documents(s, dir))

  private def clustersOn(docs: DataFrame): DataFrame = {
    val edges = jaccardPairs(shingles(docs))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    // Loop parallelism tracks the DUP GRAPH, not the corpus: every
    // shuffle inside the CC rounds is AQE-coalesced to the edge set's
    // actual size (the near-dup graph is ≪ corpus), and the operator's
    // per-round localCheckpoint materializes those coalesced
    // partitions, so no round schedules corpus-sized task counts. (An
    // explicit repartition before entry only resizes the one narrow
    // stage before the first shuffle — measured no win over AQE.)
    val labels = graft.operators.ConnectedComponents.run(edges)
    val sizes = labels.groupBy(col("root"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("root"))
      .select(col("node").as("doc_id"), col("root").as("canonical"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  val dedupClustersSql: String = s"""
    WITH RECURSIVE $jaccardPairsSql,
    edges AS (SELECT doc_a AS a, doc_b AS b FROM jp WHERE jaccard >= 0.5),
    und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    nodes AS (SELECT DISTINCT a AS doc FROM und),
    reach(doc, r) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.doc),
    comp AS (SELECT doc, min(r) AS canonical FROM reach GROUP BY doc),
    sizes AS (SELECT canonical, count(*) AS cluster_size
              FROM comp GROUP BY canonical)
    SELECT comp.doc AS doc_id, comp.canonical, sizes.cluster_size
    FROM comp JOIN sizes USING (canonical) ORDER BY doc_id"""

  /** D30: the dedup PURGE PLAN — the artifact a dedup pass actually
    * ships: one verdict row per corpus document. Composition of D6's
    * cluster resolution into the corpus frame: cluster members keep
    * their canonical min-id keeper ('keeper' for the canonical itself,
    * 'drop_neardup' for the rest), everything outside any verified
    * cluster is 'unique'. This is the frame the curation writer
    * anti-joins against (and what P13's token accounting prices);
    * emitting it as a gate makes the END-TO-END dedup decision — edge
    * build, threshold, CC, keeper election, corpus re-attach —
    * hash-checked as one unit rather than per stage.
    */
  def dedupPurgePlan(s: SparkSession, dir: String): DataFrame = {
    // one read of the corpus: each read infers the parquet schema
    // with a Spark job of its own
    val docs = Tables.documents(s, dir)
    val clusters = clustersOn(docs)
      .select(col("doc_id"), col("canonical"), col("cluster_size"))
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical"), col("doc_id")).as("keeper_id"),
        when(col("canonical").isNull, "unique")
          .when(col("canonical") === col("doc_id"), "keeper")
          .otherwise("drop_neardup").as("verdict"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .orderBy(col("doc_id"))
  }

  val dedupPurgePlanSql: String = s"""
    SELECT d.doc_id,
           coalesce(cl.canonical, d.doc_id) AS keeper_id,
           CASE WHEN cl.canonical IS NULL THEN 'unique'
                WHEN cl.canonical = d.doc_id THEN 'keeper'
                ELSE 'drop_neardup' END AS verdict,
           coalesce(cl.cluster_size, 1)::BIGINT AS cluster_size
    FROM documents d LEFT JOIN ($dedupClustersSql) cl
      ON cl.doc_id = d.doc_id
    ORDER BY d.doc_id"""

  /** D30b: the purge plan routed through the CAPPED rung — at 100 TB
    * the servable cluster input is D15's occupancy-capped candidates
    * (O(occ + k²) pair mass per bucket), not D6's uncapped bucket
    * all-pairs; a recrawl-shaped corpus would make the uncapped purge
    * plan's own input quadratic. Same verdict logic, capped cluster
    * table, oracle = the purge projection over the D15 CTE chain.
    */
  def dedupPurgePlanCapped(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClustersCapped(s, dir)
      .select(col("doc_id"), col("canonical"), col("cluster_size"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical"), col("doc_id")).as("keeper_id"),
        when(col("canonical").isNull, "unique")
          .when(col("canonical") === col("doc_id"), "keeper")
          .otherwise("drop_neardup").as("verdict"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .orderBy(col("doc_id"))
  }

  // lazy: interpolates dedupClustersCappedSql, declared further down —
  // a strict val here would capture null at object init
  lazy val dedupPurgePlanCappedSql: String = s"""
    SELECT d.doc_id,
           coalesce(cl.canonical, d.doc_id) AS keeper_id,
           CASE WHEN cl.canonical IS NULL THEN 'unique'
                WHEN cl.canonical = d.doc_id THEN 'keeper'
                ELSE 'drop_neardup' END AS verdict,
           coalesce(cl.cluster_size, 1)::BIGINT AS cluster_size
    FROM documents d LEFT JOIN ($dedupClustersCappedSql) cl
      ON cl.doc_id = d.doc_id
    ORDER BY d.doc_id"""

  /** D15: band-bucket occupancy caps — the sf1-probe's named
    * mitigation for recrawl-shaped corpora, where one mega-cluster
    * puts thousands of docs in the SAME band bucket and D3's
    * within-bucket all-pairs join goes quadratic. Capped candidate
    * rule, per (band, band_key): every member links to the bucket MIN
    * id (a star — occupancy−1 edges, connectivity of the bucket
    * preserved exactly), plus all-pairs among the bottom-$CapK ids
    * (≤ C($CapK,2) edges — borderline-pair robustness where the hub
    * itself might fail verification). Pair mass per bucket is O(occ)
    * instead of O(occ²); candidates still verify with EXACT jaccard,
    * and since capped edges ⊆ D3's bucket all-pairs, every capped
    * component refines a D6 component (spec'd). Bottom-k via the E18
    * bounded heap (constant score ⇒ min-id tiebreak ordering), pairs
    * generated row-local by a higher-order transform — no self-join.
    * (CapK itself is declared beside PrIters — D17's oracle string
    * interpolates it from above.)
    */
  private[dedup] def cappedCandidates(bands: DataFrame): DataFrame = {
    val bmin = bands.groupBy(col("band"), col("band_key"))
      .agg(min(col("doc_id")).as("m"))
    // bmin is O(buckets) ~ O(corpus): SHUFFLE_HASH, not broadcast
    val star = bands.hint("shuffle_hash").join(bmin, Seq("band", "band_key"))
      .filter(col("doc_id") =!= col("m"))
      .select(col("m").as("doc_a"), col("doc_id").as("doc_b"))
    val kpairs = bands.groupBy(col("band"), col("band_key"))
      .agg(graft.functions.TopKAgg(lit(0.0), col("doc_id"), CapK).as("kept"))
      .select(expr("array_sort(transform(kept, x -> x.id))").as("ids"))
      .select(explode(expr(
        "flatten(transform(sequence(0, size(ids) - 1), i -> " +
          "transform(slice(ids, i + 2, size(ids)), y -> " +
          "struct(ids[i] AS doc_a, y AS doc_b))))")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    star.union(kpairs).distinct()
  }

  def dedupClustersCapped(s: SparkSession, dir: String): DataFrame = {
    val sh = graft.CachedFrames.persist(shingles(Tables.documents(s, dir)))
    val bands = graft.CachedFrames.persist(minhashBands(sh))
    val cand = cappedCandidates(bands)
    val edges = verifiedPairs(cand, sh).select(col("doc_a"), col("doc_b"))
    val labels = graft.operators.ConnectedComponents.run(edges)
    val sizes = labels.groupBy(col("root"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("root"))
      .select(col("node").as("doc_id"), col("root").as("canonical"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  val dedupClustersCappedSql: String = s"""
    WITH RECURSIVE $jaccardPairsSql,
    $minhashBandsSql,
    bmin15 AS (SELECT band, band_key, min(doc_id) AS m
               FROM bands GROUP BY band, band_key),
    star15 AS (SELECT bm.m AS doc_a, b.doc_id AS doc_b
               FROM bands b JOIN bmin15 bm USING (band, band_key)
               WHERE b.doc_id != bm.m),
    topk15 AS (SELECT band, band_key, doc_id
               FROM (SELECT *, row_number() OVER (
                       PARTITION BY band, band_key ORDER BY doc_id) AS rn
                     FROM bands)
               WHERE rn <= $CapK),
    kp15 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM topk15 a JOIN topk15 b
               ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    cand15 AS (SELECT DISTINCT doc_a, doc_b FROM
               (SELECT doc_a, doc_b FROM star15
                UNION ALL SELECT doc_a, doc_b FROM kp15)),
    e15 AS (SELECT doc_a AS a, doc_b AS b
            FROM cand15 JOIN jp USING (doc_a, doc_b)
            WHERE jaccard >= 0.5),
    und15 AS (SELECT a, b FROM e15 UNION SELECT b, a FROM e15),
    n15 AS (SELECT DISTINCT a AS doc FROM und15),
    reach15(doc, r) AS (
      SELECT doc, doc FROM n15
      UNION
      SELECT u.b, reach15.r FROM reach15 JOIN und15 u ON u.a = reach15.doc),
    comp15 AS (SELECT doc, min(r) AS canonical FROM reach15 GROUP BY doc),
    sizes15 AS (SELECT canonical, count(*) AS cluster_size
                FROM comp15 GROUP BY canonical)
    SELECT comp15.doc AS doc_id, comp15.canonical, sizes15.cluster_size
    FROM comp15 JOIN sizes15 USING (canonical) ORDER BY doc_id"""

  /** D7: sub-document (span-level) exact dedup — fixed 10-word windows
    * per document, cross-corpus duplicate spans by md5. The pipeline
    * face of "boilerplate removal": a span shared by many documents is
    * the repeated header/footer a paragraph-level pass strips even when
    * whole documents are unique. Shuffles on the 16-byte span hash,
    * never the span text (SURVEY §5); map-side partial aggregation
    * collapses per-task repeats before the exchange.
    */
  def dedupSpans(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 10)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) div 10), " +
          "k -> concat_ws(' ', slice(w, (k-1)*10+1, 10)))")).as("span"))
      .groupBy(md5(col("span")).as("span_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("keeper_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("span_md5"))

  val dedupSpansSql: String = """
    WITH spans AS (
      SELECT doc_id,
             md5(array_to_string(
               list_slice(w, (k-1)*10+1, (k-1)*10+10), ' ')) AS span_md5
      FROM (SELECT doc_id, w, unnest(range(1, 1 + len(w)//10)) AS k
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= 10))
    SELECT span_md5, count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occurrences, min(doc_id) AS keeper_doc
    FROM spans GROUP BY span_md5 HAVING count(DISTINCT doc_id) >= 2
    ORDER BY span_md5"""

  /** D34: exact repeated substrings at ANY alignment — the sub-tile
    * grain D7/T19 miss (Lee et al.'s suffix-array dedup catches every
    * ≥k-token repeat; D7's disjoint 10-word tiles under-count a quote
    * that straddles a tile boundary). Relational approximation with
    * the same guarantee for runs of whole words: STRIDE-1 positional
    * k-shingles (k=10) per doc, df-capped (the D8 anti-join — pair
    * mass stays O(occ²) per hash bucket however hot the boilerplate),
    * one hash self-join for cross-doc matches, then RUN-MERGING by
    * gaps-and-islands on each (doc_a, doc_b, diagonal): consecutive
    * stride-1 matches on one diagonal ARE one maximal repeat, so a
    * run of r matches reports a single shared substring of r+k−1
    * words with both 1-based start positions. Every cross-doc
    * verbatim repeat of ≥ k words at any offset whose constituent
    * shingles all survive the df cap appears as exactly one row —
    * including the boundary-straddling quote the tile gate provably
    * misses (spec'd on planted docs). A repeat containing a
    * hotter-than-`MaxShingleDf` positional shingle is the exception
    * the cap buys its bounded pair mass with: the hot shingle's
    * matches drop, so that repeat splits into the surviving runs on
    * either side (or drops entirely when every shingle is hot) —
    * corpus-wide boilerplate under-bills, pairwise quotes don't.
    * Scale shape: the
    * shingle shuffle D2/D3 already pay (stride-1 is ×k rows of
    * 16-byte hashes — text never shuffles), one SHUFFLE_HASH
    * self-join, one window over per-pair-diagonal groups (each
    * bounded by the shorter doc's length).
    */
  val SubstringK = 10

  def dedupSubstrings(s: SparkSession, dir: String): DataFrame =
    substringRunsOn(Tables.documents(s, dir))

  /** The D34 core over an explicit (doc_id, text) frame — factored so
    * the boundary-straddle spec can plant its own corpus. */
  private[graft] def substringRunsOn(docs: DataFrame): DataFrame = {
    val w = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= SubstringK)
    val sh = w.select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - $SubstringK + 1), " +
          s"k -> struct(cast(k as bigint) as pos, " +
          s"md5(concat_ws(' ', slice(w, k, $SubstringK))) as h))"))
        .as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.h").as("h"))
    substringRunsFromShingles(sh, SubstringK, "a", "b", "len_words")
  }

  /** The shared D34/D35 self-join tail over an explicit
    * positional-shingle frame (doc_id, pos, h): df cap (shuffled
    * anti-join — the Shingling.cappedShingles discipline, never a
    * broadcast of the stop set), one SHUFFLE_HASH hash self-join,
    * gaps-and-islands run-merge per (doc_a, doc_b, diagonal). `k` is
    * the shingle width the run length reconstitutes with; the word
    * and token grains differ only in how they shingle.
    */
  private def substringRunsFromShingles(sh: DataFrame, k: Int,
                                        aSfx: String, bSfx: String,
                                        lenName: String): DataFrame = {
    // persist-RELEASE discipline (round 14, r13 verdict item 3): the
    // raw positional-shingle index and the df-capped survivor frame
    // are both corpus-sized; holding BOTH cached through the O(occ²)
    // self-join doubled the storage footprint and squeezed the join's
    // execution memory out of the unified pool — at sf1 the TOKEN
    // grain's warm run spilled harder than its cold one (105.5 s vs
    // 85.5, the scale ledger's one warm>cold entry). The raw index
    // is only needed to derive the stop set and feed the anti-join:
    // materialize the survivors EAGERLY while it is hot, then drop
    // it BEFORE the self-join starts, so the join runs against half
    // the cached footprint.
    val indexed = sh.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stop = indexed.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > Shingling.MaxShingleDf)
      .select(col("h"))
    val kept = graft.CachedFrames.persist(indexed.hint("shuffle_hash")
      .join(stop.hint("shuffle_hash"), Seq("h"), "left_anti"))
    kept.count()
    indexed.unpersist(blocking = true)
    val m = kept.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
        col("h")).hint("shuffle_hash")
      .join(kept.select(col("doc_id").as("doc_b"),
        col("pos").as("pos_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"))
    val runs = m.withColumn("diag", col("pos_b") - col("pos_a"))
      .withColumn("run_id",
        col("pos_a") - row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
            .orderBy(col("pos_a"))))
    runs.groupBy(col("doc_a"), col("doc_b"), col("diag"), col("run_id"))
      .agg(min(col("pos_a")).as(s"start_$aSfx"),
        (min(col("pos_a")) + col("diag")).as(s"start_$bSfx"),
        (max(col("pos_a")) - min(col("pos_a")) + k)
          .as(lenName))
      .select(col("doc_a"), col("doc_b"), col(s"start_$aSfx"),
        col(s"start_$bSfx"), col(lenName))
      .orderBy(col("doc_a"), col("doc_b"), col(s"start_$aSfx"),
        col(s"start_$bSfx"))
  }

  /** D34b: per-pair duplicated MASS — D34's runs rolled up to the
    * verdict grain a purge/quality pass consumes: for each doc pair,
    * how many words of verbatim overlap (sum over maximal runs), the
    * longest single run, and the run count. This is the containment
    * signal (D21) at EXACT-substring grain: a pair with high
    * `dup_words` but modest jaccard is a quotation/boilerplate
    * relationship, the Lee-et-al case tile gates under-bill. Pure
    * rollup of D34 — same bounded pair mass, one extra aggregate.
    */
  def dedupSubstringMass(s: SparkSession, dir: String): DataFrame =
    substringRunsOn(Tables.documents(s, dir))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("len_words")).as("dup_words"),
        max(col("len_words")).as("longest_run"),
        count(lit(1)).as("n_runs"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** P34: EXACT-substring decontamination — D34's sub-tile grain
    * pointed CROSS-SIDED at the eval split (Lee et al.'s exact rung
    * applied to decontamination): every verbatim ≥k-word overlap
    * between a training doc and an eval doc is caught at ANY
    * alignment. This is the rung both existing decontamination gates
    * provably leave gaps in: P3's contamination ratio misses a short
    * quote inside a long training doc (the quote never reaches 20% of
    * the doc's OWN shingle count), and P25's banded MinHash misses
    * low-jaccard quotation (a 12-word quote in a 200-word doc is far
    * below any useful band threshold) — the planted-quote spec shows
    * both misses while this gate reports the quote with exact offsets.
    *
    * Shape: stride-1 positional k-shingles on both sides; the EVAL
    * side is the broadcast build side (the P25 asymmetry — a benchmark
    * suite is fixed-size in production; the %20 split is the test
    * stand-in), the train side is df-capped (the D8 anti-join) so
    * corpus-wide boilerplate that also appears in an eval doc can't
    * explode the probe fanout; matches run-merge by gaps-and-islands
    * per (train, eval, diagonal), so each maximal quote reports
    * exactly once with both 1-based word offsets (same df-cap caveat
    * as D34). Train-side shingles shuffle as 16-byte hashes; text
    * never moves.
    */
  def decontamSubstrings(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    decontamSubstringsOn(docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  private def positionalShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= SubstringK)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - $SubstringK + 1), " +
          s"k -> struct(cast(k as bigint) as pos, " +
          s"md5(concat_ws(' ', slice(w, k, $SubstringK))) as h))"))
        .as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.h").as("h"))

  /** The P34 core over explicit (doc_id, text) train and eval frames —
    * factored so the planted-quote spec can drive its own corpus. */
  private[graft] def decontamSubstringsOn(train: DataFrame,
                                          ev: DataFrame): DataFrame =
    decontamRunsFromShingles(positionalShingles(train),
      positionalShingles(ev), "len_words")

  /** The shared P34/P40/P41 tail over explicit POSITIONAL-SHINGLE
    * frames (doc_id, pos, h) — the grain rungs differ only in how
    * they shingle (raw words / canonical words / token ids), the
    * df-cap → broadcast-eval probe → run-merge machinery is one
    * implementation. `lenName` names the unit of the emitted run
    * length (words vs tokens — the offsets are in the same unit).
    */
  private def decontamRunsFromShingles(trainSh: DataFrame,
                                       evSh: DataFrame,
                                       lenName: String): DataFrame = {
    val trSh = graft.CachedFrames.persist(trainSh)
    val stop = trSh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > Shingling.MaxShingleDf)
      .select(col("h"))
    val kept = trSh.hint("shuffle_hash")
      .join(stop.hint("shuffle_hash"), Seq("h"), "left_anti")
    val m = kept
      .select(col("doc_id").as("train_id"), col("pos").as("pos_t"),
        col("h"))
      .join(broadcast(evSh
        .select(col("doc_id").as("eval_id"), col("pos").as("pos_e"),
          col("h"))), Seq("h"))
      .select(col("train_id"), col("pos_t"), col("eval_id"),
        col("pos_e"))
    val runs = m.withColumn("diag", col("pos_e") - col("pos_t"))
      .withColumn("run_id",
        col("pos_t") - row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("train_id"), col("eval_id"), col("diag"))
            .orderBy(col("pos_t"))))
    runs.groupBy(col("train_id"), col("eval_id"), col("diag"),
        col("run_id"))
      .agg(min(col("pos_t")).as("start_train"),
        (min(col("pos_t")) + col("diag")).as("start_eval"),
        (max(col("pos_t")) - min(col("pos_t")) + SubstringK)
          .as(lenName))
      .select(col("train_id"), col("eval_id"), col("start_train"),
        col("start_eval"), col(lenName))
      .orderBy(col("train_id"), col("eval_id"), col("start_train"),
        col("start_eval"))
  }

  /** P40: exact-substring decontamination at NORMALIZED grain — the
    * word-grain limit of D34/P34 closed: P34 shingles the raw
    * space-split words, so a REFORMATTED quote (casing changed,
    * punctuation swapped, hyphens/commas edited, whitespace
    * re-wrapped) hashes to different shingles and slips through even
    * though Lee et al.'s char/token suffix grain would catch it.
    * This rung canonicalizes the STRING first — lowercase, every
    * non-alphanumeric to space, runs of spaces collapsed — and then
    * runs the IDENTICAL P34 machinery on the canonical word sequence.
    * Because normalization happens before the split, word-boundary
    * edits fold too: "State-of-the-Art" and "state of the art" yield
    * the same four canonical words, so hyphenation changes, quote
    * marks, and bracketed insertions of pure punctuation all land on
    * the same shingles (planted-reformatted-quote spec'd, with the
    * word-grain P34 shown missing the same plant). Offsets are
    * 1-based positions in the CANONICAL token sequence — the right
    * coordinate system for a scrubber that re-normalizes before
    * cutting. Residual, stated: edits INSIDE a word (typos, stemming,
    * "cannot"→"can not" is caught but "can't"→"cannot" is not) stay
    * below this grain — that is P25's fuzzy-band job, and the three
    * rungs P3/P25/P34+P40 are reconciled in P28's report.
    * Scale shape: identical to P34 (the normalization is one codegen'd
    * projection before shingling; same broadcast-eval asymmetry, same
    * df cap, same run merge).
    */
  private[graft] def normalizedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", " "), " +", " ")).as("text"))

  def decontamSubstringsNorm(s: SparkSession, dir: String): DataFrame = {
    val docs = normalizedDocs(Tables.documents(s, dir))
    decontamSubstringsOn(docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  val decontamSubstringsNormSql: String = s"""
    WITH snd AS (
      SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS t
      FROM documents),
    sdw AS (
      SELECT doc_id, string_split(t, ' ') AS w FROM snd
      WHERE len(string_split(t, ' ')) >= $SubstringK),
    ssh AS (
      SELECT doc_id, k::BIGINT AS pos,
             md5(array_to_string(
               list_slice(w, k, k + $SubstringK - 1), ' ')) AS h
      FROM sdw, unnest(range(1, len(w) - $SubstringK + 2)) AS u(k)),
    str AS (SELECT doc_id, pos, h FROM ssh WHERE doc_id % 20 != 0),
    sev AS (SELECT doc_id, pos, h FROM ssh WHERE doc_id % 20 = 0),
    skept AS (
      SELECT doc_id, pos, h FROM str
      QUALIFY count(*) OVER (PARTITION BY h) <= ${Shingling.MaxShingleDf}),
    sm AS (
      SELECT t.doc_id AS train_id, t.pos AS pos_t,
             e.doc_id AS eval_id, e.pos AS pos_e
      FROM skept t JOIN sev e ON t.h = e.h),
    sruns AS (
      SELECT train_id, eval_id, pos_e - pos_t AS diag, pos_t,
             pos_t - row_number() OVER (
               PARTITION BY train_id, eval_id, pos_e - pos_t
               ORDER BY pos_t) AS run_id
      FROM sm)
    SELECT train_id, eval_id,
           min(pos_t)::BIGINT AS start_train,
           (min(pos_t) + diag)::BIGINT AS start_eval,
           (max(pos_t) - min(pos_t) + $SubstringK)::BIGINT AS len_words
    FROM sruns GROUP BY train_id, eval_id, diag, run_id
    ORDER BY train_id, eval_id, start_train, start_eval"""

  /** P41: exact-substring decontamination at TOKEN-ID grain (round
    * 13, r12 verdict item 5 — the rung below P40's canonical words,
    * and the grain Lee et al. actually operate at): shingle the T29
    * BPE token-id sequences instead of word strings. Two things the
    * word rungs cannot do land here. (1) INTRA-WORD edits shrink but
    * don't erase the match: a typo or contraction changes only the
    * damaged word's tokens, and because subword tokens are FINER
    * than words (k=10 token ids span ~6-7 words of this corpus vs
    * P40's 10-word window), the verbatim fragments on either side of
    * the edit clear the k-shingle bar where the word grain's longer
    * effective window provably misses both halves (planted-typo
    * spec, P40 shown reporting nothing on the same plant). (2)
    * Offsets land in TOKEN positions — the coordinate a
    * tokenized-loader scrubber (P38 downstream of T29/P32) actually
    * cuts in; word offsets must be re-tokenized to be actionable.
    * The tokenizer is the deployment's own T29 artifact — applying
    * it to the eval side is exactly what a tokenized-benchmark
    * scrub does. Machinery: the IDENTICAL P34 tail (df cap,
    * broadcast-eval probe, gaps-and-islands run merge) over
    * (doc_id, pos, h) token shingles; 16-byte hashes shuffle, token
    * payloads never move. Residual, stated: an edit still costs the
    * k−1 shingles straddling it — only fragments ≥ k tokens on a
    * side survive; P25's fuzzy bands remain the sub-fragment rung.
    */
  private def tokenShingles(seqs: DataFrame,
                            k: Int = SubstringK): DataFrame =
    seqs.filter(size(col("token_ids")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(token_ids) - $k + 1), " +
          s"k -> struct(cast(k as bigint) as pos, " +
          s"md5(concat_ws('-', transform(slice(token_ids, k, " +
          s"$k), t -> cast(t as string)))) as h))"))
        .as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.h").as("h"))

  def decontamSubstringsTok(s: SparkSession, dir: String): DataFrame = {
    val sh = graft.CachedFrames.persist(tokenShingles(
      tokenSeqsOf(s, dir)))
    decontamRunsFromShingles(
      sh.filter(col("doc_id") % 20 =!= 0),
      sh.filter(col("doc_id") % 20 === 0), "len_tokens")
  }

  /** The P41 core over explicit (doc_id, token_ids) train/eval
    * frames — the planted-typo spec's seam (it brings its own
    * corpus AND its own tokenization). */
  private[graft] def decontamSubstringsTokOn(train: DataFrame,
                                             ev: DataFrame): DataFrame =
    decontamRunsFromShingles(tokenShingles(train), tokenShingles(ev),
      "len_tokens")

  lazy val decontamSubstringsTokSql: String = s"""
    WITH ${graft.text.TextQueries.bpeTokenFlatSql},
    seqs AS (
      SELECT doc_id, list(tok_id ORDER BY wpos, spos) AS w
      FROM flat GROUP BY doc_id),
    sdw AS (SELECT doc_id, w FROM seqs WHERE len(w) >= $SubstringK),
    ssh AS (
      SELECT doc_id, k::BIGINT AS pos,
             md5(array_to_string(
               list_slice(w, k, k + $SubstringK - 1), '-')) AS h
      FROM sdw, unnest(range(1, len(w) - $SubstringK + 2)) AS u(k)),
    str AS (SELECT doc_id, pos, h FROM ssh WHERE doc_id % 20 != 0),
    sev AS (SELECT doc_id, pos, h FROM ssh WHERE doc_id % 20 = 0),
    skept AS (
      SELECT doc_id, pos, h FROM str
      QUALIFY count(*) OVER (PARTITION BY h) <= ${Shingling.MaxShingleDf}),
    sm AS (
      SELECT t.doc_id AS train_id, t.pos AS pos_t,
             e.doc_id AS eval_id, e.pos AS pos_e
      FROM skept t JOIN sev e ON t.h = e.h),
    sruns AS (
      SELECT train_id, eval_id, pos_e - pos_t AS diag, pos_t,
             pos_t - row_number() OVER (
               PARTITION BY train_id, eval_id, pos_e - pos_t
               ORDER BY pos_t) AS run_id
      FROM sm)
    SELECT train_id, eval_id,
           min(pos_t)::BIGINT AS start_train,
           (min(pos_t) + diag)::BIGINT AS start_eval,
           (max(pos_t) - min(pos_t) + $SubstringK)::BIGINT AS len_tokens
    FROM sruns GROUP BY train_id, eval_id, diag, run_id
    ORDER BY train_id, eval_id, start_train, start_eval"""

  /** D35: cross-doc exact repeated substrings at TOKEN-ID grain —
    * D34's self-join rung moved to the coordinate Lee et al.'s
    * suffix-array dedup actually runs in (their dedup threshold is
    * 50 BPE tokens; D34's is 10 words). k = 15 tokens here (≈ 10
    * words of this corpus at ~1.5 tokens/word — the same semantic
    * bar as D34, now typo-tolerant): intra-word edits shrink a
    * repeat instead of erasing it, and both surviving fragments
    * report with TOKEN offsets — the coordinate a tokenized pipeline
    * cuts in. The deliberately finer P41 decontam rung keeps k = 10
    * because its probe side is eval-bounded; the cross-doc self-join
    * pays O(occ²) per bucket, so its k stays at the D34 semantic bar
    * (at k = 10 tokens the corpus's 6-7-word template phrases all
    * match — ~20× the pair mass for sub-bar repeats). Machinery: the
    * IDENTICAL D34 tail (df cap, SHUFFLE_HASH self-join, run merge)
    * over T29 token shingles; 16-byte hashes shuffle, token payloads
    * never move.
    */
  val TokDedupK = 15

  /** One TOKENIZED corpus per (session, dir) — the [[graft.Deployed]]
    * token memo applied to the T29 encode feeding the token-grain
    * dedup/decontam rungs: the BPE tokenization is offline input
    * prep (priced by its own gates), and a per-invocation rebuild
    * re-trains the tokenizer under a fresh lineage, so no downstream
    * cache ever matches — a "warm" run re-trained the tokenizer from
    * scratch while the cold run's caches still held memory (the sf1
    * warm>cold spill, r13 verdict item 3, second half). The
    * checkpoint pins the lineage once; every later
    * invocation plans against the SAME frame and the df-capped
    * survivor cache finally hits.
    */
  private def tokenSeqsOf(s: SparkSession, dir: String): DataFrame =
    graft.text.TextQueries.deployedTokenSequences(s, dir)
      .select(col("doc_id"), col("token_ids"))

  def dedupSubstringsTok(s: SparkSession, dir: String): DataFrame =
    dedupSubstringsTokOn(tokenSeqsOf(s, dir))

  /** The D35 core over an explicit (doc_id, token_ids) frame — the
    * planted-typo spec's seam. */
  private[graft] def dedupSubstringsTokOn(seqs: DataFrame): DataFrame =
    substringRunsFromShingles(tokenShingles(seqs, TokDedupK),
      TokDedupK, "a", "b", "len_tokens")

  lazy val dedupSubstringsTokSql: String = s"""
    WITH ${graft.text.TextQueries.bpeTokenFlatSql},
    seqs AS (
      SELECT doc_id, list(tok_id ORDER BY wpos, spos) AS w
      FROM flat GROUP BY doc_id),
    sdw AS (SELECT doc_id, w FROM seqs WHERE len(w) >= $TokDedupK),
    ssh AS (
      SELECT doc_id, k::BIGINT AS pos,
             md5(array_to_string(
               list_slice(w, k, k + $TokDedupK - 1), '-')) AS h
      FROM sdw, unnest(range(1, len(w) - $TokDedupK + 2)) AS u(k)),
    kept AS (
      SELECT doc_id, pos, h FROM ssh
      QUALIFY count(*) OVER (PARTITION BY h) <= ${Shingling.MaxShingleDf}),
    m AS (
      SELECT a.doc_id AS doc_a, a.pos AS pos_a,
             b.doc_id AS doc_b, b.pos AS pos_b
      FROM kept a JOIN kept b ON a.h = b.h
      WHERE a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, pos_b - pos_a AS diag, pos_a,
             pos_a - row_number() OVER (
               PARTITION BY doc_a, doc_b, pos_b - pos_a
               ORDER BY pos_a) AS run_id
      FROM m)
    SELECT doc_a, doc_b,
           min(pos_a)::BIGINT AS start_a,
           (min(pos_a) + diag)::BIGINT AS start_b,
           (max(pos_a) - min(pos_a) + $TokDedupK)::BIGINT AS len_tokens
    FROM runs GROUP BY doc_a, doc_b, diag, run_id
    ORDER BY doc_a, doc_b, start_a, start_b"""

  val decontamSubstringsSql: String = s"""
    WITH sdw AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= $SubstringK),
    ssh AS (
      SELECT doc_id, k::BIGINT AS pos,
             md5(array_to_string(
               list_slice(w, k, k + $SubstringK - 1), ' ')) AS h
      FROM sdw, unnest(range(1, len(w) - $SubstringK + 2)) AS u(k)),
    str AS (SELECT doc_id, pos, h FROM ssh WHERE doc_id % 20 != 0),
    sev AS (SELECT doc_id, pos, h FROM ssh WHERE doc_id % 20 = 0),
    skept AS (
      SELECT doc_id, pos, h FROM str
      QUALIFY count(*) OVER (PARTITION BY h) <= ${Shingling.MaxShingleDf}),
    sm AS (
      SELECT t.doc_id AS train_id, t.pos AS pos_t,
             e.doc_id AS eval_id, e.pos AS pos_e
      FROM skept t JOIN sev e ON t.h = e.h),
    sruns AS (
      SELECT train_id, eval_id, pos_e - pos_t AS diag, pos_t,
             pos_t - row_number() OVER (
               PARTITION BY train_id, eval_id, pos_e - pos_t
               ORDER BY pos_t) AS run_id
      FROM sm)
    SELECT train_id, eval_id,
           min(pos_t)::BIGINT AS start_train,
           (min(pos_t) + diag)::BIGINT AS start_eval,
           (max(pos_t) - min(pos_t) + $SubstringK)::BIGINT AS len_words
    FROM sruns GROUP BY train_id, eval_id, diag, run_id
    ORDER BY train_id, eval_id, start_train, start_eval"""

  val dedupSubstringMassSql: String = s"""
    WITH dw AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= $SubstringK),
    sh AS (
      SELECT doc_id, k::BIGINT AS pos,
             md5(array_to_string(
               list_slice(w, k, k + $SubstringK - 1), ' ')) AS h
      FROM dw, unnest(range(1, len(w) - $SubstringK + 2)) AS u(k)),
    kept AS (
      SELECT doc_id, pos, h FROM sh
      QUALIFY count(*) OVER (PARTITION BY h) <= ${Shingling.MaxShingleDf}),
    m AS (
      SELECT a.doc_id AS doc_a, a.pos AS pos_a,
             b.doc_id AS doc_b, b.pos AS pos_b
      FROM kept a JOIN kept b ON a.h = b.h
      WHERE a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, pos_b - pos_a AS diag, pos_a,
             pos_a - row_number() OVER (
               PARTITION BY doc_a, doc_b, pos_b - pos_a
               ORDER BY pos_a) AS run_id
      FROM m),
    spans AS (
      SELECT doc_a, doc_b,
             (max(pos_a) - min(pos_a) + $SubstringK)::BIGINT AS len_words
      FROM runs GROUP BY doc_a, doc_b, diag, run_id)
    SELECT doc_a, doc_b, sum(len_words)::BIGINT AS dup_words,
           max(len_words)::BIGINT AS longest_run,
           count(*)::BIGINT AS n_runs
    FROM spans GROUP BY doc_a, doc_b
    ORDER BY doc_a, doc_b"""

  val dedupSubstringsSql: String = s"""
    WITH dw AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= $SubstringK),
    sh AS (
      SELECT doc_id, k::BIGINT AS pos,
             md5(array_to_string(
               list_slice(w, k, k + $SubstringK - 1), ' ')) AS h
      FROM dw, unnest(range(1, len(w) - $SubstringK + 2)) AS u(k)),
    kept AS (
      SELECT doc_id, pos, h FROM sh
      QUALIFY count(*) OVER (PARTITION BY h) <= ${Shingling.MaxShingleDf}),
    m AS (
      SELECT a.doc_id AS doc_a, a.pos AS pos_a,
             b.doc_id AS doc_b, b.pos AS pos_b
      FROM kept a JOIN kept b ON a.h = b.h
      WHERE a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, pos_b - pos_a AS diag, pos_a,
             pos_a - row_number() OVER (
               PARTITION BY doc_a, doc_b, pos_b - pos_a
               ORDER BY pos_a) AS run_id
      FROM m)
    SELECT doc_a, doc_b,
           min(pos_a)::BIGINT AS start_a,
           (min(pos_a) + diag)::BIGINT AS start_b,
           (max(pos_a) - min(pos_a) + $SubstringK)::BIGINT AS len_words
    FROM runs GROUP BY doc_a, doc_b, diag, run_id
    ORDER BY doc_a, doc_b, start_a, start_b"""

  /** D10: incremental-ingest dedup ledger — per arrival day: events,
    * distinct payloads, and payloads seen for the FIRST time that day.
    * The production question a continuously-recorded archive asks
    * daily: "how much of today's traffic is new?". First-seen days
    * come from one min() aggregate on the 16-byte hash (map-side
    * combined); the day rollup is a second small aggregate — no
    * day-over-day loop, the whole history resolves in one pass.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(md5(col("props").cast("binary")).as("h"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
    val firstSeen = ev.groupBy(col("h")).agg(min(col("day")).as("first_day"))
    ev.join(firstSeen, Seq("h"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("h")).as("n_payloads"),
        countDistinct(when(col("day") === col("first_day"), col("h")))
          .as("n_novel"))
      .orderBy(col("day"))
  }

  val dedupIncrementalSql: String = """
    WITH ev AS (
      SELECT md5(props) AS h,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events),
    first_seen AS (SELECT h, min(day) AS first_day FROM ev GROUP BY h)
    SELECT day, count(*) AS n_events,
           count(DISTINCT h) AS n_payloads,
           count(DISTINCT CASE WHEN day = first_day THEN h END) AS n_novel
    FROM ev JOIN first_seen USING (h)
    GROUP BY day ORDER BY day"""

  /** D11: Bloom-filter ingest pre-filter (E23) — the day-zero filter a
    * continuously-ingesting archive probes before exact dedup: build
    * the filter over the FIRST day's distinct payload hashes in one
    * aggregate pass (m-bit state, merge = OR), then probe every day's
    * distinct payloads against the broadcast filter with pure codegen
    * bit arithmetic — no join for the probe, the filter is m/8 bytes
    * however large day one was. The ledger reports, per day: probed
    * payloads, Bloom-positives, EXACT day-one members, and the
    * difference = measured false positives (a Bloom positive only ever
    * costs an extra exact check — never a wrong dedup verdict).
    * Because the k hash positions are md5-derived, the DuckDB oracle
    * reproduces the exact bit set and every membership verdict, so
    * even the false-positive count is hash-checked cross-engine.
    */
  val BloomM = 1 << 16 // bits
  val BloomK = 4 // hash functions

  def dedupBloom(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(md5(col("props").cast("binary")).as("h"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
    // bounded plan-time scalars: the anchor day + the m/64-word filter
    val day1 = ev.agg(min(col("day"))).head().getString(0)
    val base = ev.filter(col("day") === day1).select(col("h")).distinct()
    val words: Seq[Long] = base
      .agg(graft.functions.BloomFilterAgg(col("h"), BloomM, BloomK).as("bf"))
      .head().getSeq[Long](0)
    val probes = ev.distinct()
      .withColumn("__bf", typedLit(words))
      .withColumn("maybe",
        graft.functions.BloomFilterAgg.probe("__bf", "h", BloomM, BloomK))
    probes
      .join(broadcast(base.withColumn("seen", lit(1L))), Seq("h"), "left")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_payloads"),
        sum(when(col("maybe"), 1L).otherwise(0L)).as("n_maybe"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
      .withColumn("n_false_pos", col("n_maybe") - col("n_seen"))
      .orderBy(col("day"))
  }

  val dedupBloomSql: String = s"""
    WITH ev AS (
      SELECT md5(props) AS h,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events),
    base AS (SELECT DISTINCT h FROM ev
             WHERE day = (SELECT min(day) FROM ev)),
    bits AS (SELECT DISTINCT
               ('0x' || substring(md5(j::VARCHAR || '-' || h), 1, 7))::BIGINT
                 % $BloomM AS pos
             FROM base, (SELECT unnest(range(1, ${BloomK + 1})) AS j)),
    probes AS (SELECT DISTINCT day, h FROM ev),
    pj AS (SELECT day, h,
                  ('0x' || substring(md5(j::VARCHAR || '-' || h), 1, 7))::BIGINT
                    % $BloomM AS pos
           FROM probes, (SELECT unnest(range(1, ${BloomK + 1})) AS j)),
    maybe AS (SELECT day, h FROM pj JOIN bits USING (pos)
              GROUP BY day, h HAVING count(*) = $BloomK)
    SELECT day, n_payloads, n_maybe, n_seen,
           (n_maybe - n_seen)::BIGINT AS n_false_pos
    FROM (
      SELECT p.day, count(*) AS n_payloads,
             sum(CASE WHEN m.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_maybe,
             sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_seen
      FROM probes p
      LEFT JOIN maybe m ON m.day = p.day AND m.h = p.h
      LEFT JOIN base b ON b.h = p.h
      GROUP BY p.day)
    ORDER BY day"""

  /** D21 threshold: the smaller doc must have ≥ 80% of its shingles
    * inside the bigger one.
    */
  val ContainmentMicro = 800000L

  /** D21: containment detection — the asymmetric near-dup Jaccard
    * structurally misses: a short document quoted wholesale inside a
    * long one has jaccard ≈ |A|/|B| (tiny) but containment
    * |A∩B|/|A| ≈ 1. That is the quotation/boilerplate-inclusion case a
    * curation pipeline must catch separately (the MinHash paper's
    * original motivation distinguished resemblance from containment).
    * Candidates come from the SAME df-capped inverted-index join as D2
    * — a pair sharing ≥80% of the small side's shingles certainly
    * shares one — so the edge build is shared work, and containment is
    * pure integer arithmetic over the pair's (c, na, nb):
    * cont_micro = c·10⁶ div min(na,nb), no division an engine can
    * round differently. Output orients each pair small→big and keeps
    * jaccard beside containment so the asymmetric cases (high cont,
    * low jac) are visible — the rows D2 at 0.5 would have dropped.
    */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(shingles(Tables.documents(s, dir)))
      .withColumn("n_small", least(col("na"), col("nb")))
      .withColumn("n_big", greatest(col("na"), col("nb")))
      .withColumn("cont_micro", expr("c * 1000000 div n_small"))
      .filter(col("cont_micro") >= ContainmentMicro)
      .withColumn("doc_small",
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")))
      .withColumn("doc_big",
        when(col("na") <= col("nb"), col("doc_b")).otherwise(col("doc_a")))
      .select(col("doc_small"), col("doc_big"), col("c").as("shared"),
        col("n_small"), col("n_big"), col("cont_micro"), col("jaccard"))
      .orderBy(col("doc_small"), col("doc_big"))

  val dedupContainmentSql: String = s"""
    WITH $jaccardPairsSql
    SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS doc_small,
           CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS doc_big,
           c AS shared,
           least(na, nb) AS n_small,
           greatest(na, nb) AS n_big,
           (c * 1000000 // least(na, nb))::BIGINT AS cont_micro,
           jaccard
    FROM jp
    WHERE c * 1000000 // least(na, nb) >= $ContainmentMicro
    ORDER BY doc_small, doc_big"""

  /** D22: every (bands, rows-per-band) factorization of the 32-hash
    * MinHash signature — the LSH design space.
    */
  private[dedup] val LshConfigs: Seq[(Int, Int)] =
    Seq((1, 32), (2, 16), (4, 8), (8, 4), (16, 2), (32, 1))

  /** D22: LSH band-configuration tuning from the corpus's OWN
    * similarity histogram — the datasketch-style optimal-parameter
    * search as an operator, grounded in data instead of a prior. For
    * each (b, r) factorization of the 32-hash signature, the S-curve
    * P(candidate | j) = 1 − (1 − jʳ)ᵇ is evaluated against the
    * measured pair-similarity histogram (the shared df-capped edge
    * build, binned at 0.05): expected false candidates = Σ_{j<τ} P·mass
    * (pairs LSH would surface that exact verification then discards —
    * wasted work), expected misses = Σ_{j≥τ} (1−P)·mass (true near-dups
    * the banding never proposes — lost recall). The output is the
    * config ledger ordered by total expected error: the row a pipeline
    * reads to SET its banding before the big run.
    *
    * Cross-engine exactness without trusting `pow`: jʳ and (1−jʳ)ᵇ
    * expand to literal multiplication chains (r, b ≤ 32) — IEEE
    * multiply is deterministic where pow's libm is not — over bin
    * midpoints that are identical doubles by construction; each bin's
    * contribution micro-quantizes BEFORE the sum, so the totals are
    * order-free BIGINTs. Scale: the histogram is ≤20 rows collected
    * from the edge build the dedup family already shares; the sweep is
    * arithmetic over 6×20 rows — free at any corpus size.
    */
  def lshTune(s: SparkSession, dir: String): DataFrame = {
    val jp = jaccardPairs(shingles(Tables.documents(s, dir)))
    val binned = graft.CachedFrames.persist(jp
      .withColumn("bucket",
        expr("cast(round(jaccard * 100, 0) as int) div 5"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("mass"))
      .withColumn("j_mid",
        (col("bucket").cast("double") * 5.0 + 2.5) / 100.0))
    val perConfig = LshConfigs.map { case (b, r) =>
      val jr = (1 to r).map(_ => col("j_mid")).reduce(_ * _)
      val q = lit(1.0) - jr
      val qb = (1 to b).map(_ => q).reduce(_ * _)
      binned.withColumn("bands", lit(b))
        .withColumn("rows_per_band", lit(r))
        .withColumn("p_micro",
          round((lit(1.0) - qb) * 1e6, 0).cast("long"))
    }.reduce(_ unionByName _)
    perConfig
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(
        coalesce(sum(when(col("j_mid") < 0.5,
          col("p_micro") * col("mass"))), lit(0L)).as("exp_fp_micro"),
        coalesce(sum(when(col("j_mid") >= 0.5,
          (lit(1000000L) - col("p_micro")) * col("mass"))), lit(0L))
          .as("exp_fn_micro"))
      .withColumn("err_micro", col("exp_fp_micro") + col("exp_fn_micro"))
      .orderBy(col("err_micro"), col("bands"))
  }

  private def lshTuneCfgSql(b: Int, r: Int): String = {
    val jr = Seq.fill(r)("j_mid").mkString(" * ")
    val q = s"(1.0 - ($jr))"
    val qb = Seq.fill(b)(q).mkString(" * ")
    s"""SELECT $b AS bands, $r AS rows_per_band, mass, j_mid,
             CAST(round((1.0 - ($qb)) * 1e6, 0) AS BIGINT) AS p_micro
      FROM binned"""
  }

  val lshTuneSql: String = s"""
    WITH $jaccardPairsSql,
    binned AS (
      SELECT bucket, count(*) AS mass,
             (CAST(bucket AS DOUBLE) * 5.0 + 2.5) / 100.0 AS j_mid
      FROM (SELECT CAST(round(jaccard * 100, 0) AS INT) // 5 AS bucket
            FROM jp)
      GROUP BY bucket),
    cfg AS (
      ${LshConfigs.map { case (b, r) => lshTuneCfgSql(b, r) }
        .mkString("\n      UNION ALL\n      ")})
    SELECT bands, rows_per_band,
           coalesce(sum(CASE WHEN j_mid < 0.5
             THEN p_micro * mass END), 0)::BIGINT AS exp_fp_micro,
           coalesce(sum(CASE WHEN j_mid >= 0.5
             THEN (1000000 - p_micro) * mass END), 0)::BIGINT
             AS exp_fn_micro,
           (coalesce(sum(CASE WHEN j_mid < 0.5
              THEN p_micro * mass END), 0)
            + coalesce(sum(CASE WHEN j_mid >= 0.5
              THEN (1000000 - p_micro) * mass END), 0))::BIGINT
             AS err_micro
    FROM cfg GROUP BY bands, rows_per_band
    ORDER BY err_micro, bands"""

  /** D20 pruning threshold: within-cluster pairs at cosine ≥ τ are
    * semantic duplicates (matches D5's exact-verify threshold, so the
    * two rungs are comparable on the same corpus).
    */
  val SemThreshold = 0.4

  /** D20: semantic dedup — SemDeDup (Abbas et al. 2023): where D5
    * finds pairs the LSH bands happen to propose, SemDeDup makes the
    * candidate generation EXHAUSTIVE within a semantic region: cluster
    * the embedding space first (the S2 label-mean assignment, k-row
    * codebook broadcast), then compare ALL pairs within a cluster and
    * prune every vector that has a smaller-id neighbor at cosine ≥ τ —
    * the keep-one-representative rule, deterministically (keeper = the
    * smallest qualifying neighbor id). Cross-cluster near-dups are the
    * documented trade (the paper's too — recall is bounded by the
    * clustering); the win is that pair mass drops from C(n,2) to
    * Σ C(n_c,2), and at 100 TB k grows with the corpus so n_c stays
    * bounded (plus D15's occupancy caps for pathological clusters).
    * Both sides of the within-cluster self-join are O(corpus) — it
    * carries the round-5 SHUFFLE_HASH discipline (a broadcast election
    * from a static under-estimate would ship the corpus).
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val assigned = graft.CachedFrames.persist(
      graft.sim.SimQueries.assignedVecs(s, dir))
    assigned.select(col("cluster"), col("vec_id").as("keep_cand"),
        col("vn").as("va"))
      .hint("shuffle_hash")
      .join(assigned.select(col("cluster"), col("vec_id"),
        col("vn").as("vb")), Seq("cluster"))
      .filter(col("keep_cand") < col("vec_id"))
      .withColumn("cos", round(VectorFunctions.dot(col("va"), col("vb")), 6))
      .filter(col("cos") >= SemThreshold)
      .groupBy(col("vec_id"), col("cluster"))
      .agg(min(col("keep_cand")).as("keeper"), max(col("cos")).as("max_cos"))
      .select(col("vec_id").as("removed"), col("cluster"), col("keeper"),
        col("max_cos"))
      .orderBy(col("removed"))
  }

  val dedupSemanticSql: String = s"""
    ${graft.sim.SimQueries.assignedSqlPrefix},
    pairs AS (
      SELECT b.vec_id, b.cluster, a.vec_id AS keep_cand,
             round(list_dot_product(a.vn, b.vn), 6) AS cos
      FROM assigned a JOIN assigned b ON a.cluster = b.cluster
      WHERE a.vec_id < b.vec_id)
    SELECT vec_id AS removed, cluster, min(keep_cand) AS keeper,
           max(cos) AS max_cos
    FROM pairs WHERE cos >= $SemThreshold
    GROUP BY vec_id, cluster ORDER BY removed"""

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lsh_tune" -> (lshTune _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_semantic" -> (dedupSemantic _),
    "dedup_bloom" -> (dedupBloom _),
    "dedup_exact" -> (dedupExact _),
    "dedup_jaccard" -> (dedupJaccard _),
    "dedup_allpairs" -> (dedupAllpairs _),
    "dedup_kcore" -> (dedupKcore _),
    "dedup_fuzzy_keys" -> (dedupFuzzyKeys _),
    "dedup_minhash" -> (dedupMinhash _),
    "decontam_fuzzy" -> (decontamFuzzy _),
    "dedup_threshold_sweep" -> (dedupThresholdSweep _),
    "dedup_minhash_bbit" -> (dedupMinhashBbit _),
    "dedup_purge_plan" -> (dedupPurgePlan _),
    "dedup_purge_plan_capped" -> (dedupPurgePlanCapped _),
    "dedup_embedding_capped" -> (dedupEmbeddingCapped _),
    "dedup_minhash_est" -> (dedupMinhashEst _),
    "dedup_pagerank" -> (dedupPagerank _),
    "dedup_pagerank_weighted" -> (dedupPagerankWeighted _),
    "dedup_pagerank_capped" -> (dedupPagerankCapped _),
    "dedup_triangles" -> (dedupTriangles _),
    "dedup_communities" -> (dedupCommunities _),
    "dedup_keeper" -> (dedupKeeper _),
    "dedup_clusters_capped" -> (dedupClustersCapped _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_simhash_wide" -> (dedupSimhashWide _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_spans" -> (dedupSpans _),
    "dedup_substrings" -> (dedupSubstrings _),
    "dedup_substring_mass" -> (dedupSubstringMass _),
    "decontam_substrings" -> (decontamSubstrings _),
    "decontam_substrings_norm" -> (decontamSubstringsNorm _),
    "decontam_substrings_tok" -> (decontamSubstringsTok _),
    "dedup_substrings_tok" -> (dedupSubstringsTok _),
    "dedup_incremental" -> (dedupIncremental _))

  def oracles: Map[String, String] = Map(
    "lsh_tune" -> lshTuneSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_semantic" -> dedupSemanticSql,
    "dedup_bloom" -> dedupBloomSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_jaccard" -> dedupJaccardSql,
    "dedup_allpairs" -> dedupAllpairsSql,
    "dedup_kcore" -> dedupKcoreSql,
    "dedup_fuzzy_keys" -> dedupFuzzyKeysSql,
    "dedup_minhash" -> dedupMinhashSql,
    "decontam_fuzzy" -> decontamFuzzySql,
    "dedup_threshold_sweep" -> dedupThresholdSweepSql,
    "dedup_minhash_bbit" -> dedupMinhashBbitSql,
    "dedup_purge_plan" -> dedupPurgePlanSql,
    "dedup_purge_plan_capped" -> dedupPurgePlanCappedSql,
    "dedup_embedding_capped" -> dedupEmbeddingCappedSql,
    "dedup_minhash_est" -> dedupMinhashEstSql,
    "dedup_pagerank" -> dedupPagerankSql,
    "dedup_pagerank_weighted" -> dedupPagerankWeightedSql,
    "dedup_pagerank_capped" -> dedupPagerankCappedSql,
    "dedup_triangles" -> dedupTrianglesSql,
    "dedup_communities" -> dedupCommunitiesSql,
    "dedup_keeper" -> dedupKeeperSql,
    "dedup_clusters_capped" -> dedupClustersCappedSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_simhash_wide" -> dedupSimhashWideSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_spans" -> dedupSpansSql,
    "dedup_substrings" -> dedupSubstringsSql,
    "dedup_substring_mass" -> dedupSubstringMassSql,
    "decontam_substrings" -> decontamSubstringsSql,
    "decontam_substrings_norm" -> decontamSubstringsNormSql,
    "decontam_substrings_tok" -> decontamSubstringsTokSql,
    "dedup_substrings_tok" -> dedupSubstringsTokSql,
    "dedup_incremental" -> dedupIncrementalSql)
}
