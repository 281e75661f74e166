package graft.pipeline

import graft.Tables
import graft.dedup.Shingling
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (SURVEY §2.9): deterministic
  * corpus splits, composed quality filtering, and benchmark
  * decontamination. These are the curation steps that sit between the
  * dedup suite (§2.3) and a tokenizer at 100 TB scale.
  *
  * Scale notes:
  *   - `data_split` is a pure narrow map (an md5 bucket per row) plus a
  *     tiny (splits × langs) aggregate — assignment never shuffles the
  *     corpus, so it composes with any downstream write partitioning.
  *   - `text_filter_chain` is closed-form per document; the whole rule
  *     chain runs inside one codegen stage with no joins.
  *   - `text_decontam` broadcasts the benchmark shingle set (eval
  *     suites are KBs–MBs against a 100 TB corpus) so the training side
  *     is a map-side join + per-doc aggregate: one shuffle on doc_id,
  *     never on text.
  */
object PipelineQueries {

  /** P1: deterministic train/validation/test split — bucket =
    * md5(doc_id) mod 100 (80/10/10), stable across runs, machines and
    * engines; per-(split, lang) corpus stats. Splitting by hash of a
    * stable id (not by random() or row position) is what makes the
    * split reproducible AND leak-free when the corpus is re-sharded.
    */
  def dataSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      .orderBy(col("split"), col("lang"))

  val dataSplitSql: String = """
    SELECT split, lang, count(*) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           round(avg(n_chars), 6) AS avg_chars
    FROM (SELECT lang, n_chars,
                 CASE WHEN b < 80 THEN 'train'
                      WHEN b < 90 THEN 'validation'
                      ELSE 'test' END AS split
          FROM (SELECT lang, n_chars,
                       ('0x' || substring(md5(doc_id::VARCHAR), 1, 7))::BIGINT
                         % 100 AS b
                FROM documents))
    GROUP BY split, lang ORDER BY split, lang"""

  /** P2: Gopher/C4-style quality filter chain — ordered rules, first
    * failure wins as the drop reason (so rule attribution is stable and
    * auditable): token-count bounds, mean-token-length band, stopword
    * presence. Everything is closed-form per document.
    */
  /** The rule chain as a frame→frame map over any (doc_id, text)
    * frame — a pure narrow projection, so the SAME code is the
    * streaming face (StreamingSpec runs it over the tape stream and
    * proves batch parity): quality filtering is an ingest-time
    * operator, not only a batch sweep.
    */
  def filterChainAnnotate(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")))
      .withColumn("avg_token_len",
        round((length(col("text")) - (col("n_tokens") - 1)) / col("n_tokens"), 6))
      .withColumn("stop_hits",
        expr("size(filter(w, x -> x = 'the' or x = 'a'))"))
      .withColumn("reason",
        when(col("n_tokens") < 15, "too_short")
          .when(col("n_tokens") > 95, "too_long")
          .when(col("avg_token_len") < 3.8 || col("avg_token_len") > 5.2,
            "word_len")
          .when(col("stop_hits") === 0, "no_stopwords")
          .otherwise("kept"))
      .withColumn("keep", col("reason") === "kept")
      .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
        col("stop_hits"), col("keep"), col("reason"))

  def textFilterChain(s: SparkSession, dir: String): DataFrame =
    filterChainAnnotate(Tables.documents(s, dir))
      .orderBy(col("doc_id"))

  val textFilterChainSql: String = """
    SELECT doc_id, n_tokens, avg_token_len, stop_hits,
           (reason = 'kept') AS keep, reason
    FROM (SELECT doc_id, n_tokens, avg_token_len, stop_hits,
                 CASE WHEN n_tokens < 15 THEN 'too_short'
                      WHEN n_tokens > 95 THEN 'too_long'
                      WHEN avg_token_len < 3.8 OR avg_token_len > 5.2
                        THEN 'word_len'
                      WHEN stop_hits = 0 THEN 'no_stopwords'
                      ELSE 'kept' END AS reason
          FROM (SELECT doc_id, len(w) AS n_tokens,
                       round((len(text) - (len(w) - 1)) / len(w), 6)
                         AS avg_token_len,
                       len(list_filter(w, x -> x = 'the' OR x = 'a'))
                         AS stop_hits
                FROM (SELECT doc_id, text, string_split(text, ' ') AS w
                      FROM documents)))
    ORDER BY doc_id"""

  /** P3: benchmark decontamination — flag training documents whose word
    * 3-gram overlap with the held-out benchmark set (doc_id % 20 = 0
    * stands in for an eval suite) reaches 20% of their own shingles.
    * The comparison runs on the ROUNDED ratio in both engines
    * (float-sensitive membership rule). The benchmark shingle set is
    * broadcast; the training side stays map-local until the per-doc
    * count.
    */
  def textDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // shingle each side AFTER its doc_id filter (the filters push to
    // the parquet scan, so the eval side shingles 5% of the corpus and
    // the two sides together cost one corpus pass, not three)
    val ev = Shingling.shingles(docs.filter(col("doc_id") % 20 === 0))
      .select(col("shingle")).distinct().withColumn("hit", lit(1L))
    val tr = Shingling.shingles(docs.filter(col("doc_id") % 20 =!= 0))
    // one left broadcast join + one aggregate: per-doc totals and
    // overlap counted in the same pass
    tr.join(broadcast(ev), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .withColumn("contamination",
        round(col("n_overlap") / col("n_shingles"), 6))
      .filter(col("contamination") >= 0.2)
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        col("contamination"))
      .orderBy(col("doc_id"))
  }

  val textDecontamSql: String = s"""
    WITH shingles AS (${Shingling.shinglesSql}),
    ev AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 20 = 0),
    tr AS (SELECT doc_id, shingle FROM shingles WHERE doc_id % 20 != 0),
    totals AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
    ov AS (SELECT doc_id, count(*) AS n_overlap
           FROM tr JOIN ev USING (shingle) GROUP BY doc_id)
    SELECT doc_id, n_shingles,
           coalesce(n_overlap, 0)::BIGINT AS n_overlap,
           round(coalesce(n_overlap, 0) / n_shingles, 6) AS contamination
    FROM totals LEFT JOIN ov USING (doc_id)
    WHERE round(coalesce(n_overlap, 0) / n_shingles, 6) >= 0.2
    ORDER BY doc_id"""

  /** P3's streaming face: decontamination at INGEST — the benchmark
    * shingle set ships as a literal (it is KBs–MBs however large the
    * corpus, the same broadcast P3 relies on) and each arriving doc
    * scores in one narrow projection: distinct shingles via the same
    * positional transform, overlap via array_intersect. No shuffle, no
    * per-doc aggregation — append-mode safe on any stream.
    * StreamingSpec R12 proves tape-stream verdicts ≡ the batch P3
    * frame on the same corpus.
    */
  def decontamAnnotate(docs: DataFrame,
                       evalShingles: Seq[String]): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(1, size(w)-2), " +
          "i -> concat_ws(' ', slice(w, i, 3))))"))
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_shingles"),
        size(array_intersect(col("sh"), typedLit(evalShingles)))
          .cast("long").as("n_overlap"))
      .withColumn("contamination",
        round(col("n_overlap") / col("n_shingles"), 6))
      .filter(col("contamination") >= 0.2)

  /** P28: decontamination method reconciliation — P3 (exact shingle
    * overlap ratio), P25 (cross-sided MinHash-LSH), and P34 (exact
    * ≥k-word substring runs, round 11) each flag training docs; this
    * FULL OUTER joins all three verdicts per doc (the A30/M10
    * reconciliation discipline applied to the decontamination
    * decision): the `verdict` column names the flagging methods
    * ('exact+fuzzy+substr' is the remove-with-confidence list);
    * exact-without-fuzzy marks verbatim quotation below near-dup
    * similarity, fuzzy-without-exact marks similarity without
    * threshold-crossing overlap, and substr-only is P34's unique
    * catch — a short verbatim eval quote inside a long doc, invisible
    * to both ratio-threshold methods. A curator reads the one-sided
    * lists before trusting any method alone. Cost: the pipelines'
    * shared frames (shingle stream, band index) persist once via
    * CachedFrames.
    */
  def decontamReport(s: SparkSession, dir: String): DataFrame = {
    val exact = textDecontam(s, dir)
      .select(col("doc_id"), col("contamination"))
    val fuzzy = graft.dedup.DedupQueries.decontamFuzzy(s, dir)
      .groupBy(col("train_id").as("doc_id"))
      .agg(max(col("jaccard")).as("fuzzy_jaccard"))
    val substr = graft.dedup.DedupQueries.decontamSubstrings(s, dir)
      .groupBy(col("train_id").as("doc_id"))
      .agg(sum(col("len_words")).as("substr_words"),
        max(col("len_words")).as("substr_longest"))
    exact.join(fuzzy, Seq("doc_id"), "full_outer")
      .join(substr, Seq("doc_id"), "full_outer")
      .withColumn("verdict", concat_ws("+",
        when(col("contamination").isNotNull, "exact"),
        when(col("fuzzy_jaccard").isNotNull, "fuzzy"),
        when(col("substr_words").isNotNull, "substr")))
      .select(col("doc_id"), col("contamination"), col("fuzzy_jaccard"),
        col("substr_words"), col("substr_longest"), col("verdict"))
      .orderBy(col("doc_id"))
  }

  val decontamReportSql: String = s"""
    WITH ${graft.dedup.DedupQueries.jaccardPairsSql},
    ${graft.dedup.DedupQueries.minhashBandsSql},
    cand AS (
      SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
      FROM bands t JOIN bands e
        ON t.band = e.band AND t.band_key = e.band_key
      WHERE t.doc_id % 20 != 0 AND e.doc_id % 20 = 0),
    fz AS (
      SELECT train_id AS doc_id, max(jaccard) AS fuzzy_jaccard
      FROM cand JOIN jp ON jp.doc_a = least(train_id, eval_id)
                       AND jp.doc_b = greatest(train_id, eval_id)
      WHERE jaccard >= 0.4 GROUP BY train_id),
    ev AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 20 = 0),
    tr AS (SELECT doc_id, shingle FROM shingles WHERE doc_id % 20 != 0),
    totals AS (SELECT doc_id, count(*) AS n_shingles FROM tr
               GROUP BY doc_id),
    ov AS (SELECT doc_id, count(*) AS n_overlap
           FROM tr JOIN ev USING (shingle) GROUP BY doc_id),
    ex AS (
      SELECT doc_id,
             round(coalesce(n_overlap, 0) / n_shingles, 6) AS contamination
      FROM totals LEFT JOIN ov USING (doc_id)
      WHERE round(coalesce(n_overlap, 0) / n_shingles, 6) >= 0.2),
    sb0 AS (${graft.dedup.DedupQueries.decontamSubstringsSql}),
    sb AS (
      SELECT train_id AS doc_id, sum(len_words)::BIGINT AS substr_words,
             max(len_words)::BIGINT AS substr_longest
      FROM sb0 GROUP BY train_id)
    SELECT coalesce(ex.doc_id, fz.doc_id, sb.doc_id) AS doc_id,
           ex.contamination, fz.fuzzy_jaccard,
           sb.substr_words, sb.substr_longest,
           concat_ws('+',
             CASE WHEN ex.doc_id IS NOT NULL THEN 'exact' END,
             CASE WHEN fz.doc_id IS NOT NULL THEN 'fuzzy' END,
             CASE WHEN sb.doc_id IS NOT NULL THEN 'substr' END) AS verdict
    FROM ex FULL OUTER JOIN fz ON ex.doc_id = fz.doc_id
    FULL OUTER JOIN sb ON coalesce(ex.doc_id, fz.doc_id) = sb.doc_id
    ORDER BY doc_id"""

  /** P4: token-budget sequence packing — assign documents (in stable
    * doc_id order) to training shards of ~2000 BPE-estimate tokens by
    * exclusive running sum. The running sum is computed as a
    * DISTRIBUTED two-phase prefix sum: per-coarse-bucket subtotals,
    * a prefix scan over the (tiny) bucket totals, broadcast the
    * offsets back, then an in-bucket window — never a single-partition
    * global window, which is the classic scale trap for cumulative
    * sums (one task would see the whole corpus). The DuckDB oracle
    * states the same thing as one flat window cumsum.
    */
  /** √n-scaled coarse-bucket width for the doc_id-keyed two-phase
    * prefix sums (P4/P32): width ≈ √n gives ≈ √n buckets of ≈ √n docs
    * each, so the bucket-totals window (phase 1) and the largest
    * in-bucket window (phase 2) BOTH stay ≈ √n at any corpus size —
    * the balance point; a fixed width degenerates one phase or the
    * other as n drifts from width². The width only bins a
    * monotone-in-doc_id prefix of the sort key, so ANY width yields
    * the identical global order and identical gate hashes (the r11
    * carried residual, closed). Density caveat: `doc_id div width`
    * assumes roughly dense ids — sparse ids skew bucket sizes
    * (correctness unaffected; rebalance by ranking ids first if a
    * real corpus needs it). The count is one parquet-footer scan.
    */
  private[graft] def bucketWidthFor(n: Long): Long =
    math.max(1L, math.round(math.sqrt(n.toDouble)))

  def dataPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Budget = 2000
    val BucketWidth = bucketWidthFor(Tables.documents(s, dir).count())
    val toks = Tables.documents(s, dir)
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        expr("cast(aggregate(transform(w, x -> cast(ceil(length(x) / 4.0) " +
          "as bigint)), cast(0 as bigint), (acc, x) -> acc + x) as bigint)")
          .as("tokens"))
      .withColumn("bucket", expr(s"doc_id div $BucketWidth"))
    val bucketTotals = toks.groupBy(col("bucket"))
      .agg(sum(col("tokens")).as("bt"))
    val offsets = bucketTotals.withColumn("offset",
      coalesce(sum(col("bt")).over(Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    val within = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum_before",
        col("offset") + coalesce(sum(col("tokens")).over(within), lit(0L)))
      .withColumn("shard", expr(s"cum_before div $Budget"))
      .select(col("doc_id"), col("tokens"), col("shard"))
      .orderBy(col("doc_id"))
  }

  val dataPackSql: String = """
    SELECT doc_id, tokens,
           coalesce(sum(tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             // 2000 AS shard
    FROM (SELECT doc_id,
                 list_sum(list_transform(string_split(text, ' '),
                   x -> ceil(len(x) / 4.0)))::BIGINT AS tokens
          FROM documents)
    ORDER BY doc_id"""

  /** P32: pack the REAL token-ID stream into fixed-size training
    * blocks — the step a pretraining loader actually consumes (GPT-
    * style continuous packing: the corpus token stream in doc_id
    * order, cut every `PackBlock` tokens, documents crossing block
    * boundaries — zero padding waste). P4 shards on token COUNTS;
    * this materializes the blocks themselves off T29's sequences and
    * fingerprints each block's exact id string, so the oracle pins
    * every token's block assignment AND position. Scale shape: doc
    * offsets by the P4 two-phase prefix sum (bucket totals + one
    * bounded window over buckets, broadcast back — never a
    * single-partition window over the corpus), then the token explode
    * (O(total tokens) rows of (block, id) — the OUTPUT grain) and one
    * groupBy(block). The md5 fold inside each block is
    * collect_list-bounded by the block size — a constant.
    */
  val PackBlock = 64L

  def dataPackTokens(s: SparkSession, dir: String): DataFrame = {
    val stream = packedTokenStream(s, dir)
    stream.groupBy(col("block_id"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        md5(concat_ws("-", expr(
          "transform(sort_array(collect_list(struct(gpos, tok))), " +
            "p -> cast(p.tok as string))"))).as("token_md5"))
      .orderBy(col("block_id"))
  }

  /** The per-token packed stream (doc_id, gpos, block_id, tok) P32
    * aggregates and P37's block writer materializes — factored so the
    * gate and the writer can never drift. Doc offsets by the P4
    * two-phase prefix sum (never a single-partition corpus window).
    */
  private[graft] def packedTokenStream(s: SparkSession,
                                       dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // deployed-tokenizer memo (round 14): the encode is offline input
    // prep shared by every P32/P33/P35/P36 consumer — see
    // TextQueries.deployedTokenSequences
    val tokens = graft.text.TextQueries.deployedTokenSequences(s, dir)
    // √n width off the memo's own rows (one per tokenized document),
    // so only the tokenizer reads the corpus; the width shapes the
    // prefix-sum partitions, never a position
    val BucketWidth = bucketWidthFor(tokens.count())
    val seqs = tokens.withColumn("bucket", expr(s"doc_id div $BucketWidth"))
    val bucketTotals = seqs.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("bt"))
    val offsets = bucketTotals.withColumn("offset",
      coalesce(sum(col("bt")).over(Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    val within = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    seqs.join(broadcast(offsets), Seq("bucket"))
      .withColumn("doc_off",
        col("offset") + coalesce(sum(col("n_tokens")).over(within), lit(0L)))
      .select(col("doc_id"), col("doc_off"),
        posexplode(col("token_ids")).as(Seq("spos", "tok")))
      .withColumn("gpos", col("doc_off") + col("spos"))
      .withColumn("block_id", expr(s"gpos div $PackBlock"))
  }

  // lazy: forces TextQueries' lazily-built oracle scaffolding only on
  // first use (the object-init-order discipline)
  lazy val dataPackTokensSql: String = s"""
    WITH ${graft.text.TextQueries.bpeTokenFlatSql},
    g AS (
      SELECT doc_id, tok_id,
             row_number() OVER (ORDER BY doc_id, wpos, spos) - 1 AS gpos
      FROM flat)
    SELECT gpos // $PackBlock AS block_id, count(*)::BIGINT AS n_tokens,
           count(DISTINCT doc_id)::BIGINT AS n_docs,
           min(doc_id) AS first_doc,
           md5(array_to_string(list(tok_id ORDER BY gpos), '-'))
             AS token_md5
    FROM g GROUP BY 1 ORDER BY block_id"""

  /** P35: SHUFFLED packing order — P32 packs the token stream in
    * doc_id order, which at corpus scale makes each training block a
    * corpus-order run of one source (the loader then sees long
    * single-source stretches per step). Production loaders shuffle
    * DOCUMENTS before packing; this gate packs the same T29 stream in
    * a salted-md5 document order (the P5 salt discipline:
    * deterministic, re-derivable on any worker from the key alone,
    * independent of the split/mix salts — no stored permutation, no
    * RNG state), and P33's epoch ordering composes unchanged on top
    * of the resulting blocks. Scale shape: the doc-offset prefix sum
    * buckets by the order key's leading hex byte (uniform by
    * construction — the P33 two-phase discipline, no skew case), one
    * bounded window over the 256 bucket totals, within-bucket windows
    * keyed by the full order key; the bucket is a prefix of the sort
    * key, so the assembled order IS the global (k, doc_id) order.
    * Everything downstream (explode, block groupBy, md5 fold) is
    * P32's shape verbatim.
    */
  def dataPackShuffled(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seqs = graft.text.TextQueries.deployedTokenSequences(s, dir)
      .withColumn("k", md5(concat_ws(":", lit("pack"), col("doc_id"))))
      .withColumn("kb", substring(col("k"), 1, 2))
    val bucketTotals = seqs.groupBy(col("kb"))
      .agg(sum(col("n_tokens")).as("bt"))
    val offsets = bucketTotals.withColumn("offset",
      coalesce(sum(col("bt")).over(Window.orderBy(col("kb"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("kb"), col("offset"))
    val within = Window.partitionBy(col("kb"))
      .orderBy(col("k"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val stream = seqs.join(broadcast(offsets), Seq("kb"))
      .withColumn("doc_off",
        col("offset") + coalesce(sum(col("n_tokens")).over(within), lit(0L)))
      .select(col("doc_id"), col("doc_off"),
        posexplode(col("token_ids")).as(Seq("spos", "tok")))
      .withColumn("gpos", col("doc_off") + col("spos"))
      .withColumn("block_id", expr(s"gpos div $PackBlock"))
    stream.groupBy(col("block_id"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        md5(concat_ws("-", expr(
          "transform(sort_array(collect_list(struct(gpos, tok))), " +
            "p -> cast(p.tok as string))"))).as("token_md5"))
      .orderBy(col("block_id"))
  }

  lazy val dataPackShuffledSql: String = s"""
    WITH ${graft.text.TextQueries.bpeTokenFlatSql},
    g AS (
      SELECT doc_id, tok_id,
             row_number() OVER (ORDER BY md5('pack:' || doc_id),
               doc_id, wpos, spos) - 1 AS gpos
      FROM flat)
    SELECT gpos // $PackBlock AS block_id, count(*)::BIGINT AS n_tokens,
           count(DISTINCT doc_id)::BIGINT AS n_docs,
           min(doc_id) AS first_doc,
           md5(array_to_string(list(tok_id ORDER BY gpos), '-'))
             AS token_md5
    FROM g GROUP BY 1 ORDER BY block_id"""

  /** P33: reproducible EPOCH ORDERING over P32's blocks — the last
    * decision between packed data and the training loop: each epoch
    * visits every block exactly once in a deterministic pseudo-random
    * order (md5 over epoch:block — the suite's split/mix salt
    * discipline, so order is independent of the pack hash and
    * re-derivable on any worker from the key alone; no stored
    * permutation, no RNG state to checkpoint). Emits two epochs so the
    * gate pins cross-epoch independence.
    *
    * Scale shape: the block table is corpus_tokens/PackBlock rows —
    * DATA-sized, so ranking it through a per-epoch window would funnel
    * each epoch's entire block set into one task (the §5 "ranking axis
    * is NOT bounded" trap). Instead the rank is TWO-PHASE over the md5
    * key's leading hex byte: md5 is uniform by construction, so the
    * 256 buckets balance with no skew case at all, and because the
    * bucket IS a prefix of the sort key, within-bucket order ⊕ bucket
    * offsets ≡ the global (k, block_id) order exactly — same rows,
    * same hash. Per (epoch, bucket): rank locally; the offsets come
    * from one window over the 256·epochs bucket-count rows (bounded
    * whatever the corpus), broadcast back.
    */
  val PackEpochs = 2

  def dataEpochOrder(s: SparkSession, dir: String): DataFrame =
    epochOrderOn(graft.CachedFrames.persist(
      dataPackTokens(s, dir).select(col("block_id"))))

  /** The P33 rank over an explicit block frame — factored so P36 can
    * order the SAME packed frame it sums sizes from (one pack pass,
    * one tokenizer train, instead of re-deriving the dependency per
    * consumer). */
  private[graft] def epochOrderOn(blocks: DataFrame,
                                  nEpochs: Int = PackEpochs): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val epochs = (0 until nEpochs).map(e =>
      blocks.withColumn("epoch", lit(e)))
      .reduce(_.unionByName(_))
    val keyed = epochs
      .withColumn("k",
        md5(concat_ws(":", col("epoch"), col("block_id"))))
      .withColumn("kb", substring(col("k"), 1, 2))
    val bucketCounts = keyed.groupBy(col("epoch"), col("kb"))
      .agg(count(lit(1)).as("bc"))
    val offsets = bucketCounts.withColumn("off",
      coalesce(sum(col("bc")).over(Window.partitionBy(col("epoch"))
        .orderBy(col("kb")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("epoch"), col("kb"), col("off"))
    keyed.join(broadcast(offsets), Seq("epoch", "kb"))
      .withColumn("position",
        col("off") + row_number().over(
          Window.partitionBy(col("epoch"), col("kb"))
            .orderBy(col("k"), col("block_id"))).cast("long"))
      .select(col("epoch"), col("position"), col("block_id"))
      .orderBy(col("epoch"), col("position"))
  }

  lazy val dataEpochOrderSql: String = s"""
    WITH ${graft.text.TextQueries.bpeTokenFlatSql},
    g AS (
      SELECT doc_id, tok_id,
             row_number() OVER (ORDER BY doc_id, wpos, spos) - 1 AS gpos
      FROM flat),
    blocks AS (SELECT DISTINCT gpos // $PackBlock AS block_id FROM g),
    ep AS (SELECT unnest(range(0, $PackEpochs)) AS epoch),
    keyed AS (
      SELECT epoch, block_id,
             md5(epoch || ':' || block_id) AS k
      FROM blocks, ep)
    SELECT epoch::INTEGER AS epoch,
           row_number() OVER (PARTITION BY epoch ORDER BY k, block_id)
             ::BIGINT AS position,
           block_id
    FROM keyed ORDER BY epoch, position"""

  /** P36: worker SHARD MANIFEST — the final loader handoff after
    * T29 → P32/P35 → P33: a data-parallel training job with W ranks
    * needs each epoch's block order SPLIT across workers so every
    * block is consumed exactly once per epoch and every rank can
    * derive its own shard without coordination. Round-robin on the
    * epoch position (rank r takes positions ≡ r mod W — the
    * torch-DistributedSampler contract: balanced to ±1 block per
    * rank by construction, order within a rank = the epoch order
    * restricted to its positions). Emits per (epoch, worker): block
    * count, token count, and a MERKLE digest of the ordered block-id
    * list — the manifest a loader shard checks itself against.
    *
    * The digest is a two-level chunked fold, not one flat
    * collect_list: a flat per-shard fold holds blocks/W entries in a
    * single aggregation buffer, which is memory pressure by
    * construction once blocks/W ≫ 10⁷ (W — the worker count — is the
    * deployment knob, not a data bound). Instead: md5 per fixed-width
    * run of `ShardChunk` consecutive shard positions (state bounded by
    * the constant), then the shard digest = md5 of the ordered chunk
    * digests (state bounded by blocks/(W·ShardChunk), and ShardChunk
    * scales freely since the chunk index is pure stateless arithmetic
    * off the position). A reader verifies with the same two phases —
    * see [[ShardReader.readShard]]. Scale shape: P33's two-phase rank
    * supplies positions; the size join is block-scale×block-scale
    * (SHUFFLE_HASH pinned); no driver collect anywhere.
    */
  val LoaderWorkers = 4

  /** Shard positions per Merkle chunk. At gate scale (≈ 243
    * blocks/shard) this yields ~4 chunks per shard, so both fold
    * levels are exercised; at production scale it bounds every
    * level-1 aggregation buffer at 64 entries.
    */
  val ShardChunk = 64L

  def dataShardManifest(s: SparkSession, dir: String): DataFrame = {
    // the packed table is persisted: the epoch order and the size join
    // both read it, so the corpus packs once per call. (The deploy step
    // folds the same manifest from the blocks it wrote instead.)
    val packed = graft.CachedFrames.persist(dataPackTokens(s, dir)
      .select(col("block_id"), col("n_tokens"), col("token_md5")))
    val ord = epochOrderOn(packed.select(col("block_id")))
    shardManifestOn(ord, packed).orderBy(col("epoch"), col("worker"))
  }

  /** The P36 manifest fold over an explicit (epoch, position,
    * block_id) order and a (block_id, n_tokens, token_md5) size/
    * content frame — factored so P39's reader verifies a shard with
    * EXACTLY the writer's arithmetic (the two can never drift). Two
    * digests per shard, both two-level Merkle folds over the same
    * chunk axis: `blocks_md5` over the ordered block IDS (membership
    * and order) and `tokens_md5` over the ordered per-block TOKEN
    * digests (content) — the second pins the token bytes themselves
    * in the manifest, so a tamper that rewrites a block's token_ids
    * AND its stored per-block md5 consistently still fails the
    * manifest check (the residual P39 shipped with, closed).
    */
  private[graft] def shardManifestOn(ord: DataFrame,
                                     sizes: DataFrame,
                                     workers: Int = LoaderWorkers,
                                     chunk: Long = ShardChunk): DataFrame = {
    val chunks = ord
      .withColumn("worker", expr(s"(position - 1) % $workers"))
      .withColumn("chunk",
        expr(s"((position - 1) div $workers) div $chunk"))
      .hint("shuffle_hash")
      .join(sizes.hint("shuffle_hash"), Seq("block_id"))
      .groupBy(col("epoch"), col("worker"), col("chunk"))
      .agg(count(lit(1)).as("cb"),
        sum(col("n_tokens")).as("ct"),
        md5(concat_ws("-", expr(
          "transform(sort_array(collect_list(struct(position, block_id))), " +
            "p -> cast(p.block_id as string))"))).as("chunk_md5"),
        md5(concat_ws("-", expr(
          "transform(sort_array(collect_list(struct(position, token_md5))), " +
            "p -> p.token_md5)"))).as("chunk_tok_md5"))
    chunks.groupBy(col("epoch"), col("worker"))
      .agg(sum(col("cb")).as("n_blocks"),
        sum(col("ct")).as("n_tokens"),
        md5(concat_ws("-", expr(
          "transform(sort_array(collect_list(struct(chunk, chunk_md5))), " +
            "p -> p.chunk_md5)"))).as("blocks_md5"),
        md5(concat_ws("-", expr(
          "transform(sort_array(collect_list(struct(chunk, chunk_tok_md5))), " +
            "p -> p.chunk_tok_md5)"))).as("tokens_md5"))
  }

  lazy val dataShardManifestSql: String = s"""
    WITH ${graft.text.TextQueries.bpeTokenFlatSql},
    g AS (
      SELECT doc_id, tok_id,
             row_number() OVER (ORDER BY doc_id, wpos, spos) - 1 AS gpos
      FROM flat),
    bs AS (
      SELECT gpos // $PackBlock AS block_id, count(*)::BIGINT AS n_tokens,
             md5(array_to_string(list(tok_id ORDER BY gpos), '-'))
               AS token_md5
      FROM g GROUP BY 1),
    ep AS (SELECT unnest(range(0, $PackEpochs)) AS epoch),
    keyed AS (
      SELECT epoch, block_id, md5(epoch || ':' || block_id) AS k
      FROM bs, ep),
    ordered AS (
      SELECT epoch, block_id,
             row_number() OVER (PARTITION BY epoch ORDER BY k, block_id)
               AS position
      FROM keyed),
    chunks AS (
      SELECT epoch, (position - 1) % $LoaderWorkers AS worker,
             ((position - 1) // $LoaderWorkers) // $ShardChunk AS chunk,
             count(*)::BIGINT AS cb, sum(n_tokens)::BIGINT AS ct,
             md5(array_to_string(list(block_id ORDER BY position), '-'))
               AS chunk_md5,
             md5(array_to_string(list(token_md5 ORDER BY position), '-'))
               AS chunk_tok_md5
      FROM ordered JOIN bs USING (block_id)
      GROUP BY 1, 2, 3)
    SELECT epoch::INTEGER AS epoch, worker::BIGINT AS worker,
           sum(cb)::BIGINT AS n_blocks,
           sum(ct)::BIGINT AS n_tokens,
           md5(array_to_string(list(chunk_md5 ORDER BY chunk), '-'))
             AS blocks_md5,
           md5(array_to_string(list(chunk_tok_md5 ORDER BY chunk), '-'))
             AS tokens_md5
    FROM chunks GROUP BY 1, 2 ORDER BY epoch, worker"""

  /** P5: weighted corpus mixing — per-source sampling rates (keep all
    * of even-numbered sources, 25% of odd ones: "upweight curated,
    * downsample crawl"), decided by a salted md5 bucket per doc so the
    * sample is deterministic, reproducible, and independent of the
    * split hash (different salt ⇒ independent bucketing). Narrow map +
    * small per-source aggregate; no corpus shuffle.
    */
  def dataMix(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("rate",
        when(expr("cast(substring(source, 4, 10) as int) % 2") === 0,
          lit(100)).otherwise(lit(25)))
      .withColumn("b",
        conv(substring(md5(concat(lit("mix-"), col("doc_id").cast("string"))),
          1, 7), 16, 10).cast("long") % 100)
      .withColumn("kept", (col("b") < col("rate")).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"),
        max(col("rate")).as("rate_pct"))
      .orderBy(col("source"))

  val dataMixSql: String = """
    SELECT source, count(*) AS n_docs, sum(kept)::BIGINT AS n_kept,
           max(rate) AS rate_pct
    FROM (SELECT source, rate,
                 CASE WHEN ('0x' || substring(md5('mix-' || doc_id::VARCHAR),
                   1, 7))::BIGINT % 100 < rate THEN 1 ELSE 0 END AS kept
          FROM (SELECT doc_id, source,
                       CASE WHEN substring(source, 4, 10)::INT % 2 = 0
                         THEN 100 ELSE 25 END AS rate
                FROM documents))
    GROUP BY source ORDER BY source"""

  /** P6: unigram language-model scoring — build the corpus unigram
    * distribution, score each document by mean negative log-likelihood
    * (the cheap stand-in for model-based quality filtering). The vocab
    * is Heaps'-law-sized — it grows with the corpus, so it is NOT a
    * broadcast (the T9 lesson): scoring first collapses tokens to the
    * (doc, word, count) grain — a map-side-combined aggregate, so the
    * shuffled volume is distinct pairs, not raw tokens — then
    * shuffle-hash-joins that frame against the vocab on `word`; the
    * per-token NLL sum is recovered exactly as Σ count·lp_micro.
    * Cross-engine discipline: per-word logprobs are quantized
    * to integer MICRO-NATS at the vocab level (one rounding of one
    * double per distinct word), so the per-doc sum and mean are exact
    * BIGINT arithmetic — averaging rounded doubles instead lands on
    * 6dp rounding boundaries where summation order flips the last
    * digit (observed at sf0.1).
    */
  def textUnigramLm(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val dw = graft.CachedFrames.persist(
      toks.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c")))
    // the corpus token total is Σ vocab counts — read it off the
    // (bounded) vocab re-aggregate of the persisted (doc, word) frame
    // instead of a separate corpus-wide count() scan
    val counts = dw.groupBy(col("word")).agg(sum(col("c")).as("cnt"))
    val total = counts.agg(coalesce(sum(col("cnt")), lit(0L)))
      .head().getLong(0)
    val vocab = counts
      .withColumn("lp_micro",
        round(-log(col("cnt") / lit(total.toDouble)) * 1e6, 0).cast("long"))
      .select(col("word"), col("lp_micro"))
    dw.join(vocab.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp_micro") * col("c")).as("s"),
        sum(col("c")).as("n_tokens"))
      .select(col("doc_id"), expr("s div n_tokens").as("nll_micro"),
        col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val textUnigramLmSql: String = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    total AS (SELECT count(*)::DOUBLE AS t FROM toks),
    vocab AS (
      SELECT word,
             round(-ln(count(*) / (SELECT t FROM total)) * 1e6, 0)::BIGINT
               AS lp_micro
      FROM toks GROUP BY word)
    SELECT doc_id, (sum(lp_micro)::BIGINT // count(*)) AS nll_micro,
           count(*) AS n_tokens
    FROM toks JOIN vocab USING (word)
    GROUP BY doc_id ORDER BY doc_id"""

  /** P7: PII scrubbing — regex detection + redaction over the event
    * payloads (the props JSON stands in for raw text with embedded
    * identifiers). Pure narrow map, codegen'd regexes, no shuffle: the
    * 100 TB shape is "every byte passes through exactly once". Patterns
    * are the anchored, backtracking-free char-class kind that behave
    * identically under Java regex and RE2/DuckDB; the redacted text is
    * compared by md5 so the oracle checks the rewrite itself.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+"
  val NumRe = "[0-9]+"

  def piiScrub(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("props"))
      .withColumn("n_emails",
        size(regexp_extract_all(col("props"), lit(EmailRe), lit(0)))
          .cast("long"))
      .withColumn("n_digit_runs",
        size(regexp_extract_all(col("props"), lit(NumRe), lit(0)))
          .cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("props"), EmailRe, "<EMAIL>"),
          NumRe, "<NUM>"))
      .select(col("event_id"), col("n_emails"), col("n_digit_runs"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy(col("event_id"))

  val piiScrubSql: String = s"""
    SELECT event_id,
           len(regexp_extract_all(props, '$EmailRe'))::BIGINT AS n_emails,
           len(regexp_extract_all(props, '$NumRe'))::BIGINT AS n_digit_runs,
           md5(regexp_replace(regexp_replace(props, '$EmailRe', '<EMAIL>', 'g'),
             '$NumRe', '<NUM>', 'g')) AS redacted_md5
    FROM events ORDER BY event_id"""

  /** P8: deterministic stratified sampling — cap each stratum (here:
    * language) at K documents, chosen by md5 rank so the sample is
    * reproducible and independent of partitioning/arrival order. The
    * class-balancing step of corpus assembly: downsample the dominant
    * language without touching rare ones.
    *
    * Plan shape: the rank runs through E18's [[graft.functions.TopKAgg]]
    * bounded heap, NOT a per-stratum window sort — with a handful of
    * language strata, `row_number() OVER (PARTITION BY lang …)` funnels
    * the dominant language (tens of TB at corpus scale) through ONE
    * task, while the heap keeps k rows per stratum per map task and
    * ships k·strata rows total. The heap orders (score DESC, id ASC),
    * so scoring by the NEGATED 48-bit md5 prefix (exact in a Double:
    * 2^48 < 2^53) with doc_id tiebreak reproduces an md5-ranked sample,
    * and the eval'd array is already rank-ordered — `posexplode`'s
    * position IS the rank, no window anywhere. Re-shard-stable like
    * split/mix: same doc set in → same sample out.
    */
  val StratumCap = 60

  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val h48 = conv(substring(
      md5(concat(lit("strat-"), col("doc_id").cast("string"))), 1, 12),
      16, 10).cast("long")
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), (-h48).cast("double").as("nh"))
      .groupBy(col("lang"))
      .agg(graft.functions.TopKAgg(col("nh"), col("doc_id"), StratumCap)
        .as("topk"))
      .select(col("lang"), posexplode(col("topk")))
      .select(col("lang"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  val stratifiedSampleSql: String = s"""
    SELECT lang, doc_id, rk FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY ('0x' || substring(
                 md5('strat-' || doc_id::VARCHAR), 1, 12))::BIGINT,
                 doc_id) AS rk
      FROM documents)
    WHERE rk <= $StratumCap
    ORDER BY lang, rk"""

  /** P10: temperature-scaled corpus sampling — the multilingual-LM
    * mixing rule (the mT5/XLM-R α-sampling): per-source sampling
    * weight ∝ n_s^α with α=0.5, so small sources are UP-weighted
    * relative to their share and the dominant source stops drowning
    * the mix — P5's fixed weights, derived from the data instead.
    * Selection stays a pure narrow map over a salted md5 bucket
    * (re-shard-stable, no shuffle beyond the per-source rollup):
    * doc selected ⟺ h28(doc) < threshold_s, where threshold_s is the
    * source's rate in 2^28 units. Exactness: w_s = round(√n_s·1e6)
    * quantizes once per source, W = Σw_s is exact BIGINT, the rate
    * divides exact integers, and one terminal rounding fixes the
    * threshold — deterministic cross-engine.
    */
  val MixAlphaTarget = 200L // target docs in the sampled mix

  def dataAlphaMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("source"), col("doc_id"))
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w_micro",
        round(sqrt(col("n_docs")) * 1e6, 0).cast("long"))
    // bounded plan-time scalar: one row per corpus (Σ over ≤ #sources)
    val wTotal = counts.agg(sum(col("w_micro"))).head().getLong(0)
    val rates = counts.withColumn("threshold",
      round(least(lit(1.0),
        lit(MixAlphaTarget.toDouble) * col("w_micro") /
          (lit(wTotal.toDouble) * col("n_docs"))) * 268435456.0, 0)
        .cast("long"))
    val h = conv(substring(
      md5(concat(lit("tmix-"), col("doc_id").cast("string"))), 1, 7),
      16, 10).cast("long")
    docs.withColumn("h", h)
      .join(rates, Seq("source"))
      .groupBy(col("source"), col("n_docs"), col("w_micro"),
        col("threshold"))
      .agg(sum(when(col("h") < col("threshold"), 1L).otherwise(0L))
        .as("n_selected"))
      .orderBy(col("source"))
  }

  val dataAlphaMixSql: String = s"""
    WITH c AS (SELECT source, count(*) AS n_docs FROM documents
               GROUP BY source),
    w AS (SELECT source, n_docs,
                 round(sqrt(n_docs) * 1e6, 0)::BIGINT AS w_micro FROM c),
    t AS (SELECT sum(w_micro)::BIGINT AS w_total FROM w),
    r AS (SELECT source, n_docs, w_micro,
                 round(least(1.0, $MixAlphaTarget * w_micro /
                   ((SELECT w_total FROM t) * 1.0 * n_docs))
                   * 268435456.0, 0)::BIGINT AS threshold
          FROM w),
    d AS (SELECT source,
                 ('0x' || substring(md5('tmix-' || doc_id::VARCHAR),
                   1, 7))::BIGINT AS h
          FROM documents)
    SELECT source, n_docs, w_micro, threshold,
           sum(CASE WHEN h < threshold THEN 1 ELSE 0 END)::BIGINT
             AS n_selected
    FROM r JOIN d USING (source)
    GROUP BY source, n_docs, w_micro, threshold
    ORDER BY source"""

  /** P13: dedup-aware token accounting — the budget question behind
    * every dedup pass: how many tokens does each source ACTUALLY
    * contribute once exact duplicates collapse to their keeper
    * (D1 semantics: global min doc_id per payload hash)? A duplicate
    * whose keeper lives in another source contributes zero here — the
    * honest attribution for cross-source copies. One shuffle on the
    * 16-byte hash for the keeper resolution, one per-source rollup.
    * The keeper rides a min-window over the hash partition — NOT an
    * aggregate joined back: the keeper frame is corpus-sized (one row
    * per distinct payload; the sf1 probe measured its AQE-elected
    * broadcast at 18.9 MB — GBs at 100 TB), and the window reuses the
    * one hash shuffle the resolution needs anyway. Partition mass is
    * bounded by duplicate multiplicity, never corpus size.
    */
  def dataDedupBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    docs.withColumn("keeper", min(col("doc_id")).over(wh))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("doc_id") === col("keeper"), 1L).otherwise(0L))
          .as("n_unique_docs"),
        sum(when(col("doc_id") === col("keeper"), col("n_tok"))
          .otherwise(0L)).as("tokens_unique"))
      .withColumn("dup_token_rate",
        round(lit(1.0) - col("tokens_unique") / col("tokens_total"), 6))
      .orderBy(col("source"))
  }

  /** P31: effective-token accounting under repetition decay — the
    * data-constrained-scaling question (Muennighoff et al. 2023:
    * repeated epochs are worth exponentially less than fresh data)
    * asked of the corpus itself: training one pass over the RAW
    * corpus shows each unique document T_s/U_s times, so a source's
    * duplication factor IS its repetition count. Each source's
    * effective tokens price that: the k-th repetition of the unique
    * mass is worth decay^(k-1), here decay = 1/2 — chosen because
    * powers of two are EXACT doubles, so the whole valuation is a
    * handful of IEEE-deterministic operations per source (shift,
    * one division, two multiplies, one add) and micro-quantizes to
    * a hash-checkable BIGINT; the closed form Σ_{k=1..e} 2^{1-k} =
    * 2 − 2^{1-e} avoids any float summation. Output per source:
    * raw/unique masses, the full-epoch count, effective tokens in
    * micro units, and efficiency (effective per raw token, ppm) —
    * the number that says "dedup before you spend budget here".
    * Scale shape: P13's one hash-window pass plus a per-source map;
    * nothing beyond the (sources)-bounded aggregate leaves the
    * exchange the token accounting already paid.
    */
  def dataEpochValue(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    // tokens_unique = 0 is legal (a source whose every payload's keeper
    // lives in another source — the cross-source case data_dedup_budget
    // contemplates) and must not reach the division: non-ANSI Spark
    // yields NULL there and least(NULL, 62) silently returns 62, while
    // the DuckDB oracle errors — the engines would diverge. Such a
    // source contributes NOTHING fresh: 0 epochs, 0 effective tokens.
    val per = docs.withColumn("keeper", min(col("doc_id")).over(wh))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("tokens_total"),
        sum(when(col("doc_id") === col("keeper"), col("n_tok"))
          .otherwise(0L)).as("tokens_unique"))
      .withColumn("full_epochs",
        when(col("tokens_unique") === 0L, 0L)
          .otherwise(least(expr("tokens_total div tokens_unique"),
            lit(62L))))
    // unique > 0 ⇒ full_epochs ≥ 1 (unique ≤ total), so the shifts in
    // the guarded branch never see a negative count
    per
      .withColumn("p", expr(
        "1.0 / cast(shiftleft(1L, cast(full_epochs - 1 as int)) as double)"))
      .withColumn("q", expr(
        "1.0 / cast(shiftleft(1L, cast(full_epochs as int)) as double)"))
      .withColumn("effective_tokens_micro",
        when(col("tokens_unique") === 0L, 0L).otherwise(
          round((col("tokens_unique") * (lit(2.0) - col("p")) +
            (col("tokens_total") % col("tokens_unique")) * col("q")) * 1e6,
            0).cast("long")))
      .withColumn("efficiency_ppm",
        when(col("tokens_unique") === 0L, 0L)
          .otherwise(expr("effective_tokens_micro div tokens_total")))
      .select(col("source"), col("tokens_total"), col("tokens_unique"),
        col("full_epochs"), col("effective_tokens_micro"),
        col("efficiency_ppm"))
      .orderBy(col("source"))
  }

  val dataEpochValueSql: String = """
    WITH docs AS (
      SELECT source, doc_id, md5(text) AS h,
             len(string_split(text, ' '))::BIGINT AS n_tok
      FROM documents),
    k AS (SELECT *, min(doc_id) OVER (PARTITION BY h) AS keeper FROM docs),
    per AS (
      SELECT source, sum(n_tok)::BIGINT AS tokens_total,
             sum(CASE WHEN doc_id = keeper THEN n_tok ELSE 0 END)::BIGINT
               AS tokens_unique
      FROM k GROUP BY source),
    e AS (SELECT *, CASE WHEN tokens_unique = 0 THEN 0::BIGINT
                    ELSE least(tokens_total // tokens_unique, 62) END
                      AS full_epochs FROM per)
    SELECT source, tokens_total, tokens_unique, full_epochs,
           CASE WHEN tokens_unique = 0 THEN 0::BIGINT
           ELSE CAST(round((tokens_unique *
               (2.0 - 1.0 / (1::BIGINT << (full_epochs - 1)::INT)) +
               (tokens_total % tokens_unique) *
               (1.0 / (1::BIGINT << full_epochs::INT))) * 1e6, 0)
             AS BIGINT) END AS effective_tokens_micro,
           CASE WHEN tokens_unique = 0 THEN 0::BIGINT
           ELSE CAST(round((tokens_unique *
               (2.0 - 1.0 / (1::BIGINT << (full_epochs - 1)::INT)) +
               (tokens_total % tokens_unique) *
               (1.0 / (1::BIGINT << full_epochs::INT))) * 1e6, 0)
             AS BIGINT) // tokens_total END AS efficiency_ppm
    FROM e ORDER BY source"""

  val dataDedupBudgetSql: String = """
    WITH docs AS (
      SELECT source, doc_id, md5(text) AS h,
             len(string_split(text, ' '))::BIGINT AS n_tok
      FROM documents),
    keep AS (SELECT h, min(doc_id) AS keeper FROM docs GROUP BY h)
    SELECT source, count(*) AS n_docs,
           sum(n_tok)::BIGINT AS tokens_total,
           sum(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END)::BIGINT
             AS n_unique_docs,
           sum(CASE WHEN doc_id = keeper THEN n_tok ELSE 0 END)::BIGINT
             AS tokens_unique,
           round(1.0 - sum(CASE WHEN doc_id = keeper THEN n_tok ELSE 0
             END) / sum(n_tok), 6) AS dup_token_rate
    FROM docs JOIN keep USING (h)
    GROUP BY source ORDER BY source"""

  /** P11: cross-source contamination matrix — corpus governance's
    * pairwise question: how much does source A duplicate source B?
    * Computed on D7's 10-word spans: distinct (source, span) FIRST —
    * which bounds every span's join bucket at the source count (C(S,2)
    * pairs per span however viral the span, the D8 bounded-bucket
    * discipline for free) — then a self-join on the 16-byte span hash
    * with source_a < source_b, one count per ordered pair, and an
    * overlap coefficient against the smaller side's span inventory.
    * Only hashes shuffle; span text never leaves the map side.
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val spans = Tables.documents(s, dir)
      .select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 10)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(w) div 10), " +
          "k -> concat_ws(' ', slice(w, (k-1)*10+1, 10)))")).as("span"))
      .select(col("source"), md5(col("span")).as("h"))
      .distinct()
    val sp = graft.CachedFrames.persist(spans)
    val totals = sp.groupBy(col("source")).agg(count(lit(1)).as("n_spans"))
    val shared = sp.as("a")
      .join(sp.as("b"), col("a.h") === col("b.h") &&
        col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(totals.select(col("source").as("source_a"),
        col("n_spans").as("n_a")), Seq("source_a"))
      .join(totals.select(col("source").as("source_b"),
        col("n_spans").as("n_b")), Seq("source_b"))
      .withColumn("overlap",
        round(col("n_shared") / least(col("n_a"), col("n_b")), 6))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("overlap"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceOverlapSql: String = """
    WITH spans AS (
      SELECT DISTINCT source,
             md5(array_to_string(
               list_slice(w, (k-1)*10+1, (k-1)*10+10), ' ')) AS h
      FROM (SELECT source, w, unnest(range(1, 1 + len(w)//10)) AS k
            FROM (SELECT source, string_split(text, ' ') AS w
                  FROM documents)
            WHERE len(w) >= 10)),
    totals AS (SELECT source, count(*) AS n_spans FROM spans
               GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared
      FROM spans a JOIN spans b
        ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT source_a, source_b, n_shared,
           ta.n_spans AS n_a, tb.n_spans AS n_b,
           round(n_shared / least(ta.n_spans, tb.n_spans), 6) AS overlap
    FROM shared
    JOIN totals ta ON ta.source = source_a
    JOIN totals tb ON tb.source = source_b
    ORDER BY source_a, source_b"""

  /** P14: KMV (k-minimum-values) distinct sketch per source — the
    * DISTINCT-COUNTING rung of the sketch ladder (Bloom = membership,
    * Misra-Gries = frequency, KMV = cardinality; the bottom-k /
    * theta-sketch family). One pass with the E18 bounded heap keeps
    * the k smallest 28-bit md5 shingle hashes per source (score =
    * −hash): k·|sources| longs of state however large the corpus, and
    * the min-k merge is order-free, so map-side combine does almost
    * all the work. The estimate (k−1)·2²⁸ / h₍ₖ₎ is exact integer
    * arithmetic over the md5-derived hash, so the DuckDB oracle
    * reproduces the sketch AND the estimate bit-for-bit — like D11's
    * Bloom, a hash-checked probabilistic structure. n_exact rides
    * along so the artifact itself shows the estimation error.
    */
  val KmvK = 64

  private def kmvSketches(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3)))"))
        .as("sh"))
      .select(col("source"),
        graft.dedup.Shingling.h28(col("sh")).as("h"))
      // no distinct pre-shuffle: the sketch dedups in-buffer, so the
      // exchange carries <=k longs per source; n_exact (the error
      // yardstick the artifact publishes) is the one column that
      // genuinely needs the distinct machinery
      .groupBy(col("source"))
      .agg(countDistinct(col("h")).as("n_exact"),
        graft.functions.KmvAgg(col("h"), KmvK).as("mins"))

  def sketchKmv(s: SparkSession, dir: String): DataFrame =
    kmvSketches(s, dir)
      .withColumn("kth", expr("element_at(mins, size(mins))"))
      .withColumn("est_kmv",
        when(col("n_exact") < KmvK, col("n_exact"))
          .otherwise(expr(s"cast(${(KmvK - 1).toLong * 268435456L}L div kth as bigint)")))
      .select(col("source"), col("n_exact"), col("kth"), col("est_kmv"))
      .orderBy(col("source"))

  val sketchKmvSql: String = s"""
    WITH sh AS (
      SELECT DISTINCT source,
             ('0x' || substring(md5(array_to_string(
               list_slice(w, i, i+2), ' ')), 1, 7))::BIGINT AS h
      FROM (SELECT source, w, unnest(range(1, len(w)-1)) AS i
            FROM (SELECT source, string_split(text, ' ') AS w
                  FROM documents)
            WHERE len(w) >= 3)),
    mins AS (
      SELECT source, list(h ORDER BY h) AS mins
      FROM (SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM sh)
      WHERE rn <= $KmvK GROUP BY source),
    tot AS (SELECT source, count(*) AS n_exact FROM sh GROUP BY source)
    SELECT source, n_exact, mins[len(mins)] AS kth,
           CASE WHEN n_exact < $KmvK THEN n_exact
                ELSE ${(KmvK - 1).toLong * 268435456L} // mins[len(mins)]
           END AS est_kmv
    FROM mins JOIN tot USING (source) ORDER BY source"""

  /** P15: theta-sketch set operations from the P14 sketches — the
    * production reason bottom-k sketches exist: pairwise source
    * union/intersection cardinalities WITHOUT touching the corpus
    * again. The pair compute is k-array arithmetic over |sources|²
    * sketch rows (kilobytes); P11 answers the same question exactly
    * with a full self-join of the span index — this is the rung that
    * replaces it when |sources| or the index no longer fits the join.
    * θ = kth smallest of the merged sketch; matches = hashes ≤ θ in
    * both; est_∩ = matches·est_∪ / k — all exact integer arithmetic,
    * hash-checked cross-engine like P14.
    */
  def sketchKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val sk = graft.CachedFrames.persist(kmvSketches(s, dir))
    sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.mins").as("ma"), col("b.mins").as("mb"),
        (col("a.n_exact") + col("b.n_exact")).as("nab"))
      .withColumn("uall", expr("array_sort(array_distinct(concat(ma, mb)))"))
      .withColumn("nu", expr("cast(size(uall) as bigint)"))
      .withColumn("u", expr(s"slice(uall, 1, $KmvK)"))
      .withColumn("theta", expr("element_at(u, size(u))"))
      .withColumn("matches", expr(
        "cast(size(filter(array_intersect(ma, mb), x -> x <= theta)) as bigint)"))
      .withColumn("est_union",
        when(col("nu") < KmvK, col("nu"))
          .otherwise(expr(s"cast(${(KmvK - 1).toLong * 268435456L}L div theta as bigint)")))
      .withColumn("est_inter",
        when(col("nu") < KmvK,
          expr("cast(size(array_intersect(ma, mb)) as bigint)"))
          .otherwise(expr(s"matches * est_union div $KmvK")))
      .select(col("source_a"), col("source_b"), col("matches"),
        col("theta"), col("est_union"), col("est_inter"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sketchKmvOverlapSql: String = s"""
    WITH sh AS (
      SELECT DISTINCT source,
             ('0x' || substring(md5(array_to_string(
               list_slice(w, i, i+2), ' ')), 1, 7))::BIGINT AS h
      FROM (SELECT source, w, unnest(range(1, len(w)-1)) AS i
            FROM (SELECT source, string_split(text, ' ') AS w
                  FROM documents)
            WHERE len(w) >= 3)),
    mins AS (
      SELECT source, list(h ORDER BY h) AS mins
      FROM (SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM sh)
      WHERE rn <= $KmvK GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.mins AS ma, b.mins AS mb,
             list_sort(list_distinct(list_concat(a.mins, b.mins))) AS uall
      FROM mins a JOIN mins b ON a.source < b.source),
    calc AS (
      SELECT source_a, source_b, ma, mb,
             len(uall)::BIGINT AS nu,
             uall[:$KmvK] AS u
      FROM pairs),
    calc2 AS (
      SELECT source_a, source_b, ma, mb, nu, u,
             u[len(u)] AS theta
      FROM calc),
    calc3 AS (
      SELECT source_a, source_b, nu, theta,
             len(list_filter(list_intersect(ma, mb),
               x -> x <= theta))::BIGINT AS matches,
             len(list_intersect(ma, mb))::BIGINT AS inter_full,
             CASE WHEN nu < $KmvK THEN nu
                  ELSE ${(KmvK - 1).toLong * 268435456L} // theta
             END AS est_union
      FROM calc2)
    SELECT source_a, source_b, matches, theta, est_union,
           CASE WHEN nu < $KmvK THEN inter_full
                ELSE matches * est_union // $KmvK
           END AS est_inter
    FROM calc3 ORDER BY source_a, source_b"""

  /** P16: weighted sampling without replacement (Efraimidis–Spirakis
    * A-ES) — the quality/length-weighted corpus draw every data-mix
    * recipe needs: P(doc survives) ∝ its weight (here n_chars — a
    * token-budget draw), deterministic via the md5 hash family. Key =
    * ln(u)/w with u = (h28+1)/2²⁸ ∈ (0,1], quantized to integer
    * micro-nats (the P6 discipline) BEFORE ranking, so both engines
    * rank identical BIGINTs; the per-source top-k runs on the E18
    * bounded heap — k·|sources| rows of state, no stratum sort, the
    * P8 shape. Sampled ids join back for metadata (a kilobyte side —
    * AQE broadcasts it).
    */
  val WsK = 5

  /** The A-ES ranking key: ln(u)/w quantized to integer micro-nats,
    * u = (h28+1)/2²⁸ from the md5 family — shared by the batch gate
    * and the R16 streaming face (the key depends only on the row, so
    * the bounded-heap top-k over it is arrival-order-free).
    */
  private[graft] def aesKeyMicro(docId: org.apache.spark.sql.Column,
      nChars: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(log((graft.dedup.Shingling.h28(
      concat(lit("ws-"), docId.cast("string"))) + 1) / lit(268435456.0))
      / nChars * 1e9, 0).cast("long")

  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("key_micro",
        aesKeyMicro(col("doc_id"), col("n_chars")))
    val sampled = keyed
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg(col("key_micro").cast("double"),
        col("doc_id"), WsK).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).as("rank"),
        col("col.id").as("doc_id"))
    sampled
      .join(keyed.select(col("doc_id"), col("n_chars"), col("key_micro")),
        Seq("doc_id"))
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"),
        col("key_micro"))
      .orderBy(col("source"), col("rank"))
  }

  val weightedSampleSql: String = s"""
    WITH keys AS (
      SELECT source, doc_id, n_chars,
             CAST(round(ln((('0x' || substring(md5('ws-' || doc_id::VARCHAR),
               1, 7))::BIGINT + 1) / 268435456.0) / n_chars * 1e9, 0)
               AS BIGINT) AS key_micro
      FROM documents),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
               ORDER BY key_micro DESC, doc_id) AS rank
      FROM keys)
    SELECT source, rank, doc_id, n_chars, key_micro
    FROM ranked WHERE rank <= $WsK ORDER BY source, rank"""

  /** P9: bigram language-model scoring — the step up from P6's unigram
    * model: NLL = −Σ ln p(wᵢ | wᵢ₋₁) with conditional probabilities
    * from corpus bigram/context counts. Self-scored corpus ⇒ every doc
    * bigram exists in the vocab by construction (no backoff branch).
    * The bigram vocab is larger than P6's unigram table, so it joins
    * on (prev, cur) as a shuffle join with map-side-combined counts —
    * NOT a broadcast — which is the honest 100 TB shape for an n-gram
    * table. Same micro-nat discipline as P6: one rounding per distinct
    * bigram, per-doc sums in exact BIGINT.
    */
  def textBigramLm(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w)-1), i -> " +
          "struct(element_at(w, i) as prev, element_at(w, i+1) as cur))"))
        .as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.cur").as("cur"))
    val ctx = pairs.groupBy(col("prev")).agg(count(lit(1)).as("cn"))
    val vocab = pairs.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("cb"))
      .join(ctx, Seq("prev"))
      .withColumn("lp_micro",
        round(-log(col("cb") / col("cn")) * 1e6, 0).cast("long"))
      .select(col("prev"), col("cur"), col("lp_micro"))
    pairs.join(vocab, Seq("prev", "cur"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp_micro")).as("s"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), expr("s div n_bigrams").as("nll_micro"),
        col("n_bigrams"))
      .orderBy(col("doc_id"))
  }

  val textBigramLmSql: String = """
    WITH pairs AS (
      SELECT doc_id, w[i] AS prev, w[i+1] AS cur
      FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= 2)),
    ctx AS (SELECT prev, count(*) AS cn FROM pairs GROUP BY prev),
    big AS (SELECT prev, cur, count(*) AS cb FROM pairs GROUP BY prev, cur),
    vocab AS (
      SELECT prev, cur, round(-ln(cb / cn) * 1e6, 0)::BIGINT AS lp_micro
      FROM big JOIN ctx USING (prev))
    SELECT doc_id, (sum(lp_micro)::BIGINT // count(*)) AS nll_micro,
           count(*) AS n_bigrams
    FROM pairs JOIN vocab USING (prev, cur)
    GROUP BY doc_id ORDER BY doc_id"""

  /** P17 feature-space size and selection size. */
  val DsirBuckets = 1024
  val DsirTopK = 100

  /** P17: data selection by importance resampling — the DSIR recipe
    * (Xie et al. 2023): pick from a raw corpus the documents that look
    * most like a TARGET distribution, scored under two bag-of-hashed-
    * n-gram unigram models. Features are hashed bigrams (md5 → one of
    * [[DsirBuckets]] buckets — the paper's hashing trick, which bounds
    * the model at B counters however large the corpus vocabulary);
    * both models are Laplace-smoothed bucket frequencies; a document's
    * importance weight is Σ over its features of
    * ln(p_target(b)/p_raw(b)). Everything is exact until the double
    * step: per bucket, the log's argument is the product of two DOUBLE
    * ratios, ((ct+1)/(cr+1)) · ((Nr+B)/(Nt+B)) — counts are exact as
    * doubles to 2⁵³ and IEEE divide/multiply are deterministic, so
    * both engines feed ln the identical double and the micro-quantized
    * weight matches bit-for-bit (the T11 discipline, overflow-safe at
    * any corpus the counts themselves fit).
    * Per-doc scores are then order-free BIGINT sums; selection is the
    * deterministic top-[[DsirTopK]] by (score, doc_id). Scale shape:
    * feature hashing is a narrow map, the model is two B-bounded
    * aggregates collected once (≤ B rows — a codebook-sized literal),
    * scoring is a broadcast join of that B-row table, and only the
    * k-row selection sorts (TakeOrdered, not a full sort).
    */
  /** P17 feature stream: (doc_id, source, bucket) per bigram occurrence. */
  private def dsirFeats(docs: DataFrame): DataFrame =
    graft.CachedFrames.persist(docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, size(w)-1), i -> " +
          "concat(element_at(w, i), ' ', element_at(w, i+1)))")).as("bg"))
      .withColumn("bucket", expr(
        s"cast(conv(substring(md5(bg), 1, 7), 16, 10) as bigint) " +
          s"% $DsirBuckets")))

  /** P17 model: the per-bucket weight frame plus the two corpus totals. */
  private def dsirModel(feats: DataFrame, target: String)
  : (DataFrame, Long, Long) = {
    val model = graft.CachedFrames.persist(
      feats.groupBy(col("bucket")).agg(
        count(lit(1)).as("cr"),
        coalesce(sum(when(col("source") === target, 1L)), lit(0L))
          .as("ct")))
    val tot = model.agg(
      coalesce(sum(col("cr")), lit(0L)),
      coalesce(sum(col("ct")), lit(0L))).head()
    val (nr, nt) = (tot.getLong(0), tot.getLong(1))
    // lam = ln(p_t(b)/p_r(b)) = ln((ct+1)/(Nt+B)) − ln((cr+1)/(Nr+B)),
    // computed as ln of a product of two DOUBLE ratios — never a
    // BIGINT product: (ct+1)·(Nr+B) overflows Long once corpus bigram
    // counts pass ~3·10⁹ (Spark would wrap silently, DuckDB would
    // error — divergence exactly at scale). Counts cast to double are
    // exact to 2⁵³ (~9·10¹⁵ bigrams ≈ petabytes of text), and IEEE
    // divide/multiply are deterministic, so both engines still feed
    // ln the identical double.
    val lam = model.withColumn("lam_micro",
      round(log(
        ((col("ct") + 1L).cast("double") / (col("cr") + 1L).cast("double")) *
          lit((nr + DsirBuckets).toDouble / (nt + DsirBuckets).toDouble))
        * 1e6, 0).cast("long"))
      .select(col("bucket"), col("lam_micro"))
    (lam, nr, nt)
  }

  /** R21 support: the trained weight table as a DENSE literal array
    * (index = bucket + 1), so streamed scoring is one narrow
    * higher-order expression — no join at all. Buckets unseen in the
    * training corpus carry the Laplace prior ln((Nr+B)/(Nt+B)): the
    * weight the smoothed model assigns any feature it never saw
    * (irrelevant when scoring the training corpus itself — the parity
    * spec's case — but the production-correct answer for novel text).
    * Bounded collect: ≤ B rows, a codebook.
    */
  private[graft] def dsirWeightArray(docs: DataFrame, target: String)
  : Array[Long] = {
    val (lam, nr, nt) = dsirModel(dsirFeats(docs), target)
    val seen = lam.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val default = BigDecimal(
      math.log((nr + DsirBuckets).toDouble / (nt + DsirBuckets).toDouble)
        * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    Array.tabulate(DsirBuckets)(b => seen.getOrElse(b.toLong, default))
  }

  private[graft] def dsirOn(docs: DataFrame, target: String): DataFrame = {
    val feats = dsirFeats(docs)
    val (lam, _, _) = dsirModel(feats, target)
    feats.join(broadcast(lam), Seq("bucket"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("lam_micro")).as("score_micro"),
        count(lit(1)).as("n_feats"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(DsirTopK)
  }

  def dsirSelect(s: SparkSession, dir: String): DataFrame =
    dsirOn(Tables.documents(s, dir), "src0")

  val dsirSelectSql: String = s"""
    WITH f AS (
      SELECT doc_id, source,
             ('0x' || substring(md5(w[i] || ' ' || w[i+1]), 1, 7))::BIGINT
               % $DsirBuckets AS bucket
      FROM (SELECT doc_id, source, w, unnest(range(1, len(w))) AS i
            FROM (SELECT doc_id, source, string_split(text, ' ') AS w
                  FROM documents)
            WHERE len(w) >= 2)),
    model AS (
      SELECT bucket, count(*) AS cr,
             coalesce(sum(CASE WHEN source = 'src0' THEN 1 END), 0) AS ct
      FROM f GROUP BY 1),
    tot AS (
      SELECT sum(cr)::BIGINT AS nr, sum(ct)::BIGINT AS nt FROM model),
    lam AS (
      SELECT bucket,
             CAST(round(ln(
               (CAST(ct + 1 AS DOUBLE) / CAST(cr + 1 AS DOUBLE)) *
               (CAST(nr + $DsirBuckets AS DOUBLE)
                 / CAST(nt + $DsirBuckets AS DOUBLE))) * 1e6, 0)
               AS BIGINT) AS lam_micro
      FROM model, tot)
    SELECT doc_id, source, sum(lam_micro)::BIGINT AS score_micro,
           count(*) AS n_feats
    FROM f JOIN lam USING (bucket)
    GROUP BY 1, 2
    ORDER BY score_micro DESC, doc_id
    LIMIT $DsirTopK"""

  /** P18: leakage-free eval split — the composition every benchmark
    * postmortem wishes had run: P1's hash split assigns docs
    * INDEPENDENTLY, so two near-duplicates can land in train and test
    * and leak the answer across the boundary. The fix is to split by
    * the duplicate CLUSTER, not the doc: every member of a D6
    * component inherits its canonical's split, so a near-dup pair can
    * never straddle (they share a canonical by construction — the
    * property the spec asserts over every verified near-dup edge).
    * Singleton docs keep their own hash split unchanged, so this
    * composes with P1 at zero cost outside the dup graph (≪ corpus);
    * the one extra join is against the D6 label frame, sized to the
    * dup set. Output = the reassignment ledger: each clustered doc,
    * its canonical, the split it would have gotten alone, the split it
    * inherits, and whether it moved.
    */
  def splitLeakageFree(s: SparkSession, dir: String): DataFrame = {
    def splitOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val b = conv(substring(md5(c.cast("string")), 1, 7), 16, 10)
        .cast("long") % 100
      when(b < 80, "train").when(b < 90, "validation").otherwise("test")
    }
    graft.dedup.DedupQueries.dedupClusters(s, dir)
      .select(col("doc_id"), col("canonical"),
        splitOf(col("doc_id")).as("own_split"),
        splitOf(col("canonical")).as("split"))
      .withColumn("moved",
        when(col("own_split") =!= col("split"), 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  val splitLeakageFreeSql: String = s"""
    WITH cl AS (${graft.dedup.DedupQueries.dedupClustersSql}),
    sp AS (
      SELECT doc_id, canonical,
             ('0x' || substring(md5(doc_id::VARCHAR), 1, 7))::BIGINT
               % 100 AS bo,
             ('0x' || substring(md5(canonical::VARCHAR), 1, 7))::BIGINT
               % 100 AS bc
      FROM cl)
    SELECT doc_id, canonical,
           CASE WHEN bo < 80 THEN 'train' WHEN bo < 90 THEN 'validation'
                ELSE 'test' END AS own_split,
           CASE WHEN bc < 80 THEN 'train' WHEN bc < 90 THEN 'validation'
                ELSE 'test' END AS split,
           CASE WHEN (CASE WHEN bo < 80 THEN 'train'
                           WHEN bo < 90 THEN 'validation'
                           ELSE 'test' END) !=
                     (CASE WHEN bc < 80 THEN 'train'
                           WHEN bc < 90 THEN 'validation'
                           ELSE 'test' END)
                THEN 1 ELSE 0 END::BIGINT AS moved
    FROM sp ORDER BY doc_id"""

  /** P19: quality-weighted corpus selection — the soft version of P2's
    * hard filter chain, and the shape recent curation pipelines
    * actually run: instead of dropping low-quality documents outright,
    * keep them at a reduced sampling rate (high keeps everything, mid
    * half, low a residual 10% — low-quality text still teaches
    * robustness, just not at full corpus weight). The T2 composite
    * score (reused verbatim — one signal, two consumers) bands each
    * doc at its 6dp-rounded value, so band edges compare identical
    * doubles in both engines; the keep decision is P5's salted-md5
    * bucket rule — a pure narrow map, re-shard-stable, no RNG state.
    * The whole operator is one codegen projection plus a
    * (bands × sources)-bounded aggregate: nothing about quality-aware
    * selection needs a shuffle of the corpus.
    */
  def qualityMix(s: SparkSession, dir: String): DataFrame =
    graft.text.TextQueries.withQuality(Tables.documents(s, dir))
      .withColumn("band",
        when(col("quality") >= 0.5, "high")
          .when(col("quality") >= 0.3, "mid").otherwise("low"))
      .withColumn("rate",
        when(col("band") === "high", 100L)
          .when(col("band") === "mid", 50L).otherwise(10L))
      .withColumn("b",
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":qual"))), 1, 7), 16, 10).cast("long") % 100)
      .withColumn("kept",
        when(col("b") < col("rate"), 1L).otherwise(0L))
      .groupBy(col("band"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        coalesce(sum(when(col("kept") === 1L,
          col("n_chars").cast("long"))), lit(0L)).as("kept_chars"))
      .orderBy(col("band"), col("source"))

  val qualityMixSql: String = s"""
    WITH q AS (
      SELECT doc_id, source, length(text) AS n_chars,
             ${graft.text.TextQueries.qualitySqlExpr("text")} AS quality
      FROM documents),
    banded AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN quality >= 0.5 THEN 'high'
                  WHEN quality >= 0.3 THEN 'mid' ELSE 'low' END AS band,
             CASE WHEN quality >= 0.5 THEN 100
                  WHEN quality >= 0.3 THEN 50 ELSE 10 END AS rate,
             ('0x' || substring(md5(doc_id::VARCHAR || ':qual'), 1, 7))
               ::BIGINT % 100 AS b
      FROM q)
    SELECT band, source, count(*) AS n_docs,
           coalesce(sum(CASE WHEN b < rate THEN 1 END), 0)::BIGINT
             AS n_kept,
           coalesce(sum(CASE WHEN b < rate THEN n_chars END), 0)::BIGINT
             AS kept_chars
    FROM banded GROUP BY band, source
    ORDER BY band, source"""

  /** P20: α-temperature mixing over the DEDUPED corpus — the
    * composition order P10 alone gets wrong: run before dedup, a
    * source's duplicate copies inflate its token mass (and its √n
    * weight) AND duplicate copies can all be co-selected, so the
    * mixture over-serves exactly the sources that needed down-
    * weighting most. Here the D1 keeper election runs FIRST (one
    * 16-byte-hash shuffle, the P13 shape), weights derive from
    * tokens_unique, and only keeper docs enter the md5-bucket draw —
    * a duplicate copy can never be selected. Same exact-integer rate
    * discipline as P10 (√tokens quantized once per source, thresholds
    * in 2²⁸ hash units); output is the per-source mixture ledger with
    * both the dedup stats and the draw.
    */
  def dataAlphaMixDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    // keeper = min-window over the hash partition (P13's shape — the
    // aggregate-and-join-back form broadcast an 18.9 MB corpus-sized
    // keeper frame at sf1)
    val uniq = graft.CachedFrames.persist(docs
      .withColumn("keeper", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("keeper"))
      .select(col("source"), col("doc_id"), col("n_tok")))
    val counts = uniq.groupBy(col("source"))
      .agg(count(lit(1)).as("n_unique_docs"),
        sum(col("n_tok")).as("tokens_unique"))
      .withColumn("w_micro",
        round(sqrt(col("tokens_unique")) * 1e6, 0).cast("long"))
    val wTotal = counts.agg(coalesce(sum(col("w_micro")), lit(0L)))
      .head().getLong(0)
    val rates = counts.withColumn("threshold",
      round(least(lit(1.0),
        lit(MixAlphaTarget.toDouble) * col("w_micro") /
          (lit(wTotal.toDouble) * col("n_unique_docs"))) * 268435456.0, 0)
        .cast("long"))
    uniq.withColumn("hsel", conv(substring(
        md5(concat(lit("dmix-"), col("doc_id").cast("string"))), 1, 7),
        16, 10).cast("long"))
      .join(rates, Seq("source"))
      .groupBy(col("source"), col("n_unique_docs"), col("tokens_unique"),
        col("w_micro"), col("threshold"))
      .agg(sum(when(col("hsel") < col("threshold"), 1L).otherwise(0L))
        .as("n_selected"))
      .orderBy(col("source"))
  }

  val dataAlphaMixDedupSql: String = s"""
    WITH docs AS (
      SELECT source, doc_id, md5(text) AS h,
             len(string_split(text, ' '))::BIGINT AS n_tok
      FROM documents),
    keep AS (SELECT h, min(doc_id) AS keeper FROM docs GROUP BY h),
    uniq AS (
      SELECT source, doc_id, n_tok
      FROM docs JOIN keep USING (h)
      WHERE doc_id = keeper),
    counts AS (
      SELECT source, count(*) AS n_unique_docs,
             sum(n_tok)::BIGINT AS tokens_unique,
             CAST(round(sqrt(sum(n_tok)::BIGINT) * 1e6, 0) AS BIGINT)
               AS w_micro
      FROM uniq GROUP BY source),
    tot AS (SELECT sum(w_micro)::BIGINT AS w_total FROM counts),
    rates AS (
      SELECT source, n_unique_docs, tokens_unique, w_micro,
             CAST(round(least(1.0,
               $MixAlphaTarget * w_micro /
                 (CAST(w_total AS DOUBLE) * n_unique_docs))
               * 268435456.0, 0) AS BIGINT) AS threshold
      FROM counts, tot)
    SELECT source, n_unique_docs, tokens_unique, w_micro, threshold,
           coalesce(sum(CASE WHEN
             ('0x' || substring(md5('dmix-' || doc_id::VARCHAR), 1, 7))
               ::BIGINT < threshold THEN 1 END), 0)::BIGINT AS n_selected
    FROM uniq JOIN rates USING (source)
    GROUP BY source, n_unique_docs, tokens_unique, w_micro, threshold
    ORDER BY source"""

  /** P21: the per-document curation scorecard — the one table a
    * curator actually reads: every quality signal the suite computes,
    * joined per doc with a prioritized verdict. Signals are REUSED
    * from their owning operators (T2 quality, T7 repetition, P6
    * unigram NLL, T1 predicted language, D2's verified near-dup pairs
    * under the keep-min rule), so the scorecard can never drift from
    * the gates that verify each signal; the verdict is a first-match
    * rule chain (near-dup → low-quality → repetitive → keep), the P2
    * attribution idiom over composed signals. One equi-join per
    * signal on doc_id — at 100 TB this is the wide table you'd
    * materialize once per curation run.
    */
  def docScorecard(s: SparkSession, dir: String): DataFrame = {
    val q = graft.text.TextQueries.textQuality(s, dir)
      .select(col("doc_id"), col("quality"))
    val rep = graft.text.TextQueries.textRepetition(s, dir)
      .select(col("doc_id"), col("dup_word_frac"))
    val lm = textUnigramLm(s, dir).select(col("doc_id"), col("nll_micro"))
    val lang = graft.text.TextQueries.textLangId(s, dir)
      .select(col("doc_id"), col("predicted").as("pred_lang"))
    val nd = graft.dedup.DedupQueries.dedupJaccard(s, dir)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("near_dup", lit(1L))
    q.join(rep, Seq("doc_id"))
      .join(lm, Seq("doc_id"))
      .join(lang, Seq("doc_id"))
      .join(nd, Seq("doc_id"), "left")
      .na.fill(0L, Seq("near_dup"))
      .withColumn("verdict",
        when(col("near_dup") === 1L, "near_dup")
          .when(col("quality") < 0.3, "low_quality")
          .when(col("dup_word_frac") > 0.65, "repetitive")
          .otherwise("keep"))
      .select(col("doc_id"), col("quality"), col("dup_word_frac"),
        col("nll_micro"), col("pred_lang"), col("near_dup"),
        col("verdict"))
      .orderBy(col("doc_id"))
  }

  val docScorecardSql: String = s"""
    WITH sc AS (SELECT doc_id, quality
                FROM (${graft.text.TextQueries.textQualitySql})),
    rep AS (SELECT doc_id, dup_word_frac
            FROM (${graft.text.TextQueries.textRepetitionSql})),
    lm AS (SELECT doc_id, nll_micro FROM ($textUnigramLmSql)),
    lang AS (SELECT doc_id, predicted AS pred_lang
             FROM (${graft.text.TextQueries.textLangIdSql})),
    nd AS (SELECT DISTINCT doc_b AS doc_id, 1 AS near_dup
           FROM (${graft.dedup.DedupQueries.dedupJaccardSql}))
    SELECT doc_id, quality, dup_word_frac, nll_micro, pred_lang,
           coalesce(near_dup, 0)::BIGINT AS near_dup,
           CASE WHEN coalesce(near_dup, 0) = 1 THEN 'near_dup'
                WHEN quality < 0.3 THEN 'low_quality'
                WHEN dup_word_frac > 0.65 THEN 'repetitive'
                ELSE 'keep' END AS verdict
    FROM sc JOIN rep USING (doc_id)
            JOIN lm USING (doc_id)
            JOIN lang USING (doc_id)
            LEFT JOIN nd USING (doc_id)
    ORDER BY doc_id"""

  // ---- P22: perplexity-gated quality filter ----

  /** P22: perplexity BAND filtering — the CCNet selection rule run on
    * T15's reference-model scores: drop documents whose held-out NLL
    * is implausibly LOW (boilerplate/repetition the reference model
    * predicts too well) or implausibly HIGH (garbage it cannot predict
    * at all), keep the middle. The band is data-derived but
    * sort-free: bounds are integer fractions of the corpus-mean NLL
    * ([½×, 1½×], i.e. keep iff mean ≤ 2·nll ≤ 3·mean — all BIGINT
    * arithmetic, so both engines agree exactly), and the mean is ONE
    * bounded plan-time scalar (the T11 `n` idiom — a cross join with
    * the 1-row aggregate would plan the BNLJ the no-BNLJ guard
    * forbids). Scale shape:
    * scoring is T15's pass (reference counts shuffle-join, never
    * broadcast), the band is a map — no window, no global sort, no
    * second corpus pass; contrast P8, which needed the E18 heap to
    * avoid exactly the rank-based cut this operator also refuses.
    */
  /** The band rule over any (doc_id, nll_micro) frame — exposed for
    * PipelineSpec, which plants a bimodal score distribution to see
    * all three verdicts fire.
    */
  private[graft] def pplBand(scored0: DataFrame): DataFrame = {
    val scored = graft.CachedFrames.persist(scored0)
    val mean = scored.agg(
      coalesce(expr("sum(nll_micro) div count(1)"), lit(0L)))
      .head().getLong(0)
    scored
      .select(col("doc_id"), col("nll_micro"),
        when(col("nll_micro") * 2 < lit(mean), lit("drop_low"))
          .when(col("nll_micro") * 2 > lit(mean) * 3, lit("drop_high"))
          .otherwise(lit("keep")).as("verdict"))
      .orderBy(col("doc_id"))
  }

  def pplFilter(s: SparkSession, dir: String): DataFrame =
    pplBand(graft.text.TextQueries.textPerplexityJm(s, dir)
      .select(col("doc_id"), col("nll_micro")))

  val pplFilterSql: String = s"""
    WITH scored AS (
      SELECT doc_id, nll_micro
      FROM (${graft.text.TextQueries.textPerplexityJmSql})),
    m AS (SELECT sum(nll_micro)::BIGINT // count(*) AS mean_nll
          FROM scored)
    SELECT doc_id, nll_micro,
           CASE WHEN nll_micro * 2 < mean_nll THEN 'drop_low'
                WHEN nll_micro * 2 > mean_nll * 3 THEN 'drop_high'
                ELSE 'keep' END AS verdict
    FROM scored, m ORDER BY doc_id"""

  // ---- P23: per-source dataset card ----

  /** P23: the SOURCE-grain report every dataset ships with (the
    * datasheet/data-card rollup, P21's doc-grain scorecard aggregated
    * to the grain a mixing decision is made at): per source — volume
    * (docs, whitespace tokens), exact-duplicate exposure (D1's
    * global-keeper rule, so cross-source copies bill to the copy, not
    * the keeper — P13's attribution), language mix (dominant language
    * + distinct count), and mean T2 quality in exact micro units
    * (per-doc quality micro-quantizes before an order-free BIGINT
    * sum; the quality formula is the SHARED [[graft.text.TextQueries
    * .qualitySqlExpr]] source of truth, so this report can never fork
    * from the T2/P19 gates). Scale shape: one corpus pass computes
    * every per-doc signal in a single codegen stage; the only
    * corpus-width shuffle carries 16-byte text hashes for the keeper
    * rule; everything after is (sources × langs)-bounded.
    */
  def sourceReport(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = graft.CachedFrames.persist(
      graft.text.TextQueries.withQuality(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_tokens").cast("long").as("n_toks"), col("quality"),
          md5(col("text")).as("h")))
    // keeper via min-window over the hash partition (P13's shape; the
    // join-back form broadcast the corpus-sized keeper frame at sf1)
    val f = d.withColumn("keeper",
        min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .withColumn("is_dup", (col("doc_id") =!= col("keeper")).cast("long"))
    val lt = graft.CachedFrames.persist(
      f.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n")))
    val top = lt.withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    val nl = lt.groupBy(col("source")).agg(count(lit(1)).as("n_langs"))
    f.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dup_docs"),
        sum(col("n_toks")).as("tok_total"),
        expr("sum(cast(round(quality * 1000000, 0) as bigint)) div count(1)")
          .as("mean_quality_micro"))
      .join(top, Seq("source"))
      .join(nl, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        col("tok_total"), col("top_lang"), col("n_langs"),
        col("mean_quality_micro"))
      .orderBy(col("source"))
  }

  val sourceReportSql: String = s"""
    WITH d AS (
      SELECT doc_id, source, lang,
             len(string_split(text, ' '))::BIGINT AS n_toks,
             ${graft.text.TextQueries.qualitySqlExpr("text")} AS q,
             md5(text) AS h
      FROM documents),
    k AS (SELECT h, min(doc_id) AS keeper FROM d GROUP BY h),
    f AS (SELECT d.*, CASE WHEN doc_id != keeper THEN 1 ELSE 0 END AS is_dup
          FROM d JOIN k USING (h)),
    lt AS (SELECT source, lang, count(*) AS n FROM f GROUP BY source, lang),
    top AS (SELECT source, lang AS top_lang FROM (
             SELECT *, row_number() OVER (PARTITION BY source
                      ORDER BY n DESC, lang) AS rn FROM lt) WHERE rn = 1),
    nl AS (SELECT source, count(*) AS n_langs FROM lt GROUP BY source)
    SELECT f.source, count(*) AS n_docs, sum(is_dup)::BIGINT AS n_dup_docs,
           sum(n_toks)::BIGINT AS tok_total, top_lang, n_langs,
           (sum(CAST(round(q * 1000000, 0) AS BIGINT))::BIGINT // count(*))
             AS mean_quality_micro
    FROM f JOIN top USING (source) JOIN nl USING (source)
    GROUP BY f.source, top_lang, n_langs
    ORDER BY f.source"""

  // ---- P24: loss-driven domain reweighting ----

  /** P24: DOMAIN REWEIGHTING from reference-model loss — the DoReMi
    * family's core signal, in its oracle-exact linear form: domains
    * the reference model predicts POORLY (high held-out NLL) carry
    * information the model hasn't absorbed and get upweighted;
    * domains it already predicts well get down-weighted toward zero.
    * This derives mixing weights from MODEL LOSS, the signal P5/P10/
    * P19/P20 (size, temperature, quality, dedup) do not see. Per
    * source over T15's held-out scores: mean NLL (integer div of
    * exact sums), excess over the corpus-wide held-out mean
    * (greatest(0, ·) — at-or-below-baseline domains get weight 0),
    * and weight_ppm = excess·10⁶ div Σexcess. DoReMi proper
    * exponentiates the excess inside a proxy-training loop; the
    * linear normalization keeps every step exact BIGINT arithmetic
    * (no cross-engine exp) while preserving the ordering and the
    * zero-floor, and the emitted excess column lets any consumer
    * apply its own temperature. The held-out split is P1's md5-bucket
    * rule, NOT T13/T15's doc_id mod 5 — on this corpus source =
    * doc_id mod 20, so a modular split ALIASES with the domain
    * structure and holds out only 4 of 20 sources; the hash split is
    * alias-free by construction against any id-derived attribute
    * (exactly why P1 splits by hash). Scale shape: T15's scoring pass
    * plus a (sources)-bounded aggregate; the two corpus-wide scalars
    * are bounded plan-time collects (T11 idiom).
    */
  def domainReweight(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("__held",
        conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
          .cast("long") % 100 >= 80)
    val m = graft.text.TextQueries.jmTrain(
      d.filter(!col("__held")).select(col("doc_id"), col("text")))
    // the doc_id→source attribution frame is corpus-sized (one row
    // per doc; its AQE-elected broadcast measured 1.4 MB at sf1 —
    // grows without bound), so the join is pinned SHUFFLE_HASH
    val scored = graft.CachedFrames.persist(
      graft.text.TextQueries.jmScore(m)(
        d.filter(col("__held")).select(col("doc_id"), col("text")))
        .join(d.select(col("doc_id"), col("source")).hint("shuffle_hash"),
          Seq("doc_id")))
    val base = scored.agg(
      coalesce(expr("sum(nll_micro) div count(1)"), lit(0L)))
      .head().getLong(0)
    val per = graft.CachedFrames.persist(scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(nll_micro) div count(1)").as("mean_nll_micro"))
      .withColumn("excess_micro",
        greatest(lit(0L), col("mean_nll_micro") - lit(base))))
    val tot = per.agg(coalesce(sum(col("excess_micro")), lit(0L)))
      .head().getLong(0)
    per.withColumn("weight_ppm",
        if (tot == 0L) lit(0L)
        else expr(s"excess_micro * 1000000 div $tot"))
      .select(col("source"), col("n_docs"), col("mean_nll_micro"),
        col("excess_micro"), col("weight_ppm"))
      .orderBy(col("source"))
  }

  /** The T15 scoring chain with P1's hash-bucket held-out rule in
    * place of the mod-5 split (see the aliasing note above).
    */
  private val jmHashSplitSql: String = """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             (('0x' || substring(md5(doc_id::VARCHAR), 1, 7))::BIGINT
               % 100 >= 80) AS held
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    tr AS (SELECT doc_id, w FROM d WHERE NOT held),
    trp AS (SELECT w[i] AS prev, w[i+1] AS cur
            FROM (SELECT w, unnest(range(1, len(w))) AS i FROM tr)),
    hop AS (SELECT doc_id, w[i] AS prev, w[i+1] AS cur
            FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                  FROM d WHERE held)),
    uni AS (SELECT word, count(*) AS cu
            FROM (SELECT unnest(w) AS word FROM tr) GROUP BY word),
    tot AS (SELECT sum(cu)::BIGINT AS nt, count(*) + 1 AS v FROM uni),
    ctx AS (SELECT prev, count(*) AS cn FROM trp GROUP BY prev),
    big AS (SELECT prev, cur, count(*) AS cb FROM trp GROUP BY prev, cur),
    pairsc AS (
      SELECT doc_id,
             CAST(round(-ln(
               """ + graft.text.TextQueries.JmLambda + """ *
                 (CASE WHEN cb IS NULL THEN 0.0
                  ELSE CAST(cb AS DOUBLE) / CAST(cn AS DOUBLE) END)
               + """ + graft.text.TextQueries.JmLambdaC + """ *
                 (CAST(coalesce(cu, 0) + 1 AS DOUBLE)
                 / CAST(nt + v AS DOUBLE))) * 1000000.0, 0) AS BIGINT)
               AS nll_pair_micro
      FROM hop LEFT JOIN big USING (prev, cur)
               LEFT JOIN ctx USING (prev)
               LEFT JOIN uni ON uni.word = hop.cur, tot),
    docsc AS (
      SELECT doc_id,
             (sum(nll_pair_micro)::BIGINT // count(*)) AS nll_micro
      FROM pairsc GROUP BY doc_id)"""

  val domainReweightSql: String = s"""
    $jmHashSplitSql,
    scored AS (
      SELECT sc.doc_id, sc.nll_micro, d2.source
      FROM docsc sc
      JOIN documents d2 ON d2.doc_id = sc.doc_id),
    alls AS (SELECT sum(nll_micro)::BIGINT // count(*) AS m FROM scored),
    per AS (SELECT source, count(*) AS n_docs,
                   sum(nll_micro)::BIGINT // count(*) AS mean_nll_micro
            FROM scored GROUP BY source),
    ex AS (SELECT source, n_docs, mean_nll_micro,
                  greatest(0, mean_nll_micro - m)::BIGINT AS excess_micro
           FROM per, alls),
    extot AS (SELECT sum(excess_micro)::BIGINT AS te FROM ex)
    SELECT source, n_docs, mean_nll_micro, excess_micro,
           (CASE WHEN te = 0 THEN 0
                 ELSE excess_micro * 1000000 // te END)::BIGINT
             AS weight_ppm
    FROM ex, extot ORDER BY source"""

  /** P26: token-budget greedy selection — "spend a fixed token budget
    * on the best documents": rank the corpus by the T2 quality score,
    * admit documents in score order until the cumulative token
    * estimate reaches budget = corpus_tokens/4 (the last admitted doc
    * may overshoot — standard greedy knapsack semantics). This is
    * P4's distributed two-phase prefix sum RE-KEYED BY SCORE: the
    * coarse bucket is a quantized score BAND (q_micro div 10⁴ — 100
    * bands over [0,1]), band totals prefix-scan descending and
    * broadcast back, the within-band window partitions by band — so
    * the corpus-sized cumulative sum never funnels through one task
    * even though the order is a ranking, not an id. Exactness: the
    * score quantizes to integer micro once (both engines round the
    * same 6dp double), tokens and all cumulative sums are exact
    * BIGINTs, the budget is one integer floor-division scalar.
    */
  def dataBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.text.TextQueries.withQuality(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"),
        expr("cast(aggregate(transform(w, x -> cast(ceil(length(x) / 4.0) " +
          "as bigint)), cast(0 as bigint), (acc, x) -> acc + x) as bigint)")
          .as("tokens"),
        round(col("quality") * 1e6, 0).cast("long").as("q_micro"))
      .withColumn("band", expr("q_micro div 10000"))
    val budget = toks.agg(coalesce(sum(col("tokens")), lit(0L)))
      .head().getLong(0) / 4L
    val bandTotals = toks.groupBy(col("band"))
      .agg(sum(col("tokens")).as("bt"))
    val offsets = bandTotals.withColumn("offset",
      coalesce(sum(col("bt")).over(Window.orderBy(col("band").desc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("band"), col("offset"))
    val within = Window.partitionBy(col("band"))
      .orderBy(col("q_micro").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(broadcast(offsets), Seq("band"))
      .withColumn("cum_before",
        col("offset") + coalesce(sum(col("tokens")).over(within), lit(0L)))
      .withColumn("kept", (col("cum_before") < budget).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_selected"),
        sum(col("tokens")).as("tokens_total"),
        sum(col("tokens") * col("kept")).as("tokens_selected"))
      .orderBy(col("source"))
  }

  val dataBudgetSelectSql: String = {
    val q = graft.text.TextQueries.qualitySqlExpr("text")
    s"""
    WITH toks AS (
      SELECT doc_id, source,
             list_sum(list_transform(string_split(text, ' '),
               x -> ceil(len(x) / 4.0)))::BIGINT AS tokens,
             round(($q) * 1e6, 0)::BIGINT AS q_micro
      FROM documents),
    budget AS (SELECT sum(tokens)::BIGINT // 4 AS b FROM toks),
    ranked AS (
      SELECT source, tokens,
             coalesce(sum(tokens) OVER (ORDER BY q_micro DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS cum_before
      FROM toks)
    SELECT source, count(*) AS n_docs,
           sum(CASE WHEN cum_before < b THEN 1 ELSE 0 END)::BIGINT
             AS n_selected,
           sum(tokens)::BIGINT AS tokens_total,
           sum(CASE WHEN cum_before < b THEN tokens ELSE 0 END)::BIGINT
             AS tokens_selected
    FROM ranked, budget GROUP BY source ORDER BY source"""
  }

  /** P27: mixing-temperature sweep — P10 picks ONE α; this emits the
    * whole tuning curve (the D26/S22 knob-selection discipline applied
    * to corpus mixing): per α rung, every source's sampling share plus
    * the two numbers a curator trades off — the mixture ENTROPY
    * (higher = flatter = more diversity) and the MAX single-source
    * share (lower = less domination). α=1 is proportional (entropy of
    * the raw corpus), α→0 approaches uniform; the elbow between them
    * is a read off this table. Exactness discipline: exponents are
    * {¼,½,¾,1} so every w_raw is a composition of correctly-rounded
    * sqrt calls (IEEE-identical in both engines — `pow` is NOT
    * correctly rounded and would drift in the last ulp), each w
    * quantizes to integer micro BEFORE the per-rung total (the P10
    * rule: never sum unquantized doubles), shares are integer ppm,
    * entropy terms quantize per source before the exact BIGINT sum.
    * All frames are ≤ |sources|·|ladder| rows — plan-time tiny.
    */
  val AlphaSweepPcts: Seq[Int] = Seq(25, 50, 75, 100)

  def dataAlphaSweep(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val laddered = counts
      .select(col("source"), col("n_docs"),
        explode(typedLit(AlphaSweepPcts)).as("alpha_pct"))
      .withColumn("w_raw",
        when(col("alpha_pct") === 25, sqrt(sqrt(col("n_docs"))))
          .when(col("alpha_pct") === 50, sqrt(col("n_docs")))
          .when(col("alpha_pct") === 75,
            sqrt(col("n_docs")) * sqrt(sqrt(col("n_docs"))))
          .otherwise(col("n_docs") * lit(1.0)))
      .withColumn("w_micro", round(col("w_raw") * 1e6, 0).cast("long"))
    val totals = laddered.groupBy(col("alpha_pct"))
      .agg(sum(col("w_micro")).as("w_total"))
    laddered.join(totals, Seq("alpha_pct"))
      .withColumn("share_ppm",
        expr("w_micro * 1000000 div w_total"))
      .withColumn("ent_term_micro", round(
        -(col("w_micro").cast("double") / col("w_total").cast("double")) *
          log(col("w_micro").cast("double") / col("w_total").cast("double"))
          * 1e6, 0).cast("long"))
      .groupBy(col("alpha_pct"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("ent_term_micro")).as("entropy_micro"),
        max(col("share_ppm")).as("max_share_ppm"))
      .orderBy(col("alpha_pct"))
  }

  val dataAlphaSweepSql: String = s"""
    WITH c AS (SELECT source, count(*) AS n_docs FROM documents
               GROUP BY source),
    ladder AS (SELECT unnest([${AlphaSweepPcts.mkString(", ")}])
                 AS alpha_pct),
    l AS (
      SELECT source, n_docs, alpha_pct,
             CASE WHEN alpha_pct = 25 THEN sqrt(sqrt(n_docs))
                  WHEN alpha_pct = 50 THEN sqrt(n_docs)
                  WHEN alpha_pct = 75 THEN sqrt(n_docs) * sqrt(sqrt(n_docs))
                  ELSE n_docs * 1.0 END AS w_raw
      FROM c, ladder),
    w AS (SELECT source, alpha_pct,
                 round(w_raw * 1e6, 0)::BIGINT AS w_micro FROM l),
    t AS (SELECT alpha_pct, sum(w_micro)::BIGINT AS w_total
          FROM w GROUP BY alpha_pct)
    SELECT alpha_pct, count(*) AS n_sources,
           sum(CAST(round(-(CAST(w_micro AS DOUBLE) / CAST(w_total AS DOUBLE))
             * ln(CAST(w_micro AS DOUBLE) / CAST(w_total AS DOUBLE))
             * 1e6, 0) AS BIGINT))::BIGINT AS entropy_micro,
           max(w_micro * 1000000 // w_total)::BIGINT AS max_share_ppm
    FROM w JOIN t USING (alpha_pct)
    GROUP BY alpha_pct ORDER BY alpha_pct"""

  /** P30: length-bucketed batching ledger — the inference/training
    * efficiency twin of P4's packing: packing ELIMINATES padding by
    * concatenation; when sequences must stay whole (inference
    * serving, contrastive pairs), the standard move is power-of-two
    * LENGTH BUCKETS, and the decision-relevant number is the padding
    * each bucket still wastes vs the naive pad-everything-to-max
    * batch. Bucket = next power of two ≥ token count, floored at 16 —
    * computed with the E28 trick (`length(bin(n−1))` is bit_length in
    * BOTH engines, no libm log2). Waste ratios are exact integer
    * micros; the naive-baseline columns derive from window sums over
    * the ~10 BUCKET rows (the A54 bounded-axis case). The gate's
    * artifact is the table a batching config reads: per bucket, how
    * many docs, how much pad, and the saving vs not bucketing.
    */
  def dataLengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("size(split(text, ' '))").cast("long").as("n"))
    val bucketed = docs.withColumn("bucket",
      greatest(lit(16L), expr(
        "shiftleft(cast(1 as bigint), cast(length(bin(n - 1)) as int))")))
    val perBucket = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("sum_tokens"),
        sum(col("bucket") - col("n")).as("sum_padding"),
        max(col("n")).as("max_tokens"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    perBucket
      .withColumn("global_max", max(col("max_tokens")).over(w))
      .withColumn("naive_padding",
        sum(col("n_docs")).over(w) * col("global_max") -
          sum(col("sum_tokens")).over(w))
      .withColumn("waste_micro", expr(
        "sum_padding * 1000000 div (sum_padding + sum_tokens)"))
      .withColumn("naive_waste_micro", expr(
        "naive_padding * 1000000 div (naive_padding + " +
          "sum(sum_tokens) over ())"))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        col("sum_padding"), col("waste_micro"), col("naive_waste_micro"))
      .orderBy(col("bucket"))
  }

  val dataLengthBucketsSql: String = """
    WITH docs AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n
      FROM documents),
    bucketed AS (
      SELECT doc_id, n,
             greatest(16, 1::BIGINT << length(bin(n - 1))::INT) AS bucket
      FROM docs),
    pb AS (
      SELECT bucket, count(*)::BIGINT AS n_docs,
             sum(n)::BIGINT AS sum_tokens,
             sum(bucket - n)::BIGINT AS sum_padding,
             max(n)::BIGINT AS max_tokens
      FROM bucketed GROUP BY 1),
    gl AS (
      SELECT bucket, n_docs, sum_tokens, sum_padding,
             max(max_tokens) OVER ()::BIGINT AS global_max,
             sum(n_docs) OVER ()::BIGINT AS all_docs,
             sum(sum_tokens) OVER ()::BIGINT AS all_tokens
      FROM pb)
    SELECT bucket, n_docs, sum_tokens, sum_padding,
           sum_padding * 1000000 // (sum_padding + sum_tokens)
             AS waste_micro,
           (all_docs * global_max - all_tokens) * 1000000
             // (all_docs * global_max - all_tokens + all_tokens)
             AS naive_waste_micro
    FROM gl ORDER BY bucket"""

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "data_length_buckets" -> (dataLengthBuckets _),
    "data_alpha_sweep" -> (dataAlphaSweep _),
    "decontam_report" -> (decontamReport _),
    "data_budget_select" -> (dataBudgetSelect _),
    "ppl_filter" -> (pplFilter _),
    "source_report" -> (sourceReport _),
    "domain_reweight" -> (domainReweight _),
    "doc_scorecard" -> (docScorecard _),
    "data_alpha_mix_dedup" -> (dataAlphaMixDedup _),
    "quality_mix" -> (qualityMix _),
    "split_leakage_free" -> (splitLeakageFree _),
    "dsir_select" -> (dsirSelect _),
    "pii_scrub" -> (piiScrub _),
    "text_bigram_lm" -> (textBigramLm _),
    "stratified_sample" -> (stratifiedSample _),
    "data_split" -> (dataSplit _),
    "text_filter_chain" -> (textFilterChain _),
    "text_decontam" -> (textDecontam _),
    "data_pack" -> (dataPack _),
    "data_pack_tokens" -> (dataPackTokens _),
    "data_pack_shuffled" -> (dataPackShuffled _),
    "data_shard_manifest" -> (dataShardManifest _),
    "data_read_shard" -> (ShardReader.dataReadShard _),
    "data_read_shard_resume" -> (ShardReader.dataReadShardResume _),
    "data_epoch_order" -> (dataEpochOrder _),
    "data_mix" -> (dataMix _),
    "data_alpha_mix" -> (dataAlphaMix _),
    "source_overlap" -> (sourceOverlap _),
    "sketch_kmv" -> (sketchKmv _),
    "weighted_sample" -> (weightedSample _),
    "sketch_kmv_overlap" -> (sketchKmvOverlap _),
    "data_dedup_budget" -> (dataDedupBudget _),
    "data_epoch_value" -> (dataEpochValue _),
    "text_unigram_lm" -> (textUnigramLm _))

  def oracles: Map[String, String] = Map(
    "data_length_buckets" -> dataLengthBucketsSql,
    "data_alpha_sweep" -> dataAlphaSweepSql,
    "decontam_report" -> decontamReportSql,
    "data_budget_select" -> dataBudgetSelectSql,
    "ppl_filter" -> pplFilterSql,
    "source_report" -> sourceReportSql,
    "domain_reweight" -> domainReweightSql,
    "doc_scorecard" -> docScorecardSql,
    "data_alpha_mix_dedup" -> dataAlphaMixDedupSql,
    "quality_mix" -> qualityMixSql,
    "split_leakage_free" -> splitLeakageFreeSql,
    "dsir_select" -> dsirSelectSql,
    "data_alpha_mix" -> dataAlphaMixSql,
    "source_overlap" -> sourceOverlapSql,
    "sketch_kmv" -> sketchKmvSql,
    "weighted_sample" -> weightedSampleSql,
    "sketch_kmv_overlap" -> sketchKmvOverlapSql,
    "data_dedup_budget" -> dataDedupBudgetSql,
    "data_epoch_value" -> dataEpochValueSql,
    "pii_scrub" -> piiScrubSql,
    "text_bigram_lm" -> textBigramLmSql,
    "stratified_sample" -> stratifiedSampleSql,
    "data_split" -> dataSplitSql,
    "text_filter_chain" -> textFilterChainSql,
    "text_decontam" -> textDecontamSql,
    "data_pack" -> dataPackSql,
    "data_pack_tokens" -> dataPackTokensSql,
    "data_pack_shuffled" -> dataPackShuffledSql,
    "data_shard_manifest" -> dataShardManifestSql,
    "data_read_shard" -> ShardReader.dataReadShardSql,
    "data_read_shard_resume" -> ShardReader.dataReadShardResumeSql,
    "data_epoch_order" -> dataEpochOrderSql,
    "data_mix" -> dataMixSql,
    "text_unigram_lm" -> textUnigramLmSql)
}
