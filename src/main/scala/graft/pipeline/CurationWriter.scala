package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** P29: the curated-corpus WRITER — where the whole curation suite
  * finally lands on disk. Everything upstream emits decisions
  * (verdict frames, scorecards, budgets); a training run reads
  * PARQUET. This face materializes the decisions:
  *
  *   documents ⟕ dedup purge plan (D30)  → keep keepers + uniques
  *            ⨝ any extra keep-list      → optional budget/quality cut
  *            → write parquet, partitioned by source
  *
  * Layout choices are the 100 TB ones: partitioned BY SOURCE (the
  * grain every mixing/weighting decision operates on — P5/P10 sample
  * per source, so a training loader prunes whole directories), sorted
  * within partitions by doc_id (stable, reproducible file contents —
  * two runs of the same plan produce byte-identical layouts), and
  * repartitioned to a bounded file count per source before the sink
  * (no thousand tiny files per partition; no single giant one).
  * The write is idempotent (overwrite of the target dir), and the
  * keep decision is an ANTI-JOIN against the drop side of the plan —
  * never a collect.
  */
object CurationWriter {

  /** Keep rows of `docs` that the purge plan keeps (verdict !=
    * 'drop_neardup'), optionally intersected with `keepList` (a
    * (doc_id) frame, e.g. P26's budget selection).
    */
  def curated(docs: DataFrame, purgePlan: DataFrame,
              keepList: Option[DataFrame] = None): DataFrame = {
    val drops = purgePlan.filter(col("verdict") === "drop_neardup")
      .select(col("doc_id"))
    val kept = docs.join(drops, Seq("doc_id"), "left_anti")
    keepList match {
      case Some(k) => kept.join(k.select(col("doc_id")), Seq("doc_id"),
        "left_semi")
      case None => kept
    }
  }

  /** Materialize the curated corpus at `outDir`, partitioned by
    * source, `filesPerSource` files per partition, doc_id-sorted
    * within files. Returns the number of rows written.
    */
  def write(s: SparkSession, dir: String, outDir: String,
            filesPerSource: Int = 1): Long = {
    val plan = graft.dedup.DedupQueries.dedupPurgePlan(s, dir)
    val out = curated(Tables.documents(s, dir), plan)
      .repartition(filesPerSource, col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
    out.write.mode("overwrite").partitionBy("source").parquet(outDir)
    s.read.parquet(outDir).count()
  }

  /** `write` with the T29 token-ID sequences materialized alongside
    * the text — the layout a training loader actually streams (ids in
    * order under the trained tokenizer, T29's dense symbol ranks):
    * curated docs LEFT-join the sequence table (a doc the tokenizer
    * produced no tokens for — empty text — carries an empty array, not
    * a dropped row), same source-partitioned doc_id-sorted layout.
    * Returns (rows written, total tokens written) — the bill P13's
    * budget accounting reconciles against.
    */
  def writeTokenized(s: SparkSession, dir: String, outDir: String,
                     filesPerSource: Int = 1): (Long, Long) = {
    val plan = graft.dedup.DedupQueries.dedupPurgePlan(s, dir)
    val seqs = graft.text.TextQueries.deployedTokenSequences(s, dir)
    val out = curated(Tables.documents(s, dir), plan)
      .join(seqs, Seq("doc_id"), "left")
      .withColumn("token_ids", coalesce(col("token_ids"),
        expr("cast(array() as array<bigint>)")))
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .repartition(filesPerSource, col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
    out.write.mode("overwrite").partitionBy("source").parquet(outDir)
    val back = s.read.parquet(outDir)
    (back.count(),
      back.agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0))
  }

  /** P38: the DECONTAMINATED writer — the P28 reconciliation report's
    * verdicts landing on disk: beyond the purge plan's near-dup
    * drops, remove every training document ANY decontamination
    * method flags (P3 exact-overlap ratio, P25 fuzzy bands, P34
    * exact-substring runs — the three-way union is the conservative
    * "touches the eval set at all" cut a benchmark-honest training
    * run makes). Same source-partitioned doc_id-sorted layout as
    * `write`; the flag set comes from one anti-join against the
    * report (never a collect). Returns (rows written, docs dropped
    * for contamination beyond the purge plan).
    */
  def writeDecontaminated(s: SparkSession, dir: String,
                          outDir: String,
                          filesPerSource: Int = 1): (Long, Long) = {
    val plan = graft.dedup.DedupQueries.dedupPurgePlan(s, dir)
    val flagged = PipelineQueries.decontamReport(s, dir)
      .select(col("doc_id"))
    val kept = curated(Tables.documents(s, dir), plan)
    val out = kept.join(flagged, Seq("doc_id"), "left_anti")
      .repartition(filesPerSource, col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
    out.write.mode("overwrite").partitionBy("source").parquet(outDir)
    val written = s.read.parquet(outDir).count()
    (written, kept.count() - written)
  }

  /** P37: the PACKED-BLOCK writer — the last materialization between
    * curation and the training loop: P32's continuous blocks written
    * as the parquet a loader actually memory-maps, one row per block
    * with the token ids IN ORDER (`token_ids[i]` is global position
    * `block_id * PackBlock + i`), plus the provenance columns
    * (n_tokens, n_docs, first_doc) and the same per-block md5 the P32
    * gate hash-pins — so a written artifact is CHECKABLE against the
    * gate bit-for-bit, not just counted. Layout: range-partitioned by
    * block_id into `nFiles` files, block-sorted within each — a rank
    * reading blocks [a, b) touches the minimal file set (the
    * dt-pruning discipline applied to the training axis). Idempotent
    * overwrite. Nothing is read back: the deploy step folds its
    * manifest from the written (block_id, n_tokens, token_md5) columns.
    */
  def writeBlocks(s: SparkSession, dir: String, outDir: String,
                  nFiles: Int = 4): Unit = {
    val stream = PipelineQueries.packedTokenStream(s, dir)
    val blocks = stream.groupBy(col("block_id"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        expr("transform(sort_array(collect_list(struct(gpos, tok))), " +
          "p -> p.tok)").as("token_ids"))
      .withColumn("token_md5",
        md5(concat_ws("-", expr(
          "transform(token_ids, t -> cast(t as string))"))))
      .repartitionByRange(nFiles, col("block_id"))
      .sortWithinPartitions(col("block_id"))
    blocks.write.mode("overwrite").parquet(outDir)
  }
}
