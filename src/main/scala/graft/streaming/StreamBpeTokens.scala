package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** R24: BPE token accounting AT INGEST — T17's encoder run
  * continuously over arriving documents against a tokenizer trained
  * OFFLINE (T16). The deployment shape is the frozen-tokenizer one:
  * training produces a dimension table (word → subword token count,
  * [[graft.text.TextQueries.bpeTokenCounts]]), and the ingest path is one
  * STREAM-STATIC left join of the arriving word stream against it
  * plus an UPDATE-mode per-doc aggregate (each document explodes
  * inside its own trigger, so its total is final on arrival — the R23
  * argument). Token budgets (P13's accounting, P4's packing) can thus
  * admit or defer a document the moment it lands.
  *
  * OOV rule: a word the trained vocabulary has never seen falls back
  * to its character cost (chars + end marker) — exactly what
  * character-fallback BPE inference does — and the per-doc `n_oov`
  * count rides along so drift of the live stream away from the
  * training corpus is itself a monitored number.
  */
object StreamBpeTokens {

  /** Score a streaming (doc_id, text) frame against the (word, n_toks)
    * table: one row per arriving doc with (n_words, n_bpe_tokens,
    * n_oov).
    */
  def encode(toks: DataFrame)(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(toks, Seq("word"), "left")
      .withColumn("cost",
        coalesce(col("n_toks"), length(col("word")).cast("long") + 1L))
      .withColumn("oov", when(col("n_toks").isNull, 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("cost")).as("n_bpe_tokens"),
        sum(col("oov")).as("n_oov"))
}
