package graft.vcr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** V12: tape integrity check — the fsck that completes the tape's ops
  * lifecycle (record → compact → expire → VERIFY). A tape file's
  * contract is carried half in its NAME (`{firstSeq}-{lastSeq}.txt`,
  * first ≤ last) and half in its CONTENT (one standard-Base64 line per
  * record, no more lines than the declared seq-range width). Crashes,
  * partial copies, and hand edits break exactly these invariants, and
  * a replay over a corrupt file either throws mid-stream or silently
  * emits garbage payloads — fsck finds it first.
  *
  * Execution shape: one distributed pass over the tape's raw lines
  * ([[Tape.scan]]'s `line`; payloads are never decoded, and empty
  * lines are skipped as replay skips them) — every line decodes
  * through `try_to_binary(..., 'base64')` (null = malformed, a codegen
  * check, no parsing on the driver) and aggregates per file; the name
  * contract is the scan's `seq_first`/`seq_last`, parsed from the file
  * name. No payload byte ever reaches the driver; verdicts are
  * per-file rows a maintenance job can alert on.
  *
  * Verdict precedence: `bad_name` (range unparseable or inverted — the
  * file can't even be addressed) → `bad_lines` (undecodable content)
  * → `overfull` (more records than the declared range width — the
  * name lies about the content) → `ok`. Empty files surface as
  * overfull? No: an empty file produces no rows for this pass, which
  * is exactly what it contributes to a replay; directory-level
  * accounting (files seen vs files with rows) is the compactor's
  * listing's job.
  */
object TapeFsck {

  def fsck(spark: SparkSession, root: String, stream: String): DataFrame = {
    Tape.scan(spark, s"$root/$stream")
      .select(col(Tape.LineCol), Tape.fileName.as("file"), col(Tape.DtCol),
        col("seq_first"), col("seq_last"))
      .withColumn("bad_line",
        when(expr(s"try_to_binary(${Tape.LineCol}, 'base64')").isNull, 1L)
          .otherwise(0L))
      .groupBy(col(Tape.DtCol), col("file"), col("seq_first"), col("seq_last"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("bad_line")).as("n_bad_lines"))
      .withColumn("name_ok", coalesce(col("seq_first") <= col("seq_last"), lit(false)))
      .withColumn("range_width",
        when(col("name_ok"), col("seq_last") - col("seq_first") + 1L))
      .withColumn("status",
        when(!col("name_ok"), "bad_name")
          .when(col("n_bad_lines") > 0, "bad_lines")
          .when(col("n_lines") > col("range_width"), "overfull")
          .otherwise("ok"))
      .select(col(Tape.DtCol), col("file"), col("status"),
        col("n_lines"), col("n_bad_lines"), col("range_width"))
      .orderBy(col(Tape.DtCol), col("file"))
  }
}
