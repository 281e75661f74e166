package graft.vcr

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The tape format, re-expressed for Spark.
  *
  * The reference writes one S3 object per flushed buffer, named
  * `{stream}/{yyyy-MM-dd}/{firstSeq}-{lastSeq}`, containing one line of
  * standard Base64 per record payload (reference:
  * S3RecorderPipeline.java:45-58, InjectableS3Emitter.java:38-44).
  *
  * Here the same layout is a Hive-partitioned text dataset:
  * `{root}/{stream}/dt={yyyy-MM-dd}/{firstSeq}-{lastSeq}.txt` — so a
  * date-range replay lists and opens only the files of its days (the
  * [[scan]]'s `dt` pushdown), and the recorder's encode is a codegen'd
  * column expression instead of per-record Java.
  *
  * Logical record schema on the way in: `data BINARY, seq BIGINT,
  * ts TIMESTAMP` (ts drives the dt partition; seq drives file naming
  * and replay order).
  */
object Tape {
  val DataCol = "data"
  val SeqCol = "seq"
  val TsCol = "ts"
  val DtCol = "dt"
  val LineCol = "line"
  val PayloadCol = "payload"

  /** Base64 text line for a binary payload (reference
    * S3RecorderPipeline.java:53-57 — standard encoder, '\n' delimiter;
    * the delimiter is the text sink's line separator here).
    */
  def encodeLine(data: Column): Column = base64(data)

  /** Payload bytes from a tape line (reference KinesisPlayer.java:188). */
  def decodeLine(line: Column): Column = unbase64(line)

  /** UTC day partition value for a record timestamp (reference
    * InjectableS3Emitter.java:40-42 — Clock.systemUTC at emit time; we
    * use the record's own timestamp, which also gives replay a precise
    * in-day filter the reference approximates with object mtime).
    */
  def dtOf(ts: Column): Column = date_format(ts, "yyyy-MM-dd")

  /** The tape at `dir` through its one reader,
    * [[graft.sources.TapeScan]]: `payload, dt, src, seq_first,
    * seq_last`, plus the raw `line` when selected. A `dt` filter prunes
    * the day directories before they are listed.
    */
  def scan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("tape").load(dir)

  /** Exactly the data `files` of the tape at `dir`, through the same
    * reader; no directory is listed.
    */
  def scanFiles(spark: SparkSession, dir: String,
                files: Seq[String]): DataFrame =
    if (files.isEmpty) scan(spark, dir).where(lit(false))
    else spark.read.format("tape").load(files: _*)

  /** A tape row's file name: the basename of its `src` path. */
  def fileName: Column = regexp_extract(col("src"), "([^/]+)$", 1)

  /** Project a record frame (data/seq/ts) into tape-layout columns. */
  def toLines(records: DataFrame): DataFrame =
    records.select(
      encodeLine(col(DataCol)).as(LineCol),
      col(SeqCol),
      dtOf(col(TsCol)).as(DtCol))
}
