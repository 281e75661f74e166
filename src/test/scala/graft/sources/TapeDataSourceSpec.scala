package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SharedSpark
import graft.vcr.{Tape, TapeWriter}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TapeDataSourceSpec extends AnyFunSuite with SharedSpark {
  private def writeTape(): String = {
    val root = Files.createTempDirectory("graft-dsv2").toString
    import spark.implicits._
    val records = (1 to 300).map { i =>
      (s"payload-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-0${1 + (i - 1) * 3 / 300}%d 12:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    TapeWriter.write(records, root, "s", numFiles = 4)
    s"$root/s"
  }

  test("format(\"tape\") reads payloads with seq-range metadata columns") {
    val df = spark.read.format("tape").load(writeTape())
    assert(df.schema.fieldNames.toSeq ===
      Seq("payload", "dt", "src", "seq_first", "seq_last"))
    assert(df.count() === 300)
    val payloads = df.select(col("payload").cast("string"))
      .collect().map(_.getString(0)).toSet
    assert(payloads === (1 to 300).map(i => s"payload-$i").toSet)
    // seq metadata from file names brackets the actual sequence
    val bad = df.filter(col("seq_first").isNull ||
      col("seq_last") < col("seq_first")).count()
    assert(bad === 0)
  }

  test("dt filters prune day directories at planning time") {
    val path = writeTape()
    val df = spark.read.format("tape").load(path)
      .filter(col("dt") === "2024-01-02")
    assert(df.count() > 0)
    assert(df.select("dt").distinct().collect().map(_.getString(0)).toSeq ===
      Seq("2024-01-02"))
    // the pushed filter shows up in the scan description...
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("prunedBy=[") && plan.contains("dt"), plan)
    // ...and planning only touches the matching day dir
    val scan = new TapeScan(path,
      Array(org.apache.spark.sql.sources.EqualTo("dt", "2024-01-02")),
      TapeTable.Schema,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val parts = scan.planInputPartitions()
    val files = parts.flatMap(_.asInstanceOf[TapeInputPartition].files)
    assert(files.nonEmpty)
    assert(files.forall(_.dt == "2024-01-02"))
  }

  test("column pruning reaches the reader") {
    val df = spark.read.format("tape").load(writeTape())
      .select(col("dt"))
    // required schema at the scan is just dt
    val plan = df.queryExecution.executedPlan.toString()
    assert(df.distinct().count() === 3)
    assert(plan.contains("TapeScan") || plan.contains("BatchScan"), plan)
  }

  test("small files bin-pack into few input partitions") {
    val path = writeTape()
    val scan = new TapeScan(path, Array.empty, TapeTable.Schema,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val parts = scan.planInputPartitions()
    val nFiles = parts.map(_.asInstanceOf[TapeInputPartition].files.length).sum
    assert(nFiles >= 4) // several flush files exist...
    assert(parts.length < nFiles) // ...but fewer tasks than files
  }

  test("SQL can query the tape via the registered short name") {
    val path = writeTape()
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW tape_v USING tape OPTIONS (path '$path')")
    val n = spark.sql(
      "SELECT count(*) FROM tape_v WHERE dt >= '2024-01-02'").collect()
      .head.getLong(0)
    assert(n === 200)
  }
}
