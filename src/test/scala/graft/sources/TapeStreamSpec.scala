package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SharedSpark
import graft.vcr.Tape
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TapeStreamSpec extends AnyFunSuite with SharedSpark {
  private def records(from: Int, to: Int, day: Int) = {
    import spark.implicits._
    (from to to).map { i =>
      (s"s$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf(f"2024-03-0$day%d 10:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
  }

  test("tape streams: paced day-filtered replay") {
    val root = Files.createTempDirectory("graft-mb").toString
    val path = s"$root/s"
    records(1, 60, 1).repartition(3)
      .write.format("tape").option("ingest", "true").mode("append").save(path)
    records(61, 80, 2)
      .write.format("tape").option("ingest", "true").mode("append").save(path)

    val stream = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(path)
      .filter(col(Tape.DtCol) === "2024-03-01")
      .select(col(Tape.PayloadCol).cast("string").as("p"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("tape_mb").start()
    q.processAllAvailable()
    q.stop()

    val first = spark.table("tape_mb").collect().map(_.getString(0)).toSet
    assert(first === (1 to 60).map(i => s"s$i").toSet)
    // pacing: 1 file per trigger → at least 3 non-empty batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
  }

  test("live recorder flushes (latest day, higher seq) stream in") {
    val root = Files.createTempDirectory("graft-mb-live").toString
    val path = s"$root/s"
    records(1, 60, 1).repartition(3)
      .write.format("tape").option("ingest", "true").mode("append").save(path)
    records(61, 80, 2)
      .write.format("tape").option("ingest", "true").mode("append").save(path)

    val stream = spark.readStream.format("tape").load(path)
      .select(col(Tape.PayloadCol).cast("string").as("p"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("tape_live").start()
    q.processAllAvailable()
    assert(spark.table("tape_live").count() === 80)

    // a recorder keeps flushing forward: new file in the LATEST day
    // with higher sequence numbers (late flushes into consumed older
    // days are out of contract, like any file stream source)
    records(81, 90, 2)
      .write.format("tape").option("ingest", "true").mode("append").save(path)
    q.processAllAvailable()
    q.stop()
    val all = spark.table("tape_live").collect().map(_.getString(0)).toSet
    assert(all === (1 to 90).map(i => s"s$i").toSet)
  }

  test("offsets serialize and resume across a query restart") {
    val root = Files.createTempDirectory("graft-mb2").toString
    val path = s"$root/s"
    val ckpt = Files.createTempDirectory("graft-mb2-ckpt").toString
    records(1, 30, 1)
      .write.format("tape").option("ingest", "true").mode("append").save(path)

    val outDir = Files.createTempDirectory("graft-mb2-out").toString
    def run(): Unit = {
      // memory sinks don't support checkpoint recovery; a file sink does
      val q = spark.readStream.format("tape").load(path)
        .select(col(Tape.PayloadCol).cast("string").as("p"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    val n1 = spark.read.parquet(outDir).count()
    records(31, 40, 1)
      .write.format("tape").option("ingest", "true").mode("append").save(path)
    run() // restart from the checkpoint: only the new file replays
    val n2 = spark.read.parquet(outDir).count()
    assert(n1 === 30L)
    assert(n2 === 40L) // +10, not +40: the offset resumed, no re-replay
  }
}
