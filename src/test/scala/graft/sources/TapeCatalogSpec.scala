package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SharedSpark
import graft.vcr.{Tape, TapeWriter}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TapeCatalogSpec extends AnyFunSuite with SharedSpark {
  private val root = Files.createTempDirectory("graft-cat").toString

  // the catalog loads once into the session that first names it: a
  // session of its own keeps `tapes` out of the shared one
  override lazy val spark: SparkSession = SharedSpark.newSession(
    "spark.sql.catalog.tapes" -> classOf[TapeCatalog].getName,
    "spark.sql.catalog.tapes.root" -> root)

  private def writeStream(name: String, n: Int): Unit = {
    import spark.implicits._
    val records = (1 to n).map { i =>
      (s"$name-$i".getBytes(UTF_8), i.toLong,
        java.sql.Timestamp.valueOf("2024-04-01 08:00:00"))
    }.toDF(Tape.DataCol, Tape.SeqCol, Tape.TsCol)
    TapeWriter.write(records, root, name, numFiles = 2)
  }

  test("streams appear as catalog tables and answer SQL") {
    writeStream("clicks", 40)
    writeStream("errors", 7)

    val tables = spark.sql("SHOW TABLES IN tapes.streams")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(tables === Set("clicks", "errors"))

    val n = spark.sql(
      "SELECT count(*) AS n FROM tapes.streams.clicks WHERE dt = '2024-04-01'")
      .collect().head.getLong(0)
    assert(n === 40L)
    val decoded = spark.sql(
      "SELECT cast(payload AS STRING) AS p FROM tapes.streams.errors")
      .collect().map(_.getString(0)).toSet
    assert(decoded === (1 to 7).map(i => s"errors-$i").toSet)
  }

  test("missing tables and DDL are refused") {
    intercept[Exception] {
      spark.sql("SELECT * FROM tapes.streams.nope").collect()
    }
    val e = intercept[Exception] {
      spark.sql("DROP TABLE tapes.streams.clicks")
    }
    assert(e.getMessage.toLowerCase.contains("retention") ||
      e.getMessage.toLowerCase.contains("unsupported") ||
      e.getMessage.toLowerCase.contains("not supported"), e.getMessage)
  }
}
