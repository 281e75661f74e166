package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

class DeployedSpec extends AnyFunSuite with SharedSpark {
  /** An artifact build that counts its runs and leaves one file. */
  private def counted(n: AtomicInteger)(out: String): Unit = {
    n.incrementAndGet()
    Files.writeString(Paths.get(out, "part"), "x")
  }

  private def exists(p: String): Boolean = Files.exists(Paths.get(p))

  test("four concurrent lookups of one key run one build") {
    val builds = new AtomicInteger(0)
    val outs = operators.Concurrent.par(Seq.fill(4)(() =>
      Deployed.artifact(spark, "spec-par", "c") { out =>
        Thread.sleep(300)
        counted(builds)(out)
      }))
    assert(builds.get === 1)
    assert(outs.distinct.size === 1)
    // every artifact lives under the one per-JVM root in java.io.tmpdir
    val dir = Paths.get(outs.head)
    assert(dir.getParent.getFileName.toString.startsWith("graft-deployed"))
    assert(dir.getParent.getParent.toRealPath() ===
      Paths.get(System.getProperty("java.io.tmpdir")).toRealPath())
    Deployed.release("spec-par")
  }

  test("a build that looks up another kind completes") {
    val nested = Future {
      Deployed.artifact(spark, "spec-outer", "c") { out =>
        val v = Deployed.memo(spark, "spec-inner", "c")(21)
        Files.writeString(Paths.get(out, "v"), (2 * v).toString)
      }
    }
    val out = Await.result(nested, 60.seconds)
    assert(Files.readString(Paths.get(out, "v")) === "42")
    Deployed.release("spec-outer")
    Deployed.release("spec-inner")
  }

  test("another session rebuilds and the stale directory is deleted") {
    val builds = new AtomicInteger(0)
    val a = Deployed.artifact(spark, "spec-session", "c")(counted(builds))
    assert(Deployed.artifact(spark, "spec-session", "c")(counted(builds))
      === a)
    assert(builds.get === 1)
    val other = spark.newSession()
    val b = Deployed.artifact(other, "spec-session", "c")(counted(builds))
    assert(builds.get === 2)
    assert(b !== a)
    assert(!exists(a))
    assert(exists(b))
    assert(Deployed.memo(other, "spec-session-memo", "c")(1) === 1)
    assert(Deployed.memo(spark, "spec-session-memo", "c")(2) === 2)
    Deployed.release("spec-session")
    Deployed.release("spec-session-memo")
  }

  test("release(kind) and releaseAll() delete their directories") {
    val builds = new AtomicInteger(0)
    val a = Deployed.artifact(spark, "spec-rel-a", "c")(counted(builds))
    val b = Deployed.artifact(spark, "spec-rel-b", "c")(counted(builds))
    Deployed.release("spec-rel-a")
    assert(!exists(a))
    assert(exists(b))
    val a2 = Deployed.artifact(spark, "spec-rel-a", "c")(counted(builds))
    assert(builds.get === 3)
    Deployed.releaseAll()
    assert(!exists(a2))
    assert(!exists(b))
  }

  test("knnOpq from a new session returns frames bound to that session") {
    val corpus = Files.createTempDirectory("deployed-spec")
    try {
      writeEmbeddings(corpus)
      val dir = corpus.toString
      val first = sim.SimQueries.knnOpq(spark, dir)
      assert(first.sparkSession eq spark)
      val want = first.collect().toSeq
      val other = spark.newSession()
      val again = sim.SimQueries.knnOpq(other, dir)
      assert(again.sparkSession eq other)
      assert(again.collect().toSeq === want)
    } finally {
      Deployed.release("opq-chosen")
      org.apache.commons.io.FileUtils.deleteQuietly(corpus.toFile)
    }
  }

  /** 240 64-d vectors around 8 labelled centres. */
  private def writeEmbeddings(dir: Path): Unit = {
    val r = new scala.util.Random(7)
    val centres = Array.fill(8, 64)(r.nextGaussian())
    val rows = (0 until 240).map { i =>
      val c = i % 8
      Row(i.toLong,
        centres(c).map(x => (x + 0.5 * r.nextGaussian()).toFloat).toSeq, c)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }
}
