package graft.sim

import graft.SharedSpark
import graft.functions.VectorFunctions.{dot, dotSeq, normalize, roundHalfUp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The deployed IVF-PQ serving closures prepare each query batch on
  * the driver. These specs pin that the served rows are the ones the
  * column-expression closure served (a reference restated below from
  * those expressions), that a batch runs few Spark jobs and no parquet
  * schema inference, and that the driver rounding twin is Spark's.
  */
class IvfPqServeSpec extends AnyFunSuite with SharedSpark with BeforeAndAfterAll {
  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("graft-ivfpq-serve").toString

  /** 500 seeded 64-dim vectors around 10 label centres, as (vec_id, v). */
  private lazy val vectors: Map[Long, Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    val centres = Seq.fill(10)(Vector.fill(64)(rnd.nextGaussian()))
    (0L until 500L).map(i => i ->
      centres((i % 10).toInt).map(_ + 0.6 * rnd.nextGaussian())).toMap
  }

  /** The corpus frame the index builds take: (vec_id, v, vn, label). */
  private lazy val corpus: DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      vectors.toSeq.sortBy(_._1)
        .map { case (i, v) => Row(i, v, (i % 10).toInt) }.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, v ARRAY<DOUBLE>, label INT"))
      .withColumn("vn", normalize(col("v")))
  }
  private lazy val rawArtifact = {
    val out = s"$tmp/raw"
    SimQueries.ivfPqIndexWriteOn(corpus, out)
    out
  }
  private lazy val resArtifact = {
    val out = s"$tmp/residual"
    SimQueries.ivfPqResIndexWriteOn(corpus, out)
    out
  }

  override def afterAll(): Unit = {
    graft.CachedFrames.releaseAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  private val QuerySchema = org.apache.spark.sql.types.StructType.fromDDL(
    "q_id BIGINT, v ARRAY<DOUBLE>")

  /** A local (q_id, v) batch, the shape a serving client passes. */
  private def batch(ids: Seq[Long]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(ids.map(i => Row(i, vectors(i))).asJava,
      QuerySchema)
  }

  private val batches = Seq(0L until 16L, 150L until 166L, 480L until 496L)

  /** The serving closure as it was written with column expressions:
    * probes by `array_max`/`array_sort` over round(dot, 6), residuals
    * by a broadcast centroid join, LUTs by an exploded struct array,
    * then the ADC tail over the plain codes table.
    */
  private def reference(artifact: String, residual: Boolean, nprobe: Int,
                        excludeSelf: Boolean)(raw: DataFrame): Array[Row] = {
    val cents = spark.read.parquet(s"$artifact/centroids")
      .select(col("label"), col("cvn")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toVector)).sortBy(_._1)
    val books = spark.read.parquet(s"$artifact/pq_codebooks").collect()
    def book(i: Int) = books.filter(_.getInt(0) == i)
      .map(r => (r.getLong(1), r.getSeq[Double](2).toVector)).sortBy(_._1)
      .toSeq
    val vn = raw.withColumn("vn", normalize(col("v")))
    val probed =
      if (nprobe <= 1)
        vn.select(col("q_id"), col("vn"), (array_max(array(cents.map {
          case (l, c) => struct(round(dot(col("vn"), typedLit(c)), 6)
            .as("ccos"), lit(-l).as("neg_label"))
        }: _*)).getField("neg_label") * lit(-1)).as("cluster"))
      else {
        val sorted = array_sort(array(cents.map { case (l, c) =>
          struct(round(dot(col("vn"), typedLit(c)), 6).as("ccos"),
            lit(l).as("label"))
        }: _*), (l, r) =>
          when(l.getField("ccos") > r.getField("ccos"), -1)
            .when(l.getField("ccos") < r.getField("ccos"), 1)
            .when(l.getField("label") < r.getField("label"), -1)
            .when(l.getField("label") > r.getField("label"), 1)
            .otherwise(0))
        vn.select(col("q_id"), col("vn"),
          explode(slice(sorted, 1, nprobe)).as("p"))
          .select(col("q_id"), col("vn"), col("p.label").as("cluster"))
      }
    // raw LUTs come from the query (one per q_id), residual ones from
    // each (query, probed list) residual
    val sub = (
      if (residual) {
        import spark.implicits._
        probed.join(broadcast(cents.toSeq.toDF("cluster", "cvec")),
          Seq("cluster"))
          .withColumn("r", expr("zip_with(vn, cvec, (a, b) -> a - b)"))
      } else vn.withColumn("r", col("vn")))
      .select(col("*"), slice(col("r"), 1, 32).as("s0"),
        slice(col("r"), 33, 32).as("s1"))
    val keys = if (residual) Seq("q_id", "cluster") else Seq("q_id")
    def lut(s: String, cb: Seq[(Long, Seq[Double])], code: String,
            d: String) =
      sub.select(keys.map(col) :+ explode(array(cb.map { case (c, cv) =>
        struct(lit(c).as(code), round(dot(col(s), col(s)) -
          lit(2.0) * dot(col(s), typedLit(cv)) + lit(dotSeq(cv, cv)), 6)
          .as(d))
      }: _*)).as("x"): _*)
        .select(keys.map(col) :+ col(s"x.$code") :+ col(s"x.$d"): _*)
    val joined = spark.read.parquet(s"$artifact/codes")
      .withColumn("cluster", col("cluster").cast("int"))
      .join(probed.select(col("q_id"), col("cluster")), Seq("cluster"))
    (if (excludeSelf) joined.filter(col("vec_id") =!= col("q_id"))
     else joined)
      .join(lut("s0", book(0), "code0", "d0"), keys :+ "code0")
      .join(lut("s1", book(1), "code1", "d1"), keys :+ "code1")
      .select(col("q_id"), col("vec_id").as("neighbor"), col("cluster"),
        round(col("d0") + col("d1"), 6).as("adc"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("adc"), col("neighbor"))))
      .filter(col("rank") <= SimQueries.TopK)
      .orderBy(col("q_id"), col("rank"))
      .collect()
  }

  for (residual <- Seq(false, true); nprobe <- Seq(1, 3)) {
    val kind = if (residual) "residual" else "raw"
    test(s"$kind serving at nprobe $nprobe returns the column-expression " +
      "closure's rows, adc included, on three batches") {
      val artifact = if (residual) resArtifact else rawArtifact
      val serve =
        if (residual) SimQueries.ivfPqResQueryServer(spark, artifact,
          excludeSelf = true, nprobe = nprobe)
        else SimQueries.ivfPqQueryServer(spark, artifact,
          excludeSelf = true, nprobe = nprobe)
      batches.foreach { ids =>
        val got = serve(batch(ids)).collect()
        val want = reference(artifact, residual, nprobe,
          excludeSelf = true)(batch(ids))
        assert(got.length == ids.length * SimQueries.TopK)
        // Row equality compares the boxed doubles with equals: bit for bit
        assert(got.toSeq == want.toSeq, s"batch ${ids.head}")
      }
    }
  }

  test("one served batch runs at most 8 Spark jobs and no parquet " +
    "schema inference of the codes table") {
    val serve = SimQueries.ivfPqQueryServer(spark, rawArtifact, nprobe = 3)
    serve(batch(batches.head)).collect() // warm: plan caches, codegen
    val (_, all) = SharedSpark.jobsOf(serve(batch(batches(1))).collect())
    assert(all.nonEmpty && all.size <= 8, s"${all.size} jobs: $all")
    // a codes table of more than 32 files (this one) is still listed by
    // a parallel-listing job under the same call site; only a job that
    // reads parquet footers for a schema is ruled out here
    val inferred = all.filter { case (stages, desc) =>
      stages.exists(_.contains("SnapshotManifest")) &&
        !desc.startsWith("Listing leaf files")
    }
    assert(inferred.isEmpty, s"a job read the snapshot schema: $all")
  }

  test("roundHalfUp is Spark's round(_, 6) on halfway decimals, " +
    "negatives, -0.0, 1e-7, NaN and infinities") {
    var x = 7L
    def next(): Double = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53) * 4.0 - 2.0
    }
    val xs = Seq(0.0000005, -0.0000005, 0.0000015, 1.0000005, -1.0000005,
      0.1234565, -0.1234565, 2.5e-6, 123.4567895, -0.0, 0.0, 1e-7, -1e-7,
      4.9e-7, -4.9e-7, 1e20, -1e20, Double.MinPositiveValue, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity) ++
      Seq.fill(200)(next())
    import spark.implicits._
    val frame = xs.toDF("x")
    // the local frame folds the projection into the plan (interpreted
    // eval); the shuffled one runs it in generated code
    Seq(frame, frame.repartition(3)).foreach { f =>
      val got = f.select(col("x"), round(col("x"), 6)).collect()
      assert(got.length == xs.length)
      got.foreach { r =>
        val spark6 = r.getDouble(1)
        val twin = roundHalfUp(r.getDouble(0), 6)
        assert(java.lang.Double.doubleToRawLongBits(twin) ==
          java.lang.Double.doubleToRawLongBits(spark6),
          s"round(${r.getDouble(0)}, 6): Spark $spark6, twin $twin")
      }
    }
  }
}
