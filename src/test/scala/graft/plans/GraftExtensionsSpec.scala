package graft.plans

import graft.SharedSpark
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  // extensions are fixed when a session is built: build one over the
  // shared context (getOrCreate() would hand back the shared session
  // without them), leaving the shared one default and active
  lazy val spark: SparkSession = SharedSpark.own(
    SparkSession.builder().withExtensions(new GraftExtensions))

  test("graft_dot is callable from SQL and agrees with the fold") {
    val got = spark.sql("""
      SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d
    """).collect().head.getDouble(0)
    assert(got === 32.0)
  }

  test("graft_hamming is callable from SQL: counts differing " +
    "positions, NULL on width mismatch") {
    val r = spark.sql("""
      SELECT graft_hamming('10110', '10011') AS d,
             graft_hamming('abc', 'abcd') AS mismatch,
             graft_hamming('', '') AS empty
    """).collect().head
    assert(r.getLong(0) === 2L)
    assert(r.isNullAt(1))
    assert(r.getLong(2) === 0L)
  }

  test("graft_minhash / graft_simhash aggregate from SQL") {
    spark.range(100).selectExpr(
      "cast(conv(substring(md5(cast(id as string)), 1, 7), 16, 10) as bigint) AS h")
      .createOrReplaceTempView("hs")
    val sig = spark.sql("SELECT graft_minhash(h) AS sig FROM hs")
      .collect().head.getSeq[Long](0)
    assert(sig.length === graft.dedup.Shingling.NumHashes)
    assert(sig.forall(v => v >= 0 && v < graft.dedup.Shingling.P))
    val sim = spark.sql("SELECT graft_simhash(h) AS s FROM hs")
      .collect().head.getLong(0)
    assert(sim >= 0L && sim < (1L << graft.dedup.Shingling.SimHashBits))
  }

  test("graft_topk aggregates from SQL with literal k") {
    spark.range(100).selectExpr("id % 4 AS g", "cast(id as double) AS s", "id")
      .createOrReplaceTempView("tk")
    val rows = spark.sql(
      "SELECT g, graft_topk(s, id, 2) AS top FROM tk GROUP BY g ORDER BY g")
      .collect()
    assert(rows.length === 4)
    // group 0: top scores 96, 92 (ids descend by 4 from 96)
    val top0 = rows.head.getSeq[org.apache.spark.sql.Row](1)
    assert(top0.map(r => (r.getDouble(0), r.getLong(1))) ===
      Seq((96.0, 96L), (92.0, 92L)))
    val err = intercept[Exception] {
      spark.sql("SELECT graft_topk(s, id, s) FROM tk").collect()
    }
    assert(err.getMessage.contains("INT literal") ||
      err.getCause != null)
    val arity = intercept[Exception] {
      spark.sql("SELECT graft_topk(s, id) FROM tk").collect()
    }
    assert(arity.getMessage.contains("3 arguments") || arity.getCause != null)
    // INT score / INT id coerce at construction (no executor-side CCE)
    val coerced = spark.sql(
      "SELECT graft_topk(cast(id as int), cast(id as int), 1)[0].score " +
        "FROM tk").collect().head.getDouble(0)
    assert(coerced === 99.0)
  }

  test("optimizer rewrites the zip_with/aggregate fold into DotProduct") {
    import org.apache.spark.sql.functions._
    graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("embedding").cast("array<double>").as("v"))
      .createOrReplaceTempView("emb_rw")
    // non-literal input: constant folding can't collapse it first
    val df = spark.sql("""
      SELECT aggregate(zip_with(v, v, (x, y) -> x * y), 0.0d,
               (acc, x) -> acc + x) AS d FROM emb_rw
    """)
    val optimized = df.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("dotproduct("), optimized)
    assert(!optimized.contains("zip_with"), optimized)
  }

  test("rewrite does NOT fire on folds that merely look like a dot product") {
    import org.apache.spark.sql.functions._
    graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("embedding").cast("array<double>").as("v"))
      .createOrReplaceTempView("emb_neg")
    val lookalikes = Seq(
      // (x, y) -> x * x: not the pairwise product of both args
      """SELECT aggregate(zip_with(v, v, (x, y) -> x * x), 0.0d,
           (acc, x) -> acc + x) AS d FROM emb_neg""",
      // (acc, x) -> acc + acc: not the accumulating sum
      """SELECT aggregate(zip_with(v, v, (x, y) -> x * y), 0.0d,
           (acc, x) -> acc + acc) AS d FROM emb_neg""",
      // non-identity finish
      """SELECT aggregate(zip_with(v, v, (x, y) -> x * y), 0.0d,
           (acc, x) -> acc + x, acc -> acc + 1.0d) AS d FROM emb_neg""",
      // non-zero start
      """SELECT aggregate(zip_with(v, v, (x, y) -> x * y), 1.0d,
           (acc, x) -> acc + x) AS d FROM emb_neg""")
    lookalikes.foreach { sql =>
      val opt = spark.sql(sql).queryExecution.optimizedPlan.toString()
      assert(!opt.contains("dotproduct("), s"wrongly rewrote: $sql\n$opt")
    }
  }

  test("graft_dot matches the fold's null semantics exactly") {
    // zip_with pads unequal lengths with null and x*null poisons the
    // fold; null elements do too — DotProduct must agree so the
    // optimizer rewrite never changes a result
    val rows = spark.sql("""
      SELECT graft_dot(array(1.0d, 2.0d), array(3.0d)) AS len_mismatch,
             graft_dot(array(1.0d, cast(null as double)),
                       array(1.0d, 2.0d)) AS null_element,
             graft_dot(cast(null as array<double>),
                       array(1.0d)) AS null_input,
             graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS clean
    """).collect().head
    assert(rows.isNullAt(0) && rows.isNullAt(1) && rows.isNullAt(2))
    assert(rows.getDouble(3) === 11.0)
  }

  test("graft_heavy_hitters / graft_bloom SQL faces run the sketches") {
    import spark.implicits._
    // skewed stream: item 7 dominates
    (Seq.fill(60)(7L) ++ (1L to 40L)).toDF("x")
      .createOrReplaceTempView("hh_items")
    val summary = spark.sql(
      "SELECT graft_heavy_hitters(x, 5) AS s FROM hh_items")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(summary.size <= 5)
    // 7 has freq 60 > 100/6: the MG guarantee says it must survive,
    // and its lower bound never exceeds the true count
    val seven = summary.find(_.getLong(0) == 7L)
    assert(seven.isDefined, s"heavy item evicted: $summary")
    assert(seven.get.getLong(1) <= 60L)

    val words = spark.sql(
      "SELECT graft_bloom(cast(x as string), 1024, 3) AS bf FROM hh_items")
      .collect().head.getSeq[Long](0)
    assert(words.length === 1024 / 64)
    // every inserted key probes positive through the same hash family
    val misses = spark.sql(
      """SELECT count(*) AS missing FROM hh_items,
        |  (SELECT graft_bloom(cast(x as string), 1024, 3) AS bf
        |   FROM hh_items) f
        |WHERE NOT (
        |  (shiftrightunsigned(element_at(f.bf, cast(
        |     pmod(cast(conv(substring(md5(concat('1-', cast(x as string))),
        |       1, 7), 16, 10) as bigint), 1024) div 64 as int) + 1),
        |   cast(pmod(cast(conv(substring(md5(concat('1-',
        |     cast(x as string))), 1, 7), 16, 10) as bigint), 1024) % 64
        |     as int)) & 1) = 1)""".stripMargin)
      .collect().head.getLong(0)
    assert(misses === 0L)
  }

  test("graft_kmv SQL face builds the distinct bottom-k sketch") {
    import spark.implicits._
    // duplicates must not occupy sketch slots: 300 rows, 100 distinct
    (1L to 300L).map(i => i % 100).toDF("x")
      .createOrReplaceTempView("kmv_items")
    val mins = spark.sql("SELECT graft_kmv(x, 16) AS m FROM kmv_items")
      .collect().head.getSeq[Long](0)
    assert(mins === (0L to 15L),
      s"bottom-16 of 0..99 with duplicates should be 0..15, got $mins")
  }

  test("graft_countmin SQL face builds the counter matrix") {
    import spark.implicits._
    (1 to 120).map(i => s"u-${i % 30}").toDF("x")
      .createOrReplaceTempView("cm_items")
    val cm = spark.sql("SELECT graft_countmin(x, 2, 64) AS m FROM cm_items")
      .collect().head.getSeq[Long](0)
    assert(cm.length === 128)
    // each hash row distributes all 120 increments
    assert(cm.slice(0, 64).sum === 120L && cm.slice(64, 128).sum === 120L)
  }

  test("rewrite preserves results on real embedding data") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("embedding").cast("array<double>").as("v"))
    e.createOrReplaceTempView("emb")
    val viaFold = spark.sql("""
      SELECT sum(aggregate(zip_with(v, v, (x, y) -> x * y), 0.0d,
                 (acc, x) -> acc + x)) AS s FROM emb
    """).collect().head.getDouble(0)
    val viaExpr = e.select(sum(
      graft.functions.VectorFunctions.dot(col("v"), col("v"))).as("s"))
      .collect().head.getDouble(0)
    assert(viaFold === viaExpr)
  }
}
