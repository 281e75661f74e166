package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable

import graft.Tables
import graft.dedup.DedupQueries
import graft.pipeline.{CurationWriter, ShardReader}
import graft.sim.SimQueries
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The training-data and retrieval side, in the order a fresh JVM meets
  * it:
  *
  *  1. curate, cold: purge plan → curated corpus → deployed loader
  *     artifact, from a fresh copy of the corpus so the corpus-keyed
  *     memos miss as they do for a batch curation job;
  *  2. an IVF-PQ index is built over a seeded Gaussian mixture;
  *  3. after 6 untimed warm-up batches, batches of 16 held-out queries
  *     are served with nprobe = 3, one at a time, for the run's seconds.
  *
  * `write_mb_s` is the corpus's text MB over the curate time;
  * `read_p50_ms` is the median batch latency.
  */
final class CurateAnnServe extends Workload {
  val Docs = 500
  val Vectors = 1000
  val Batch = 16
  val Pool = 256
  val NProbe = 3
  val WarmBatches = 6

  private var docsDir: String = _
  private var corpusBytes = 0L
  private var vecsDir: String = _
  private var vecs: Gen.Vectors = _
  private var exact: Array[Array[Long]] = _
  private val QuerySchema = StructType(Seq(StructField("q_id", LongType),
    StructField("v", ArrayType(DoubleType, containsNull = false))))

  override def generate(run: Run): Unit = {
    docsDir = run.freshDir("documents")
    corpusBytes = Gen.documents(run.spark, run.seed, Docs, docsDir)
    vecsDir = run.freshDir("embeddings")
    vecs = Gen.embeddings(run.spark, run.seed, Vectors, Pool, vecsDir)
    exact = Gen.exactTopK(vecs, SimQueries.TopK)
  }

  override def measure(run: Run): Report = {
    val curateS = curate(run)
    val latMs = serve(run)
    Report(Seq(
      ("write_mb_s", curateS.map(corpusBytes / 1e6 / _).getOrElse(Double.NaN), "MB/s"),
      ("read_p50_ms", Main.median(latMs), "ms")),
      curateS.size, latMs.size)
  }

  override def cleanUp(): Unit = {
    graft.CachedFrames.releaseAll()
    graft.text.TextQueries.releaseDeployedTokenSequences()
  }

  /** Corpus → deployed loader artifact, checked; returns its seconds. */
  private def curate(run: Run): Option[Double] = {
    val s = run.spark
    val corpus = run.freshDir("corpus")
    Files2.copy(Paths.get(docsDir), Paths.get(corpus))
    val plan = run.freshDir("purge-plan")
    val curated = run.freshDir("curated")
    val artifact = run.freshDir("artifact")
    try run.op("curate") {
      val t0 = System.nanoTime()
      val purge = run.tracer.span("dedup.purge_plan") { sp =>
        DedupQueries.dedupPurgePlan(s, corpus).write.parquet(plan)
        sp
      }
      run.tracer.span("pipeline.curate_write") { _ =>
        CurationWriter.curated(Tables.documents(s, corpus), s.read.parquet(plan))
          .write.parquet(s"$curated/documents.parquet")
      }
      run.tracer.span("pipeline.deploy") { _ =>
        ShardReader.deploy(s, curated, artifact)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val verdicts = s.read.parquet(plan)
      val drops = verdicts.filter(col("verdict") === "drop_neardup").select(col("doc_id"))
      val (planned, dropped) = (verdicts.count(), drops.count())
      val kept = Tables.documents(s, curated)
      val survivors = kept.join(drops, Seq("doc_id"), "left_semi").count()
      run.check(planned == Docs && dropped > 0 && survivors == 0 &&
        kept.count() == Docs - dropped,
        s"purge plan has $planned of $Docs docs, $dropped drops; " +
          s"$survivors dropped docs survive curation")
      // every epoch's shard manifest accounts for every packed token
      val blockTokens = s.read.parquet(s"$artifact/blocks")
        .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)
      val perEpoch = s.read.parquet(s"$artifact/manifest")
        .groupBy(col("epoch")).agg(sum(col("n_tokens"))).collect()
        .map(_.getLong(1)).toSeq
      run.check(blockTokens > 0 && perEpoch.nonEmpty && perEpoch.forall(_ == blockTokens),
        s"the artifact packs $blockTokens tokens; its manifest's epochs hold $perEpoch")
      purge.extra("drop_share") = dropped.toDouble / planned
      wall
    } finally {
      cleanUp()
      Seq(corpus, plan, curated, artifact).foreach(Files2.delete)
    }
  }

  /** Index build, warm-up, then timed batches; returns batch latencies. */
  private def serve(run: Run): Seq[Double] = {
    val artifact = run.freshDir("index")
    val latMs = mutable.ArrayBuffer.empty[Double]
    try {
      run.op("index_build") {
        run.tracer.span("sim.index_build") { _ =>
          SimQueries.ivfPqIndexWrite(run.spark, vecsDir, artifact)
          val server = SimQueries.ivfPqQueryServer(run.spark, artifact, nprobe = NProbe)
          graft.CachedFrames.releaseAll()
          server
        }
      }.foreach { server =>
        run.warmUp((0 until WarmBatches).foreach(b => batch(run, server, b)))
        var b = WarmBatches
        run.timedLoop { () =>
          val ms = batch(run, server, b)
          b += 1
          ms.foreach(latMs += _)
          ms.isDefined
        }
      }
      latMs.toSeq
    } finally Files2.delete(artifact)
  }

  /** Serves batch `b` and checks it; returns its latency in ms. */
  private def batch(run: Run, server: DataFrame => DataFrame, b: Int): Option[Double] =
    run.op(s"batch $b") {
      val first = (b * Batch) % Pool
      val ids = first until first + Batch
      val rows = ids.map(i => Row(i.toLong, vecs.queries(i).toSeq.map(_.toDouble)))
      val (res, sp) = run.tracer.span("sim.serve") { sp =>
        val q = run.spark.createDataFrame(java.util.Arrays.asList(rows: _*), QuerySchema)
        (server(q).select("q_id", "neighbor", "rank").collect(), sp)
      }
      val K = SimQueries.TopK
      val byQ = res.groupBy(_.getLong(0))
      run.check(byQ.size == Batch && ids.forall(i =>
        byQ.get(i.toLong).exists(rs =>
          rs.map(_.getInt(2)).sorted.sameElements(1 to K) &&
            rs.map(_.getLong(1)).distinct.length == K)),
        s"batch $b: expected $K ranked neighbours for each of $Batch queries, " +
          s"got ${byQ.map { case (q, rs) => q -> rs.length }}")
      sp.extra("recall_at_k") = ids.map { i =>
        val got = byQ(i.toLong).map(_.getLong(1)).toSet
        exact(i).count(got.contains).toDouble / K
      }.sum / Batch
      sp.wallS * 1e3
    }
}
