package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** sf1.0 scale probe (VERDICT r4 #6): measure — don't argue — the
  * bounded-bucket / bounded-broadcast / bounded-state claims one
  * decade above the bench SF. Runs the dedup + ANN/graph suites once
  * cold and once warm at the given SF dir, records per-query wall
  * time and every BroadcastExchange's dataSize from the plan the warm
  * `count()` executed (AQE final plan, reused exchanges, cached-plan
  * interiors and subqueries included), then drives the two streaming dedup ledgers
  * over a tape built from the SF's events and records max state-store
  * rows. Output: one JSON artifact (arg 2, default SCALE_sf1.json).
  *
  * Usage: runMain graft.tools.ScaleProbe <sfDir> [outPath] [suites]
  * where `suites` is a comma list of dedup,sim,text,analytics,
  * pipeline,media,vcr (default dedup,sim — the round-4 scope; the
  * rest added round 8 so every query family has its own measured 10×
  * point; analytics/vcr need the ScaleUp `tpch`/`core` tables). The
  * session is `graft.Sessions`' (`SPARK_GRAFT_CPUS`; the 32-core
  * protocol sets 32).
  */
object ScaleProbe {

  def broadcastSizes(root: SparkPlan): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(p)) return
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case b: BroadcastExchangeExec =>
          b.metrics.get("dataSize").foreach(m => out += m.value)
          b.children.foreach(walk)
        case r: ReusedExchangeExec => walk(r.child)
        case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  /** Counts `df` and returns the broadcast sizes of the plan that
    * count ran. `count()` plans a new aggregate over `df`, so `df`'s own
    * executed plan never runs and its broadcast metrics stay 0; the
    * plan that ran is captured as it finishes, the way PlanDump does.
    */
  def countBroadcasts(df: DataFrame): Seq[Long] = {
    val s = df.sparkSession
    val ran = new java.util.concurrent.atomic.AtomicReference[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "count") ran.set(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      df.count()
      // query-execution events arrive on the listener bus, asynchronously
      org.apache.spark.graft.SparkInternals.drainListenerBus(s.sparkContext)
    } finally s.listenerManager.unregister(listener)
    Option(ran.get).fold(Seq.empty[Long])(qe => broadcastSizes(qe.executedPlan))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = if (args.length > 1) args(1) else "SCALE_sf1.json"
    val spark = graft.Sessions("graft-scaleprobe")

    val suites = (if (args.length > 2) args(2) else "dedup,sim")
      .split(",").map(_.trim).toSet
    val families = Map(
      "dedup" -> graft.dedup.DedupQueries.all,
      "sim" -> graft.sim.SimQueries.all,
      "text" -> graft.text.TextQueries.all,
      "analytics" -> graft.analytics.AnalyticsQueries.all,
      "pipeline" -> graft.pipeline.PipelineQueries.all,
      "media" -> graft.media.MediaQueries.all,
      "vcr" -> graft.vcr.VcrQueries.all)
    // SPARK_GRAFT_PROBE_ONLY: comma list of query names for isolated
    // re-measurement (sampling-artifact adjudication); absent → all
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val targets = suites.toSeq.flatMap(families(_))
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy(_._1)
    val rows = targets.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val dfCold = fn(spark, sfDir)
      dfCold.count()
      val cold = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val bc = countBroadcasts(fn(spark, sfDir))
      val warm = (System.nanoTime() - t1) / 1e9
      graft.CachedFrames.releaseAll()
      spark.catalog.clearCache()
      val maxBc = if (bc.isEmpty) 0L else bc.max
      // scale probes answer "what did this run cost" — print as we go
      println(f"PROBE $name%-24s cold=$cold%8.2fs warm=$warm%8.2fs " +
        f"bcast_max=${maxBc}%d n_bcast=${bc.size}%d")
      name -> ((cold, warm, maxBc, bc.size))
    }

    // streaming state probe: the exact ledger (R9) and the
    // Bloom-gated ledger (R14, archive = the whole tape, so every
    // arrival is an archived dup) over a tape of this SF's events.
    // Tied to the dedup suite — a text-only run measures no streams.
    val streamRows: Seq[(String, Double, Long, Long)] =
      if (!suites("dedup")) Seq.empty
      else {
        val tapeRoot = java.nio.file.Files
          .createTempDirectory("graft-scale-tape").toString
        val ev = graft.Tables.events(spark, sfDir)
        graft.vcr.TapeWriter.write(
          ev.select(col("props").cast("binary").as(graft.vcr.Tape.DataCol),
            col("event_id").as(graft.vcr.Tape.SeqCol),
            col("ts").as(graft.vcr.Tape.TsCol)),
          tapeRoot, "s", numFiles = 8)

        def streamProbe(label: String,
                        mk: DataFrame => DataFrame): (String, Double, Long) = {
          val t0 = System.nanoTime()
          val stream = spark.readStream.format("tape").load(s"$tapeRoot/s")
          val q = mk(stream).writeStream.outputMode("complete")
            .format("memory").queryName(s"probe_$label").start()
          q.processAllAvailable()
          val stateRows = q.recentProgress.flatMap(_.stateOperators)
            .map(_.numRowsTotal) match {
            case a if a.isEmpty => 0L
            case a => a.max
          }
          q.stop()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"PROBE stream:$label%-17s time=$sec%8.2fs state_rows=$stateRows%d")
          (label, sec, stateRows)
        }
        val nArrivals = spark.read.format("tape").load(s"$tapeRoot/s").count()
        val ledger = streamProbe("ledger_r9",
          t => graft.streaming.StreamDedupLedger(t))
        val archive = graft.streaming.StreamBloomGate.buildArchive(
          spark.read.format("tape").load(s"$tapeRoot/s"))
        val gated = streamProbe("bloomgate_r14",
          t => graft.streaming.StreamBloomGate(t, archive))
        graft.CachedFrames.releaseAll()
        Seq(ledger, gated).map { case (l, s, st) => (l, s, st, nArrivals) }
      }

    val qJson = rows.map { case (n, (c, w, b, k)) =>
      s""""$n":{"cold_sec":$c,"warm_sec":$w,"bcast_max_bytes":$b,"n_bcast":$k}"""
    }.mkString("{", ",", "}")
    val sJson = streamRows.map { case (l, sec, st, n) =>
      s""""$l":{"sec":$sec,"state_rows":$st,"arrivals":$n}"""
    }.mkString("{", ",", "}")
    val line = s"""{"sf_dir":"$sfDir","queries":$qJson,"streaming":$sJson}"""
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      line + "\n")
    spark.stop()
  }
}
