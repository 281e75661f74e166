package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** The dev plan tool: for each named gate query, write to one file
  * `.explain("formatted")` of the pre-AQE plan, the EXECUTED
  * job/stage/task counts and wall time of one noop run, and the
  * AQE-final executed plan of that run with the dataSize of every
  * BroadcastExchange in it (`tools.ScaleProbe.broadcastSizes`). The
  * formatted plan evidences scan pruning / join strategy / exchange
  * placement for single-query claims; the counts evidence the
  * iterative-loop claims (per-round exchange elision shows up as a
  * lower total stage count), which the final frame's plan cannot show
  * because checkpointed rounds collapse to LogicalRDD scans; the final
  * plan and broadcast sizes adjudicate a probe-flagged broadcast.
  *
  * {{{ sbt "runMain graft.PlanDump sf0.1 plans/r14 _after dedup_pagerank ..." }}}
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = s"/root/testdata/${args(0)}"
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val names = args.drop(3)
    java.nio.file.Files.createDirectories(outDir)
    val spark = Sessions("graft-plandump")
    val jobs = new AtomicLong(0)
    val stages = new AtomicLong(0)
    val tasks = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
      }
    })
    // the noop write's own execution: its plan holds the AQE-final tree
    val lastRun = new AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        lastRun.set(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    })
    names.foreach { name =>
      jobs.set(0); stages.set(0); tasks.set(0); lastRun.set(null)
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are delivered asynchronously: drain the bus so
      // trailing stage-completed events are counted (bounded: throws
      // after 10 s instead of waiting forever)
      org.apache.spark.graft.SparkInternals.drainListenerBus(spark.sparkContext)
      // counts include the query-BUILD phase's jobs (training collects,
      // checkpointed rounds) — that is the point: loop-shape changes
      // move these numbers even when the final frame's plan is stable.
      val hdr = f"query: $name%s\nexecuted: jobs=${jobs.get}%d " +
        f"stages=${stages.get}%d tasks=${tasks.get}%d " +
        f"noop_first_run_sec=$sec%.3f\nplan: pre-AQE (initial physical plan)\n\n"
      val finalPlan = Option(lastRun.get).map(_.executedPlan)
      val tail = finalPlan.fold("\nfinal plan: not captured\n") { p =>
        val sizes = graft.tools.ScaleProbe.broadcastSizes(p)
        s"\nfinal plan: AQE-final (the noop run's executed plan)\n" +
          s"broadcasts: n=${sizes.size} sizes=${sizes.sorted.reverse}\n\n$p"
      }
      java.nio.file.Files.writeString(
        outDir.resolve(s"$name$suffix.txt"), hdr + plan + tail)
      graft.CachedFrames.releaseAll()
      println(s"dumped $name ($suffix): jobs=${jobs.get} stages=${stages.get}")
    }
    spark.stop()
  }
}
