package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicLong

/** Round-14 deliverable tool: dump `.explain("formatted")` for named
  * gate queries to files, plus the EXECUTED job/stage/task counts of
  * one run. The formatted plan evidences scan pruning / join strategy
  * / exchange placement for single-query claims; the counts evidence
  * the iterative-loop claims (per-round exchange elision shows up as
  * a lower total stage count), which the final frame's plan cannot
  * show because checkpointed rounds collapse to LogicalRDD scans.
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
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
    names.foreach { name =>
      jobs.set(0); stages.set(0); tasks.set(0)
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
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
      // The dumped plan is the PRE-EXECUTION (pre-AQE) formatted plan
      // of the gate frame; the counts are from the separately-executed
      // noop write (r14 ADVICE — stated so the artifact is read right).
      val hdr = f"query: $name%s\nexecuted: jobs=${jobs.get}%d " +
        f"stages=${stages.get}%d tasks=${tasks.get}%d " +
        f"noop_first_run_sec=$sec%.3f\nplan: pre-AQE (initial physical plan)\n\n"
      java.nio.file.Files.writeString(
        outDir.resolve(s"$name$suffix.txt"), hdr + plan)
      graft.CachedFrames.releaseAll()
      println(s"dumped $name ($suffix): jobs=${jobs.get} stages=${stages.get}")
    }
    spark.stop()
  }
}
