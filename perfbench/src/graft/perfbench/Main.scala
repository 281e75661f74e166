package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A check on a program output that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** State of one benchmark run: the session, the tracer, the scratch
  * directory, and the tally of timed operations.
  */
final class Run(val spark: SparkSession, val tracer: Tracer,
                val work: Path, val seed: Long, val seconds: Int) {
  var attempted = 0
  var failed = 0
  /** Untimed work (warm-up) runs with `timed = false`: its failures
    * abort the run, and its spans are not kept.
    */
  var timed = true
  /** Seconds spent in [[warmUp]]: part of set-up. */
  var warmS = 0.0
  private var dirs = 0

  /** A fresh directory under the run's scratch directory. */
  def freshDir(tag: String): String = {
    dirs += 1
    work.resolve(s"$tag-$dirs").toString
  }

  /** One timed operation. A throw or a failed check fails it; the
    * caller's rep stops at the first failed operation.
    */
  def op[T](what: String)(body: => T): Option[T] = {
    if (timed) attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) if timed =>
        failed += 1
        System.err.println(s"perfbench: operation $what failed: $e")
        None
    }
  }

  /** Untimed warm-up; its time counts as set-up. */
  def warmUp(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    timed = false
    tracer.recording = false
    try body
    finally {
      timed = true
      tracer.recording = true
      warmS += (System.nanoTime() - t0) / 1e9
    }
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  /** Loops `rep` until `seconds` have passed (at least once). */
  def timedLoop(rep: () => Boolean): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var go = true
    while (go) {
      go = rep() && System.nanoTime() < deadline
    }
  }
}

/** A workload's own end-to-end metrics, (name, value, unit), and the
  * number of samples behind its write and read metrics.
  */
final case class Report(e2e: Seq[(String, Double, String)],
                        writeSamples: Int, readSamples: Int)

trait Workload {
  /** Generates the inputs (seeded, single-threaded). */
  def generate(run: Run): Unit
  /** The timed phase, with any warm-up inside it via [[Run.warmUp]]. */
  def measure(run: Run): Report
  /** Releases everything the workload registered outside `run.work`. */
  def cleanUp(): Unit
}

object Files2 {
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  def copy(from: Path, to: Path): Unit =
    Files.walk(from).forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst)
    }
}

object Main {
  val Cpus = 4

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val traced = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val traceOut = arg(args, "--trace-out")
    Files.createDirectories(work)
    val w: Workload = workload match {
      case "tape_vcr" => new TapeVcr
      case "curate_ann_serve" => new CurateAnnServe
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark, traced)
    val run = new Run(spark, tracer, work, seed, seconds)
    try {
      val g0 = System.nanoTime()
      w.generate(run)
      val genS = (System.nanoTime() - g0) / 1e9
      val report = w.measure(run)
      val e2e = report.e2e :+ (("setup_s", sessionS + run.warmS, "s"))
      val layers =
        if (!traced) Nil
        else {
          org.apache.spark.perfbench.BusDrain(spark.sparkContext)
          val counters = Attribution.counters(tracer.spans, tracer.listener.get)
          writeSpans(traceOut, tracer.spans, counters)
          Layers.metrics(tracer.spans, counters) ++
            Seq(("harness.gen_s", genS, "s"),
              ("harness.peak_rss_mb", peakRssMb(), "MB"),
              ("harness.write_samples", report.writeSamples.toDouble, "count"),
              ("harness.read_samples", report.readSamples.toDouble, "count")) ++
            e2e.map { case (n, v, u) => (s"e2e.$n", v, u) }
        }
      println("PERFBENCH_RESULT " + resultJson(run, e2e, layers))
      System.out.flush()
    } finally {
      tracer.close()
      w.cleanUp()
      spark.stop()
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  private def resultJson(run: Run, e2e: Seq[(String, Double, String)],
                         layers: Seq[(String, Double, String)]): String =
    s"""{"attempted": ${run.attempted}, "failed": ${run.failed}, """ +
      s""""e2e": ${metricsJson(e2e)}, "layers": ${metricsJson(layers)}}"""

  /** One JSON line per span, with its parent id and Spark counters. */
  private def writeSpans(path: String, spans: Seq[Span],
                         counters: Map[Int, SparkCounters]): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val out = new PrintWriter(f, "UTF-8")
    try spans.sortBy(_.id).foreach { sp =>
      val c = counters.get(sp.id)
      val fields = mutable.LinkedHashMap[String, String](
        "id" -> sp.id.toString, "parent" -> sp.parent.toString,
        "name" -> s""""${sp.name}"""", "start_ms" -> sp.startMs.toString,
        "wall_s" -> num(sp.wallS))
      c.foreach { k =>
        fields ++= Seq("jobs" -> k.jobs.toString, "tasks" -> k.tasks.toString,
          "exec_cpu_s" -> num(k.execCpuS), "gc_s" -> num(k.gcS),
          "shuffle_write_bytes" -> k.shuffleWriteBytes.toString,
          "spill_bytes" -> k.spillBytes.toString,
          "input_bytes" -> k.inputBytes.toString,
          "output_bytes" -> k.outputBytes.toString,
          "job_busy_s" -> num(k.jobBusyS))
      }
      sp.extra.foreach { case (k, v) => fields(k) = num(v) }
      out.println(fields.map { case (k, v) => s""""$k": $v""" }
        .mkString("{", ", ", "}"))
    } finally out.close()
  }
}
