package graft.perfbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import graft.vcr.{ReplayRecord, ReplaySink, ReplaySinkFactory}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call of a module entry point. `parent` is 0 for a root
  * span. `extra` holds span-specific counters (triggers, records,
  * tokens, ...) that the workload measured itself.
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var wallNs: Long = 0L
  val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def wallS: Double = wallNs / 1e9
}

/** Spans around module calls. With `traced`, each span runs under its
  * own job group and a [[JobListener]] attributes every Spark job and
  * task to a span; untraced, spans only time the call.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 1
  /** Spans opened while false (warm-up) are not kept. */
  var recording = true
  val listener: Option[JobListener] =
    if (traced) { val l = new JobListener; sc.addSparkListener(l); Some(l) }
    else None

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: Span => T): T = {
    val sp = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0),
      System.currentTimeMillis(), System.nanoTime())
    nextId += 1
    stack = sp :: stack
    if (traced) sc.setJobGroup(s"pb-${sp.id}", name)
    try body(sp)
    finally {
      sp.wallNs = System.nanoTime() - sp.startNs
      sp.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (traced) stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
      if (recording) done += sp
    }
  }

  /** A counter-only span under the current one, with no interval of
    * its own (e.g. the sink decorator's totals).
    */
  def note(name: String, counters: (String, Double)*): Unit = {
    val sp = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0),
      System.currentTimeMillis(), System.nanoTime())
    nextId += 1
    sp.extra ++= counters
    if (recording) done += sp
  }

  def close(): Unit = listener.foreach(sc.removeSparkListener)
}

/** Task metrics summed per stage, plus each job's group, interval and
  * stages. Events arrive on the listener bus thread; readers drain the
  * bus first ([[org.apache.spark.perfbench.BusDrain]]).
  */
final class JobListener extends SparkListener {
  final case class Job(id: Int, group: String, startMs: Long,
                       var endMs: Long, stages: Seq[Int])
  /** tasks, executor cpu ns, gc ms, shuffle write, spill, input, output */
  final class StageSums { val v = new Array[Long](7) }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageSums]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs(e.jobId) = Job(e.jobId, group, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val v = stages.getOrElseUpdate(e.stageId, new StageSums).v
      v(0) += 1
      v(1) += m.executorCpuTime
      v(2) += m.jvmGCTime
      v(3) += m.shuffleWriteMetrics.bytesWritten
      v(4) += m.diskBytesSpilled
      v(5) += m.inputMetrics.bytesRead
      v(6) += m.outputMetrics.bytesWritten
    }
  }
}

/** The Spark-side counters of one span occurrence. */
final case class SparkCounters(jobs: Int, tasks: Long, execCpuS: Double,
                               gcS: Double, shuffleWriteBytes: Long,
                               spillBytes: Long, inputBytes: Long,
                               outputBytes: Long, jobBusyS: Double)

object Attribution {
  private val Group = "pb-(\\d+)".r

  /** Jobs → spans. A job run under a span's group belongs to it; any
    * other job (a streaming query's own group, a pool thread without
    * the property) belongs to the innermost span open when it started.
    * Counters of a span include those of its descendants.
    */
  def counters(spans: Seq[Span], l: JobListener): Map[Int, SparkCounters] =
    l.synchronized {
      val byId = spans.map(s => s.id -> s).toMap
      def innermostAt(t: Long): Option[Int] =
        spans.filter(s => s.wallNs > 0 && s.startMs <= t && t <= s.endMs)
          .sortBy(s => -s.startNs).headOption.map(_.id)
      def ancestors(id: Int): List[Int] =
        if (id == 0 || !byId.contains(id)) Nil
        else id :: ancestors(byId(id).parent)
      val stageOwner = mutable.HashMap.empty[Int, Int]
      l.jobs.values.foreach(j =>
        j.stages.foreach(st => if (!stageOwner.contains(st)) stageOwner(st) = j.id))
      val jobSpan: Map[Int, Int] = l.jobs.values.flatMap { j =>
        val own = Option(j.group).collect { case Group(id) => id.toInt }
          .filter(byId.contains)
        own.orElse(innermostAt(j.startMs)).map(j.id -> _)
      }.toMap
      spans.map { sp =>
        val mine = l.jobs.values.filter(j =>
          jobSpan.get(j.id).exists(ancestors(_).contains(sp.id))).toSeq
        val ids = mine.map(_.id).toSet
        val sums = new Array[Long](7)
        stageOwner.foreach { case (st, jid) =>
          if (ids.contains(jid)) l.stages.get(st).foreach(s =>
            (0 until 7).foreach(i => sums(i) += s.v(i)))
        }
        // union of job intervals clipped to the span
        val iv = mine.map(j => (math.max(j.startMs, sp.startMs),
          math.min(if (j.endMs < 0) sp.endMs else j.endMs, sp.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var busy = 0L
        var cur = (-1L, -1L)
        iv.foreach { case (a, b) =>
          if (a > cur._2) { if (cur._2 > cur._1) busy += cur._2 - cur._1; cur = (a, b) }
          else cur = (cur._1, math.max(cur._2, b))
        }
        if (cur._2 > cur._1) busy += cur._2 - cur._1
        sp.id -> SparkCounters(mine.size, sums(0), sums(1) / 1e9,
          sums(2) / 1e3, sums(3), sums(4), sums(5), sums(6), busy / 1e3)
      }.toMap
    }
}

/** Calls, busy time, records, bytes and failed sub-records of every
  * PutRecords batch the replay emits. JVM-global: in local mode the
  * tasks that open the sink run in this JVM.
  */
object SinkStats {
  val calls, busyNs, records, bytes, failed = new LongAdder
  def reset(): Unit = Seq(calls, busyNs, records, bytes, failed).foreach(_.reset())
}

/** Times every `putBatch` of the sinks `inner` opens. */
final case class TimedSinkFactory(inner: ReplaySinkFactory)
  extends ReplaySinkFactory {
  override def open(): ReplaySink = {
    val sink = inner.open()
    new ReplaySink {
      override def putBatch(rs: Array[ReplayRecord]): Array[Int] = {
        val t0 = System.nanoTime()
        val failedIdx = sink.putBatch(rs)
        SinkStats.busyNs.add(System.nanoTime() - t0)
        SinkStats.calls.increment()
        SinkStats.records.add(rs.length.toLong)
        SinkStats.bytes.add(rs.iterator.map(_.payload.length.toLong).sum)
        SinkStats.failed.add(failedIdx.length.toLong)
        failedIdx
      }
      override def close(): Unit = sink.close()
    }
  }
}
