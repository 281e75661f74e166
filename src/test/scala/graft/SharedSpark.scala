package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** The one Spark session every spec runs on: `graft.Sessions`' settings
  * at `local[4]` with 4 shuffle partitions, built once per test JVM and
  * handed out directly. Specs never reach it through `getOrCreate()`,
  * which would write the caller's settings into whatever session is
  * the default, and so into every spec that runs after.
  *
  * A spec that needs other settings scopes them:
  *  - `withConf(k -> v, …) { … }` for runtime settings around a body;
  *  - `SharedSpark.newSession(k -> v, …)` for a spec-long session over
  *    the same context (its own conf, temp views and catalogs);
  *  - `SharedSpark.own(builder)` for a session that must be built
  *    (extensions, a deliberately vanilla conf).
  * No spec clears the default or active session.
  */
trait SharedSpark { this: Suite =>
  lazy val spark: SparkSession = SharedSpark.session

  /** Sets `kvs` on `spark` around `body`, then puts back what was set
    * before (unsetting what was not), also when `body` throws. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SharedSpark {
  lazy val session: SparkSession = Sessions("graft-test", 4)

  /** A new session over the shared context with `kvs` set. */
  def newSession(kvs: (String, String)*): SparkSession = {
    val s = session.newSession()
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Runs `body` and returns its value with every Spark job started
    * meanwhile, as (stage names, job description) in start order. The
    * listener bus is drained before the listener is added and before
    * it is read, so no job of earlier work is counted and none of
    * `body`'s is missed. */
  def jobsOf[T](body: => T): (T, Seq[(Seq[String], String)]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.graft.SparkInternals.drainListenerBus
    val sc = session.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      (Seq[String], String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.stageInfos.map(_.name), Option(e.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse("")))
    }
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    val out =
      try { val v = body; drainListenerBus(sc); v }
      finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (out, jobs.asScala.toSeq)
  }

  /** Builds a spec's own session with `create()`, which makes it the
    * default and active session, then puts the shared one back as both
    * so later specs and library code reading `SparkSession.active`
    * still see the shared session. */
  def own(builder: SparkSession.Builder): SparkSession = {
    val shared = session
    val s = builder.create()
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    s
  }
}
