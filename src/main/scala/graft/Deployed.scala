package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The one cache of deployed artifacts and memos, keyed by (kind,
  * corpus dir) — "build offline, serve measured": the first lookup of
  * a key runs its build, later lookups reuse the result.
  *
  * An entry is served only to the live SparkSession that built it (a
  * memo may hold that session's frames or checkpoint blocks); a lookup
  * from any other session rebuilds and deletes the stale entry's
  * directory. On-disk artifacts live under one per-JVM root in
  * `java.io.tmpdir`, which a shutdown hook deletes; [[release]] and
  * [[releaseAll]] delete theirs straight away.
  */
object Deployed {
  /** One (kind, dir) build behind its own lock, never inside the map's
    * `compute`: a build may look up other keys (the OPQ artifact reads
    * the OPQ ladder memo, the shard deploy reads the token memo), and
    * concurrent callers of one key wait for its single build. A build
    * that throws leaves the entry unbuilt, so the next lookup retries.
    */
  private final class Entry(session: SparkSession) {
    private var value: Option[Any] = None
    @volatile var out: Option[Path] = None

    def servesTo(s: SparkSession): Boolean =
      (session eq s) && !s.sparkContext.isStopped

    def get[T](build: => T): T = synchronized {
      if (value.isEmpty) value = Some(build)
      value.get.asInstanceOf[T]
    }

    def delete(): Unit = out.foreach(p => FileUtils.deleteQuietly(p.toFile))
  }

  private val entries = new ConcurrentHashMap[(String, String), Entry]()

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-deployed")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => FileUtils.deleteQuietly(r.toFile)))
    r
  }

  private def entry(s: SparkSession, kind: String, dir: String): Entry = {
    var stale: Entry = null
    val e = entries.compute((kind, dir), (_, cur) =>
      if (cur != null && cur.servesTo(s)) cur
      else { stale = cur; new Entry(s) })
    if (stale != null) stale.delete()
    e
  }

  /** The in-memory value of `kind` for corpus `dir`, built once. */
  def memo[T](s: SparkSession, kind: String, dir: String)(build: => T): T =
    entry(s, kind, dir).get(build)

  /** The artifact directory of `kind` for corpus `dir`: `build` fills
    * a fresh directory under the per-JVM root once.
    */
  def artifact(s: SparkSession, kind: String, dir: String)(
      build: String => Unit): String = {
    val e = entry(s, kind, dir)
    e.get {
      val out = Files.createTempDirectory(root, kind)
      try build(out.toString)
      catch {
        case t: Throwable => FileUtils.deleteQuietly(out.toFile); throw t
      }
      e.out = Some(out)
      out.toString
    }
  }

  /** Drop every entry of `kind` and delete its directories. */
  def release(kind: String): Unit = removeWhere(_._1 == kind)

  /** Drop every entry and delete every artifact directory. */
  def releaseAll(): Unit = removeWhere(_ => true)

  private def removeWhere(p: ((String, String)) => Boolean): Unit =
    entries.keySet.forEach { k =>
      if (p(k)) Option(entries.remove(k)).foreach(_.delete())
    }
}
