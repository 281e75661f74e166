package graft.sources

import scala.collection.mutable

import graft.vcr.Tape
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** One tape data file: its path, `dt` day, size, mtime (epoch ms) and
  * the `{firstSeq}-{lastSeq}` range its name declares (-1 for a name
  * without one). A writer that finds its range's name taken appends
  * its task id, `{firstSeq}-{lastSeq}-{taskId}`; the range is the same.
  */
final case class TapeFileSlice(file: String, dt: String, size: Long,
                               mtime: Long, seqFirst: Long, seqLast: Long)

/** The tape's one directory walk, `{root}/{stream}/dt=*／`, and the
  * one rule for which files in it are tape data: a regular file whose
  * name starts with neither `.` (in-flight writer and compactor temps)
  * nor `_` (side files). Every reader, estimator and maintenance job
  * lists the tape through here and adds only its own filter or order.
  */
object TapeListing {

  private val DayPrefix = s"${Tape.DtCol}="
  /** at most 18 digits a side, so every match fits a Long; an
    * optional writer task-id suffix */
  private val SeqRangeRe =
    "(\\d{1,18})-(\\d{1,18})(?:-\\d{1,19})?(?:\\.txt)?".r

  private def isDataFile(st: FileStatus): Boolean = {
    val name = st.getPath.getName
    st.isFile && !name.startsWith(".") && !name.startsWith("_")
  }

  /** `st`, a data file of day `dt`, with the seq range of its name. */
  private def slice(st: FileStatus, dt: String): TapeFileSlice = {
    val (first, last) = st.getPath.getName match {
      case SeqRangeRe(a, b) => (a.toLong, b.toLong)
      case _ => (-1L, -1L)
    }
    TapeFileSlice(st.getPath.toString, dt, st.getLen,
      st.getModificationTime, first, last)
  }

  /** The `dt=` day directories of the tape at `dir`, by day: one LIST
    * of `dir`, none if it does not exist.
    */
  def days(fs: FileSystem, dir: Path): Seq[(String, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(DayPrefix))
      .map(st => (st.getPath.getName.stripPrefix(DayPrefix), st.getPath))
      .sortBy(_._1)

  /** Data files of every day whose `dt` passes `keep`; days are pruned
    * before they are listed.
    */
  def list(fs: FileSystem, dir: Path,
           keep: String => Boolean): Seq[TapeFileSlice] =
    days(fs, dir).filter(d => keep(d._1)).flatMap { case (dt, day) =>
      dayFiles(fs, day, dt)
    }

  /** Data files of exactly the named days, without listing `dir`: a
    * caller that knows its footprint pays O(|dts|) listings, not
    * O(archive). A missing day contributes nothing.
    */
  def listDays(fs: FileSystem, dir: Path,
               dts: Iterable[String]): Seq[TapeFileSlice] =
    dts.toSeq.sorted.flatMap { dt =>
      val day = new Path(dir, s"$DayPrefix$dt")
      if (fs.exists(day)) dayFiles(fs, day, dt) else Seq.empty
    }

  private def dayFiles(fs: FileSystem, day: Path,
                       dt: String): Seq[TapeFileSlice] =
    fs.listStatus(day).toSeq.filter(isDataFile).map(slice(_, dt))

  /** `path` as tape input: a tape directory lists its data files under
    * [[list]]; a data file named explicitly is taken as it is, its day
    * read from its `dt=` parent; a missing path gives nothing.
    */
  def resolve(fs: FileSystem, path: Path,
              keep: String => Boolean): Seq[TapeFileSlice] = {
    val st = try fs.getFileStatus(path)
    catch { case _: java.io.FileNotFoundException => return Seq.empty }
    if (st.isDirectory) list(fs, path, keep)
    else {
      val parent = path.getParent.getName
      require(parent.startsWith(DayPrefix),
        s"$path is not a tape data file: its parent is not a $DayPrefix directory")
      Seq(slice(st, parent.stripPrefix(DayPrefix))).filter(s => keep(s.dt))
    }
  }

  /** Split target: a bin holds about this many bytes once the input
    * outgrows one bin per core.
    */
  val TargetSplit: Long = 128L * 1024 * 1024

  /** Least-loaded packing by bytes: min(#slices, max(ceil(total /
    * [[TargetSplit]]), parallelism)) bins, filled largest slice first,
    * each slice into the lightest bin so far. A tape of many small
    * files becomes about one task per core with near-equal bytes, and
    * a large tape about one task per [[TargetSplit]]. Each bin keeps
    * tape order (dt, firstSeq, file).
    */
  def pack(slices: Seq[TapeFileSlice],
           parallelism: Int): Seq[Seq[TapeFileSlice]] = {
    val total = slices.map(_.size).sum
    val n = math.min(slices.size.toLong,
      math.max((total + TargetSplit - 1) / TargetSplit,
        math.max(parallelism, 1).toLong)).toInt
    val bins = Array.fill(n)(mutable.ArrayBuffer.empty[TapeFileSlice])
    // (load, bin): the head is the lightest bin, the lowest index on ties
    val lightest = mutable.PriorityQueue.empty[(Long, Int)](
      Ordering.by[(Long, Int), (Long, Int)](b => (-b._1, -b._2)))
    (0 until n).foreach(i => lightest.enqueue((0L, i)))
    for (s <- slices.sortBy(-_.size)) {
      val (load, i) = lightest.dequeue()
      bins(i) += s
      lightest.enqueue((load + s.size, i))
    }
    bins.toSeq.map(_.sortBy(s => (s.dt, s.seqFirst, s.file)).toSeq)
  }
}
