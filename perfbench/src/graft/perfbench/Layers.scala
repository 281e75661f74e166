package graft.perfbench

/** The per-layer metric set: `<span>.<counter>`, identical for every
  * workload (a span the workload never opens reports 0). Each value is
  * the median, over the span's timed occurrences, of the occurrence's
  * own value.
  */
object Layers {
  /** Spark counters every span carries, with their units. */
  val Common: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "self_s" -> "s", "driver_only_s" -> "s",
    "tasks" -> "count", "exec_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_bytes" -> "B", "spill_bytes" -> "B")

  val Io: Seq[(String, String)] = Seq("input_bytes" -> "B", "output_bytes" -> "B")

  /** span → (I/O span?, span-specific counters kept in `Span.extra`). */
  val Spans: Seq[(String, Boolean, Seq[(String, String)])] = Seq(
    ("streaming.record", true, Seq(
      "triggers" -> "count", "trigger_p50_ms" -> "ms", "trigger_tail_ms" -> "ms",
      "add_batch_s" -> "s", "latest_offset_s" -> "s", "query_planning_s" -> "s",
      "wal_commit_s" -> "s", "commit_offsets_s" -> "s", "tape_files" -> "count",
      "tape_bytes_per_payload_byte" -> "ratio")),
    ("vcr.play", true, Seq("records" -> "count")),
    ("vcr.estimate", false, Nil),
    ("vcr.estimate_decoded", true, Nil),
    ("dedup.purge_plan", true, Seq("drop_share" -> "ratio")),
    ("pipeline.curate_write", true, Nil),
    ("pipeline.deploy", true, Nil),
    ("sim.index_build", true, Nil),
    ("sim.serve", true, Seq("jobs_per_batch" -> "count", "recall_at_k" -> "ratio")))

  /** The sink decorator runs inside `vcr.play`'s tasks: it has only its
    * own counters, no Spark counters of its own.
    */
  val Sink: (String, Seq[(String, String)]) = ("vcr.sink", Seq(
    "calls" -> "count", "busy_s" -> "s", "records_per_call" -> "count",
    "bytes_per_call" -> "B", "failed_subrecords" -> "count"))

  def metrics(spans: Seq[Span], counters: Map[Int, SparkCounters])
  : Seq[(String, Double, String)] = {
    val wallById = spans.map(s => s.id -> s.wallS).toMap
    val childWall = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.filter(_.name != Sink._1).map(_.wallS).sum }
    def med(name: String)(f: Span => Double): Double =
      Main.median(spans.filter(_.name == name).map(f))
    def spark(name: String, k: String): Double = med(name) { sp =>
      val c = counters.getOrElse(sp.id, SparkCounters(0, 0, 0, 0, 0, 0, 0, 0, 0))
      k match {
        case "wall_s" => sp.wallS
        case "self_s" => sp.wallS - childWall.getOrElse(sp.id, 0.0)
        case "driver_only_s" => math.max(0.0, wallById(sp.id) - c.jobBusyS)
        case "tasks" => c.tasks.toDouble
        case "exec_cpu_s" => c.execCpuS
        case "gc_s" => c.gcS
        case "shuffle_write_bytes" => c.shuffleWriteBytes.toDouble
        case "spill_bytes" => c.spillBytes.toDouble
        case "input_bytes" => c.inputBytes.toDouble
        case "output_bytes" => c.outputBytes.toDouble
      }
    }
    def extra(name: String, k: String): Double = med(name) { sp =>
      if (k == "jobs_per_batch") counters.get(sp.id).map(_.jobs.toDouble).getOrElse(0.0)
      else sp.extra.getOrElse(k, 0.0)
    }
    Spans.flatMap { case (name, io, own) =>
      (Common ++ (if (io) Io else Nil)).map { case (k, u) =>
        (s"$name.$k", spark(name, k), u) } ++
        own.map { case (k, u) => (s"$name.$k", extra(name, k), u) }
    } ++ Sink._2.map { case (k, u) => (s"${Sink._1}.$k", extra(Sink._1, k), u) }
  }
}
