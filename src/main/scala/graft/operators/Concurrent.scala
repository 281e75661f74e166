package graft.operators

/** Overlap INDEPENDENT Spark jobs from a bounded driver-side pool —
  * the optimization-guide §2.6 lever: actions are only sequential
  * because driver code calls them sequentially, so ladder/panel
  * queries (tune rungs, recall panels, the OPQ coupling ladder, the
  * keeper's CC ∥ PageRank pair) were serializing jobs whose stages
  * mostly idle the executor pool at their tails. Submitting them from
  * a few driver threads lets the next job's tasks back-fill the
  * current job's straggler tail. FIFO scheduling (the default) keeps
  * the earlier task resource-preferred — exactly the back-fill
  * behaviour the guide prescribes.
  *
  * Results return IN INPUT ORDER (never completion order), so callers
  * stay deterministic. Parallelism is a small constant: enough to
  * fill tails, not enough to thrash the scheduler — and it bounds
  * DRIVER-side concurrency only; per-job cluster parallelism is
  * unchanged.
  */
object Concurrent {
  private val calls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Each task runs under its own Spark job group (interrupt on
    * cancel). On the first failure, in completion order, the other
    * tasks' driver threads are interrupted AND their job groups
    * cancelled — running and future jobs alike — so their Spark work
    * stops too; the failure is rethrown unwrapped. A task's job group
    * replaces the caller's for the jobs that task starts.
    */
  def par[A](tasks: Seq[() => A], parallelism: Int = 4): Seq[A] = {
    if (tasks.lengthCompare(1) <= 0) return tasks.map(_())
    val sc = org.apache.spark.graft.SparkInternals.activeContext
    val call = s"graft-par-${calls.getAndIncrement()}"
    val groups = tasks.indices.map(i => s"$call-$i")
    // daemon threads: a hung task cannot pin the JVM past main's exit
    // (r14 ADVICE)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, tasks.size),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-par-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    try {
      val done = new java.util.concurrent.ExecutorCompletionService[A](pool)
      val futs = tasks.zip(groups).map { case (t, g) =>
        done.submit(new java.util.concurrent.Callable[A] {
          def call(): A = {
            sc.foreach(_.setJobGroup(g, g, interruptOnCancel = true))
            try t() finally sc.foreach(_.clearJobGroup())
          }
        })
      }
      try tasks.foreach(_ => done.take().get())
      catch {
        case e: Throwable =>
          futs.foreach(_.cancel(true))
          sc.foreach(c => groups.foreach(g => c.cancelJobGroupAndFutureJobs(g)))
          throw (e match {
            case x: java.util.concurrent.ExecutionException => x.getCause
            case other => other
          })
      }
      // results IN INPUT ORDER
      futs.map(_.get())
    } finally pool.shutdown()
  }
}
