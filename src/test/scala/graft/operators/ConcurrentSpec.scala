package graft.operators

import graft.SharedSpark
import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

class ConcurrentSpec extends AnyFunSuite with SharedSpark {
  test("results come back in input order") {
    val sc = spark.sparkContext
    val got = Concurrent.par((1 to 6).map { i => () =>
      sc.parallelize(1 to i, 2).map(_ * 10).sum().toInt
    })
    assert(got === (1 to 6).map(i => (1 to i).sum * 10))
  }

  test("a failing task cancels a sibling's running Spark job, which " +
    "ends JobFailed within seconds") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(1)
    val groups = new ConcurrentHashMap[Int, String]()
    val ends = new ConcurrentHashMap[Int, JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        g.foreach { id =>
          groups.put(e.jobId, id)
          if (id.startsWith("graft-par-")) started.countDown()
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.jobResult)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val err = intercept[IllegalStateException] {
        Concurrent.par(Seq(
          () => {
            // four tasks that would sleep for two minutes each
            sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(120000L))
            "slept"
          },
          () => {
            assert(started.await(60, TimeUnit.SECONDS))
            throw new IllegalStateException("sibling failed")
          }))
      }
      assert(err.getMessage == "sibling failed")
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      def sleeper: Option[Int] = {
        import scala.jdk.CollectionConverters._
        groups.asScala.collectFirst {
          case (job, g) if g.startsWith("graft-par-") && ends.containsKey(job) => job
        }
      }
      while (sleeper.isEmpty && System.nanoTime() < deadline) {
        org.apache.spark.graft.SparkInternals.drainListenerBus(sc)
        Thread.sleep(100)
      }
      val job = sleeper
      assert(job.nonEmpty, "the sibling's job did not end within 10 s")
      assert(ends.get(job.get).isInstanceOf[JobFailed])
      assert((System.nanoTime() - t0) / 1e9 < 60)
    } finally sc.removeSparkListener(listener)
  }
}
