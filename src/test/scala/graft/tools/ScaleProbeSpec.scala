package graft.tools

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleProbeSpec extends AnyFunSuite with SharedSpark {
  test("countBroadcasts reads the size of a forced broadcast from the " +
    "plan the count ran") {
    val big = spark.range(0, 20000).select((col("id") % 100).as("k"))
    val small = spark.range(0, 100).select(col("id").as("k"),
      (col("id") * 3).as("w"))
    val joined = big.join(broadcast(small), Seq("k"))
    val sizes = ScaleProbe.countBroadcasts(joined)
    assert(sizes.nonEmpty, "no broadcast exchange found in the run plan")
    assert(sizes.forall(_ > 0L), s"broadcast sizes $sizes")
  }
}
