package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Spec isolation: every spec shares one session, so a setting one spec
  * needs must not reach the specs that run after it. */
class SessionsSpec extends AnyFunSuite with SharedSpark {
  private val Aqe = SQLConf.ADAPTIVE_EXECUTION_ENABLED.key
  private val Threshold = SQLConf.AUTO_BROADCASTJOIN_THRESHOLD

  /** `graft.Sessions`' settings, and Spark's defaults where it sets none. */
  private def assertFactorySettings(): Unit = {
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get(Aqe) === "true")
    assert(threshold(spark) === Threshold.defaultValue.get)
  }

  private def threshold(s: SparkSession): Long =
    JavaUtils.byteStringAsBytes(s.conf.get(Threshold.key))

  test("withConf restores what it changed, also when its body throws") {
    assertFactorySettings()
    withConf(Aqe -> "false") { assert(spark.conf.get(Aqe) === "false") }
    assert(!spark.conf.getAll.contains(Aqe))
    intercept[IllegalStateException] {
      withConf(Aqe -> "false", "spark.sql.shuffle.partitions" -> "8") {
        throw new IllegalStateException("body failed")
      }
    }
    assertFactorySettings()
  }

  test("a spec's own newSession() keeps its settings to itself") {
    // SaltedJoinSpec's session: 8 partitions, no broadcast, no AQE
    val salted = new graft.operators.SaltedJoinSpec().spark
    assert(salted ne spark)
    assert(salted.conf.get(Threshold.key) === "-1")
    assert(salted.conf.get(Aqe) === "false")
    assertFactorySettings()
  }

  test("a spec's own built session leaves the shared one default and active") {
    val ext = new graft.plans.GraftExtensionsSpec().spark
    assert(ext ne spark)
    assert(SparkSession.getDefaultSession.exists(_ eq spark))
    assert(SparkSession.getActiveSession.exists(_ eq spark))
    assert(ext.sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d))")
      .head().getDouble(0) === 11.0)
    // the extensions stay in the session that was built with them
    intercept[Exception](spark.sql("SELECT graft_dot(array(1d), array(1d))"))
    assertFactorySettings()
  }
}
