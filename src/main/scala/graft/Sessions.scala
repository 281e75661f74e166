package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its SparkSession, so every main
  * (and the spec fixture) runs under the same settings: `local[cpus]`
  * (or `SPARK_MASTER` when set), shuffle partitions = cpus, UTC
  * session time, parquet TIMESTAMP(NANOS) read as long, no UI, WARN
  * logging. AQE is left at Spark's default (on).
  *
  * `SPARK_GRAFT_CPUS` (default 4) and `SPARK_MASTER` are the only
  * deployment settings it reads.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def apply(app: String, cpus: Int = Sessions.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
