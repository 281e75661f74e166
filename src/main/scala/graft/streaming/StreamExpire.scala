package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.TapeListing
import graft.vcr.{TapeCompactor, TapeManifest}

/** R33: STANDING tape retention — V11's `expire` verb run as a
  * continuous maintenance stream instead of a manual CLI pass (the R32
  * analog for tape days: R27 grows the archive and its manifest
  * trigger by trigger, this face retires the aged-out days through the
  * same scoped-manifest door). Kinesis itself ages records out
  * automatically (the retention-period semantics the reference archive
  * exists to outlive — KinesisRecorder's whole point is copying
  * records out before they expire); an archive that records forever
  * needs the same standing janitor, policy-driven.
  *
  * Policy semantics are FRONTIER-relative, not wall-clock: retain the
  * newest `retainDays` day partitions present on tape, expire
  * everything older. Frontier-relative is the archive's own contract
  * (retain the last N days OF DATA — a quiet weekend must not age the
  * archive out), deterministic under replay, and clock-free, so the
  * spec pins exact behavior with no time injection.
  *
  * Per-trigger cost: ONE listing of the stream's day directories (day
  * enumeration — O(days), never a file walk of retained days), the
  * per-expired-day deletes, and the SCOPED manifest reconcile, which
  * LISTs zero day directories for deleted days (their rows drop on the
  * missing-dir branch — the counting-FS contract, spec'd). Idempotent:
  * a replayed trigger finds the days already gone — expire reports
  * zero and the reconcile removes zero rows.
  */
object StreamExpire {

  /** Retain the newest `retainDays` day partitions; `dryRun` reports
    * without deleting (the ops loop's first pass).
    */
  final case class RetentionPolicy(retainDays: Int,
                                   dryRun: Boolean = false) {
    require(retainDays >= 1, "retention must keep at least the frontier day")
  }

  /** One retention pass under the policy: frontier = max dt present;
    * cutoff = frontier − (retainDays − 1); expire strictly-older days
    * and prune exactly their manifest rows through the scoped refresh
    * (only when a manifest exists — retention must not create one).
    */
  def expireOnce(spark: SparkSession, root: String, stream: String,
                 policy: RetentionPolicy): TapeCompactor.ExpireResult = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/$stream")
    val fs = org.apache.hadoop.fs.FileSystem
      .get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val days = TapeListing.days(fs, dir).flatMap(d => TapeCompactor.parseDay(d._1))
    if (days.isEmpty) return TapeCompactor.ExpireResult(0, 0L, 0L)
    val frontier = days.max
    val keepFrom = frontier.minusDays(policy.retainDays - 1L)
    val res = TapeCompactor.expire(spark, root, stream, keepFrom,
      policy.dryRun)
    if (!policy.dryRun && res.days.nonEmpty) {
      val manifestPath = new org.apache.hadoop.fs.Path(
        s"$root/$stream/${TapeManifest.ManifestDir}")
      if (fs.exists(manifestPath))
        TapeManifest.refresh(spark, root, stream, res.days.toSet)
    }
    res
  }

  /** The standing face: every micro-batch of `ticks` (any streaming
    * frame — a rate source in production, a file stream in the spec)
    * drives one retention pass. State-free: the tape is the state and
    * lives outside the stream (the R18 CAS rule), so replaying a
    * trigger is a no-op by the pass's own idempotence — no
    * exactly-once machinery needed where at-least-once IS
    * exactly-once.
    */
  def start(spark: SparkSession, root: String, stream: String,
            policy: RetentionPolicy, ticks: DataFrame,
            checkpoint: String)
           (report: TapeCompactor.ExpireResult => Unit = _ => ())
  : StreamingQuery =
    ticks.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          report(expireOnce(spark, root, stream, policy))
          ()
      }.start()
}
