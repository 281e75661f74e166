package graft.vcr

import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeParseException

/** VCR configuration, mirroring the reference's env-driven surface
  * (reference: VcrConfiguration.java:6-46).
  *
  * @param sourceStream  stream being recorded (tape subdirectory name)
  * @param targetStream  stream to replay onto
  * @param bucket        tape root (an S3 bucket in the reference; any
  *                      Hadoop-FS URI here — local dir, s3a://, hdfs://)
  * @param bufferSizeBytes  recorder flush threshold, default 100 MiB
  * @param bufferTimeMillis recorder flush interval, default 60 s
  * @param endpoint      name of a registered Kinesis-shaped endpoint
  *                      ([[FakeKinesisRegistry]]; an SDK adapter in a
  *                      real deployment — the region/account analog of
  *                      the reference's implicit AWS client config).
  *                      When set, `record` consumes the source stream
  *                      from it and `play`/`estimate` target it.
  */
final case class VcrConfig(
    sourceStream: Option[String],
    targetStream: Option[String],
    bucket: Option[String],
    bufferSizeBytes: Long = VcrConfig.DefaultBufferSizeBytes,
    bufferTimeMillis: Long = VcrConfig.DefaultBufferTimeMillis,
    endpoint: Option[String] = None) {

  /** reference: VcrConfiguration.java:38-45 */
  def validate(): Unit = {
    if (sourceStream.isEmpty && targetStream.isEmpty)
      throw new IllegalArgumentException(
        "VCR_SOURCE_STREAM_NAME or VCR_TARGET_STREAM_NAME must be set")
    if (bucket.isEmpty)
      throw new IllegalArgumentException("VCR_BUCKET_NAME must be set")
  }

  /** reference: KinesisVcr.java:36-38 */
  def validateForPlayback(): Unit = {
    validate()
    if (targetStream.isEmpty)
      throw new IllegalArgumentException(
        "Must specify a target stream for playback or estimation.")
  }
}

object VcrConfig {
  val DefaultBufferSizeBytes: Long = 1024L * 1024L * 100L
  val DefaultBufferTimeMillis: Long = 60000L

  /** Build from an environment map (reference: VcrConfiguration.java:17-23). */
  def fromEnv(env: Map[String, String]): VcrConfig = VcrConfig(
    sourceStream = env.get("VCR_SOURCE_STREAM_NAME"),
    targetStream = env.get("VCR_TARGET_STREAM_NAME"),
    bucket = env.get("VCR_BUCKET_NAME"),
    bufferSizeBytes = env.get("VCR_BUFFER_SIZE_BYTES").map(_.toLong)
      .getOrElse(DefaultBufferSizeBytes),
    bufferTimeMillis = env.get("VCR_BUFFER_TIME_MILLIS").map(_.toLong)
      .getOrElse(DefaultBufferTimeMillis),
    endpoint = env.get("VCR_ENDPOINT"))
}

/** Replay time-range argument parsing: `yyyy-MM-dd` or ISO local
  * date-time, always interpreted as UTC
  * (reference: KinesisVcr.java:113-127).
  */
object TimeArg {
  def parse(input: String): Option[LocalDateTime] = {
    val asDateTime =
      try Some(LocalDateTime.parse(input))
      catch { case _: DateTimeParseException => None }
    asDateTime.orElse {
      try Some(LocalDate.parse(input).atTime(0, 0))
      catch { case _: DateTimeParseException => None }
    }
  }

  def parseOrThrow(input: String, what: String): LocalDateTime =
    parse(input).getOrElse(throw new IllegalArgumentException(
      s"Could not parse $what date; should be formatted 2015-08-01 or 2015-08-01T12:12:00"))

  /** End-of-range defaulting: a missing end means "the whole start day",
    * i.e. start + 1 day - 1 s (reference: KinesisPlayer.java:203-208).
    */
  def effectiveEnd(start: LocalDateTime, end: Option[LocalDateTime]): LocalDateTime = {
    end.foreach { e =>
      if (start.isAfter(e)) throw new IllegalArgumentException("startDate > endDate")
    }
    end.getOrElse(start.plusDays(1).minusSeconds(1))
  }

  /** The `dt` days, first and last, that `[start, effectiveEnd]` spans. */
  def days(start: LocalDateTime, end: Option[LocalDateTime]): (String, String) =
    (start.toLocalDate.toString, effectiveEnd(start, end).toLocalDate.toString)
}
