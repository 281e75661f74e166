package graft.perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import graft.vcr.{FakeKinesis, FakeKinesisRegistry, KinesisLimits, PutRecordsEntry}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Seeded, single-threaded input generators. The program under test
  * sees only what these write: a FakeKinesis backlog, a documents
  * parquet, an embeddings parquet.
  */
object Gen {

  /** Order-free digest of a payload multiset: count, Σ bytes and
    * Σ xxhash64(seed 42) — the same hash Spark's `xxhash64` computes, so
    * a tape scan can be summed in Spark and compared here.
    */
  final case class Digest(count: Long, bytes: Long, hashSum: BigInt) {
    def +(p: Array[Byte]): Digest =
      Digest(count + 1, bytes + p.length, hashSum + hash(p))
  }
  object Digest { val Empty: Digest = Digest(0L, 0L, BigInt(0)) }

  def hash(p: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(p, Platform.BYTE_ARRAY_OFFSET, p.length, 42L)

  // ---------------------------------------------------------------- tape

  val WeekStart: LocalDateTime = LocalDateTime.of(2024, 3, 4, 0, 0)
  val Days = 7
  /** The replay window: days 1..5 of the week, whole UTC days. */
  val WindowStart: LocalDateTime = WeekStart.plusDays(1)
  val WindowEnd: LocalDateTime = WeekStart.plusDays(6).minusSeconds(1)
  val WeekEnd: LocalDateTime = WeekStart.plusDays(Days).minusSeconds(1)

  final case class Backlog(endpoint: String, stream: String,
                           all: Digest, window: Digest)

  /** Log-normal payload sizes (median 250 B, clipped to [16 B, 60 KB])
    * with one record in 2000 drawn from a 20–60 KB tail; random bytes.
    */
  def payloadSize(r: SplittableRandom): Int =
    if (r.nextInt(2000) == 0) 20000 + r.nextInt(40001)
    else {
      val z = gaussian(r)
      math.min(60000, math.max(16, math.round(250.0 * math.exp(0.8 * z)).toInt))
    }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def bytes(r: SplittableRandom, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      var v = r.nextLong()
      var k = 0
      while (k < 8 && i < n) { out(i) = v.toByte; v >>>= 8; i += 1; k += 1 }
    }
    out
  }

  /** `n` records put into a fresh `shards`-shard FakeKinesis stream,
    * arrivals spread evenly over the 7 UTC days of [[WeekStart]].
    */
  def backlog(seed: Long, n: Int, endpoint: String, shards: Int): Backlog = {
    val r = new SplittableRandom(seed)
    val ep: FakeKinesis = FakeKinesisRegistry.create(endpoint)
    val stream = "src"
    ep.createStream(stream, shards)
    val t0 = WeekStart.toInstant(ZoneOffset.UTC).toEpochMilli
    val spanMs = Days * 86400000L
    val winLo = WindowStart.toInstant(ZoneOffset.UTC).toEpochMilli
    val winHi = WindowEnd.toInstant(ZoneOffset.UTC).toEpochMilli + 999L
    var next = 0L
    // putRecords stamps each accepted entry with clock(), in order
    ep.clock = () => { val t = t0 + next * spanMs / n; next += 1; t }
    var all = Digest.Empty
    var window = Digest.Empty
    val batch = Vector.newBuilder[PutRecordsEntry]
    var count = 0
    var size = 0L
    def flush(): Unit = if (count > 0) {
      require(ep.putRecords(stream, batch.result()).failedRecordCount == 0,
        "generator put failed")
      batch.clear(); count = 0; size = 0L
    }
    var i = 0
    while (i < n) {
      val p = bytes(r, payloadSize(r))
      val key = s"k$i"
      if (count == KinesisLimits.MaxEntriesPerRequest ||
        size + p.length + key.length > KinesisLimits.MaxBytesPerRequest)
        flush()
      batch += PutRecordsEntry(key, p)
      count += 1
      size += p.length + key.length
      val arrival = t0 + i.toLong * spanMs / n
      all = all + p
      if (arrival >= winLo && arrival <= winHi) window = window + p
      i += 1
    }
    flush()
    val end = t0 + spanMs
    ep.clock = () => end
    Backlog(endpoint, stream, all, window)
  }

  // ----------------------------------------------------------- documents

  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val Langs = Array("en", "de", "fr")

  /** `n` documents over a Zipf vocabulary: 6 sources, 3 languages,
    * 20–80 words each; about one in five is a one-word edit of an
    * earlier document (a near-duplicate). Written as one parquet file.
    * Returns the corpus's text bytes.
    */
  def documents(spark: SparkSession, seed: Long, n: Int, out: String): Long = {
    val r = new SplittableRandom(seed)
    val vocab = Array.tabulate(3000)(_ => word(r))
    // Zipf(1.0) over the vocabulary by inverse-CDF table
    val cdf = {
      val w = Array.tabulate(vocab.length)(k => 1.0 / (k + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    def pick(): String = {
      val u = r.nextDouble()
      var lo = 0
      var hi = cdf.length - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      vocab(lo)
    }
    val texts = new Array[Array[String]](n)
    val rows = (0 until n).map { id =>
      val words =
        if (id > 10 && r.nextInt(5) == 0) {
          val w = texts(r.nextInt(id)).clone()
          w(r.nextInt(w.length)) = pick()
          w
        } else Array.fill(20 + r.nextInt(61))(pick())
      texts(id) = words
      val text = words.mkString(" ")
      Row(id.toLong, text, Langs(r.nextInt(Langs.length)),
        s"src${r.nextInt(6)}", text.length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), DocumentsSchema)
      .coalesce(1).write.parquet(s"$out/documents.parquet")
    rows.map(_.getLong(4)).sum
  }

  private def word(r: SplittableRandom): String = {
    val letters = "etaoinshrdlcumwfgypbvkjxqz"
    val len = 2 + r.nextInt(7)
    val sb = new StringBuilder
    (0 until len).foreach(_ => sb += letters(math.min(25, (r.nextDouble() * r.nextDouble() * 26).toInt)))
    sb.result()
  }

  // ---------------------------------------------------------- embeddings

  val EmbeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  val Dim = 64
  val Clusters = 32

  final case class Vectors(corpus: Array[Array[Float]],
                           queries: Array[Array[Float]])

  /** A 32-cluster Gaussian mixture in 64 dimensions: `n` labelled
    * corpus vectors written as an embeddings parquet, plus `q`
    * held-out queries from the same mixture.
    */
  def embeddings(spark: SparkSession, seed: Long, n: Int, q: Int,
                 out: String): Vectors = {
    val r = new SplittableRandom(seed)
    val centers = Array.fill(Clusters, Dim)(gaussian(r))
    def draw(c: Int): Array[Float] =
      Array.tabulate(Dim)(d => (centers(c)(d) + 0.6 * gaussian(r)).toFloat)
    val labels = Array.fill(n)(r.nextInt(Clusters))
    val corpus = labels.map(draw)
    val queries = Array.fill(q)(draw(r.nextInt(Clusters)))
    val rows = (0 until n).map(i =>
      Row(i.toLong, corpus(i).toSeq, labels(i)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), EmbeddingsSchema)
      .coalesce(1).write.parquet(s"$out/embeddings.parquet")
    Vectors(corpus, queries)
  }

  /** Exact cosine top-k corpus ids per query, ties broken by id. */
  def exactTopK(v: Vectors, k: Int): Array[Array[Long]] = {
    def unit(a: Array[Float]): Array[Double] = {
      val n = math.sqrt(a.iterator.map(x => x.toDouble * x).sum)
      a.map(_ / n)
    }
    val c = v.corpus.map(unit)
    val sims = new Array[Double](c.length)
    v.queries.map { qv =>
      val u = unit(qv)
      var i = 0
      while (i < c.length) {
        var s = 0.0
        var d = 0
        while (d < Dim) { s += u(d) * c(i)(d); d += 1 }
        sims(i) = s
        i += 1
      }
      c.indices.sortBy(i => (-sims(i), i)).take(k).map(_.toLong).toArray
    }
  }
}
