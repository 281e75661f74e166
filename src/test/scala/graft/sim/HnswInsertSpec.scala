package graft.sim

import java.nio.file.Files

import graft.SharedSpark
import graft.functions.VectorFunctions.normalize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** R15: incremental HNSW maintenance. The graph (like every HNSW)
  * depends on insertion order, so the contract is NOT edge-equality
  * with the batch rebuild: streamed ingest must equal its
  * batch-sequential twin (same packing ⇒ identical graph), hold the
  * degree bound, keep every inserted node attached, and serve with
  * recall against brute force over the GROWN corpus.
  */
class HnswInsertSpec extends AnyFunSuite with SharedSpark {
  private val dir = "/root/testdata/sf0.001"

  private def allVecs: DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("vn", normalize(col("v")))
      .select(col("vec_id"), col("vn"), col("label"))

  test("R15: streamed inserts equal the batch-sequential twin, hold " +
    "the degree bound, attach every arrival, and serve with recall") {
    import spark.implicits._
    val all = allVecs.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector, r.getInt(2)))
      .sortBy(_._1)
    // queries (vec_id < 10) stay out of the corpus; seed = 300 nodes;
    // two arrival waves of 95 each
    val seedRows = all.filter(r => r._1 >= 10 && r._1 < 310)
    val wave1 = all.filter(r => r._1 >= 310 && r._1 < 405)
    val wave2 = all.filter(r => r._1 >= 405)
    def frame(rows: Seq[(Long, Seq[Double], Int)]): DataFrame =
      rows.map(r => (r._1, r._2)).toSeq.toDF("vec_id", "vn")
    // coarse structure for the layer graphs comes from the SEED's
    // labeled clusters — arrivals never retrain it, as in production
    val seedFull = seedRows
      .map(r => (r._1, r._2, r._3)).toSeq.toDF("vec_id", "vn", "label")
      .withColumn("v", col("vn")).localCheckpoint(false)
    val seed = seedFull.select(col("vec_id"), col("vn"))
      .localCheckpoint(false)
    val cents = SimQueries.collectCents(seedFull)

    // tape carries `id|comma-joined doubles` payloads, one file per
    // wave so maxFilesPerTrigger=1 replays the wave packing exactly
    val root = Files.createTempDirectory("graft-hnsw").toString
    def payload(r: (Long, Seq[Double], Int)): Array[Byte] =
      s"${r._1}|${r._2.mkString(",")}".getBytes
    Seq(wave1, wave2).zipWithIndex.foreach { case (w, i) =>
      graft.vcr.TapeWriter.write(
        w.map(r => (payload(r), r._1,
          java.sql.Timestamp.valueOf(s"2024-10-0${i + 1} 09:00:00")))
          .toSeq
          .toDF(graft.vcr.Tape.DataCol, graft.vcr.Tape.SeqCol,
            graft.vcr.Tape.TsCol),
        root, "s", numFiles = 1,
        mode = org.apache.spark.sql.SaveMode.Append)
    }

    def parse(tape: DataFrame): DataFrame =
      tape.select(split(decode(col("payload"), "UTF-8"), "\\|", 2).as("p"))
        .select(element_at(col("p"), 1).cast("long").as("vec_id"),
          transform(split(element_at(col("p"), 2), ","),
            x => x.cast("double")).as("vn"))

    @volatile var streamed = HnswInsert.bootstrap(seed, cents)
    val q = spark.readStream.format("tape")
      .option("maxFilesPerTrigger", 1).load(s"$root/s")
      .writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          val batch = parse(b).localCheckpoint(true)
          if (batch.count() > 0) {
            streamed = HnswInsert.insert(streamed, batch)
          }
          ()
      }.start()
    q.processAllAvailable()
    q.stop()

    // batch-sequential twin: the same waves in the same packing
    var twin = HnswInsert.bootstrap(seed, cents)
    Seq(wave1, wave2).foreach(w =>
      twin = HnswInsert.insert(twin, frame(w).localCheckpoint(false)))
    def edgeSet(s: HnswInsert.GraphState): Set[(Int, Long, Long)] =
      s.edges.select(col("lvl"), col("src"), col("dst")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val streamedEdges = edgeSet(streamed)
    assert(streamedEdges === edgeSet(twin),
      "streamed graph diverged from the batch-sequential twin")
    assert(streamedEdges.nonEmpty)

    // membership and the HNSW degree bound
    assert(streamed.lv.count() ===
      (seedRows.size + wave1.size + wave2.size).toLong)
    val maxDeg = streamed.edges.groupBy(col("lvl"), col("src"))
      .agg(count(lit(1)).as("d")).agg(max(col("d"))).head().getLong(0)
    assert(maxDeg <= SimQueries.GraphM,
      s"degree bound broken: $maxDeg > ${SimQueries.GraphM}")

    // every arrival kept an adjacency on the base layer
    val inserted = (wave1 ++ wave2).map(_._1).toSet
    val srcs = streamed.edges.filter(col("lvl") === 0)
      .select(col("src")).distinct().collect().map(_.getLong(0)).toSet
    assert(inserted.subsetOf(srcs),
      s"arrivals without adjacency: ${(inserted -- srcs).take(5)}")

    // serving over the grown graph: recall@5 vs brute force on the
    // same grown corpus clears the S12 floor
    val queries = frame(all.filter(_._1 < 10))
      .select(col("vec_id").as("q_id"), col("vn").as("qvn"))
      .localCheckpoint(false)
    val got = HnswInsert.search(streamed, queries)
      .filter(col("rank") <= 5).select(col("q_id"), col("neighbor"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val corpus = frame(seedRows ++ wave1 ++ wave2)
    val truth = queries.join(
        corpus.select(col("vec_id").as("cand"), col("vn").as("cvn")),
        col("cand") =!= col("q_id"))
      .select(col("q_id"), col("cand"),
        round(graft.functions.VectorFunctions.dot(
          col("qvn"), col("cvn")), 6).as("cos"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg(col("cos"), col("cand"), 5).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("cand"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got intersect truth).size.toDouble / truth.size
    assert(recall > 0.5, s"recall@5 $recall too low on the grown graph")
    graft.CachedFrames.releaseAll()
  }
}
