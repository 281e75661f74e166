package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** R19: streaming ANN serving — the query-side streaming face of the
  * IVF stack (S2). The batch gates stream the CORPUS past static
  * queries; production vector search is the transpose: the index is
  * static (built offline), QUERIES arrive continuously, and each must
  * be answered from the live index without a batch job.
  *
  * Topology: the k-row codebook collects once at start-up (part of the
  * offline index build, the knnIvf shape); each micro-batch assigns
  * its queries to probe clusters in one narrow projection (a literal-
  * codebook argmax — no join, no shuffle, safe on a streaming frame)
  * and then pays exactly one stream-static equi-join against the
  * assigned corpus, scored by the SAME serving core the batch gate
  * runs ([[graft.sim.SimQueries.serveAgainst]]). Because assignment
  * and scoring are deterministic functions of (query, static index),
  * the streamed answer set is BIT-IDENTICAL to the batch serving for
  * the same queries under ANY trigger packing — the spec's claim.
  *
  * State: none. Serving is stateless per batch — the index is the
  * state, and it lives outside the stream (at 100 TB: a bucketed
  * cluster-keyed table, so each trigger's join touches only the probe
  * lists its queries hash to). Per-trigger cost is proportional to the
  * batch's probe-list volume, independent of stream history.
  */
object StreamAnnServe {

  /** Start serving `queries` (a streaming frame of (q_id BIGINT,
    * v ARRAY<DOUBLE>)) against the static IVF index over `dir`'s
    * embeddings. Each micro-batch's top-k frame is handed to `sink`
    * (the serving store / response channel).
    *
    * `excludeSelf` defaults OFF: production query ids live in their
    * own namespace, and a q_id that happens to equal a corpus vec_id
    * must not lose that candidate. Turn it on only when the query
    * stream IS corpus vectors (the batch-gate-twin configuration the
    * parity spec runs).
    */
  def serve(s: SparkSession, dir: String, queries: DataFrame,
      checkpoint: String, excludeSelf: Boolean = false)
      (sink: DataFrame => Unit): StreamingQuery = {
    val assigned = graft.CachedFrames.persist(
      graft.sim.SimQueries.assignedVecs(s, dir))
    val assign = graft.sim.SimQueries.queryAssigner(s, dir)
    queries.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          sink(graft.sim.SimQueries.serveAgainst(assign(b.toDF()), assigned,
            excludeSelf))
          ()
      }.start()
  }

  /** R19b: streamed queries against the DEPLOYED artifact, honoring
    * LIVE tombstones — R19 composed with S31's delete mask, closing
    * the standing serving topology: R30 grows the artifact, R32
    * tombstones it, and this face answers each trigger from whatever
    * both have committed. The codebook collects once at start-up; the
    * tombstone table re-reads per trigger (O(deletes) — metadata-scale,
    * exactly the anti-join input size), so a delete is honored from
    * the trigger after its arrival — the same visibility contract R32
    * gives the batch serves. Stateless per trigger; the artifact is
    * the state and lives outside the stream.
    */
  def serveArtifact(s: SparkSession, artifact: String, queries: DataFrame,
      checkpoint: String, excludeSelf: Boolean = false, nprobe: Int = 1)
      (sink: DataFrame => Unit): StreamingQuery = {
    val assign = graft.sim.SimQueries.ivfQueryAssigner(s, artifact, nprobe)
    queries.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          sink(graft.sim.SimQueries.serveArtifactDeletedOn(
            s, assign(b.toDF()), artifact, excludeSelf))
          ()
      }.start()
  }

  /** R36: streamed RANGE queries against the deployed artifact — the
    * radius verb (S39/S40) on the standing topology: each trigger's
    * (q_id, v) batch fans out to its nprobe lists through the
    * deployed codebook, the postings scan partition-prunes to the
    * probed set, live tombstones mask candidates, survivors within
    * the radius emit. Same start-up/per-trigger split as
    * [[serveArtifact]] (codebook collected once, tombstones re-read
    * per trigger); the body IS the S40 batch core, so the two faces
    * cannot drift (parity-spec'd).
    */
  /** R37: streamed queries against the deployed COMPRESSED artifact
    * (S43/S45) — the ADC serving verb on the standing topology.
    * Codebooks and centroids collect ONCE at start-up; each trigger
    * collects its (q_id, v) batch once (one job — a trigger's queries,
    * never a corpus) and prepares the probes and both LUTs on the
    * driver, then runs the manifest-resolved, schema-given,
    * partition-pruned codes scan (zero data-dir LISTs and no schema
    * inference on a held artifact — the E33 contract the compressed
    * family is born with) with the LUTs broadcast and live tombstones
    * masking candidates. The per-trigger body IS the S43/S45 batch
    * closure (`ivfPqQueryServer` / `ivfPqResQueryServer`), so the
    * streamed and batch answers cannot drift (parity-spec'd
    * bit-for-bit under 1-file-per-trigger packing). Stateless per
    * trigger; the artifact is the state and lives outside the stream.
    *
    * @param residual serve the S45 residual encoding (per-query
    *                 residual against its probed list's centroid)
    *                 instead of the raw S43 one.
    * @param nprobe   the deployed recall knob (round 13) — inherited
    *                 directly from the batch closures, so the
    *                 streamed face turns it with zero new plan shape
    *                 (raw: wider pruned equi-join; residual:
    *                 per-list LUTs keyed (q_id, cluster, code)).
    */
  def serveAdcArtifact(s: SparkSession, artifact: String,
      queries: DataFrame, checkpoint: String,
      excludeSelf: Boolean = false, residual: Boolean = false,
      nprobe: Int = 1)
      (sink: DataFrame => Unit): StreamingQuery = {
    val serve =
      if (residual)
        graft.sim.SimQueries.ivfPqResQueryServer(s, artifact, excludeSelf,
          nprobe)
      else graft.sim.SimQueries.ivfPqQueryServer(s, artifact, excludeSelf,
        nprobe)
    queries.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          sink(serve(b.toDF()))
          ()
      }.start()
  }

  def serveRangeArtifact(s: SparkSession, artifact: String,
      queries: DataFrame, checkpoint: String,
      excludeSelf: Boolean = false, nprobe: Int = 1)
      (sink: DataFrame => Unit): StreamingQuery = {
    val assign = graft.sim.SimQueries.ivfQueryAssigner(s, artifact, nprobe)
    queries.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          sink(graft.sim.SimQueries.rangeArtifactDeletedOn(
            s, assign(b.toDF()), artifact, excludeSelf))
          ()
      }.start()
  }
}
