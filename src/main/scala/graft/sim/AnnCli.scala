package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.{SnapshotManifest, StagedCommit}

/** Corpus-reader seam for the CLI's retrain verb: `retrain` refits
  * the deployed codebook against the CURRENT corpus, and until now it
  * could only read that corpus through the fixed embeddings-table
  * shape (the r11 carried residual). A deployment whose vectors live
  * in any other layout implements this one method — the contract is
  * the frame every retrain consumer needs: `vec_id BIGINT`,
  * `v ARRAY<DOUBLE>` (raw vector), `vn ARRAY<DOUBLE>` (normalized).
  */
trait CorpusReader {
  def vectors(s: SparkSession, corpus: String): DataFrame
}

object CorpusReader {
  /** The default: the suite's embeddings-table shape. Carries `label`
    * beside (vec_id, v, vn) — the flat retrain ignores it; the
    * compressed refresh (S46) seeds its codebooks from it and refuses
    * a reader that cannot supply one. */
  val default: CorpusReader = new CorpusReader {
    def vectors(s: SparkSession, corpus: String): DataFrame =
      graft.Tables.embeddings(s, corpus)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding")
            .cast("array<double>").as("v"),
          org.apache.spark.sql.functions.col("label"))
        .withColumn("vn", graft.functions.VectorFunctions
          .normalize(org.apache.spark.sql.functions.col("v")))
  }
}

/** CLI surface for the DEPLOYED-index maintenance story — the VcrCli
  * discipline applied to the ANN artifacts: the operations an index
  * operator runs against a standing deployment (S27/S36 artifacts
  * under R30/R32/R15b streams) without touching the serving code.
  *
  * {{{
  * sbt "runMain graft.sim.AnnCli status  /indexes/products"
  * sbt "runMain graft.sim.AnnCli compact /indexes/products [minDead]"
  * sbt "runMain graft.sim.AnnCli vacuum  /indexes/products"
  * sbt "runMain graft.sim.AnnCli track   /indexes/products"
  * sbt "runMain graft.sim.AnnCli drift   /indexes/catalog-graph"
  * sbt "runMain graft.sim.AnnCli drift   /indexes/products /data/sf1"
  * sbt "runMain graft.sim.AnnCli retrain /indexes/versioned /data/sf1"
  * }}}
  *
  * Artifact kind is detected from its tables: `postings` → IVF
  * (compact = `ivfCompact`), `codes` → IVFPQ (compact =
  * `ivfPqCompact`), `members`+`edges` → layered graph (compact =
  * `hnswCompact`). `drift` runs the family's retrain monitor: the
  * S38 graph monitor needs only the artifact; the S33 IVF and S49
  * IVFPQ monitors price the deployed codebook/books against the
  * CURRENT corpus, so they take the corpus dir as a third argument
  * (refused loudly without it; a residual-encoded codes artifact is
  * refused by the `_encoding` marker — the S49 monitor prices raw
  * ADC distortion). `vacuum` runs the E31 grace deletion
  * explicitly — compaction already vacuums on entry, but an operator
  * retiring a deployment wants the reclaim without paying a rewrite
  * (the expire-snapshots verb); it takes the same single-maintainer
  * `_maintenance` lock the compactors hold, so it can never race a
  * mid-flight compact.
  */
object AnnCli {

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions("graft-annctl")
    try run(spark, args)
    finally spark.stop()
  }

  private def tablesOf(fs: org.apache.hadoop.fs.FileSystem,
                       artifact: String): Set[String] =
    Seq("postings", "members", "edges", "entry", "tombstones",
      "centroids", "codes", "pq_codebooks")
      .filter(t => fs.exists(
        new org.apache.hadoop.fs.Path(s"$artifact/$t"))).toSet

  def run(spark: SparkSession, args: Array[String],
          reader: CorpusReader = CorpusReader.default): Unit = {
    val root = args.lift(1).getOrElse(
      throw new IllegalArgumentException(
        s"usage: <status|compact|vacuum|track|refine|drift|retrain> " +
          "<artifact> [args]"))
    val fs = SnapshotManifest.fsOf(spark, root)
    // a VERSIONED deployment (S41: `_current` → gen-N) reads and
    // maintains through its live generation; `retrain` applies only
    // to this shape (flat artifacts are maintained in place)
    val versioned = IvfReindex.currentGen(fs, root)
    if (args.headOption.contains("retrain")) {
      if (versioned.isEmpty)
        throw new IllegalArgumentException(
          s"$root is not a versioned deployment (no _current pointer)" +
            " — retrain needs IvfReindex.deployOn's layout")
      val corpus = args.lift(2).getOrElse(
        throw new IllegalArgumentException(
          "retrain needs the current corpus: retrain <artifact> " +
            "<corpusDir>"))
      val e = reader.vectors(spark, corpus)
      // kind-routed: a compressed live generation (codes table)
      // REFRESHES (rebuild behind the pointer — its label-seeded
      // books don't refit from the deployed state); a flat one
      // RETRAINS (the S33-priced Lloyd refit)
      val live = s"$root/${versioned.get}"
      val compressed = fs.exists(
        new org.apache.hadoop.fs.Path(s"$live/codes"))
      val g =
        if (compressed) IvfPqReindex.refresh(spark, root, e)
        else IvfReindex.retrain(spark, root, e)
      println(s"${if (compressed) "Refreshed" else "Retrained"} $root " +
        s"-> $g (previous generation kept for one grace cycle)")
      if (compressed) {
        // refresh → RETUNE (round 14, r13 verdict item 4/5 chain): the
        // swapped-in generation carries NEW books, and S48 measured
        // ADC recall as NON-monotone in nprobe — the knob tuned
        // against the old books may sit on the wrong side of the new
        // curve. Run the S48 ladder against the new generation and
        // report the re-chosen nprobe beside the rung table; the
        // fresh full-corpus build has no tombstones, so the truth is
        // brute cosine over the whole corpus.
        val rungs = SimQueries.ivfPqTuneOn(spark, s"$root/$g", e)
          .collect()
        val chosen = rungs.filter(_.getAs[Boolean]("chosen")).head
        println(s"Post-refresh tune on $g: nprobe=" +
          s"${chosen.getAs[Int]("nprobe")} (recall_micro=" +
          s"${chosen.getAs[Long]("recall_micro")}); rungs " +
          rungs.map(r => s"p=${r.getAs[Int]("nprobe")}:" +
            s"${r.getAs[Long]("recall_micro")}").mkString(", "))
      }
      return
    }
    val artifact = versioned.fold(root)(g => s"$root/$g")
    versioned.foreach(g => println(s"Versioned deployment: live=$g"))
    // On a VERSIONED deployment the maintenance verbs below lock
    // inside the live generation (`root/gen-N/_maintenance`) while
    // retrain locks at the root — those two would not mutually
    // exclude, so a retrain's generation-grace deletion could remove a
    // gen directory a concurrently launched compact/vacuum resolved
    // and is still rewriting. Nest: take the ROOT lock first (the one
    // retrain holds), then let the verb take its per-generation lock
    // inside — different paths, no self-deadlock. Flat artifacts skip
    // this (root == artifact; a second acquire of the SAME path would
    // refuse itself).
    def rootLocked[T](body: => T): T =
      versioned.fold(body)(_ =>
        SnapshotManifest.withMaintenanceLock(fs, root)(body))
    val tables = tablesOf(fs, artifact)
    if (tables.isEmpty)
      throw new IllegalArgumentException(
        s"$artifact holds no index tables (postings/members/edges)")
    args.headOption match {
      case Some("status") =>
        val committed = StagedCommit.committedView(fs, artifact)
        val kind =
          if (tables("codes")) "ivfpq"
          else if (tables("postings")) "ivf" else "graph"
        println(s"Artifact $artifact ($kind)")
        tables.toSeq.sorted.foreach { t =>
          val files = SnapshotManifest.resolve(spark, artifact, t)
          val m = SnapshotManifest.read(fs, artifact, t)
          val v = m.map(_.version.toString).getOrElse("-")
          val removed = m.map(_.removed.size).getOrElse(0)
          println(f"  $t%-10s live_files=${files.size}%-5d " +
            f"manifest=v$v%-4s awaiting_vacuum=$removed%d")
        }
        println(s"  committed_batches=${committed.ids.size} " +
          s"low_watermark=${committed.low}")
        if (tables("tombstones")) {
          val n = spark.read.schema("vec_id LONG")
            .parquet(s"$artifact/tombstones").distinct().count()
          println(s"  live_tombstones=$n")
        }
      case Some("compact") =>
        rootLocked {
          if (tables("codes")) {
            val minDead = args.lift(2).map(_.toLong).getOrElse(1L)
            SimQueries.ivfPqCompact(spark, artifact, minDead)
            println(s"Compacted IVFPQ artifact $artifact (minDead=$minDead)")
          } else if (tables("postings")) {
            val minDead = args.lift(2).map(_.toLong).getOrElse(1L)
            SimQueries.ivfCompact(spark, artifact, minDead)
            println(s"Compacted IVF artifact $artifact (minDead=$minDead)")
          } else {
            SimQueries.hnswCompact(spark, artifact)
            println(s"Compacted graph artifact $artifact")
          }
        }
      case Some("track") =>
        // migrate a LEGACY artifact to manifest-held listings (E33):
        // one audit walk per table — the last data-dir listing its
        // serving path ever pays. Idempotent; also the recovery verb
        // if a held manifest is ever doubted (re-derives from disk).
        val dataTables = tables intersect
          Set("postings", "members", "edges", "entry", "codes")
        rootLocked {
          SnapshotManifest.withMaintenanceLock(fs, artifact) {
            dataTables.toSeq.sorted.foreach { t =>
              SnapshotManifest.track(spark, artifact, t)
            }
          }
        }
        dataTables.toSeq.sorted.foreach { t =>
          val m = SnapshotManifest.read(fs, artifact, t).get
          println(s"  $t tracked: ${m.files.map(_.size).getOrElse(0)} " +
            s"files held at v${m.version}")
        }
      case Some("vacuum") =>
        // the standalone verb takes the same single-maintainer lock
        // the compactors hold: vacuuming while a compact is mid-flight
        // would delete its just-moved-in gen files before the swap
        val dataTables = tables intersect
          Set("postings", "members", "edges", "entry", "codes")
        rootLocked {
          SnapshotManifest.withMaintenanceLock(fs, artifact) {
            dataTables.toSeq.sorted.foreach { t =>
              SnapshotManifest.vacuum(fs, artifact, t)
              spark.catalog.refreshByPath(s"$artifact/$t")
            }
          }
        }
        println(s"Vacuumed ${dataTables.toSeq.sorted.mkString(", ")} " +
          s"of $artifact")
      case Some("refine") =>
        // S42: execute the S38 recommendation on a graph deployment
        if (!tables("members"))
          throw new IllegalArgumentException(
            "refine rewrites the graph base layer; IVF deployments " +
              "retrain instead (see the retrain verb)")
        rootLocked { SimQueries.graphRefine(spark, artifact) }
        println(s"Refined graph artifact $artifact (base layer " +
          "swapped snapshot-isolated; replaced files await vacuum)")
      case Some("drift") =>
        if (tables("members")) {
          val r = SimQueries.graphDriftOn(spark, artifact).head()
          println(s"obj_deployed_micro=${r.getLong(0)} " +
            s"obj_refined_micro=${r.getLong(1)} gain_micro=${r.getLong(2)} " +
            s"n_nodes=${r.getLong(3)} refine=${r.getBoolean(4)}")
        } else if (tables("codes")) {
          // S49: the COMPRESSED monitor — quantization distortion of
          // the deployed books vs books rebuilt from the current
          // corpus (what the refresh verb would ship). Until round 13
          // a codes artifact fell through to the flat S33 monitor,
          // which prices the coarse codebook and says nothing about
          // the PQ books the refresh actually replaces.
          val corpus = args.lift(2).getOrElse(
            throw new IllegalArgumentException(
              "drift on an IVFPQ artifact needs the current corpus: " +
                "drift <artifact> <corpusDir> (see knn_ivfpq_drift)"))
          val enc = SimQueries.encodingOf(fs, artifact)
          val r = enc match {
            case "raw" =>
              SimQueries.ivfPqDriftOn(spark, artifact, corpus).head()
            case "residual" =>
              // S49b: residual distortion depends on the coarse
              // codebook too — its own monitor, not the raw one
              SimQueries.ivfPqResDriftOn(spark, artifact, corpus).head()
            case other =>
              throw new IllegalArgumentException(
                s"$artifact is '$other'-encoded: a rotation-aware " +
                  "distortion monitor must replay the rotation, which " +
                  "is the rebuild's job — re-run opqIndexWrite to " +
                  "refresh an OPQ deployment")
          }
          println(s"err_deployed_micro=${r.getLong(0)} " +
            s"err_refreshed_micro=${r.getLong(1)} " +
            s"gain_micro=${r.getLong(2)} " +
            s"n_vectors=${r.getLong(3)} refresh=${r.getBoolean(4)}")
        } else {
          // IVF drift prices the DEPLOYED codebook against the CURRENT
          // corpus (S33) — the codebook alone can't know it's stale,
          // so the corpus path is required
          val corpus = args.lift(2).getOrElse(
            throw new IllegalArgumentException(
              "drift on an IVF artifact needs the current corpus: " +
                "drift <artifact> <corpusDir> (see knn_ivf_drift)"))
          val r = SimQueries.ivfDriftOn(spark, artifact, corpus).head()
          println(s"obj_deployed_micro=${r.getLong(0)} " +
            s"obj_retrained_micro=${r.getLong(1)} " +
            s"gain_micro=${r.getLong(2)} " +
            s"n_vectors=${r.getLong(3)} retrain=${r.getBoolean(4)}")
        }
      case other =>
        throw new IllegalArgumentException(
          s"unknown verb $other: expected status|compact|vacuum|track|refine|drift|retrain")
    }
  }
}
