package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver's contract points:
  * - `SparkEntry.entry` is smoke-run (rows>0) possibly in a session the
  *   driver builds itself, WITHOUT our nanosAsLong flag — so entry must
  *   never depend on the events table's nanosecond timestamps.
  * - every oracle key has a query; every query is callable.
  * - the VcrCli command surface validates its arguments like the
  *   reference does.
  */
class DriverContractSpec extends AnyFunSuite {
  // deliberately nanosAsLong off — a vanilla driver session. A session
  // built over the shared context inherits the context's settings, so
  // the flag is switched off here, not just left out.
  lazy val spark: SparkSession = SharedSpark.own(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "false"))

  test("entry() returns rows in a vanilla session (no legacy flags)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys ⊆ query keys; names are alias-safe") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without queries: ${os -- qs}")
    assert(qs.size >= 62)
    // rows-only entries are the documented exceptions: the stub-codec
    // decode boundary, graph ANN whose L-round beam traversal is not
    // SQL-expressible (deterministic + recall-spec'd in SimSpec; the
    // artifact-served twins inherit the same face, parity-spec'd
    // against the in-memory builds), and the deep-BPE checkpoint/encode
    // gates (no SQL oracle can restate 32k chained merge rounds;
    // reference-trainer-spec'd in TextSpec, fold mechanism
    // oracle-pinned by text_bpe_deep_ckpt_prefix), and the graph
    // drift monitor (its input is the beam build's edge set — same
    // S12/S13 adjudication; monotonicity/churn/determinism spec'd)
    assert((qs -- os) === Set("media_decode", "knn_graph",
      "knn_graph_hnsw", "knn_graph_artifact", "knn_graph_hnsw_artifact",
      "text_bpe_deep_ckpt", "text_bpe_deep_encode", "knn_graph_drift"))
  }

  test("VcrCli validates commands and arguments like the reference") {
    import graft.vcr.{VcrCli, VcrConfig}
    val cfg = VcrConfig(Some("s"), Some("/tmp/t"), Some("/tmp/b"))
    val e1 = intercept[IllegalArgumentException] {
      VcrCli.run(spark, cfg, Array("play"))
    }
    assert(e1.getMessage.contains("at least two arguments"))
    val e2 = intercept[IllegalArgumentException] {
      VcrCli.run(spark, cfg, Array("play", "not-a-date"))
    }
    assert(e2.getMessage.contains("Could not parse start date"))
    val e3 = intercept[IllegalArgumentException] {
      VcrCli.run(spark, cfg, Array("rewind"))
    }
    assert(e3.getMessage.contains("Unknown command"))
    val e4 = intercept[IllegalArgumentException] {
      VcrCli.run(spark, VcrConfig(Some("s"), None, Some("/tmp/b")),
        Array("estimate", "2024-01-01"))
    }
    assert(e4.getMessage.contains("target stream"))
  }
}
