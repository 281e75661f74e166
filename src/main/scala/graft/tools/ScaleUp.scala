package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× scale-up of the driver's sf0.1 tables, for the
  * sf1.0 scale probe (VERDICT r4 #6). The driver provides
  * sf{0.001,0.01,0.1}; the probe needs one decade more to measure —
  * not argue — that the bounded-bucket/broadcast/state claims hold.
  *
  * Replication is structure-preserving, not row-copying:
  *  - documents: replica r>0 prefixes one replica token to the text,
  *    so every intra-replica duplicate/near-dup cluster recurs 10×
  *    (cluster COUNT scales, cluster SIZE doesn't — the realistic
  *    shape for a bigger crawl) and n_chars is recomputed.
  *  - embeddings: replica r rotates the 64-dim vector left by r —
  *    norm-preserving, direction-distinct, so cluster geometry scales
  *    without planting artificial near-dup pairs across replicas.
  *  - events: replica r offsets event_id/user_id and shifts ts by r
  *    seconds; props is left alone — the payload-distinct set stays
  *    ~100 while arrivals grow 10×, exactly the dup-heavy regime the
  *    ingest-dedup ladder exists for.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> [factor] [which]
  * where `which` is all|core|tpch (core = documents/embeddings/events/
  * customer; tpch = the analytics fact/dim tables, round 8). The session
  * is `graft.Sessions`' (`SPARK_GRAFT_CPUS`).
  */
object ScaleUp {

  def replicate(s: SparkSession, src: String, out: String,
                factor: Int): Unit = {
    val docs = s.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    val emb = s.read.parquet(s"$src/embeddings.parquet")
    val nEmb = emb.count()
    val ev = s.read.parquet(s"$src/events.parquet")
    val nEv = ev.count()

    val docReps = (0 until factor).map { r =>
      val t = if (r == 0) col("text")
        else concat(lit(s"rep$r "), col("text"))
      docs.select((col("doc_id") + lit(r * nDocs)).as("doc_id"),
        t.as("text"), col("lang"), col("source"),
        length(t).cast("long").as("n_chars"))
    }
    docReps.reduce(_ union _).repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val embReps = (0 until factor).map { r =>
      val rot = if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 64 - r),
          slice(col("embedding"), 1, r))
      emb.select((col("vec_id") + lit(r * nEmb)).as("vec_id"),
        rot.as("embedding"), col("label"))
    }
    embReps.reduce(_ union _).repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // ts arrives in whichever physical type the generator chose (the
    // Tables.withEventTime story): TIMESTAMP(NANOS)→long under
    // nanosAsLong, where the r-second shift is integer nanos, or
    // timestamp[us]→TIMESTAMP_NTZ, where it is an interval add. Either
    // way the written column round-trips through Tables.withEventTime
    // like the original.
    val tsShift: Int => org.apache.spark.sql.Column =
      ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          r => col("ts") + lit(r * 1000000000L)
        case _ =>
          r => col("ts") + expr(s"make_interval(0, 0, 0, 0, 0, 0, $r)")
      }
    val evReps = (0 until factor).map { r =>
      ev.select((col("event_id") + lit(r * nEv)).as("event_id"),
        tsShift(r).as("ts"),
        (col("user_id") + lit(r * 100000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    evReps.reduce(_ union _).repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // customer: replica r offsets the key and REGENERATES the name in
    // the same Customer#%09d shape, so the fuzzy-key edit-distance
    // structure (names differing in single digits) scales with the
    // table instead of replicating verbatim duplicates
    val cust = s.read.parquet(s"$src/customer.parquet")
    val nCust = cust.count()
    val custReps = (0 until factor).map { r =>
      val k = col("c_custkey") + lit(r * nCust)
      cust.select(k.as("c_custkey"),
        format_string("Customer#%09d", k).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }
    custReps.reduce(_ union _).repartition(8)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
  }

  /** The TPC-H-ish fact/dim tables (round 8, for the analytics-family
    * sf1 probe). Keys are dense 0..n-1 in the driver's tables, so
    * replica r offsets every key column by r*count — referential
    * integrity holds WITHIN a replica (replica-r lineitems point at
    * replica-r orders/parts/suppliers), matching [[replicate]]'s
    * customer offset, so each replica is a self-contained shard of a
    * 10×-bigger business over the SAME date range: date-filter
    * selectivities and group cardinalities keep their sf0.1 shape
    * while every join's output scales 10×. nation/region are fixed
    * dims — copied, not replicated (per-nation groups grow 10×, the
    * realistic shape). supplier names are REGENERATED in the
    * Supplier#%09d shape like customer's, not copied.
    */
  def replicateTpch(s: SparkSession, src: String, out: String,
                    factor: Int): Unit = {
    val ord = s.read.parquet(s"$src/orders.parquet")
    val nOrd = ord.count()
    val li = s.read.parquet(s"$src/lineitem.parquet")
    val part = s.read.parquet(s"$src/part.parquet")
    val nPart = part.count()
    val supp = s.read.parquet(s"$src/supplier.parquet")
    val nSupp = supp.count()
    val nCust = s.read.parquet(s"$src/customer.parquet").count()

    (0 until factor).map { r =>
      ord.select((col("o_orderkey") + lit(r * nOrd)).as("o_orderkey"),
        (col("o_custkey") + lit(r * nCust)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }.reduce(_ union _).repartition(16)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    (0 until factor).map { r =>
      li.select((col("l_orderkey") + lit(r * nOrd)).as("l_orderkey"),
        (col("l_partkey") + lit(r * nPart)).as("l_partkey"),
        (col("l_suppkey") + lit(r * nSupp)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }.reduce(_ union _).repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    (0 until factor).map { r =>
      part.select((col("p_partkey") + lit(r * nPart)).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }.reduce(_ union _).repartition(8)
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    (0 until factor).map { r =>
      val k = col("s_suppkey") + lit(r * nSupp)
      supp.select(k.as("s_suppkey"),
        format_string("Supplier#%09d", k).as("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }.reduce(_ union _).repartition(4)
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")

    s.read.parquet(s"$src/nation.parquet")
      .write.mode("overwrite").parquet(s"$out/nation.parquet")
    s.read.parquet(s"$src/region.parquet")
      .write.mode("overwrite").parquet(s"$out/region.parquet")
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Sessions("graft-scaleup")
    val which = if (args.length > 3) args(3) else "all"
    if (which == "all" || which == "core")
      replicate(spark, src, out, factor)
    if (which == "all" || which == "tpch")
      replicateTpch(spark, src, out, factor)
    spark.stop()
  }
}
