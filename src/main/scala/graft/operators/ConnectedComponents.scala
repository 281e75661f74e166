package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components via alternating large-star / small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
  * the formulation that survives adversarial graphs at 100 TB:
  *
  *   - large-star(u): every neighbor v > u re-attaches to
  *     m(u) = min(Γ(u) ∪ u). A high-degree hub's edge list is
  *     REDISTRIBUTED across its neighbors' groups in one round — the
  *     skew resistance plain min-label propagation lacks (a hot key
  *     funnels its whole adjacency through one reducer there).
  *   - small-star(u): neighbors v < u collapse onto m(u), flattening
  *     chains from the other side.
  *
  * Alternating the two converges in O(log n) rounds to a union of
  * stars rooted at each component's minimum id, which IS the label
  * assignment. Both operations are plain groupBy/join shapes —
  * map-side combinable, AQE-skew-splittable.
  *
  * Iterative-loop discipline (see SURVEY §8a): every round's edge set
  * is localCheckpoint()ed — the round body references the previous
  * frame twice, so without lineage truncation the logical plan doubles
  * per round and the driver drowns in analysis; parallelism is sized to
  * the edge set by the caller via `repartition` before entry.
  */
object ConnectedComponents {

  /** canonical form: u < v, no self-loops, distinct */
  private def canonical(e: DataFrame): DataFrame =
    oriented(e).distinct()

  /** orientation only (u < v, no self-loops), WITHOUT the dedup
    * exchange — round-14 (guide §2.4): the large-star output feeds
    * straight into small-star, whose own canonical() dedups the
    * round's result, so deduping between the stars bought nothing but
    * a full (u,v) exchange per round. Duplicate multiplicity stays
    * bounded by the input row count (large-star emits exactly one row
    * per (s,d) input row with d > s — never a blow-up), min/groupBy
    * aggregates are duplicate-insensitive, and the round's OUTPUT set
    * is unchanged — the convergence signature and the final labels
    * see identical frames.
    */
  private def oriented(e: DataFrame): DataFrame =
    e.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))

  private def undirected(e: DataFrame): DataFrame =
    e.select(col("u").as("s"), col("v").as("d"))
      .union(e.select(col("v").as("s"), col("u").as("d")))

  /** for each (s,d) with d > s: re-attach d to min(Γ(s) ∪ s) */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = undirected(e)
    val m = und.groupBy(col("s"))
      .agg(min(col("d")).as("md"))
      .select(col("s"), least(col("md"), col("s")).as("mv"))
    oriented(und.join(m, Seq("s")).filter(col("d") > col("s"))
      .select(col("mv").as("u"), col("d").as("v")))
  }

  /** for each s: strictly-smaller neighbors collapse onto their min,
    * and s attaches to that min too
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val sm = undirected(e).filter(col("d") < col("s"))
    val m = sm.groupBy(col("s")).agg(min(col("d")).as("mv"))
    canonical(
      sm.join(m, Seq("s")).select(col("mv").as("u"), col("d").as("v"))
        .union(m.select(col("mv").as("u"), col("s").as("v"))))
  }

  /** @param edges (u, v) pairs, any orientation/duplication; isolated
    *              nodes (no edges) are not represented in the output
    * @return (node, root) — root = min node id in the component; roots
    *         map to themselves
    */
  def run(edges: DataFrame, maxIters: Int = 30): DataFrame = {
    // lazy checkpoints: the per-round sig() action materializes the
    // round's frame AND truncates its lineage in the same job — an
    // eager checkpoint would double the job count per round
    var e = canonical(edges.toDF("u", "v")).localCheckpoint(false)
    // convergence probe: (count, Σu, Σv) is monotonically non-increasing
    // under both stars (endpoints only ever decrease); equality of the
    // triple across a round is confirmed by an exact set check before
    // declaring the fixpoint.
    //
    // round-15 (guide §2, r14 verdict item 3): the probe is folded INTO
    // the checkpoint-materializing action via LongAccumulators over a
    // single foreachPartition on the physical rows — one job per round
    // where the SQL aggregate form paid a map stage + exchange + take
    // per round (AQE plans each exchange as its own job). At sf0.1 the
    // CC consumers are driver-round-bound (8c/32c ratio ≈ 1), so the
    // per-round fixed cost IS the cost. Accumulator updates inside an
    // action are applied exactly once per task; integer sums wrap the
    // same way the SQL sum did. Values are identical: count/Σu/Σv over
    // the same round frame.
    //
    // The accumulator path reads the two columns by position as
    // physical ints or longs, so any other column type takes the SQL
    // aggregate (which coerces). A null skips the sum it belongs to and
    // still counts its row — SQL count(1)/sum semantics — so nullable
    // columns, which every parquet- or join-derived edge frame has,
    // keep the one-job probe.
    def sig(df: DataFrame): (Long, Long, Long) = {
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val types = Seq(df.schema(0).dataType, df.schema(1).dataType)
      if (!types.forall(t => t == IntegerType || t == LongType)) {
        val r = df.agg(count(lit(1)), sum(col("u")).cast("long"),
          sum(col("v")).cast("long")).head()
        return (r.getLong(0),
          if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2))
      }
      val sc = df.sparkSession.sparkContext
      val cnt = sc.longAccumulator
      val su = sc.longAccumulator
      val sv = sc.longAccumulator
      val Seq(uLong, vLong) = types.map(_ == LongType)
      df.queryExecution.toRdd.foreachPartition { it =>
        def at(r: org.apache.spark.sql.catalyst.InternalRow, i: Int,
               long: Boolean): Long =
          if (r.isNullAt(i)) 0L else if (long) r.getLong(i) else r.getInt(i)
        var c = 0L; var a = 0L; var b = 0L
        while (it.hasNext) {
          val r = it.next()
          c += 1
          a += at(r, 0, uLong)
          b += at(r, 1, vLong)
        }
        cnt.add(c); su.add(a); sv.add(b)
      }
      (cnt.value, su.value, sv.value)
    }
    var prev = sig(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val cur = sig(next)
      if (cur == prev) {
        // one-direction suffices (round-15): both frames are distinct
        // sets (canonical ends in .distinct()) and cur == prev already
        // pins |next| == |e| via the count component, so
        // next ∖ e = ∅ ∧ |next| = |e|  ⇒  next = e — the reverse
        // exceptAll re-proved the same equality for one more full
        // anti-join pass at the fixpoint round of every CC consumer
        converged = next.exceptAll(e).isEmpty
      }
      e = next
      prev = cur
      iter += 1
    }
    require(converged, s"components did not converge in $maxIters rounds")
    // a star fixpoint: every edge is (root, member)
    e.select(col("v").as("node"), col("u").as("root"))
      .union(e.select(col("u").as("node"), col("u").as("root")))
      .distinct()
  }
}
