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
  * map-side combinable, AQE-skew-splittable. The loop stops as soon as
  * the edge set is that forest of stars, so no round is spent
  * confirming a fixpoint, and an input that already is one runs none.
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
    * exchange: the large-star output feeds straight into small-star,
    * whose own canonical() dedups the round's result, so deduping
    * between the stars bought nothing but a full (u,v) exchange per
    * round. Duplicate multiplicity stays bounded by the input row count
    * (large-star emits exactly one row per (s,d) input row with d > s —
    * never a blow-up), min/groupBy aggregates are duplicate-insensitive,
    * and the round's OUTPUT set is unchanged.
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

  /** True when the canonical frame `e` is a forest of stars: no node
    * has two parents and no parent is a child. Each star's centre is
    * then below all its members (u < v), so it is its component's
    * minimum, and the forest is the fixpoint the alternating stars
    * converge to (Kiveris et al.): another round would return `e`
    * unchanged. One groupBy over the endpoints, whose map stage also
    * materializes `e`'s lazy checkpoint.
    */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(inline(array(struct(col("u").as("n"), lit(0).as("child")),
        struct(col("v").as("n"), lit(1).as("child")))))
      .groupBy(col("n"))
      .agg(max(col("child")).as("child"), count(lit(1)).as("deg"))
      // a child with a second parent, or with a child of its own
      .filter(col("child") === 1 && col("deg") >= 2)
      .isEmpty

  /** @param edges (u, v) pairs, any orientation/duplication; isolated
    *              nodes (no edges) are not represented in the output
    * @return (node, root) — root = min node id in the component; roots
    *         map to themselves
    */
  def run(edges: DataFrame, maxIters: Int = 30): DataFrame = {
    // lazy checkpoints: each round's star-forest check materializes the
    // round's frame and truncates its lineage in the same action
    var e = canonical(edges.toDF("u", "v")).localCheckpoint(false)
    var iter = 0
    while (!isStarForest(e)) {
      require(iter < maxIters,
        s"components did not converge in $maxIters rounds")
      e = smallStar(largeStar(e)).localCheckpoint(false)
      iter += 1
    }
    // a star forest: every edge is (root, member)
    e.select(col("v").as("node"), col("u").as("root"))
      .union(e.select(col("u").as("node"), col("u").as("root")))
      .distinct()
  }
}
