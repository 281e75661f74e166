package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<double>` columns, built from codegen'd
  * higher-order functions (`zip_with`/`aggregate`) — no UDFs, so the
  * expressions stay inside whole-stage codegen and the oracle can
  * reproduce them exactly (left-to-right double accumulation, same as
  * DuckDB's list_dot_product).
  *
  * Callers must cast `array<float>` inputs to `array<double>` first
  * (float→double widening is exact; float accumulation is not).
  */
object VectorFunctions {

  /** Codegen'd no-allocation dot product (graft.functions.DotProduct). */
  def dot(a: Column, b: Column): Column = DotProduct(a, b)

  /** The compositional fold the custom expression replaces — kept as
    * the reference semantics (identical left-to-right sum).
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Unit-normalize once so pairwise cosine becomes a single dot —
    * norms are O(n) instead of O(pairs). `x / sqrt(Σx²)` per element,
    * mirrored by list_transform in the oracle.
    */
  def normalize(a: Column): Column = transform(a, x => x / norm(a))

  /** Driver-side twin of [[normalize]] for collected codebooks: the
    * same left-to-right Σx² fold, Math.sqrt, per-element divide —
    * bit-identical to the column expression and to DuckDB's
    * `list_transform(v, x -> x / sqrt(list_dot_product(v, v)))`, so a
    * centroid normalized here and embedded as a literal scores exactly
    * like one normalized in either engine.
    */
  def normalizeSeq(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))
    v.map(_ / n)
  }

  /** Driver-side twin of [[dot]]: the same left-to-right Σ aᵢ·bᵢ over
    * the first `a.length` elements (callers pass equal lengths; the
    * expression returns NULL where they differ).
    */
  def dotSeq(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Driver-side twin of Spark's `round(x, scale)` on a double: HALF_UP
    * on `BigDecimal.valueOf(x)` (the shortest decimal string of `x`,
    * not its exact binary value), NaN and ±Inf passed through. Like
    * Spark it returns +0.0 for -0.0 and for a negative that rounds to
    * zero, since a BigDecimal has no negative zero.
    */
  def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
}
