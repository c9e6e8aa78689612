package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns (SURVEY.md §2.A A18,
  * §2.C similarity search), built from Spark's codegen'd higher-order
  * functions (`zip_with` / `aggregate`) — no UDF serialization, stays inside
  * WholeStageCodegen.
  *
  * All math is done in double (arrays cast up front): float→double is exact,
  * and the sequential left-fold matches DuckDB's list_* evaluation order, so
  * oracle comparisons agree to the last ulp.
  */
object VectorFunctions {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def normSq(a: Column): Column =
    aggregate(asDouble(a), lit(0.0), (acc, x) => acc + x * x)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity, dot / sqrt(|a|^2 * |b|^2) — the same formula and fold
    * order as DuckDB's `list_cosine_similarity`, for bit-comparable oracle
    * output. Backed by the native codegen expression (single fused loop, no
    * intermediate array) — see CosineSimilarity; the higher-order-function
    * formulation below is kept as the reference implementation.
    */
  def cosineSim(a: Column, b: Column): Column =
    graft.expressions.GraftFunctions.cosine_sim(a, b)

  /** Reference formulation via zip_with/aggregate — numerically identical to
    * cosineSim; ~10x slower on pair joins (allocates per row). Used in tests
    * to cross-check the codegen expression.
    */
  def cosineSimHof(a: Column, b: Column): Column =
    dot(a, b) / sqrt(normSq(a) * normSq(b))

  /** Random-hyperplane LSH signature of one vector: bit p is set when the
    * dot product with `planes(p)` over their common prefix (a sequential
    * double fold, bitwise what the DuckDB oracle's `list_dot_product`
    * computes) is >= 0.
    */
  def lshSignature(planes: IndexedSeq[Array[Double]], v: Array[Float]): Int = {
    var sig = 0
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      var dot = 0.0
      var i = 0
      val n = math.min(plane.length, v.length)
      while (i < n) { dot += plane(i) * v(i); i += 1 }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** Squared L2 distance (used by LSH bucketing and knn variants). */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
}
