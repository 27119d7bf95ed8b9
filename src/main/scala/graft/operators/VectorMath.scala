package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared in-row vector arithmetic over `ArrayType` embedding columns:
  * deterministic left-to-right folds, no explode/shuffle. One
  * implementation so every cosine in the engine carries identical
  * numerics — [[LlmOps]] (brute-force top-k) and [[SimilarityOps]] (LSH
  * buckets, IVF) must rank by the same values.
  *
  * The cosine is the native fused [[graft.functions.CosineSim]]
  * expression (whole-stage codegen, one pass, zero intermediate arrays);
  * the higher-order form below is the numerics REFERENCE —
  * [[graft.functions.CosineSim]] is bit-identical to it by construction
  * (same per-accumulator left-to-right double sums) and the equivalence
  * is asserted in tests.
  */
object VectorMath {

  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def sqnorm(a: Column): Column =
    aggregate(
      transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** The higher-order-function cosine (CodegenFallback, three
    * intermediate arrays per evaluation) — the portability reference the
    * native expression must match bit-for-bit.
    */
  def cosineHof(a: Column, b: Column): Column =
    round(dot(a, b) / (sqrt(sqnorm(a)) * sqrt(sqnorm(b))), 6)

  /** Cosine rounded to 6 decimals — rounding BEFORE any ordering keeps
    * rankings stable across summation orders and engines (SURVEY §7.3).
    */
  def cosine(a: Column, b: Column): Column =
    round(call_function("cosine_sim", a, b), 6)
}
