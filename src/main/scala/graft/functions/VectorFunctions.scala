package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `ArrayType(FloatType)` embedding columns, built
  * entirely from codegen'd higher-order functions (`zip_with`/`aggregate`) —
  * no UDFs, so the expressions inline into whole-stage codegen and survive
  * column pruning/filter pushdown around them.
  *
  * Elements are cast to double *before* any arithmetic so results are
  * engine-portable (float×float differs from double×double in the last ULP),
  * and folds run in element order, making results deterministic.
  */
object VectorFunctions {

  /** Elementwise cast to double. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via zip_with + ordered fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two float-array columns (computed in double). */
  def cosine(a: Column, b: Column): Column = {
    val ad = toDouble(a)
    val bd = toDouble(b)
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** The codegen'd native variant ([[graft.expressions.CosineSimilarity]]):
    * bit-identical result, no per-element boxing — use on hot paths.
    * Registers the function in the owning session on first use.
    */
  def cosineNative(spark: org.apache.spark.sql.SparkSession)(a: Column, b: Column): Column = {
    graft.expressions.CosineSimilarity.register(spark)
    call_function(graft.expressions.CosineSimilarity.name, a, b)
  }

  /** Codegen'd dot product and L2 norm ([[graft.expressions.DotProduct]] /
    * [[graft.expressions.L2Norm]]) — the norm-factored cosine primitives:
    * `dotNative(a,b) / (normNative(a) * normNative(b))` is bit-identical to
    * [[cosineNative]] (same fold order, same division shape), but lets an
    * index pay each vector's norm ONCE instead of per pair.
    */
  def dotNative(spark: org.apache.spark.sql.SparkSession)(a: Column, b: Column): Column = {
    graft.expressions.VecPrimitives.register(spark)
    call_function(graft.expressions.VecPrimitives.dotName, a, b)
  }
  def normNative(spark: org.apache.spark.sql.SparkSession)(a: Column): Column = {
    graft.expressions.VecPrimitives.register(spark)
    call_function(graft.expressions.VecPrimitives.normName, a)
  }

  /** HALF_UP decimal rounding, bit-exact with `functions.round(c, s)` but
    * ~1000x cheaper per row ([[graft.expressions.FastRound]]) — use where a
    * candidate STREAM is rounded (ANN scoring, near-dup verify): Spark's
    * double Round is a per-row BigDecimal round-trip that dominated q129's
    * search wall (tools.RoundCostProbe).
    */
  def roundNative(spark: org.apache.spark.sql.SparkSession)(c: Column, scale: Int): Column = {
    graft.expressions.FastRound.register(spark)
    call_function(graft.expressions.FastRound.name, c, lit(scale))
  }

  /** Session-less variant for pure Column-builder helpers: registers
    * against the thread's active session (always set by the time a query
    * builder runs — Verify, perfbench and the tests create the session first).
    */
  def roundNative(c: Column, scale: Int): Column =
    roundNative(org.apache.spark.sql.SparkSession.active)(c, scale)
}
