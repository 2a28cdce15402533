package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession

/** Native Catalyst expression: sign-random-projection LSH bucket id of a
  * float/double vector — bit `p` of the result is set iff the dot product
  * with hyperplane `p` is positive.
  *
  * The hyperplanes are not a child: they are derived deterministically from
  * `(nPlanes, dim, seed)` (java.util.Random Gaussians, the same sequence as
  * [[hyperplanes]]) and cached per expression instance, so the per-row work
  * is one fused primitive loop with no array materialization. This replaces
  * a `nPlanes`-way `zip_with`/`aggregate` composition whose higher-order
  * functions fall out of whole-stage codegen. Same fold order, same double
  * math — bucket ids are bit-identical to the composed form (spec-pinned).
  *
  * Null handling: null on null vector. Vectors shorter than `dim` project
  * over the common prefix (as `zip_with` would); longer ones ignore the
  * tail beyond `dim`.
  */
case class LshBucket(first: Expression, second: Expression,
                     third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = first.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      Seq((second, "nPlanes"), (third, "dim"), (fourth, "seed")).collectFirst {
        case (e, n) if !(e.foldable && e.dataType == IntegerType) =>
          TypeCheckResult.TypeCheckFailure(s"$prettyName: $n must be a literal int")
      }.getOrElse(TypeCheckResult.TypeCheckSuccess)
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${dt.simpleString}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = LshBucket.name

  private def isDoubleArr: Boolean = first.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  @transient private lazy val nPlanes = second.eval().asInstanceOf[Int]
  @transient private lazy val dim = third.eval().asInstanceOf[Int]
  @transient private lazy val seed = fourth.eval().asInstanceOf[Int]
  /** Flattened row-major planes (nPlanes × dim), built once per instance. */
  @transient private lazy val flatPlanes: Array[Double] =
    LshBucket.hyperplanes(nPlanes, dim, seed.toLong).flatten

  private def bucketOf(vec: ArrayData): Int = {
    val xd = isDoubleArr
    val n = math.min(dim, vec.numElements())
    var bucket = 0
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      val base = p * dim
      var i = 0
      while (i < n) {
        val x = if (xd) vec.getDouble(i) else vec.getFloat(i).toDouble
        dot += x * flatPlanes(base + i)
        i += 1
      }
      if (dot > 0) bucket |= 1 << p
      p += 1
    }
    bucket
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = first.eval(input)
    if (v == null) null else bucketOf(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val planesRef = ctx.addReferenceObj("lshPlanes", flatPlanes, "double[]")
    val get = if (isDoubleArr) "getDouble" else "getFloat"
    val vec = first.genCode(ctx)
    val n = ctx.freshName("n")
    val bucket = ctx.freshName("bucket")
    val p = ctx.freshName("p")
    val dot = ctx.freshName("dot")
    val base = ctx.freshName("base")
    val i = ctx.freshName("i")
    val loop =
      s"""
        int $n = java.lang.Math.min($dim, ${vec.value}.numElements());
        int $bucket = 0;
        for (int $p = 0; $p < $nPlanes; $p++) {
          double $dot = 0.0;
          int $base = $p * $dim;
          for (int $i = 0; $i < $n; $i++) {
            $dot += ((double) ${vec.value}.$get($i)) * $planesRef[$base + $i];
          }
          if ($dot > 0) $bucket |= 1 << $p;
        }
        ${ev.value} = $bucket;
      """
    ev.copy(code =
      code"""
        ${vec.code}
        boolean ${ev.isNull} = ${vec.isNull};
        int ${ev.value} = 0;
        if (!${ev.isNull}) {
          $loop
        }
      """)
  }

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): LshBucket =
    copy(first = a, second = b, third = c, fourth = d)
}

object LshBucket {
  val name = "graft_lsh_bucket"

  /** Fixed random hyperplanes: nPlanes × dim, seed-deterministic (the
    * one generator; [[graft.operators.Similarity.withLshBucketComposed]]
    * takes its planes from here).
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  private val info = new ExpressionInfo(classOf[LshBucket].getName, name)

  private[expressions] val builder: Seq[Expression] => Expression = { c =>
    require(c.size == 4, s"$name expects (vec, nPlanes, dim, seed)")
    LshBucket(c(0), c(1), c(2), c(3))
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
}
