package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession

/** Native Catalyst expression: cosine similarity of two float- or
  * double-array columns, computed in double. Mixed widths are fine — e.g. a
  * float embedding against a double k-means centroid.
  *
  * This is the (b) tier of the custom-operator ladder — a codegen'd
  * `Expression` instead of a UDF: no row boxing, no Scala-function call per
  * row, it inlines into whole-stage codegen, and the tight primitive loop
  * reads `ArrayData` elements directly. Semantics are bit-identical to
  * [[graft.functions.VectorFunctions.cosine]] (same fold order, double math),
  * so the DuckDB oracles for q44/q45 pin its correctness.
  *
  * Null handling: null on null input (BinaryExpression default). Arrays of
  * unequal length compare over the common prefix (same as `zip_with`).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case NullType => true // null literal → null result
    case _ => false
  }

  // (ExpectsInputTypes is sql-private in Spark 4; inputs must already be
  // numeric arrays — the analyzer surfaces a clear error below otherwise.)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (Seq(left, right).forall(e => isVec(e.dataType)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private def isDoubleArr(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.fold(a.asInstanceOf[ArrayData], isDoubleArr(left.dataType),
      b.asInstanceOf[ArrayData], isDoubleArr(right.dataType))

  // the same loop as [[CosineSimilarity.fold]], emitted inline
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // element getters resolve at CODEGEN time from the static child types —
      // the per-row loop stays branch-free
      def get(arr: String, dt: DataType, i: String): String =
        if (isDoubleArr(dt)) s"$arr.getDouble($i)" else s"(double) $arr.getFloat($i)"
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xv = ${get(a, left.dataType, i)};
          double $yv = ${get(b, right.dataType, i)};
          $dot += $xv * $yv;
          $nx += $xv * $xv;
          $ny += $yv * $yv;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val name = "graft_cosine"

  /** The cosine fold: Σxy / (√Σx² · √Σy²), accumulated in element order over
    * the common prefix, float elements widened to double. The interpreted
    * path and the nearest-centroid rule ([[graft.operators.Similarity.nearest]],
    * which the k-means trainer and the IVF cell and probe columns share)
    * both call this; `doGenCode` emits the same loop.
    */
  def fold(x: ArrayData, xDouble: Boolean, y: ArrayData, yDouble: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xDouble) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (yDouble) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  private val info = new ExpressionInfo(classOf[CosineSimilarity].getName, name)

  private val builder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, s"$name expects 2 arguments")
    CosineSimilarity(children.head, children(1))
  }

  /** Direct session registration (idempotent) — for sessions created without
    * `spark.sql.extensions`.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
}

/** Direct-session registration of EVERY graft native function — the
  * programmatic twin of [[GraftExtensions]] for sessions created without
  * `spark.sql.extensions` (notably [[graft.PostureSessions]] clones, whose
  * fresh SessionState starts with an empty session registry: an operator
  * frame built on a clone would otherwise fail to resolve a function some
  * earlier call registered on the CALLER only — the q86 r15 lesson).
  * Idempotent.
  */
object GraftFunctions {
  def registerAll(spark: SparkSession): Unit = {
    CosineSimilarity.register(spark)
    TextSignatures.register(spark)
    TextStats.register(spark)
    VecPrimitives.register(spark)
    LshBucket.register(spark)
    TopKByScore.register(spark)
    CollectSmallestK.register(spark)
    SmallestKPairs.register(spark)
    FunnelStage.register(spark)
    GraftPii.register(spark)
    OovStats.register(spark)
    ArgMaxText.register(spark)
    LatestBy.register(spark)
    FastRound.register(spark)
  }
}

/** `spark.sql.extensions=graft.expressions.GraftExtensions` installs the
  * engine's native functions into every session of a deployment.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier(CosineSimilarity.name),
      new ExpressionInfo(classOf[CosineSimilarity].getName, CosineSimilarity.name),
      { children: Seq[Expression] => CosineSimilarity(children.head, children(1)) }))
    (TextSignatures.fns ++ TextStats.fns ++ VecPrimitives.fns).foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    ext.injectFunction((FunctionIdentifier(LshBucket.name),
      new ExpressionInfo(classOf[LshBucket].getName, LshBucket.name),
      LshBucket.builder))
    ext.injectFunction((FunctionIdentifier(TopKByScore.name),
      new ExpressionInfo(classOf[TopKByScore].getName, TopKByScore.name),
      TopKByScore.builder))
    ext.injectFunction((FunctionIdentifier(CollectSmallestK.name),
      new ExpressionInfo(classOf[CollectSmallestK].getName, CollectSmallestK.name),
      CollectSmallestK.builder))
    ext.injectFunction((FunctionIdentifier(SmallestKPairs.name),
      new ExpressionInfo(classOf[SmallestKPairs].getName, SmallestKPairs.name),
      SmallestKPairs.builder))
    ext.injectFunction((FunctionIdentifier(PostingPairs.name),
      new ExpressionInfo(classOf[PostingPairs].getName, PostingPairs.name),
      PostingPairs.builder))
    ext.injectFunction((FunctionIdentifier(FunnelStage.name),
      new ExpressionInfo(classOf[FunnelStage].getName, FunnelStage.name),
      FunnelStage.builder))
    ext.injectFunction((FunctionIdentifier("graft_pii_scrub"),
      new ExpressionInfo(classOf[PiiScrub].getName, "graft_pii_scrub"),
      GraftPii.builder))
    ext.injectFunction((FunctionIdentifier(OovStats.name),
      new ExpressionInfo(classOf[OovStats].getName, OovStats.name),
      OovStats.builder))
    ext.injectFunction((FunctionIdentifier(ArgMaxText.name),
      new ExpressionInfo(classOf[ArgMaxText].getName, ArgMaxText.name),
      ArgMaxText.builder))
    ext.injectFunction((FunctionIdentifier(LatestBy.name),
      new ExpressionInfo(classOf[LatestBy].getName, LatestBy.name),
      LatestBy.builder))
    ext.injectFunction((FunctionIdentifier(FastRound.name),
      new ExpressionInfo(classOf[RoundHalfUpFast].getName, FastRound.name),
      { children: Seq[Expression] =>
        require(children.size == 2, s"${FastRound.name} expects 2 arguments")
        RoundHalfUpFast(children.head, children(1))
      }))
  }
}
