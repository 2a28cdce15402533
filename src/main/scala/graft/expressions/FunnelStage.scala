package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession

/** Greedy ordered-funnel stage per group — the native form of q102's
  * `aggregate(sort_array(collect_list(struct(ts, tb, tp))), …)` fold
  * (round 16; 568e947:Q102_DECOMP.json put 0.32 s of the 0.58 s wall in the entity
  * exchange + per-entity struct-array sort, with the HOF fold itself free).
  *
  * `graft_funnel_stage(ts_us, step_idx, window_us)` packs each event into
  * ONE long — `(ts_us << 8) | step_idx` — so the aggregation buffer, the
  * map-side partial, and the shuffle payload are primitive long arrays
  * (~8 B/event vs ~34 B for the struct row: ts + tiebreak + step string),
  * and the per-group sort at eval time is a primitive radix-class
  * `Arrays.sort`, not a struct comparator. The walk is the exact fold
  * contract [[graft.operators.Funnels.funnelStages]] declares: anchor at
  * the first step-0 event, then advance to step i+1 on the earliest
  * step-(i+1) event with `ts > acc.ts && ts - acc.ts <= window`; ties at
  * equal µs never advance (strict `>`), which also makes the result
  * invariant to the order of equal-ts events — at most one equal-ts event
  * can be consumed (consuming any makes the rest fail the strict guard),
  * and only events of the single currently-expected step type match, so
  * dropping the struct tiebreak column changes no group's stage. The
  * subtraction form of the window guard (`ts - acc.ts <= window`) is
  * overflow-safe for any non-negative window literal.
  *
  * Packing bounds, enforced at update: `0 <= step_idx < 256` and
  * `0 <= ts_us < 2^55` (epoch-µs stays under 2^51 until year ~3084; a
  * funnel past 256 steps or negative timestamps must use the HOF form).
  * Null semantics: rows with a null ts or step index are dropped
  * (collect_list-style, like every graft_* aggregate).
  */
case class FunnelStage(tsExpr: Expression, idxExpr: Expression, windowExpr: Expression,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FunnelStage.Events] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (tsExpr.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a BIGINT ts first arg")
    else if (idxExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects an INT step index second arg")
    else if (!(windowExpr.foldable && windowExpr.dataType == LongType))
      TypeCheckResult.TypeCheckFailure(s"$prettyName: window_us must be a literal BIGINT")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val windowUs: Long = {
    val w = windowExpr.eval().asInstanceOf[Long]
    require(w >= 0L, s"$prettyName: window_us must be >= 0, got $w")
    w
  }

  @transient private lazy val ords: Array[Int] = (tsExpr, idxExpr) match {
    case (a: BoundReference, b: BoundReference) => Array(a.ordinal, b.ordinal)
    case _ => null
  }

  private def pack(ts: Long, idx: Int): Long = {
    require(idx >= 0 && idx < 256,
      s"$prettyName: step index out of packing range [0, 256): $idx")
    require(ts >= 0L && ts < (1L << 55),
      s"$prettyName: ts out of packing range [0, 2^55): $ts")
    (ts << 8) | idx.toLong
  }

  override def createAggregationBuffer(): FunnelStage.Events =
    new FunnelStage.Events()

  override def update(buf: FunnelStage.Events, input: InternalRow): FunnelStage.Events = {
    val o = ords
    if (o != null) {
      if (!input.isNullAt(o(0)) && !input.isNullAt(o(1)))
        buf.add(pack(input.getLong(o(0)), input.getInt(o(1))))
    } else {
      val t = tsExpr.eval(input)
      val i = idxExpr.eval(input)
      if (t != null && i != null)
        buf.add(pack(t.asInstanceOf[Long], i.asInstanceOf[Int]))
    }
    buf
  }

  override def merge(buf: FunnelStage.Events, other: FunnelStage.Events): FunnelStage.Events = {
    buf.addAll(other)
    buf
  }

  override def eval(buf: FunnelStage.Events): Any = {
    val a = buf.sortedPacked()
    var stage = 0
    var accTs = 0L
    var i = 0
    while (i < a.length) {
      val ts = a(i) >>> 8
      val idx = (a(i) & 0xffL).toInt
      if (idx == stage && (stage == 0 || (ts > accTs && ts - accTs <= windowUs))) {
        stage += 1
        accTs = ts
      }
      i += 1
    }
    stage
  }

  override def serialize(buf: FunnelStage.Events): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): FunnelStage.Events = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new FunnelStage.Events(math.max(n, 1))
    var i = 0
    while (i < n) { buf.add(in.readLong()); i += 1 }
    buf
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = FunnelStage.name
  override def children: Seq[Expression] = Seq(tsExpr, idxExpr, windowExpr)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FunnelStage =
    copy(tsExpr = c(0), idxExpr = c(1), windowExpr = c(2))
  override def withNewMutableAggBufferOffset(offset: Int): FunnelStage =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): FunnelStage =
    copy(inputAggBufferOffset = offset)
}

object FunnelStage {
  val name = "graft_funnel_stage"

  /** Growable primitive long buffer of packed `(ts << 8 | idx)` events.
    * Like collect_list, this holds the group's full (step-typed) event
    * history — funnelStages' documented per-entity bound; unbounded
    * histories belong in the mapGroupsWithState form.
    */
  final class Events(initial: Int = 16) {
    private var a = new Array[Long](math.max(initial, 1))
    private var n = 0

    def size: Int = n

    def add(p: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = p; n += 1
    }

    def addAll(other: Events): Unit = {
      if (n + other.n > a.length)
        a = java.util.Arrays.copyOf(a, math.max(n + other.n, a.length * 2))
      System.arraycopy(other.a, 0, a, n, other.n)
      n += other.n
    }

    def foreach(f: Long => Unit): Unit = {
      var i = 0
      while (i < n) { f(a(i)); i += 1 }
    }

    /** ascending (ts, idx) — idx sits in the low bits so the packed sort IS
      * the lexicographic event order the walk consumes */
    def sortedPacked(): Array[Long] = {
      val out = java.util.Arrays.copyOf(a, n)
      java.util.Arrays.sort(out)
      out
    }
  }

  private val info = new ExpressionInfo(classOf[FunnelStage].getName, name)

  private[expressions] val builder: Seq[Expression] => Expression = { c =>
    require(c.size == 3, s"$name expects (ts_us bigint, step_idx int, window_us bigint literal)")
    FunnelStage(c.head, c(1), c(2))
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
}
