package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession

/** Bounded top-k as a distributive AGGREGATE (SURVEY §2.C: "partition-local
  * top-k then global merge" as a `TypedImperativeAggregate`): each partition
  * keeps a k-bounded heap of `(score, id)` pairs, partial heaps merge on the
  * reduce side, and only `k` rows per group ever cross the wire.
  *
  * This is the 100 TB shape for per-group top-k. The rank-window
  * alternative shuffles and sorts EVERY scored row by group before
  * discarding all but k; here the shuffle payload is `groups × k` however
  * large the scored input is. Measured on the 16M-candidate IVF search at
  * sf1 (IvfSearchProfile): this heap costs ~3.3 s over the pure-scoring
  * baseline, the rank-window formulation ~10 s — 2.3× worse even though
  * Spark 4 plans it with a partial WindowGroupLimit, because the partial
  * still SORTS every partition's full candidate stream while the heap
  * rejects most rows in O(1) against its current minimum. The heap's own
  * overhead is the ObjectHashAggregate row path (no whole-stage codegen
  * across the aggregate boundary), not the siftUp/siftDown work.
  *
  * Ordering is total and engine-portable: higher score wins, ties break to
  * the smaller id — identical to `ROW_NUMBER() OVER (ORDER BY score DESC,
  * id)` ≤ k. Result: `array<struct<score:double, id:bigint>>` sorted best
  * first (explode it with `posexplode` for 1-based ranks). Null scores/ids
  * are skipped.
  */
case class TopKByScore(child: Expression, kExpr: Expression,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKByScore.Heap] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(a, b))
        if a.dataType == DoubleType && b.dataType == LongType =>
      if (kExpr.foldable && kExpr.dataType == IntegerType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be a literal int")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects struct<score:double,id:bigint>, got ${dt.simpleString}")
  }

  @transient private lazy val k = kExpr.eval().asInstanceOf[Int]

  override def createAggregationBuffer(): TopKByScore.Heap = new TopKByScore.Heap(k)

  // Zero-allocation update path. TypedImperativeAggregate updates run
  // OUTSIDE whole-stage codegen, so the generic `child.eval(input)` pays a
  // GenericInternalRow + values array + two boxes PER INPUT ROW — measured
  // at 16M candidate rows per IVF search (IvfSearchProfile), that
  // interpreter overhead, not the heap arithmetic, dominated the
  // aggregation. After binding, the common shapes of `child` are
  // `named_struct(_, BoundReference, _, BoundReference)` (casts folded) or
  // the same with widening numeric casts; for those, read the primitives
  // straight off the input row. Anything else falls back to generic eval.
  // tag encoding: 0=double, 1=long→double, 2=int→double, 3=float→double
  // for the score slot; id slot is always read with getLong (LongType
  // required; an int id arrives as Cast(int→long), tag 4).
  @transient private lazy val fastOrds: Array[Int] = child match {
    case s: org.apache.spark.sql.catalyst.expressions.CreateNamedStruct =>
      s.valExprs match {
        case Seq(se, ie) =>
          val score = se match {
            case b: org.apache.spark.sql.catalyst.expressions.BoundReference
                if b.dataType == DoubleType => Array(b.ordinal, 0)
            case org.apache.spark.sql.catalyst.expressions.Cast(
                b: org.apache.spark.sql.catalyst.expressions.BoundReference, DoubleType, _, _) =>
              b.dataType match {
                case LongType    => Array(b.ordinal, 1)
                case IntegerType => Array(b.ordinal, 2)
                case FloatType   => Array(b.ordinal, 3)
                case _           => null
              }
            case _ => null
          }
          val id = ie match {
            case b: org.apache.spark.sql.catalyst.expressions.BoundReference
                if b.dataType == LongType => Array(b.ordinal, 0)
            case org.apache.spark.sql.catalyst.expressions.Cast(
                b: org.apache.spark.sql.catalyst.expressions.BoundReference, LongType, _, _)
                if b.dataType == IntegerType => Array(b.ordinal, 4)
            case _ => null
          }
          if (score != null && id != null) Array(score(0), score(1), id(0), id(1))
          else null
        case _ => null
      }
    case _ => null
  }

  override def update(buf: TopKByScore.Heap, input: InternalRow): TopKByScore.Heap = {
    // NaN scores skipped like nulls: the heap's primitive comparisons
    // would otherwise make a first-arriving NaN undisplaceable, and the
    // result partitioning-dependent (see ArgMaxText). This is a declared
    // divergence from ROW_NUMBER formulations (which order NaN
    // deterministically); unreachable in the oracled similarity queries —
    // no fixture vector is zero-norm, pinned by FixtureContractSpec.
    val fo = fastOrds
    if (fo != null) {
      val so = fo(0); val io = fo(2)
      if (!input.isNullAt(so) && !input.isNullAt(io)) {
        val s = fo(1) match {
          case 0 => input.getDouble(so)
          case 1 => input.getLong(so).toDouble
          case 2 => input.getInt(so).toDouble
          case _ => input.getFloat(so).toDouble
        }
        if (!s.isNaN) {
          val id = if (fo(3) == 4) input.getInt(io).toLong else input.getLong(io)
          buf.offer(s, id)
        }
      }
    } else {
      val v = child.eval(input)
      if (v != null) {
        val row = v.asInstanceOf[InternalRow]
        if (!row.isNullAt(0) && !row.isNullAt(1) && !row.getDouble(0).isNaN)
          buf.offer(row.getDouble(0), row.getLong(1))
      }
    }
    buf
  }

  override def merge(buf: TopKByScore.Heap, other: TopKByScore.Heap): TopKByScore.Heap = {
    other.foreach((s, id) => buf.offer(s, id))
    buf
  }

  override def eval(buf: TopKByScore.Heap): Any = {
    val sorted = buf.sortedBestFirst()
    new GenericArrayData(sorted.map { case (s, id) =>
      InternalRow(s, id)
    })
  }

  override def serialize(buf: TopKByScore.Heap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { (s, id) => out.writeDouble(s); out.writeLong(id) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKByScore.Heap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new TopKByScore.Heap(k)
    var i = 0
    while (i < n) { buf.offer(in.readDouble(), in.readLong()); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = TopKByScore.name
  override def children: Seq[Expression] = Seq(child, kExpr)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKByScore =
    copy(child = c(0), kExpr = c(1))
  override def withNewMutableAggBufferOffset(offset: Int): TopKByScore =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKByScore =
    copy(inputAggBufferOffset = offset)
}

object TopKByScore {
  val name = "graft_topk"

  /** k-bounded "keep the best" buffer: a binary min-heap whose head is the
    * WORST kept entry (lowest score, largest id on ties), so a new candidate
    * only displaces the head when it beats it.
    */
  final class Heap(k: Int) {
    private var scores = new Array[Double](math.min(k, 16))
    private var ids = new Array[Long](math.min(k, 16))
    private var n = 0

    def size: Int = n

    /** a is worse than b (a should sit closer to the heap root). */
    @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
      sa < sb || (sa == sb && ia > ib)

    def offer(s: Double, id: Long): Unit = {
      if (n < k) {
        if (n == scores.length) {
          scores = java.util.Arrays.copyOf(scores, math.min(k, scores.length * 2))
          ids = java.util.Arrays.copyOf(ids, math.min(k, ids.length * 2))
        }
        scores(n) = s; ids(n) = id; n += 1
        siftUp(n - 1)
      } else if (k > 0 && worse(scores(0), ids(0), s, id)) {
        scores(0) = s; ids(0) = id
        siftDown(0)
      }
    }

    private def siftUp(start: Int): Unit = {
      var i = start
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p))) {
          swap(i, p); i = p
        } else return
      }
    }

    private def siftDown(start: Int): Unit = {
      var i = start
      while (true) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i
        if (l < n && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < n && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w == i) return
        swap(i, w); i = w
      }
    }

    @inline private def swap(i: Int, j: Int): Unit = {
      val ts = scores(i); scores(i) = scores(j); scores(j) = ts
      val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    }

    def foreach(f: (Double, Long) => Unit): Unit = {
      var i = 0
      while (i < n) { f(scores(i), ids(i)); i += 1 }
    }

    /** Best first: score desc, id asc on ties. */
    def sortedBestFirst(): Array[(Double, Long)] = {
      val arr = Array.tabulate(n)(i => (scores(i), ids(i)))
      scala.util.Sorting.stableSort(arr,
        (a: (Double, Long), b: (Double, Long)) =>
          a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
      arr
    }
  }

  private val info = new ExpressionInfo(classOf[TopKByScore].getName, name)

  private[expressions] val builder: Seq[Expression] => Expression = { c =>
    require(c.size == 2, s"$name expects (struct(score, id), k)")
    TopKByScore(c.head, c(1))
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
}
