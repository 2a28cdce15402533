package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins graft_posting_pairs ≡ the HOF composition it fused out of q134's
  * posting stage (round 17, 6b33a9f:Q134_FUSE_AB.json):
  *
  *   graft_smallest_k(v, k) → filter(size ≥ 2) →
  *   flatten(transform(ds, (x,i) → transform(slice(ds, i+2, size-i-1),
  *     y → struct(x, y))))
  *
  * with each (a, b) combination packed as `(a << 32) | b`. Semantics must
  * not move: ascending positional i < j combinations, duplicates kept,
  * nulls dropped, flood cap = k smallest, and the [0, 2^31) packing bound
  * enforced loudly.
  */
class PostingPairsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def hofPairs(rows: Seq[(Long, Long)], k: Int): Seq[(Long, Seq[Long])] = {
    CollectSmallestK.register(spark)
    rows.toDF("g", "v").groupBy("g")
      .agg(expr(s"graft_smallest_k(v, $k)").as("ds"))
      .select(col("g"), expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds) - i - 1), " +
          "y -> x * 4294967296L + y)))").as("pp"))
      .orderBy("g").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
  }

  private def fusedPairs(rows: Seq[(Long, Long)], k: Int): Seq[(Long, Seq[Long])] = {
    PostingPairs.register(spark)
    rows.toDF("g", "v").groupBy("g")
      .agg(expr(s"graft_posting_pairs(v, $k)").as("pp"))
      .orderBy("g").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
  }

  test("parity with the HOF combination composition incl. duplicates") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.tabulate(5000) { i =>
      ((i % 7).toLong, math.abs(rnd.nextLong()) % 1000)
    }
    assert(fusedPairs(rows, 16) == hofPairs(rows, 16))
  }

  test("singleton and empty-after-null groups emit empty arrays (the old size filter)") {
    PostingPairs.register(spark)
    val df = Seq[(Long, java.lang.Long)]((1L, 5L), (2L, 3L), (2L, null), (3L, null))
      .toDF("g", "v")
    val out = df.groupBy("g").agg(expr("graft_posting_pairs(v, 4)").as("pp"))
      .orderBy("g").collect().map(r => (r.getLong(0), r.getSeq[Long](1).size))
    assert(out.toSeq == Seq((1L, 0), (2L, 0), (3L, 0)))
  }

  test("flood cap: saturated group emits C(k,2) pairs of the k smallest") {
    PostingPairs.register(spark)
    val df = (1L to 1000L).map(v => (1L, 1001L - v)).toDF("g", "v")
    val pp = df.groupBy("g").agg(expr("graft_posting_pairs(v, 4)").as("pp"))
      .collect()(0).getSeq[Long](1)
    val want = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a << 32) | b
    assert(pp == want)
  }

  test("packing bound: out-of-range value fails loudly, never silently") {
    PostingPairs.register(spark)
    val bad = Seq((1L, 1L << 31), (1L, 2L)).toDF("g", "v")
      .groupBy("g").agg(expr("graft_posting_pairs(v, 4)").as("pp"))
    val e = intercept[Exception] { bad.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("packing range")))
  }

  test("unpack roundtrip matches the q134 presentation split") {
    PostingPairs.register(spark)
    val df = Seq((1L, 7L), (1L, 2147483647L), (1L, 0L)).toDF("g", "v")
      .groupBy("g").agg(expr("graft_posting_pairs(v, 4)").as("pp"))
      .select(explode(col("pp")).as("p"))
      .select(shiftright(col("p"), 32).as("a"),
        col("p").bitwiseAND(lit(4294967295L)).as("b"))
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(df.toSeq == Seq((0L, 7L), (0L, 2147483647L), (7L, 2147483647L)))
  }

  test("degenerate k literals fail at analysis, never silently empty (ADVICE r17)") {
    PostingPairs.register(spark)
    val df = Seq((1L, 1L), (1L, 2L)).toDF("g", "v")
    for (badK <- Seq("0", "-1", "1", "CAST(NULL AS INT)")) {
      val e = intercept[Exception] {
        df.groupBy("g").agg(expr(s"graft_posting_pairs(v, $badK)")).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("k must be >= 2") ||
        m.contains("k must not be null")), s"k=$badK: $e")
    }
    // k=2 (the minimum useful) still works
    val ok = df.groupBy("g").agg(expr("graft_posting_pairs(v, 2)").as("pp"))
      .collect()(0).getSeq[Long](1)
    assert(ok == Seq((1L << 32) | 2L))
  }

  test("sql registration via extensions resolves (deployment path)") {
    val s2 = spark.newSession()
    import s2.implicits._
    val out = Seq((1L, 3L), (1L, 1L), (1L, 2L)).toDF("g", "v")
      .groupBy("g").agg(expr("graft_posting_pairs(v, 8)").as("pp"))
      .collect()(0).getSeq[Long](1)
    assert(out == Seq((1L << 32) | 2L, (1L << 32) | 3L, (2L << 32) | 3L))
  }
}
