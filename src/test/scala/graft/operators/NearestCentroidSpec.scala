package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

/** The nearest-centroid rule ([[Similarity.nearest]]) and its per-row
  * column ([[Similarity.nearestCells]]) against the two distributed
  * formulations they replaced, kept here as references: the bounded-heap
  * probe list (a broadcast join scored by round-6 `graft_cosine`, reduced
  * by `TopKByScore`) and a `row_number` window over the same scores. On
  * inputs without NaN or null scores all three agree; the last test pins
  * what the rule does on the four inputs where the old paths disagreed.
  */
class NearestCentroidSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private val dim = 8

  /** `nlist` centroids of width `dim`; ids 3 and 5 (when present) repeat
    * ids 1 and 2, so every vector ties on them.
    */
  private def centroids(nlist: Int): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(nlist)
    val base = (0 until nlist).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    base.indices.map { c =>
      val v = c match {
        case 3 => base(1)
        case 5 => base(2)
        case _ => base(c)
      }
      (c.toLong, v)
    }
  }

  /** 40 vectors of widths 6 (shorter than the centroids), 8 and 11 (longer). */
  private def vectors: Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(7)
    (0 until 40).map(i => (i.toLong, Array.fill(Seq(6, 8, 11)(i % 3))(rnd.nextGaussian())))
  }

  private def frames(nlist: Int, asFloat: Boolean): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val cent = centroids(nlist).toDF("cent_id", "cvec")
    val vecs = vectors.toDF("id", "v")
    (cent, if (asFloat) vecs.select(col("id"), col("v").cast("array<float>").as("v")) else vecs)
  }

  private def scored(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val cos = VectorFunctions.cosineNative(spark) _
    val rnd = VectorFunctions.roundNative(spark) _
    vecs.join(broadcast(cent))
      .select(col("id"), col("cent_id"), rnd(cos(col("v"), col("cvec")), 6).as("s"))
  }

  private def ranked(df: DataFrame, rank: String): Map[Long, Seq[Long]] =
    df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Int](rank), r.getAs[Long]("cent_id")))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

  private def heapReference(vecs: DataFrame, cent: DataFrame, n: Int): Map[Long, Seq[Long]] =
    ranked(Similarity.topKPerGroup(scored(vecs, cent), "id", "s", "cent_id", n), "rnk")

  private def windowReference(vecs: DataFrame, cent: DataFrame, n: Int): Map[Long, Seq[Long]] = {
    val w = Window.partitionBy("id").orderBy(col("s").desc, col("cent_id"))
    ranked(scored(vecs, cent).withColumn("rn", row_number().over(w)).filter(col("rn") <= n), "rn")
  }

  private def rule(vecs: DataFrame, cent: DataFrame, n: Int): Map[Long, Seq[Long]] =
    vecs.select(col("id"),
        Similarity.nearestCells(spark, col("v"), Similarity.centroidArray(cent), n))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap

  test("the rule and its column equal the heap probe list and the window argmax") {
    for {
      nlist <- Seq(1, 16, 32)
      asFloat <- Seq(false, true)
      n <- Seq(1, 4, nlist, nlist + 3).distinct
    } {
      val (cent, vecs) = frames(nlist, asFloat)
      val got = rule(vecs, cent, n)
      val what = s"nlist=$nlist n=$n ${if (asFloat) "float" else "double"}"
      assert(got.size == vectors.size && got.values.forall(_.size == math.min(n, nlist)), what)
      assert(got == heapReference(vecs, cent, n), s"$what: differs from the heap probe list")
      assert(got == windowReference(vecs, cent, n), s"$what: differs from the window argmax")
    }
  }

  test("duplicate centroids tie to the lower cent_id") {
    val (cent, vecs) = frames(16, asFloat = false)
    val got = rule(vecs, cent, 16)
    // 3 repeats 1 and 5 repeats 2: the copy always ranks right after its original
    got.values.foreach { order =>
      assert(order.indexOf(3L) == order.indexOf(1L) + 1, order)
      assert(order.indexOf(5L) == order.indexOf(2L) + 1, order)
    }
  }

  test("centroidArray fails loudly unless cent_id is the row's position") {
    val s = spark
    import s.implicits._
    val gap = Seq((0L, Array(1.0)), (2L, Array(0.5))).toDF("cent_id", "cvec")
    intercept[IllegalArgumentException](Similarity.centroidArray(gap))
  }

  test("pinned outcomes: zero-norm vector, zero-norm centroid, null centroid, null vector") {
    def arr(xs: Double*): ArrayData = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    val cents = Array(arr(1, 0), arr(0, 1), arr(-1, 0), arr(0, -1))
    // a zero-norm vector scores NaN against every centroid: all tie, so the
    // lowest ids win (the heap probe list used to drop such a vector)
    assert(Similarity.nearest(arr(0, 0), cents, 3).toSeq == Seq(0, 1, 2))
    // a zero-norm centroid scores NaN for every vector, and NaN ranks above
    // every number: it is every vector's nearest (the heap used to skip it)
    val withZero = cents.updated(2, arr(0, 0))
    assert(Similarity.nearest(arr(0.2, 1), withZero, 4).toSeq == Seq(2, 1, 0, 3))
    // a null centroid ranks below every number (the heap used to skip it)
    val withNull = cents.updated(1, null)
    assert(Similarity.nearest(arr(0.2, 1), withNull, 4).toSeq == Seq(0, 2, 3, 1))
    assert(Similarity.nearest(arr(0.2, 1), Array[ArrayData](null, null), 1).toSeq == Seq(0))
    // a null vector has no cells (the max_by build used to file it in cell 0)
    val s = spark
    import s.implicits._
    val vecs = Seq((1L, Array(0.2, 1.0)), (2L, null)).toDF("id", "v")
    val got = vecs.select(col("id"), Similarity.nearestCells(spark, col("v"), cents, 2))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    assert(got == Map(1L -> Some(Seq(1L, 0L)), 2L -> None))
  }
}
