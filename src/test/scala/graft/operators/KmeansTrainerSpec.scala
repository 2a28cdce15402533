package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

/** The driver-side k-means trainer against the DataFrame Lloyd trainer it
  * replaced: same centroids bit for bit, one Spark job instead of one per
  * seed collect, join, window and aggregate.
  */
class KmeansTrainerSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** The DataFrame trainer, kept as the reference: seeds by an
    * orderBy/limit collect, then per Lloyd iteration a broadcast join, a
    * window argmax on the round-6 cosine, a posexplode/groupBy average
    * rounded to 6 decimals, and a driver collect.
    */
  private def referenceCentroids(corpus: DataFrame, keyCol: String, vecCol: String,
                                 nlist: Int = 16, iters: Int = 2): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val cos = VectorFunctions.cosineNative(s) _
    val rnd = VectorFunctions.roundNative(s) _
    def pin(df: DataFrame): DataFrame = {
      val rows = df.select(col("cent_id").cast("long"), col("cvec"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      s.createDataset(rows.toIndexedSeq).toDF("cent_id", "cvec")
    }
    var cent = {
      val seedRows = corpus
        .select(col(keyCol).cast("long").as("_k"),
          col(vecCol).cast("array<double>").as("cvec"),
          Curation.portableHash(col(keyCol)).as("_h"))
        .orderBy(col("_h"), col("_k"))
        .limit(nlist)
        .collect()
        .zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }
      s.createDataset(seedRows.toIndexedSeq).toDF("cent_id", "cvec")
    }
    (0 until iters).foreach { _ =>
      val w = Window.partitionBy("_vid").orderBy(col("_s").desc, col("cent_id"))
      val assigned = corpus.select(col(keyCol).as("_vid"), col(vecCol).as("_v"))
        .join(broadcast(cent))
        .select(col("_vid"), col("cent_id"), col("_v"),
          rnd(cos(col("_v"), col("cvec")), 6).as("_s"))
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      val means = assigned
        .select(col("cent_id"), posexplode(col("_v").cast("array<double>")).as(Seq("pos", "x")))
        .groupBy("cent_id", "pos")
        .agg(rnd(avg(col("x")), 6).as("v"))
      val refined = means.groupBy("cent_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          t => t.getField("v")).as("cvec"))
      cent = pin(cent.select(col("cent_id"), col("cvec").as("_old"))
        .join(refined.select(col("cent_id"), col("cvec").as("_new")), Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("_new"), col("_old")).as("cvec")))
    }
    cent
  }

  /** `(cent_id, bit patterns of cvec)`, by cent_id. */
  private def bits(cent: DataFrame): Seq[(Long, Seq[Long])] =
    cent.select(col("cent_id").cast("long"), col("cvec")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits)))
      .sortBy(_._1)

  private def assertMatchesReference(name: String, corpus: DataFrame, nlist: Int,
                                     iters: Int = 2): Seq[(Long, Seq[Long])] = {
    val got = bits(Similarity.kmeansCentroids(corpus, "vec_id", "embedding", nlist, iters))
    val want = bits(referenceCentroids(corpus, "vec_id", "embedding", nlist, iters))
    assert(got.size == math.min(nlist.toLong, corpus.count()), name)
    assert(got == want, s"$name: centroids differ from the DataFrame trainer's")
    got
  }

  /** Keys 0 until n in ascending portable-hash rank, as the trainer seeds. */
  private def hashRanked(n: Int): Seq[Long] =
    (0L until n).sortBy(k => (((k % 2147483648L) * 2654435761L) % 4294967296L, k))

  private def corpusOf(vecs: Seq[(Long, Array[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    vecs.toDF("vec_id", "embedding")
  }

  private def wave(n: Int, dim: Int): Seq[(Long, Array[Float])] =
    (0 until n).map(i => (i.toLong, Array.tabulate(dim)(d => math.sin(i * 7 + d * 3).toFloat)))

  test("k-means training on a fresh corpus starts exactly one Spark job") {
    val emb = graft.Tables(spark, graft.TestSpark.Sf0001).embeddings
      .filter(col("vec_id") % 7 =!= 3)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Similarity.kmeansCentroids(emb, "vec_id", "embedding")
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 1)
  }

  test("k-means centroids are bitwise equal to the DataFrame trainer's") {
    val emb = graft.Tables(spark, graft.TestSpark.Sf0001).embeddings
    assertMatchesReference("sf0.001", emb, 16)
    assertMatchesReference("sf0.001, trainSampleMod 4",
      emb.filter(Curation.portableHash(col("vec_id")) % 4 === 0), 16)

    // SimilaritySpec's skewed corpus: three tight clusters, low ids all in one
    def cluster(center: Int, n: Int, base: Long) = (0 until n).map { i =>
      (base + i, Array.tabulate(32) { d =>
        (math.cos(center * 97 + d) + 0.05 * math.sin(((base + i) * 13 + d).toDouble)).toFloat
      })
    }
    assertMatchesReference("skewed clusters",
      corpusOf(cluster(1, 60, 0L) ++ cluster(2, 60, 60L) ++ cluster(3, 60, 120L)), 16)
  }

  test("k-means: a cell emptied by a duplicate seed keeps its seed") {
    // the two lowest-hash vectors are identical, so every vector ties
    // between centroids 0 and 1 and goes to 0, the lower cent_id
    val base = wave(40, 8)
    val rank = hashRanked(40)
    val vecs = base.map { case (k, v) => if (k == rank(1)) (k, base(rank(0).toInt)._2) else (k, v) }
    val corpus = corpusOf(vecs)
    val one = assertMatchesReference("duplicate seeds, 1 iteration", corpus, 4, iters = 1)
    assert(one(1)._2 == base(rank(0).toInt)._2.toSeq.map(f =>
      java.lang.Double.doubleToLongBits(f.toDouble)))
    assertMatchesReference("duplicate seeds", corpus, 4)
  }

  test("k-means: NaN scores of an all-zero vector rank as Spark's sort ranks them") {
    // the all-zero vector is seed 1: its cosine with anything is NaN, which
    // Spark's descending sort puts first, so every non-zero vector joins
    // cell 1 and the zero vector itself (NaN everywhere) ties into cell 0
    val rank = hashRanked(40)
    val vecs = wave(40, 8).map { case (k, v) => if (k == rank(1)) (k, Array.fill(8)(0.0f)) else (k, v) }
    val corpus = corpusOf(vecs)
    val one = assertMatchesReference("zero vector, 1 iteration", corpus, 4, iters = 1)
    assert(one(0)._2 == Seq.fill(8)(java.lang.Double.doubleToLongBits(0.0)))
    assertMatchesReference("zero vector", corpus, 4)
  }
}
