package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("brute-force top-k ranks an identical vector first") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.9f, 0.1f, 0.0f)),
      (12L, Array(0.0f, 1.0f, 0.0f)),
      (13L, Array(-1.0f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 3)
      .orderBy("rnk").collect()
    assert(out.map(_.getAs[Long]("n_id")).toSeq == Seq(11L, 12L, 13L))
    assert(out.head.getAs[Double]("sim") > 0.99)
  }

  test("quantized ANN: signed int8 codes, identical vectors tie at max score, high recall vs exact") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(1.0f, 0.0f, 0.0f)), // identical to 10 -> must rank first
      (12L, Array(0.8f, 0.2f, 0.0f)),
      (13L, Array(0.0f, 1.0f, 0.0f)),
      (14L, Array(-1.0f, -1.0f, -1.0f)),
    ).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizedTopK(queries, corpus, "vec_id", "embedding", k = 3)
      .orderBy("rnk").collect()
    assert(out.head.getAs[Long]("n_id") == 11L, s"identical vector must win: ${out.toSeq}")
    // against the fixture: quantized top-3 neighbor SETS match exact cosine's
    // for every probe query (255 levels on 64 dims loses nothing here)
    val emb = graft.Tables(spark, graft.TestSpark.Sf0001).embeddings
    val probes = emb.filter(col("vec_id") <= 5)
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val quant = topSets(Similarity.quantizedTopK(probes, emb, "vec_id", "embedding", k = 3))
    val exact = topSets(Similarity.bruteForceTopK(probes, emb, "vec_id", "embedding", k = 3))
    val recall = exact.keys.toSeq.map(q =>
      (quant(q) intersect exact(q)).size.toDouble / exact(q).size).sum / exact.size
    assert(recall >= 2.0 / 3.0, s"quantized recall vs exact collapsed: $recall")
  }

  test("quantized ANN over an empty corpus returns an empty result") {
    val s = spark
    import s.implicits._
    val queries = Seq((10L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizedTopK(queries, queries.limit(0), "vec_id", "embedding", k = 3)
    assert(out.collect().isEmpty)
  }

  test("LSH buckets put identical vectors together; topk structure is sane") {
    val t = graft.Tables(spark, graft.TestSpark.Sf0001)
    val emb = t.embeddings
    val planes = graft.expressions.LshBucket.hyperplanes(8, 64)
    val b = Similarity.withLshBucket(emb, "embedding", 8, 64)
    // native codegen expression ≡ the composed zip_with/aggregate form
    val b2 = Similarity.withLshBucketComposed(emb, "embedding", planes)
    val joined = b.select(col("vec_id"), col("bucket").as("b1"))
      .join(b2.select(col("vec_id"), col("bucket").as("b2")), "vec_id")
      .filter(col("b1") =!= col("b2")).count()
    assert(joined == 0)
    val out = Similarity.lshTopK(emb.filter(col("vec_id") <= 5), emb, "vec_id", "embedding", k = 3)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Long]("q_id") != r.getAs[Long]("n_id")))
    assert(out.forall(r => r.getAs[Int]("rnk") >= 1 && r.getAs[Int]("rnk") <= 3))
  }

  test("IVF: exact duplicates land in the same cell and are always found") {
    val s = spark
    import s.implicits._
    val corpus = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(64)(d => math.cos(i * 31 + d * 7).toFloat)))
    val dup = Seq((500L, corpus(20)._2))
    val corpusDf = (corpus ++ dup).toDF("vec_id", "embedding")
    val queryDf = Seq((20L, corpus(20)._2)).toDF("vec_id", "embedding")
    val top1 = Similarity.ivfTopK(queryDf, corpusDf, "vec_id", "embedding", k = 1)
      .collect().head
    assert(top1.getAs[Long]("n_id") == 500L)
    assert(top1.getAs[Double]("sim") == 1.0)
  }

  test("IVF seeding is distribution-free: ids offset to 10^9 still seed and rank") {
    val s = spark
    import s.implicits._
    // Before hash-rank seeding, `key < nlist` on this corpus selected ZERO
    // seeds (no id below 16 exists) and ivfTopK silently degraded.
    val base = 1000000000L
    val corpus = (0 until 60).map(i =>
      (base + i, Array.tabulate(64)(d => math.cos(i * 31 + d * 7).toFloat)))
    val dup = Seq((base + 500, corpus(20)._2))
    val corpusDf = (corpus ++ dup).toDF("vec_id", "embedding")
    val queryDf = Seq((base + 20, corpus(20)._2)).toDF("vec_id", "embedding")
    val top1 = Similarity.ivfTopK(queryDf, corpusDf, "vec_id", "embedding", k = 1)
      .collect().head
    assert(top1.getAs[Long]("n_id") == base + 500)
    assert(top1.getAs[Double]("sim") == 1.0)
    // with nprobe = nlist every cell is probed, so IVF must equal brute
    // force EXACTLY — on this offset id space as on any other
    val ivfAll = Similarity.ivfTopK(queryDf, corpusDf, "vec_id", "embedding",
        k = 3, nlist = 4, nprobe = 4)
      .orderBy("q_id", "rnk").collect().toSeq
    val brute = Similarity.bruteForceTopK(queryDf, corpusDf, "vec_id", "embedding", k = 3)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(ivfAll == brute)
  }

  test("LSH derives the embedding dim: non-64-dim corpora bucket correctly") {
    val s = spark
    import s.implicits._
    // dim 16 (≠ the fixture's 64): with a hardcoded dim the projections
    // would zip against a longer plane and the planted duplicate could land
    // in a different bucket; deriving dim from the data keeps buckets exact
    val corpus = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 16 + d).toFloat)))
    val dup = Seq((777L, corpus(3)._2))
    val corpusDf = (corpus ++ dup).toDF("vec_id", "embedding")
    val queryDf = Seq((3L, corpus(3)._2)).toDF("vec_id", "embedding")
    val top1 = Similarity.lshTopK(queryDf, corpusDf, "vec_id", "embedding", k = 1)
      .collect().head
    assert(top1.getAs[Long]("n_id") == 777L)
    assert(top1.getAs[Double]("sim") == 1.0)
  }

  test("k-means centroids beat raw seeds on a skewed corpus (recall vs brute force)") {
    val s = spark
    import s.implicits._
    // three tight clusters, but ALL low ids sit in cluster A — the seed
    // hack (centroids = ids < nlist) starts with every centroid in one
    // cluster, the worst case Lloyd refinement exists to fix
    def cluster(center: Int, n: Int, base: Long) = (0 until n).map { i =>
      (base + i, Array.tabulate(32) { d =>
        (math.cos(center * 97 + d) + 0.05 * math.sin(((base + i) * 13 + d).toDouble)).toFloat
      })
    }
    val corpus = cluster(1, 60, 0L) ++ cluster(2, 60, 60L) ++ cluster(3, 60, 120L)
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val queries = corpusDf.filter(col("vec_id") % 30 === 7) // one per cluster region
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, corpusDf, "vec_id", "embedding", k = 3))
    val seeded = pairs(Similarity.ivfTopK(queries, corpusDf, "vec_id", "embedding",
      k = 3, kmeansIters = 0))
    val trained = pairs(Similarity.ivfTopK(queries, corpusDf, "vec_id", "embedding",
      k = 3, kmeansIters = 2))
    val recallSeeded = (seeded & exact).size.toDouble / exact.size
    val recallTrained = (trained & exact).size.toDouble / exact.size
    assert(recallTrained >= recallSeeded,
      s"kmeans recall $recallTrained < seeded recall $recallSeeded")
    assert(recallTrained >= 0.9, s"kmeans recall $recallTrained")
  }

  test("LSH top-1 agrees with brute force for a duplicated vector") {
    val s = spark
    import s.implicits._
    // plant an exact duplicate: its bucket must match, so LSH must find it
    val corpus = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(64)(d => math.sin(i * 64 + d).toFloat)))
    val dup = Seq((999L, corpus(7)._2))
    val corpusDf = (corpus ++ dup).toDF("vec_id", "embedding")
    val queryDf = Seq((7L, corpus(7)._2)).toDF("vec_id", "embedding")
    val top1 = Similarity.lshTopK(queryDf, corpusDf, "vec_id", "embedding", k = 1)
      .collect().head
    assert(top1.getAs[Long]("n_id") == 999L)
    assert(top1.getAs[Double]("sim") == 1.0)
  }

  test("persisted IVF index: equals from-scratch IVF, grows the cells, zero corpus-side exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val s = spark
    import s.implicits._
    val emb = graft.Tables(spark, graft.TestSpark.Sf0001).embeddings
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val incoming = emb.filter(col("vec_id") % 5 === 0)
    val tag = "spec" + Integer.toHexString(graft.TestSpark.Sf0001.hashCode)

    // the deployment path must reproduce a from-scratch IVF over the same
    // slices exactly (it certifies against the same SQL replay)
    val via = Similarity.ivfSearchOverPersistedIndex(spark, corpus, incoming,
      "vec_id", "embedding", tag, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val direct = Similarity.ivfTopK(incoming, corpus, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(via == direct && via.nonEmpty)

    // corpus-grows: the append left the cell table holding corpus +
    // increment assignments (one row per vector), centroids untouched
    val (centTbl, cellsTbl) = Similarity.ivfArtifactNames(tag)
    assert(spark.table(cellsTbl).count() == emb.count())
    assert(spark.table(cellsTbl).select("c_id").distinct().count() == emb.count())
    assert(spark.table(centTbl).count() == 16)

    // the bucketed write gathers each cell into one task first: at most one
    // part file per non-empty cell, however many partitions the corpus spans
    val partsTag = tag + "parts"
    val multi = corpus.repartition(4)
    assert(multi.rdd.getNumPartitions == 4)
    Similarity.buildIvfIndex(spark, multi, "vec_id", "embedding", partsTag)
    val partsTbl = Similarity.ivfArtifactNames(partsTag)._2
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(partsTbl)).location
    val parts = new java.io.File(loc).listFiles().count(_.getName.startsWith("part-"))
    val nonEmpty = spark.table(partsTbl).select("cent_id").distinct().count()
    assert(parts >= 1 && parts <= nonEmpty,
      s"$parts part files for $nonEmpty non-empty cells")

    // the 100 TB shape the bucketed vector-carrying layout buys: with NO
    // broadcast anywhere, the probe join reads the cent_id buckets (vectors
    // riding along) and plans ZERO corpus-side exchange — the index is
    // never re-shuffled or re-joined per search
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
                    "spark.sql.adaptive.enabled" -> "false")
      .map { case (key, v) =>
        val old = spark.conf.get(key); spark.conf.set(key, v); key -> old
      }
    try {
      val probes = Seq((9000L, 0L), (9001L, 3L)).toDF("q_id", "cent_id")
      val j = probes.join(spark.table(cellsTbl), "cent_id")
      val plan = j.queryExecution.executedPlan
      val smj = plan.collect { case x: SortMergeJoinExec => x }
      assert(smj.nonEmpty, s"expected a sort-merge probe join with broadcast off:\n$plan")
      val cellsSide = smj.last.right // probes joined LEFT, the table is right
      assert(cellsSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"cell table must join from its buckets, never shuffle:\n$plan")
      val scans = cellsSide.collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.forall(_.bucketedScan),
        s"cells side must be a bucketed scan:\n$plan")
    } finally saved.foreach { case (key, old) => spark.conf.set(key, old) }
  }
}
