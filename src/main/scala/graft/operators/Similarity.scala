package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._

import graft.Present._
import graft.Tables
import graft.expressions.{CosineSimilarity, FastRound}
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Four tiers, per SURVEY §2.C:
  *
  *  - '''Brute force''' (the correctness baseline): broadcast the (small)
  *    query set against the corpus — one scan of the corpus, no corpus
  *    shuffle, per-partition local work, then a global top-k. Ranking uses
  *    the 6-decimal-rounded similarity with the neighbor id as tiebreak so
  *    results are reproducible across engines and partitionings.
  *  - '''Scalar-quantized''' ([[quantizedTopK]]): the brute-force shape
  *    over int8 codes, exact integer arithmetic end to end.
  *  - '''LSH-bucketed''' (the scale path): sign-random-projection buckets —
  *    each vector hashes to a bucket id from the signs of `nPlanes` fixed
  *    random hyperplane projections; candidate neighbors come from an
  *    equi-join on the bucket id (a plain shuffle/broadcast hash join), so
  *    the 100 TB cost is one join on a dense int key instead of a cross
  *    join. Recall is tuned by `nPlanes` (fewer planes ⇒ bigger buckets).
  *  - '''IVF''' ([[ivfTopK]]; persisted as [[buildIvfIndex]] and
  *    [[searchIvfIndex]]): trained k-means cells. A vector's cell and a
  *    query's probe list both come from one rule, [[nearest]], evaluated
  *    per row against the broadcast centroid array.
  *
  * Hyperplanes are generated from a fixed seed (java.util.Random is
  * specified deterministically), so bucket assignment is reproducible.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** Exact top-k neighbors for each query vector (brute force baseline).
    *
    * Ranking runs through the [[graft.expressions.TopKByScore]] bounded-heap
    * aggregate (SURVEY §2.C's partition-local-top-k-then-merge): the corpus
    * is scored partition-locally against the broadcast queries and only
    * `queries × k` pairs leave each partition — a rank window here would
    * shuffle + sort every scored pair. Tie order (score desc, id asc) is
    * identical to `ROW_NUMBER() OVER (ORDER BY sim DESC, n_id)`.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, keyCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(keyCol).as("q_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(keyCol).as("n_id"), col(vecCol).as("nv"))
    val cos = VectorFunctions.cosineNative(corpus.sparkSession) _
    val rnd = VectorFunctions.roundNative(corpus.sparkSession) _
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        rnd(cos(col("qv"), col("nv")), 6).as("sim"))
    topKPerGroup(scored, "q_id", "sim", "n_id", k)
  }

  /** Scalar-quantization (int8) ANN — the memory-bounded embedding-search
    * play: L2-normalize each vector, then quantize every coordinate to a
    * signed byte `floor(x/‖x‖ · 127 + 0.5)`. Codes of unit vectors make
    * the integer dot product a 127²-scaled cosine, so ranking tracks the
    * exact cosine baseline (recall pinned by spec) while vectors shrink 4×
    * vs float32 — and unlike the float-cosine family the search arithmetic
    * is exact INTEGER end to end, so the whole construction (norms via
    * IEEE-exact sqrt and a left-fold sum both engines replay, codes,
    * scores, ranks) is value-certifiable against SQL with no rounding
    * contract. No training pass at all: no bounds, no codebook — each
    * vector quantizes from its own norm, map-only.
    *
    * Scale shape: quantization is a projection (zero shuffles, zero
    * corpus aggregates); scoring is the [[bruteForceTopK]] broadcast-probe
    * shape over codes (swap in the LSH/IVF blockers for billion-vector
    * corpora — quantization composes with any of them, it changes the
    * PAYLOAD, not the search strategy). Integer scores stay exact in the
    * top-k heap's double slot up to 2^53 (dim·127² ≈ 1M here).
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, keyCol: String,
                    vecCol: String, k: Int): DataFrame = {
    // left-fold the squared coordinates (array order, not partition order —
    // deterministic and exactly replayed by the oracle's list_reduce); the
    // RAW norm gets its own projection (one fold per row) and the zero
    // guard applies to that column, so the fold is never evaluated twice
    def rawNorm(vc: String): Column = expr(
      s"""sqrt(aggregate($vc, 0.0D,
            (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))""")
    // each vector codes its own elements, as the oracle's
    // range(1, len(embedding) + 1) does, so no corpus width is probed
    def codes(vc: String): Column = expr(
      s"""transform($vc, x ->
            CAST(floor(least(greatest(CAST(x AS DOUBLE) / _nm, -1.0D), 1.0D)
                 * 127.0D + 0.5D) AS BIGINT))""")
    def side(df: DataFrame, id: String, vc: String, out: String) = df
      .select(col(id), col(vc), rawNorm(vc).as("_rawnm"))
      .select(col(id), col(vc),
        when(col("_rawnm") === 0.0d, 1.0d).otherwise(col("_rawnm")).as("_nm"))
      .select(col(id), codes(vc).as(out))
    val q = side(queries.select(col(keyCol).as("q_id"), col(vecCol).as("qv")),
      "q_id", "qv", "qc")
    val c = side(corpus.select(col(keyCol).as("n_id"), col(vecCol).as("nv")),
      "n_id", "nv", "nc")
    // native fused integer dot (graft_dot_long): identical integers to the
    // aggregate(zip_with(...)) fold — exact associative arithmetic, no
    // rounding contract — without the per-element HOF lambda dispatch
    graft.expressions.VecPrimitives.register(corpus.sparkSession)
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        call_function(graft.expressions.VecPrimitives.dotLongName,
          col("qc"), col("nc")).as("score"))
    topKPerGroup(scored, "q_id", "score", "n_id", k)
  }

  /** Per-group top-k via the bounded-heap aggregate; returns
    * `(group, rnk, idCol, scoreCol)` rows, rank 1 = best.
    */
  private[graft] def topKPerGroup(scored: DataFrame, groupCol: String,
                                      scoreCol: String, idCol: String,
                                      k: Int): DataFrame = {
    graft.expressions.TopKByScore.register(scored.sparkSession)
    scored
      .groupBy(groupCol)
      .agg(call_function(graft.expressions.TopKByScore.name,
        struct(col(scoreCol).cast("double"), col(idCol).cast("long")), lit(k)).as("_top"))
      .select(col(groupCol), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col(groupCol), (col("_pos") + 1).cast("int").as("rnk"),
        col("_t.id").as(idCol), col("_t.score").as(scoreCol))
  }

  /** Adds `bucket` via the native [[graft.expressions.LshBucket]] codegen
    * expression: one fused primitive loop per row, inlined into whole-stage
    * codegen (the composed `zip_with`/`aggregate` form survives in
    * [[withLshBucketComposed]] and a parity spec pins bit-identical ids).
    */
  def withLshBucket(df: DataFrame, vecCol: String, nPlanes: Int, dim: Int,
                    seed: Long = 42L): DataFrame = {
    graft.expressions.LshBucket.register(df.sparkSession)
    df.withColumn("bucket", call_function(graft.expressions.LshBucket.name,
      col(vecCol), lit(nPlanes), lit(dim), lit(seed.toInt)))
  }

  /** The composed higher-order-function form of [[withLshBucket]] — same
    * fold order and double math, kept as the executable spec of the native
    * expression's semantics.
    */
  def withLshBucketComposed(df: DataFrame, vecCol: String,
                            planes: Array[Array[Double]]): DataFrame = {
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      val lit_p = array(p.map(lit(_)).toIndexedSeq: _*)
      when(aggregate(zip_with(col(vecCol), lit_p, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x) > 0, 1 << i).otherwise(0)
    }.reduce(_ + _)
    df.withColumn("bucket", bucket)
  }

  /** ANN top-k via LSH buckets: candidates share the query's bucket.
    *
    * @param dim embedding width; derived from the first query vector when
    *   not given. It MUST match the data — `zip_with` would silently
    *   truncate projections of wider vectors to a shorter plane, assigning
    *   wrong buckets with no error.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, keyCol: String,
              vecCol: String, k: Int, nPlanes: Int = 8,
              dim: Option[Int] = None): DataFrame = {
    // one scalar job over the (small) query side, not the corpus. An empty
    // query set has no dim to discover — degrade to the (empty) result.
    val probed = dim.orElse(
      queries.select(size(col(vecCol))).limit(1).collect().headOption.map(_.getInt(0)))
    val d = probed.getOrElse {
      return queries.select(col(keyCol).as("q_id"), lit(1).as("rnk"),
        col(keyCol).as("n_id"), lit(0.0).as("sim")).limit(0)
    }
    val q = withLshBucket(queries, vecCol, nPlanes, d)
      .select(col(keyCol).as("q_id"), col(vecCol).as("qv"), col("bucket"))
    val c = withLshBucket(corpus, vecCol, nPlanes, d)
      .select(col(keyCol).as("n_id"), col(vecCol).as("nv"), col("bucket"))
    val cos = VectorFunctions.cosineNative(corpus.sparkSession) _
    val rnd = VectorFunctions.roundNative(corpus.sparkSession) _
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        rnd(cos(col("qv"), col("nv")), 6).as("sim"))
    topKPerGroup(scored, "q_id", "sim", "n_id", k)
  }

  /** K-means (Lloyd) centroid training, deterministic and engine-portable:
    *
    *  - seed centroids = the `nlist` corpus vectors of lowest portable-hash
    *    rank ([[Curation.portableHash]], key tiebreak) — distribution-free
    *    over any id space, cent_id = rank;
    *  - each iteration assigns every vector to its nearest centroid by
    *    [[nearest]] (the 6-decimal-rounded cosine, cent_id tiebreak), then
    *    recomputes per-cell element-wise means, ALSO rounded to 6 decimals;
    *  - a cell that loses all members keeps its previous centroid.
    *
    * The rounding is what makes refinement reproducible: raw double means
    * carry summation-order ULP jitter (across runs AND engines), but
    * collapse to the same 6-decimal value on continuous data, so every
    * downstream cosine sees bit-identical centroids — which is why q55
    * stays DuckDB-hash-oracled even with trained centroids.
    *
    * Scale shape: training is one Spark job, a collect of the training
    * set's `(key, vector, hash)` rows, and the Lloyd iterations run on the
    * driver over them. The training set is bounded by the caller's
    * `trainSampleMod` slice ([[buildIvfIndex]],
    * [[Dedup.semanticDedupPairs]]) and by `spark.driver.maxResultSize`,
    * which fails an oversized collect. The result is an nlist-row local
    * `(cent_id bigint, cvec array<double>)` frame.
    */
  def kmeansCentroids(corpus: DataFrame, keyCol: String, vecCol: String,
                      nlist: Int = 16, iters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = corpus
      .select(col(keyCol).cast("long"), col(vecCol).cast("array<double>"),
        Curation.portableHash(col(keyCol)))
      .collect()
    // null keys sort first, as in an ascending Spark sort
    def long(r: Row, i: Int) = if (r.isNullAt(i)) Long.MinValue else r.getLong(i)
    val vecs = rows.map(r => if (r.isNullAt(1)) null
      else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](1).toArray))
    var cent: Array[ArrayData] = rows.indices
      .sortBy(i => (long(rows(i), 2), long(rows(i), 0))).take(nlist).map(vecs(_)).toArray
    val dim = vecs.iterator.filter(_ != null).map(_.numElements()).maxOption.getOrElse(0)
    (0 until iters).foreach { _ =>
      // per cell and position: the members' sum and count, as avg groups them
      val sums = Array.ofDim[Double](cent.length, dim)
      val counts = Array.ofDim[Long](cent.length, dim)
      val len = new Array[Int](cent.length)
      vecs.foreach { v =>
        if (v != null) {
          val best = nearest(v, cent, 1)(0)
          val n = v.numElements()
          (0 until n).foreach { p => sums(best)(p) += v.getDouble(p); counts(best)(p) += 1 }
          len(best) = math.max(len(best), n)
        }
      }
      cent = cent.indices.map { c =>
        if (len(c) == 0) cent(c)
        else UnsafeArrayData.fromPrimitiveArray(
          Array.tabulate(len(c))(p => FastRound.round(sums(c)(p) / counts(c)(p), 6)))
      }.toArray
    }
    cent.indices
      .map(c => (c.toLong, Option(cent(c)).map(_.toDoubleArray().toSeq).orNull))
      .toDF("cent_id", "cvec")
  }

  /** The nearest-centroid rule: the indices of the `n` best of `cents`
    * for `v`, best first. A centroid scores the round-6 cosine
    * ([[CosineSimilarity.fold]] through [[FastRound.round]]); the higher
    * score wins by `compareDoubles`, so NaN (a zero-norm vector or
    * centroid) ranks above every number; a null centroid ranks below every
    * number; ties go to the lower index. That is the order of the oracles'
    * `ROW_NUMBER() OVER (ORDER BY s DESC, cent_id)`. [[kmeansCentroids]]
    * assigns by it with n = 1, and [[nearestCells]] evaluates it per row.
    */
  private[graft] def nearest(v: ArrayData, cents: Array[ArrayData], n: Int): Array[Int] = {
    val s = cents.map(c =>
      if (c == null) 0.0 else FastRound.round(CosineSimilarity.fold(v, true, c, true), 6))
    def better(a: Int, b: Int) =
      cents(a) != null && (cents(b) == null || SQLOrderingUtil.compareDoubles(s(a), s(b)) > 0)
    // a stable sort: equals keep the lower index first
    cents.indices.sortWith(better).take(n).toArray
  }

  /** The centroids of a `(cent_id, cvec)` frame as the array [[nearest]]
    * indexes: `cent_id` must be the row's position once sorted.
    */
  private[graft] def centroidArray(cent: DataFrame): Array[ArrayData] = {
    val rows = cent.select(col("cent_id").cast("long"), col("cvec").cast("array<double>"))
      .collect().sortBy(r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
    rows.zipWithIndex.map[ArrayData] { case (r, i) =>
      require(!r.isNullAt(0) && r.getLong(0) == i,
        s"centroid ids must run 0 until ${rows.length}; position $i holds ${r.get(0)}")
      Option(r.getSeq[Double](1)).map(v => UnsafeArrayData.fromPrimitiveArray(v.toArray)).orNull
    }
  }

  /** The `n` nearest centroids of each row's `vec`, best first, as an
    * `array<bigint>` of `cent_id`s ([[nearest]]); null for a null vector.
    * `getItem(0)` is a vector's cell, `explode` a query's probe list. The
    * centroid array ships once per executor as a broadcast.
    */
  private[graft] def nearestCells(spark: SparkSession, vec: Column,
                                  cents: Array[ArrayData], n: Int): Column = {
    val bc = spark.sparkContext.broadcast(cents)
    udf((v: Array[Double]) =>
      if (v == null) null
      else nearest(UnsafeArrayData.fromPrimitiveArray(v), bc.value, n).map(_.toLong))
      .apply(vec.cast("array<double>"))
  }

  /** IVF-flat ANN: the corpus is partitioned into `nlist` cells by nearest
    * centroid; a query scores only vectors in its `nprobe` nearest cells.
    *
    * Centroids come from [[kmeansCentroids]] (seeded on the lowest
    * portable-hash-rank vectors, `kmeansIters` Lloyd refinements). The
    * *query shape* is the point: a corpus vector's cell and a query's
    * probe list are one projection each ([[nearestCells]]), the probe is an
    * equi-join on the dense `cent_id` key, and the corpus never cross-joins
    * the query set. All ranking happens on 6-decimal-rounded scores with id
    * tiebreaks, so the whole pipeline is reproducible (and DuckDB-oracled,
    * unusually for an ANN index).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, keyCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
              kmeansIters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    val cent = centroidArray(kmeansCentroids(corpus, keyCol, vecCol, nlist, kmeansIters))
    // The inverted lists (corpus→cell map) are the OTHER half of the IVF
    // index, built here for this one search. A caller that searches one
    // corpus again and again builds both halves once with [[buildIvfIndex]]
    // and probes them with [[searchIvfIndex]]. Query vectors come from the
    // QUERIES input — they need not exist in the corpus (and a colliding
    // corpus id must not shadow them).
    val candidates = probeRows(spark, queries, keyCol, vecCol, cent, nprobe)
      .join(ivfCellRows(spark, corpus, keyCol, vecCol, cent), "cent_id")
      .filter(col("q_id") =!= col("c_id"))
    topKPerGroup(scoreCandidates(spark, candidates), "q_id", "sim", "n_id", k)
  }

  /** Each query's probe list as rows `(q_id, qv, qn, cent_id)`, one per
    * probed cell: one projection of the queries, carrying the vector and
    * its norm, so nothing wider than the probe list ever shuffles.
    */
  private def probeRows(spark: SparkSession, queries: DataFrame, keyCol: String,
                        vecCol: String, cent: Array[ArrayData], nprobe: Int): DataFrame =
    queries.select(col(keyCol).as("q_id"), col(vecCol).as("qv"),
      VectorFunctions.normNative(spark)(col(vecCol)).as("qn"),
      explode(nearestCells(spark, col(vecCol), cent, nprobe)).as("cent_id"))

  /** `(q_id, n_id, sim)` for probe rows joined to cell rows: the round-6
    * cosine, norm-factored as `dot/(qn·nn)` — bit-identical to the inline
    * `graft_cosine` (see [[graft.expressions.VecPrimitives]]).
    */
  private def scoreCandidates(spark: SparkSession, candidates: DataFrame): DataFrame =
    candidates.select(col("q_id"), col("c_id").as("n_id"),
      VectorFunctions.roundNative(spark)(
        VectorFunctions.dotNative(spark)(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
        .as("sim"))

  def ivfArtifactNames(tag: String): (String, String) =
    (s"graft_ivf_cent_x$tag", s"graft_ivf_cells_x$tag")

  /** IVF search run the way a DEPLOYMENT runs it (q129): the index halves
    * are PERSISTED managed tables — the trained centroids, plus the
    * inverted lists as a `(c_id, cent_id, vector)` table bucketed AND
    * sorted by `cent_id` — today's increment searches against the BUCKETED
    * READ, and the increment's own cell assignments are APPENDED afterward
    * so the next increment probes a corpus that already contains this one
    * (the corpus-grows step; q114 is the dedup twin of this contract).
    *
    * Scale shape: bucketing moves the corpus-side cell shuffle to WRITE
    * time, paid once per vector when it enters the index. The cells table
    * CARRIES its vectors, so the probe join delivers candidate vectors
    * directly from the clustered read — the corpus is never re-joined by
    * key, never exchanged; only the (increment-sized) probe set shuffles
    * to meet the buckets. Centroids are read from the artifact and ride a
    * broadcast. Search cost per query stays `nprobe/nlist` of the corpus
    * regardless of index age.
    *
    * Certification rebuilds both artifacts from the corpus slice on every
    * call so the result is a pure function of the fixture (a deployment
    * builds once); the search result is materialized BEFORE the append so
    * the returned frame is stable against the artifact mutation behind it.
    */
  def ivfSearchOverPersistedIndex(spark: SparkSession, corpus: DataFrame,
                                  queries: DataFrame, keyCol: String,
                                  vecCol: String, tag: String, k: Int = 3,
                                  nlist: Int = 16, nprobe: Int = 4,
                                  kmeansIters: Int = 2,
                                  nBuckets: Int = 32): DataFrame = {
    buildIvfIndex(spark, corpus, keyCol, vecCol, tag, nlist, kmeansIters, nBuckets)
    val out = searchIvfIndex(spark, queries, keyCol, vecCol, tag, k, nprobe)
      .localCheckpoint(true) // materialized BEFORE the append mutates the artifact
    appendToIvfIndex(spark, queries, keyCol, vecCol, tag, nBuckets)
    out
  }

  /** Cell rows for `df`: `(c_id, cent_id, nv, nn)` — each vector with its
    * nearest cell and its L2 norm, computed ONCE when the vector enters the
    * index (the search's per-pair cosine then runs norm-factored
    * `dot/(qn·nn)` — bit-identical to the inline form, see
    * [[graft.expressions.VecPrimitives]]). One projection, no exchange.
    */
  private def ivfCellRows(spark: SparkSession, df: DataFrame, keyCol: String,
                          vecCol: String, cent: Array[ArrayData]): DataFrame =
    df.select(col(keyCol).as("c_id"),
      nearestCells(spark, col(vecCol), cent, 1).getItem(0).as("cent_id"),
      col(vecCol).as("nv"), VectorFunctions.normNative(spark)(col(vecCol)).as("nn"))

  /** The persisted centroids of index `tag`, read from disk. */
  private def ivfCentroids(spark: SparkSession, tag: String): Array[ArrayData] =
    centroidArray(spark.table(ivfArtifactNames(tag)._1))

  /** BUILD: train centroids on (a deterministic sample of) the corpus and
    * persist both index halves — paid once per corpus, then amortized over
    * every [[searchIvfIndex]]/[[appendToIvfIndex]] call.
    *
    * @param trainSampleMod when > 1, k-means trains on the
    *   `portableHash(key) % mod == 0` corpus slice (the q135 sampling
    *   pattern) — the at-scale posture. Training is one collect of the
    *   training set plus driver-side Lloyd iterations
    *   ([[kmeansCentroids]]), so the slice is what keeps the collect
    *   inside `spark.driver.maxResultSize` and the driver's memory.
    */
  def buildIvfIndex(spark: SparkSession, corpus: DataFrame, keyCol: String,
                    vecCol: String, tag: String, nlist: Int = 16,
                    kmeansIters: Int = 2, nBuckets: Int = 32,
                    trainSampleMod: Int = 1): Unit = {
    val (centTbl, cellsTbl) = ivfArtifactNames(tag)
    Seq(centTbl, cellsTbl).foreach(graft.StageDir.dropManagedTable(spark, _))
    // a rebuild recenters and re-assigns everything — stale streaming
    // segments (q137) from a prior index generation must not survive it
    graft.StageDir.deleteRecursively(ivfSegmentBase(spark, tag))
    val trainSet =
      if (trainSampleMod <= 1) corpus
      else corpus.filter(Curation.portableHash(col(keyCol)) % trainSampleMod === 0)
    // the cells are assigned off the trained (local, nlist-row) centroids,
    // not a read-back of the centroid table, so the two index halves'
    // writes carry no data dependency and run as concurrent jobs
    val cent = kmeansCentroids(trainSet, keyCol, vecCol, nlist, kmeansIters)
    graft.Concurrently(Seq(
      () => cent.write.mode("overwrite").format("parquet").saveAsTable(centTbl),
      () => writeCells(ivfCellRows(spark, corpus, keyCol, vecCol, centroidArray(cent)),
        "overwrite", nBuckets, cellsTbl)))
  }

  /** The bucketed cells write. Each cell is gathered into one task first:
    * a plain projection would write one file per (scan task, bucket).
    */
  private def writeCells(cells: DataFrame, mode: String, nBuckets: Int,
                         cellsTbl: String): Unit =
    cells.repartition(col("cent_id"))
      .write.mode(mode).format("parquet")
      .bucketBy(nBuckets, "cent_id").sortBy("cent_id")
      .saveAsTable(cellsTbl)

  /** SEARCH: today's increment probes the persisted index — reads only the
    * bucketed cells and the broadcast centroid table, never the corpus.
    */
  def searchIvfIndex(spark: SparkSession, queries: DataFrame, keyCol: String,
                     vecCol: String, tag: String, k: Int = 3,
                     nprobe: Int = 4): DataFrame = {
    val scored = ivfCandidates(spark, queries, keyCol, vecCol, tag, nprobe)
      .map(scoreCandidates(spark, _)).reduce(_ unionByName _)
    topKPerGroup(scored, "q_id", "sim", "n_id", k)
  }

  /** What a search of index `tag` scores: the [[probeRows]] expanded
    * against every cell source — one frame per source, self-matches
    * dropped; the expansion and scoring run fused in the bucketed-read
    * stage. The index is the bucketed base table plus any streaming-append
    * segments (q137's LSM tail — see [[appendIvfSegment]]); each source is
    * joined separately so the base keeps its bucketed `cent_id` join while
    * the (small) segment read joins plain. [[searchIvfIndex]] scores these
    * frames and [[searchCandidateCount]] counts them.
    */
  private def ivfCandidates(spark: SparkSession, queries: DataFrame, keyCol: String,
                            vecCol: String, tag: String, nprobe: Int): Seq[DataFrame] = {
    val probes = probeRows(spark, queries, keyCol, vecCol, ivfCentroids(spark, tag), nprobe)
    val segs = listIvfSegments(spark, tag)
    val cellSources = spark.table(ivfArtifactNames(tag)._2) +:
      (if (segs.isEmpty) Nil else Seq(spark.read.parquet(segs: _*)))
    cellSources.map(probes.join(_, "cent_id").filter(col("q_id") =!= col("c_id")))
  }

  /** Root of the per-microbatch segment directories for `tag` — a stable
    * warehouse location derived like a managed table's, but holding plain
    * parquet dirs `b<batchId>`, one per streamed append.
    */
  def ivfSegmentBase(spark: SparkSession, tag: String): java.nio.file.Path =
    java.nio.file.Paths.get(spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(s"graft_ivf_seg_x$tag")))

  private def listIvfSegments(spark: SparkSession, tag: String): Seq[String] =
    Option(ivfSegmentBase(spark, tag).toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("b"))
      .map(_.getAbsolutePath).sorted.toSeq

  /** STREAMING append (q137): one microbatch's cell assignments, written
    * to a batch-id-keyed segment directory with OVERWRITE. `foreachBatch`
    * delivers at-least-once — a blind append into the bucketed cells
    * table would double a replayed batch's vectors after a crash, while
    * overwrite-by-batch-id makes the maintenance loop idempotent (the
    * q98 version-per-batch-id lesson applied to index maintenance).
    * Segments are the LSM tail of the index: small, unbucketed, scored
    * alongside the bucketed base by [[searchIvfIndex]]; a rebuild
    * ([[buildIvfIndex]] clears them) or a batch [[appendToIvfIndex]]
    * compaction absorbs them back into the bucketed base.
    */
  def appendIvfSegment(spark: SparkSession, increment: DataFrame,
                       keyCol: String, vecCol: String, tag: String,
                       batchId: Long): Unit = {
    ivfCellRows(spark, increment, keyCol, vecCol, ivfCentroids(spark, tag))
      .write.mode("overwrite")
      .parquet(ivfSegmentBase(spark, tag).resolve(s"b$batchId").toString)
  }

  /** Diagnostic: the candidate volume a [[searchIvfIndex]] at these
    * parameters scores — the probe list expanded against the base cells
    * and the streaming segments, before top-k. What the
    * `f443513:SCALE_IVF.json` sweep records next to wall time.
    */
  def searchCandidateCount(spark: SparkSession, queries: DataFrame,
                           keyCol: String, vecCol: String, tag: String,
                           nprobe: Int = 4): Long =
    ivfCandidates(spark, queries, keyCol, vecCol, tag, nprobe)
      .map(_.select("q_id", "c_id")).reduce(_ unionByName _).count()

  /** APPEND (corpus-grows): the increment's cell assignments enter the
    * bucketed cells table, so the next increment probes a corpus that
    * already contains this one. Centroids are untouched — cell quality
    * drifts with the corpus and a rebuild recenters, the standard IVF
    * maintenance trade.
    */
  def appendToIvfIndex(spark: SparkSession, increment: DataFrame,
                       keyCol: String, vecCol: String, tag: String,
                       nBuckets: Int = 32): Unit =
    writeCells(ivfCellRows(spark, increment, keyCol, vecCol, ivfCentroids(spark, tag)),
      "append", nBuckets, ivfArtifactNames(tag)._2)

  // ------------------------------------------------------- declared queries

  val queries: Map[String, Q] = Map(
    "q45_similarity_topk" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      bruteForceTopK(emb.filter(col("vec_id") <= 5), emb, "vec_id", "embedding", k = 3)
        .presented("q_id", "rnk")
    }),
    // Engine-seeded bucketing, certified against a committed
    // independent-recompute golden (see oracles); recall asserted in specs.
    "q46_similarity_lsh" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      lshTopK(emb.filter(col("vec_id") <= 5), emb, "vec_id", "embedding", k = 3)
        .presented("q_id", "rnk")
    }),
    "q55_similarity_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      ivfTopK(emb.filter(col("vec_id") <= 5), emb, "vec_id", "embedding", k = 3)
        .presented("q_id", "rnk")
    }),
    // q55's semantics through the DEPLOYMENT path: persisted centroid +
    // bucketed vector-carrying cell tables, increment searched against the
    // bucketed read, its assignments appended after — corpus slices match
    // the q113/q114 convention (corpus %5≠0, increment %5=0)
    "q129_similarity_ivf_persisted" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      ivfSearchOverPersistedIndex(s,
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", Integer.toHexString(dir.hashCode), k = 3)
        .presented("q_id", "rnk")
    }),
    // int8 scalar quantization: exact-integer codes + scores, so the whole
    // construction (bounds, codes, dot products, ranks) is value-certified
    "q122_similarity_quantized" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      quantizedTopK(emb.filter(col("vec_id") <= 5), emb, "vec_id", "embedding", k = 3)
        .presented("q_id", "rnk")
    }),
  )

  val oracles: Map[String, String] = Map(
    // exact-integer search end to end: per-vector L2 norm via the SAME
    // left-fold sum Spark's aggregate() computes (the q86 prepend-fold
    // pattern), signed half-up int8 codes, BIGINT dots, rank (score desc, id)
    "q122_similarity_quantized" ->
      """WITH norms AS (
           SELECT vec_id, embedding,
                  CASE WHEN nm = 0.0 THEN 1.0 ELSE nm END AS nm
           FROM (SELECT vec_id, embedding,
                        sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nm
                 FROM embeddings) e),
         codes AS (
           SELECT vec_id,
                  list_transform(range(1, len(embedding) + 1),
                    i -> CAST(floor(least(greatest(CAST(embedding[i] AS DOUBLE) / nm, -1.0), 1.0) * 127.0 + 0.5) AS BIGINT)) AS c
           FROM norms),
         scored AS (
           SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                  CAST(list_sum(list_transform(range(1, len(q.c) + 1), i -> q.c[i] * n.c[i])) AS BIGINT) AS score
           FROM codes q JOIN codes n ON q.vec_id <> n.vec_id
           WHERE q.vec_id <= 5)
         SELECT q_id, rnk, n_id, CAST(score AS DOUBLE) AS score FROM (
           SELECT q_id, n_id, score,
                  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rnk
           FROM scored) t
         WHERE rnk <= 3 ORDER BY q_id, rnk""",
    // Seeded-hash query certified against a committed golden recomputed by
    // an independent Python implementation (tools/gen_lsh_goldens.py); the
    // corpus_tag row filter picks the scale factor — see Dedup.oracles.
    "q46_similarity_lsh" ->
      """SELECT q_id, rnk, n_id, sim FROM read_parquet('/root/repo/goldens/q46_similarity_lsh.parquet')
         WHERE corpus_tag = (SELECT SUM((vec_id + 1) * CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1048576) AS BIGINT)) FROM embeddings)
         ORDER BY q_id, rnk""",
    "q45_similarity_topk" ->
      """SELECT q_id, rnk, n_id, sim FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                  ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim,
                  ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rnk
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.vec_id <= 5) t
         WHERE rnk <= 3 ORDER BY q_id, rnk""",
    // mirrors kmeansCentroids: c0 = the 16 lowest portable-hash-rank seeds
    // (cent_id = rank, same masked Knuth arithmetic as Curation.portableHash
    // — exact in BIGINT), two Lloyd iterations (assign on round-6 cosine
    // with cent_id tiebreak → per-cell round-6 means, empty cells keep the
    // old centroid), then the IVF probe over the trained centroids. The
    // 6-decimal rounding at every step is what makes the two engines'
    // double math collapse to identical values.
    // q129: the q55 k-means replay trained on the CORPUS slice (%5≠0),
    // probed by the increment slice (%5=0) — the persisted-index path must
    // produce exactly what a from-scratch IVF over the same slices produces
    "q129_similarity_ivf_persisted" ->
      """WITH corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
              incr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
              c0 AS (SELECT CAST(rn - 1 AS BIGINT) AS cent_id, cvec FROM (
                       SELECT ROW_NUMBER() OVER (ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id) AS rn,
                              CAST(embedding AS DOUBLE[]) AS cvec
                       FROM corp) s
                     WHERE rn <= 16),
              a1 AS (SELECT vec_id, cent_id FROM (
                       SELECT e.vec_id, c.cent_id,
                              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC, c.cent_id) AS rn
                       FROM corp e CROSS JOIN c0 c) x WHERE rn = 1),
              m1 AS (SELECT a1.cent_id, t.pos, ROUND(AVG(CAST(e.embedding[t.pos] AS DOUBLE)), 6) AS v
                     FROM a1 JOIN corp e USING (vec_id), LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS pos) t
                     GROUP BY a1.cent_id, t.pos),
              c1 AS (SELECT s.cent_id, COALESCE(r.cvec, s.cvec) AS cvec
                     FROM c0 s LEFT JOIN (SELECT cent_id, list(v ORDER BY pos) AS cvec FROM m1 GROUP BY cent_id) r USING (cent_id)),
              a2 AS (SELECT vec_id, cent_id FROM (
                       SELECT e.vec_id, c.cent_id,
                              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC, c.cent_id) AS rn
                       FROM corp e CROSS JOIN c1 c) x WHERE rn = 1),
              m2 AS (SELECT a2.cent_id, t.pos, ROUND(AVG(CAST(e.embedding[t.pos] AS DOUBLE)), 6) AS v
                     FROM a2 JOIN corp e USING (vec_id), LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS pos) t
                     GROUP BY a2.cent_id, t.pos),
              c2 AS (SELECT s.cent_id, COALESCE(r.cvec, s.cvec) AS cvec
                     FROM c1 s LEFT JOIN (SELECT cent_id, list(v ORDER BY pos) AS cvec FROM m2 GROUP BY cent_id) r USING (cent_id)),
              ca AS (SELECT e.vec_id, c.cent_id,
                            ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) AS s
                     FROM corp e CROSS JOIN c2 c),
              cells AS (SELECT vec_id AS c_id, cent_id FROM
                          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM ca) x
                        WHERE rn = 1),
              caq AS (SELECT i.vec_id, c.cent_id,
                             ROUND(list_cosine_similarity(CAST(i.embedding AS DOUBLE[]), c.cvec), 6) AS s
                      FROM incr i CROSS JOIN c2 c),
              probes AS (SELECT vec_id AS q_id, cent_id FROM
                           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM caq) y
                         WHERE rn <= 4),
              cand AS (SELECT q_id, c_id AS n_id FROM probes JOIN cells USING (cent_id) WHERE c_id <> q_id),
              scored AS (SELECT q_id, n_id,
                                ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
                         FROM cand JOIN incr a ON a.vec_id = q_id JOIN corp b ON b.vec_id = n_id)
         SELECT q_id, rnk, n_id, sim FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk FROM scored) z
         WHERE rnk <= 3 ORDER BY q_id, rnk""",
    "q55_similarity_ivf" ->
      """WITH c0 AS (SELECT CAST(rn - 1 AS BIGINT) AS cent_id, cvec FROM (
                       SELECT ROW_NUMBER() OVER (ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id) AS rn,
                              CAST(embedding AS DOUBLE[]) AS cvec
                       FROM embeddings) s
                     WHERE rn <= 16),
              a1 AS (SELECT vec_id, cent_id FROM (
                       SELECT e.vec_id, c.cent_id,
                              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC, c.cent_id) AS rn
                       FROM embeddings e CROSS JOIN c0 c) x WHERE rn = 1),
              m1 AS (SELECT a1.cent_id, t.pos, ROUND(AVG(CAST(e.embedding[t.pos] AS DOUBLE)), 6) AS v
                     FROM a1 JOIN embeddings e USING (vec_id), LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS pos) t
                     GROUP BY a1.cent_id, t.pos),
              c1 AS (SELECT s.cent_id, COALESCE(r.cvec, s.cvec) AS cvec
                     FROM c0 s LEFT JOIN (SELECT cent_id, list(v ORDER BY pos) AS cvec FROM m1 GROUP BY cent_id) r USING (cent_id)),
              a2 AS (SELECT vec_id, cent_id FROM (
                       SELECT e.vec_id, c.cent_id,
                              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC, c.cent_id) AS rn
                       FROM embeddings e CROSS JOIN c1 c) x WHERE rn = 1),
              m2 AS (SELECT a2.cent_id, t.pos, ROUND(AVG(CAST(e.embedding[t.pos] AS DOUBLE)), 6) AS v
                     FROM a2 JOIN embeddings e USING (vec_id), LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS pos) t
                     GROUP BY a2.cent_id, t.pos),
              c2 AS (SELECT s.cent_id, COALESCE(r.cvec, s.cvec) AS cvec
                     FROM c1 s LEFT JOIN (SELECT cent_id, list(v ORDER BY pos) AS cvec FROM m2 GROUP BY cent_id) r USING (cent_id)),
              ca AS (SELECT e.vec_id, c.cent_id,
                            ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) AS s
                     FROM embeddings e CROSS JOIN c2 c),
              cells AS (SELECT vec_id AS c_id, cent_id FROM
                          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM ca) x
                        WHERE rn = 1),
              probes AS (SELECT vec_id AS q_id, cent_id FROM
                           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn
                            FROM ca WHERE vec_id <= 5) y
                         WHERE rn <= 4),
              cand AS (SELECT q_id, c_id AS n_id FROM probes JOIN cells USING (cent_id) WHERE c_id <> q_id),
              scored AS (SELECT q_id, n_id,
                                ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
                         FROM cand JOIN embeddings a ON a.vec_id = q_id JOIN embeddings b ON b.vec_id = n_id)
         SELECT q_id, rnk, n_id, sim FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk FROM scored) z
         WHERE rnk <= 3 ORDER BY q_id, rnk""",
  )
}
