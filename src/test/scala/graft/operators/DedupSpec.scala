package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def docs = {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    Seq(
      (0L, base),
      (1L, base), // exact duplicate of 0
      (2L, base.replace("quick", "quack")), // near duplicate of 0
      (3L, "completely different content about spark catalyst optimizer rules and physical plans"),
      (4L, "yet another unrelated document mentioning parquet files and shuffle partitions only"),
    ).toDF("doc_id", "text")
  }

  test("duplicate clustering: multi-hop chains collapse to the min key") {
    val s = spark
    import s.implicits._
    // 1-2, 2-3 chain (3 never pairs with 1 directly); 7-9 island; 5 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a", "b")
    val out = Dedup.duplicateClusters(pairs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L)))
    // partitioning must not change the fixpoint
    val again = Dedup.duplicateClusters(pairs.repartition(5)).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(again == out)
  }

  test("duplicate clustering: driver union-find tier == distributed loop, gate respects conf") {
    // Every edge set under 1M edges closes on the driver (Tier 0), so the
    // distributed pointer-jumping loop never runs through
    // `duplicateClusters` under `sbt test`. Call the loop directly and pin
    // the fixpoint equality of both tiers on a multi-component graph with
    // an odd-length chain (exercises >1 loop round).
    val s = spark
    import s.implicits._
    val chain = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 23L), (23L, 21L), (30L, 31L))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = Seq((10L, 10L), (11L, 10L), (12L, 10L), (13L, 10L),
      (14L, 10L), (20L, 20L), (21L, 20L), (23L, 20L), (30L, 30L), (31L, 30L))
    assert(sorted(Dedup.duplicateClusters(chain.toDF("a", "b"))) == expected) // driver tier
    val fwd = chain.toDF("src", "dst")
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    assert(sorted(Dedup.labelLoop(edges, edges.count())) == expected)       // distributed loop
  }

  test("exact dedup groups identical texts and keeps the min key") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    val first = out.head
    assert(first.getAs[Long]("doc_id") == 0L && first.getAs[Long]("dup_count") == 2L)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated pairs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", k = 5, jaccardThreshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"exact dup pair missing: $pairs")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), s"near dup pair missing: $pairs")
    assert(!pairs.contains((3L, 4L)), s"unrelated pair matched: $pairs")
  }

  test("minhash jaccard of the exact-dup pair is 1.0") {
    val j = Dedup.minhashPairs(docs, "doc_id", k = 5, jaccardThreshold = 0.5)
      .filter(col("a") === 0 && col("b") === 1)
      .select("jaccard").collect().head.getDouble(0)
    assert(j == 1.0)
  }

  test("simhash pairs: identical docs at distance 0, unrelated docs not paired") {
    val out = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => ((r.getAs[Long]("a"), r.getAs[Long]("b")), r.getAs[Int]("hamming"))).toMap
    assert(out.get((0L, 1L)).contains(0))
    assert(!out.contains((3L, 4L)))
  }

  test("ngram jaccard: identical → 1.0, near-dup high, bounded in [0,1]") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((0L, 1L)) == 1.0)
    assert(out((0L, 2L)) > 0.8)
    assert(out.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("LSH-blocked embedding pairs: exact dups found, plan has no cross join") {
    val s = spark
    import s.implicits._
    // 80 spread-out vectors + one planted exact duplicate of id 9
    val corpus = (0 until 80).map(i =>
      (i.toLong, Array.tabulate(24)(d => math.sin(i * 24 + d).toFloat)))
    val emb = (corpus :+ (900L, corpus(9)._2)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingLshPairs(emb, "vec_id", "embedding", minSim = 0.99)
    val plan = pairs.queryExecution.executedPlan.toString
    // the blocking MUST be an equi-join on the bucket id — an all-pairs
    // fallback would show up as a nested-loop/cartesian operator
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in plan:\n$plan")
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(found.exists { case (a, b, sim) => a == 9L && b == 900L && sim == 1.0 },
      s"planted duplicate not found: ${found.toSeq}")
  }

  test("levenshtein pairs: zero distance iff identical, bounded by longer length") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "kitten"), (1L, "sitting"), (2L, "kitten"), (3L, ""),
    ).toDF("doc_id", "text")
    val out = Dedup.levenshteinPairs(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(out((0L, 1L)) == 3) // the classic kitten→sitting
    assert(out((0L, 2L)) == 0) // identical texts
    assert(out((0L, 3L)) == 6) // vs empty = full deletion
    assert(out.forall { case (_, d) => d >= 0 && d <= 7 })
  }

  test("embedding cosine pairs flag duplicate vectors") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.5f)),
      (1L, Array(1.0f, 0.0f, 0.5f)),
      (2L, Array(-1.0f, 0.2f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((0L, 1L)) == 1.0)
    assert(out((0L, 2L)) < 0.0)
  }

  test("incremental minhash: planted cross-slice dup found, within-slice pairs never emitted") {
    val s = spark
    import s.implicits._
    val existing = docs // ids 0-4: 0/1 exact dups, 2 near-dup of 0
    val incoming = Seq(
      (10L, docs.filter(col("doc_id") === 0).head().getString(1)),   // exact dup of corpus 0 AND 1
      (11L, "entirely novel content with no shingle overlap whatsoever here"),
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalMinhashMatches(existing, incoming, "doc_id",
      jaccardThreshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 10 is a copy of 0: exact vs 0 and 1 (jaccard 1.0), near vs 2 (the
    // quick->quack near-dup, 0.881 — above the 0.8 gate by design)
    assert(out.map(t => (t._1, t._2)).toSet == Set((0L, 10L), (1L, 10L), (2L, 10L)),
      s"expected exactly the planted cross-slice dup pairs, got ${out.toSeq}")
    assert(out.filter(_._1 <= 1L).forall(_._3 == 1.0))
    // the corpus's own duplicate pairs (0,1)/(0,2) must NOT be re-paired —
    // the whole point of the incremental mode is never re-paying
    // corpus x corpus
    assert(!out.exists(t => t._2 < 10L))
  }

  test("incremental minhash prebanded: the corpus is never shuffled (measured contract)") {
    // The SCALE_INCR_DEDUP measurement (flat 0.21 MB shuffle across 100x
    // corpus growth) holds because (a) the increment's band table
    // broadcasts onto the corpus band table and (b) the increment-bounded
    // candidate set broadcasts onto the corpus text projection. Pin both:
    // every join the corpus side participates in must be a broadcast hash
    // join with the corpus on the STREAMED side — a sort-merge join
    // anywhere means a corpus exchange came back.
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val out = Dedup.incrementalMinhashMatchesPrebanded(
      Dedup.minhashBandTable(corpus, "doc_id").withColumnRenamed("doc_id", "old_id"),
      corpus.select(col("doc_id").as("old_id"), col("text").as("ta")),
      docs.filter(col("doc_id") % 5 === 0), "doc_id", jaccardThreshold = 0.5)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side exchange regressed into the incremental gate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(out.count() > 0)
  }

  test("containment pairs: a planted excerpt is found at overlap ~1 where Jaccard misses it") {
    val s = spark
    import s.implicits._
    val host = ("in the beginning the project loaded parquet tables into spark and " +
      "computed aggregations over them with catalyst optimized plans while the " +
      "ingest connector paged through the odata endpoints and wrote dated " +
      "snapshots with json sidecars for every table it fetched from the service")
    val excerpt = "the ingest connector paged through the odata endpoints"
    val docs = Seq(
      (0L, host),
      (1L, excerpt), // contained in 0: overlap ~1, Jaccard tiny
      (2L, "wholly unrelated text about streaming watermarks and state stores today"),
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", n = 3, kRare = 4, minOverlap = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.contains((0L, 1L)), s"excerpt pair must surface: $out")
    assert(out((0L, 1L)) >= 0.95, s"excerpt overlap should be ~1: ${out((0L, 1L))}")
    assert(!out.keySet.exists(p => p._1 == 2L || p._2 == 2L))
    // the symmetric-Jaccard path does NOT see this pair even at a lax
    // threshold — the duplicate class q115 exists for
    val jac = Dedup.minhashPairs(docs, "doc_id", jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((0L, 1L)),
      "fixture must exercise the containment-only regime (Jaccard misses the excerpt)")
    // posting-list cap: with maxBucket=1, every posting list is one doc —
    // the excerpt pair survives only through the excerpt's own rare keys
    // probing the host's full index entry; a flood cannot explode the join
    val capped = Dedup.containmentPairs(docs, "doc_id", n = 3, kRare = 4,
      minOverlap = 0.5, maxBucket = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.forall(p => out.contains(p)), "capped pairs are a subset")
  }

  test("duplicate resolution: per cluster exactly one keeper, the best by quality") {
    val s = spark
    import s.implicits._
    // cluster {1,2,3} via chain pairs; {7,9} island; doc 5 unpaired (unique)
    val docs = Seq(
      (1L, "short junk ////"), // low alpha ratio -> low quality
      (2L, "a perfectly ordinary sentence with plain words throughout"),
      (3L, "another wordy doc of middling quality overall today"),
      (5L, "never paired with anything"),
      (7L, "island text one"),
      (9L, "island text two"),
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a", "b")
    val out = Dedup.resolveDuplicates(docs, pairs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    // unique docs are not at risk and do not appear
    assert(!out.exists(_._1 == 5L))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 7L, 9L))
    // one keeper per cluster
    val byCluster = out.groupBy(_._2)
    assert(byCluster.size == 2)
    assert(byCluster.values.forall(_.count(_._3) == 1), s"one keeper per cluster: ${out.toSeq}")
    // the junk doc never wins its cluster
    assert(!out.find(_._1 == 1L).get._3, "low-quality doc must be dropped")
  }

  test("batch LSH hot-bucket bound: a planted degenerate class completes linearly and stays connected") {
    // The batch-family analog of the incremental candidate bound: a
    // boilerplate class floods one LSH bucket, and exhaustive within-bucket
    // pairing would cost m(m-1)/2 joined rows. With the cap under the flood
    // size the bucket must degrade to CHAIN pairs — m-1 candidates, linear
    // — while (a) the flood class still comes out of clustering as ONE
    // component, and (b) pairs outside the flood are exactly the uncapped
    // ones.
    val s = spark
    import s.implicits._
    val boiler = "identical boilerplate navigation header repeated across every page of the crawl"
    val flood = (100L until 300L).map(i => (i, boiler))
    val organic = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"),
      (1L, "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"),
      (2L, "completely different content about spark catalyst optimizer rules and physical plans"),
    )
    val docs = (organic ++ flood).toDF("doc_id", "text")
    val cap = 16

    val capped = Dedup.minhashPairs(docs, "doc_id", jaccardThreshold = 0.8, maxBucket = cap)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // flood pairs are the 199-edge chain (plus nothing quadratic): every
    // emitted flood pair is adjacent, so candidate count is linear in m
    val floodPairs = capped.filter { case (a, b) => a >= 100L && b >= 100L }
    assert(floodPairs == (100L until 299L).map(i => (i, i + 1)).toSet,
      s"expected the chain over the flood class, got ${floodPairs.size} pairs")
    // organic pairs unaffected by the cap: the (0,1) exact-dup pair survives
    assert(capped.contains((0L, 1L)))
    // the flood stays ONE duplicate cluster through the chain
    val clusters = Dedup.duplicateClusters(
      Dedup.minhashPairs(docs, "doc_id", jaccardThreshold = 0.8, maxBucket = cap))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((100L until 300L).forall(clusters(_) == 100L),
      "chained flood class must collapse to one canonical doc")

    // simhash: same contract through the chunk buckets
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3, maxBucket = cap)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simFlood = sim.filter { case (a, b) => a >= 100L && b >= 100L }
    assert(simFlood == (100L until 299L).map(i => (i, i + 1)).toSet)

    // embedding LSH: an identical-vector pile in one bucket chains too
    val emb = ((0L until 50L).map(i => (i, Array(1.0f, 0.5f, 0.25f))) :+
      (99L, Array(-1.0f, 0.4f, 0.0f))).toDF("vec_id", "embedding")
    val embPairs = Dedup.embeddingLshPairs(emb, "vec_id", "embedding",
      minSim = 0.9, maxBucket = 8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(embPairs == (0L until 49L).map(i => (i, i + 1)).toSet)
  }

  test("semantic dedup: planted duplicate found via shared trained cell, equi-join plan, subset of exhaustive") {
    val s = spark
    import s.implicits._
    // 80 spread-out vectors + one planted exact duplicate of id 9:
    // identical vectors have identical round-6 cosines to every centroid,
    // so they share a cell by construction — exact-dup recall is 1
    val corpus = (0 until 80).map(i =>
      (i.toLong, Array.tabulate(24)(d => math.sin(i * 24 + d).toFloat)))
    val emb = (corpus :+ (900L, corpus(9)._2)).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDedupPairs(emb, "vec_id", "embedding", minSim = 0.99)
    val plan = pairs.queryExecution.executedPlan.toString
    // The PAIRING must be blocked on the trained cell id: rows are
    // hash-partitioned on `cent_id` and paired within each cell by one
    // sorted pass — an all-pairs corpus fallback would plan a
    // cartesian/nested-loop join of the corpus against itself. Centroid
    // ASSIGNMENT is a per-row projection against the broadcast centroid
    // array, so no nested-loop join of any kind is left in the plan.
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(plan.contains("hashpartitioning(cent_id"),
      s"pairing is not partitioned on cent_id:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"a BroadcastNestedLoopJoin is in the plan:\n$plan")
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(found.exists { case (a, b, sim) => a == 9L && b == 900L && sim == 1.0 },
      s"planted duplicate not found: ${found.toSeq}")
    // blocking can only REMOVE pairs vs the exhaustive baseline, never
    // invent or rescore one
    val exhaustive = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding")
      .filter(col("sim") >= 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(found.toSet.subsetOf(exhaustive),
      s"semantic pairs not a subset of exhaustive: ${found.toSet -- exhaustive}")
  }

  test("semantic dedup hot-cell bound: an identical-vector pile chains linearly and stays connected") {
    val s = spark
    import s.implicits._
    // 60 identical vectors all land in one cell; with maxCell=8 the cell
    // must degrade to chain pairs (m-1, all sim 1.0), not m(m-1)/2
    val emb = ((0L until 60L).map(i => (i, Array(1.0f, 0.5f, 0.25f))) :+
      (99L, Array(-1.0f, 0.4f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDedupPairs(emb, "vec_id", "embedding",
      minSim = 0.9, nlist = 4, maxCell = 8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pile = pairs.filter { case (a, b) => a < 99L && b < 99L }
    assert(pile == (0L until 59L).map(i => (i, i + 1)).toSet,
      s"expected the 59-edge chain over the pile, got ${pile.size} pairs")
    // the pile still collapses to ONE duplicate cluster through the chain
    val clusters = Dedup.duplicateClusters(
      Dedup.semanticDedupPairs(emb, "vec_id", "embedding",
        minSim = 0.9, nlist = 4, maxCell = 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L until 60L).forall(clusters(_) == 0L))
  }

  test("incremental minhash: candidate bound enforced under a planted template flood") {
    // The 100 TB hot-bucket hazard: a boilerplate/template increment doc
    // legitimately near-dups an ENTIRE corpus duplicate class, making the
    // raw band-candidate set corpus-sized. Plant exactly that — a corpus
    // of 200 identical boilerplate docs, an increment with one template
    // copy (hits all 200) and one novel doc — and prove the enforcement:
    //  (a) the per-new_id cap bounds candidates (raw = 200, kept = cap),
    //      keeping the smallest old_ids deterministically;
    //  (b) the gate STILL flags the template doc (a doc with 200 matches
    //      needs only one surviving match to be gated) and stays silent
    //      on the novel doc;
    //  (c) past broadcastPairLimit the verify join degrades to a
    //      non-broadcast (shuffle) join instead of force-broadcasting an
    //      unbounded set — same rows either way.
    val s = spark
    import s.implicits._
    val boiler = "standard cookie consent banner text repeated across every single page of the site verbatim"
    val corpus = (0L until 200L).map(i => (i, boiler)).toDF("doc_id", "text")
    val incoming = Seq(
      (1000L, boiler),
      (1001L, "genuinely novel article body sharing no shingles with that boilerplate wall"),
    ).toDF("doc_id", "text")
    val bands = Dedup.minhashBandTable(corpus, "doc_id").withColumnRenamed("doc_id", "old_id")
    val texts = corpus.select(col("doc_id").as("old_id"), col("text").as("ta"))
    val cap = 8

    // (a) cap bounds the flood; survivors are the smallest old_ids
    val raw = Dedup.incrementalCandidates(bands, incoming, "doc_id",
      maxCandidatesPerNewId = Int.MaxValue)
    assert(raw.filter(col("new_id") === 1000L).count() == 200L,
      "fixture must actually flood: template doc should band-collide with the whole corpus")
    val capped = Dedup.incrementalCandidates(bands, incoming, "doc_id",
      maxCandidatesPerNewId = cap)
    val perNew = capped.groupBy("new_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perNew(1000L) == cap.toLong, s"cap must bind on the template doc: $perNew")
    assert(capped.filter(col("new_id") === 1000L).select("old_id").collect()
      .map(_.getLong(0)).sorted.toSeq == (0L until cap.toLong),
      "capped survivors must be the deterministic smallest old_ids")

    // (b) gate semantics survive the cap
    val gated = Dedup.incrementalMinhashMatchesPrebanded(bands, texts, incoming,
      "doc_id", jaccardThreshold = 0.8, maxCandidatesPerNewId = cap)
    val rows = gated.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._2).toSet == Set(1000L), s"only the template doc is gated: ${rows.toSeq}")
    assert(rows.length == cap && rows.forall(_._3 == 1.0),
      s"every kept candidate of the template verifies exactly: ${rows.toSeq}")

    // (c) the size guard: no forced broadcast past the limit — and no
    // auto-broadcast rescue either (threshold off), so the fallback shape
    // is the honest one a contract-violating flood would get at scale
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fb = Dedup.incrementalMinhashMatchesPrebanded(bands, texts, incoming,
        "doc_id", jaccardThreshold = 0.8, maxCandidatesPerNewId = cap,
        broadcastPairLimit = 0L)
      val plan = fb.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"guard must drop the broadcast hint past the pair limit:\n$plan")
      val fbRows = fb.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(fbRows.toSet == rows.toSet, "fallback join must return identical rows")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("persisted-artifact gate: equals the in-memory path, grows the corpus, zero corpus-side exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val docs = graft.Tables(spark, graft.TestSpark.Sf0001).documents
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    val tag = "spec" + Integer.toHexString(graft.TestSpark.Sf0001.hashCode)

    // the deployment path must reproduce the in-memory prebanded path
    // bit-for-bit (it certifies against the same q113 golden)
    val viaArtifacts = Dedup.incrementalGateOverPersistedArtifacts(spark, corpus,
      incoming, "doc_id", tag, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Dedup.incrementalMinhashMatches(corpus, incoming, "doc_id",
      jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaArtifacts == direct && viaArtifacts.nonEmpty)

    // corpus-grows: the append left the artifacts holding corpus+increment,
    // banded once each — the next increment gates against them as-is
    val (bandsTbl, textsTbl) = Dedup.incrementalArtifactNames(tag)
    assert(spark.table(textsTbl).count() == docs.count())
    assert(spark.table(bandsTbl).select("old_id").distinct().count() == docs.count())

    // the 100 TB shape the bucketed layout buys: even with NO broadcast
    // anywhere (auto-broadcast off — the TB-scale-increment fallback), the
    // band join reads the corpus side's (band, bh) buckets directly and
    // plans with ZERO corpus-side exchange; only the increment's bands move
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
                    "spark.sql.adaptive.enabled" -> "false")
      .map { case (key, v) =>
        val old = spark.conf.get(key); spark.conf.set(key, v); key -> old
      }
    try {
      val cands = Dedup.incrementalCandidates(spark.table(bandsTbl), incoming, "doc_id")
      val plan = cands.queryExecution.executedPlan
      val smj = plan.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected a sort-merge band join with broadcast off:\n$plan")
      val corpusSide = smj.last.left // existingBands is the left side
      assert(corpusSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"corpus band table must join from its buckets, never shuffle:\n$plan")
      val scans = corpusSide.collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.forall(_.bucketedScan),
        s"corpus side must be a bucketed scan:\n$plan")
    } finally saved.foreach { case (key, old) => spark.conf.set(key, old) }
  }

  test("incremental minhash equals the full pairing restricted to cross-slice pairs") {
    // The invariant that certifies the operator against the already-golden
    // full path: banded candidates + verify are the same construction, so
    // incremental(corpus, increment) must equal minhashPairs(all) filtered
    // to pairs with exactly one side in the increment (keys oriented
    // old->new instead of a<b).
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
    val isNew = (id: Long) => id % 5 == 0
    val full = Dedup.minhashPairs(docs, "doc_id", jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => isNew(a) != isNew(b) }
      .map { case (a, b, j) => if (isNew(a)) (b, a, j) else (a, b, j) }.toSet
    val inc = Dedup.incrementalMinhashMatches(
      docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
      "doc_id", jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == full, s"incremental=${inc.toSeq.sorted} full-restricted=${full.toSeq.sorted}")
    assert(inc.nonEmpty, "fixture must exercise at least one cross-slice match")
  }

  /** The candidate formulation `boundedCandidates` replaced, kept as its
    * reference: a per-bucket rank window, an in-cap self-join on the
    * bucket (`a < b`) and an over-cap self-join on `(bucket, rank)`
    * against `rank − 1`, joined by a union.
    */
  private def referenceCandidates(bucketed: org.apache.spark.sql.DataFrame, keyCol: String,
                                  bucketCols: Seq[String], payload: Seq[String],
                                  maxBucket: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(bucketCols.map(col): _*)
    val ranked = bucketed
      .withColumn("_rn", row_number().over(w.orderBy(col(keyCol))))
      .withColumn("_bsz", count(lit(1)).over(w))
    def side(df: org.apache.spark.sql.DataFrame, tag: String, rn: Option[org.apache.spark.sql.Column]) =
      df.select(col(keyCol).as(tag) +:
        payload.map(c => col(c).as(s"${c}_$tag")) ++:
        bucketCols.map(col) ++:
        rn.map(_.as("_rn")).toSeq: _*)
    val small = ranked.filter(col("_bsz") <= maxBucket)
    val big = ranked.filter(col("_bsz") > maxBucket)
    val out = Seq(col("a"), col("b")) ++ payload.flatMap(c =>
      Seq(col(s"${c}_a"), col(s"${c}_b")))
    side(small, "a", None).join(side(small, "b", None), bucketCols)
      .filter(col("a") < col("b"))
      .select(out: _*)
      .unionByName(
        side(big, "a", Some(col("_rn")))
          .join(side(big, "b", Some(col("_rn") - 1)), bucketCols :+ "_rn")
          .select(out: _*))
  }

  test("bounded candidates: the sorted pass equals the rank-window/self-join formulation") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    for (cap <- Seq(1, 2, 8, 100)) {
      val sizes = Seq(1, 2, cap - 1, cap, cap + 1, 2 * cap + 3, 40).filter(_ > 0).distinct
      // keys unique per bucket and interleaved across buckets; the first
      // row of the size-2 bucket and of the size-(cap+1) bucket (always
      // over the cap) has a null key: nulls sort first, so a chain pairs
      // it with the bucket's smallest key, and an in-cap bucket drops it
      val keys = rnd.shuffle((0L until sizes.sum.toLong).toList)
      val bounds = sizes.scanLeft(0)(_ + _)
      val nullKeyIn = Set(sizes.indexOf(2), sizes.indexOf(cap + 1))
      val rows = sizes.indices.flatMap { bi =>
        keys.slice(bounds(bi), bounds(bi + 1)).zipWithIndex.map { case (k, i) =>
          (if (i == 0 && nullKeyIn(bi)) None else Some(k), Option(bi), Option(bi * 31L))
        }
      } ++ Seq(
        (Some(900L), None, Some(0L)), // a null bucket value pairs with nothing
        (Some(901L), Some(0), None),
        (Some(902L), None, None))
      val bucketed = rows.toDF("k", "b1", "b2")
        .withColumn("vec", array(col("k").cast("float"), (col("k") * 0.5).cast("float")))
        .withColumn("n", col("k") * 7)
        .repartition(3)
      for (payload <- Seq(Nil, Seq("vec", "n"))) {
        def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
          .map(_.toSeq.map { case v: scala.collection.Seq[_] => v.toList; case v => v })
          .groupBy(identity).view.mapValues(_.size).toMap
        val got = Dedup.boundedCandidates(bucketed, "k", Seq("b1", "b2"), payload, cap)
        val want = referenceCandidates(bucketed, "k", Seq("b1", "b2"), payload, cap)
        assert(got.columns.toSeq == want.columns.toSeq)
        val (g, w) = (rowsOf(got), rowsOf(want))
        assert(w.values.sum > 0)
        assert(g.equals(w), s"cap $cap, payload $payload: only in pass ${g.toSet -- w.toSet}; " +
          s"only in reference ${w.toSet -- g.toSet}")
      }
    }
  }
}
