package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Pins the SCALE-critical physical shapes of reshaped queries: these are
  * the properties that keep a plan viable at 100 TB (shuffle count, what
  * gets broadcast, scan-level pushdown) — a regression here can stay
  * value-correct while silently reverting to a shape that only works at
  * fixture scale.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val dir = graft.TestSpark.Sf0001

  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    // subqueriesAll: subqueries attached to ANY node in the tree, not just
    // the root — a shuffle inside a mid-tree scalar subquery must count
    p.collect(pf) ++ p.subqueriesAll.flatMap(_.collect(pf))

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeLike] =
    collectAll(initialPlan(df)) { case s: ShuffleExchangeLike => s }

  private def plan(name: String): DataFrame = SparkEntry.freshQueries(name)(spark, dir)

  test("q12 latest-per-key: one data shuffle carrying one row per key (plus the output sort)") {
    val df = plan("q12_asof_latest")
    // aggregate exchange + final ORDER BY range exchange and nothing else —
    // in particular NO full-history window shuffle
    assert(shuffles(df).size == 2, initialPlan(df).toString)
    // the PARTIAL LatestBy aggregate must sit below the exchange (map-side
    // collapse): its mode label is specific to this aggregate, so the pin
    // cannot be satisfied by an unrelated "partial" elsewhere in the plan
    val p = initialPlan(df).toString
    assert(p.contains("partial_graft_latest_by"), p)
  }

  test("q53 tf-idf: row-local tf, AQE-decided df join, no token window sort") {
    val df = plan("q53_text_tfidf")
    // round 14: tf is computed row-locally (graft_token_counts), df is an
    // aggregate joined back hint-free — the old shape's token WINDOW
    // (full exchange of every (doc, token) pair plus a per-partition
    // sort) is gone. At a vocab-sized df table the join is BROADCAST
    // (statically at this SF's stats, by AQE at runtime otherwise), so
    // the only data shuffles left are the df aggregate's map-side-combined
    // exchange, the doc-major argmax exchange, and — when stats don't
    // justify the broadcast — the join's probe-side exchange.
    // (Single-partition collapses — the corpus-count subplan and the
    // final presentation sort — move O(partitions) or result-sized rows,
    // not data, and are excluded.)
    val dataShuffles = shuffles(df).filterNot(
      _.outputPartitioning.numPartitions == 1)
    assert(dataShuffles.size <= 3, initialPlan(df).toString)
    assert(!initialPlan(df).toString.contains("Window"), initialPlan(df).toString)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin"), executed)
  }

  test("presentation sort: single-partition merge by default, identical rows to the range sort") {
    val df = plan("q06_join_broadcast")
    // default shape: the final ORDER BY is a single-partition merge — no
    // range exchange, hence no partition-bounds sampling pass
    assert(shuffles(df).exists(_.outputPartitioning.numPartitions == 1),
      initialPlan(df).toString)
    assert(!initialPlan(df).toString.contains("rangepartitioning"),
      initialPlan(df).toString)
    val rows = df.collect().toSeq
    // spark.graft.presentationSort=false restores the distributed range
    // sort (for big sorted outputs); rows and row ORDER are identical
    spark.conf.set("spark.graft.presentationSort", "false")
    try {
      val range = plan("q06_join_broadcast")
      assert(initialPlan(range).toString.contains("rangepartitioning"),
        initialPlan(range).toString)
      assert(range.collect().toSeq == rows)
    } finally spark.conf.unset("spark.graft.presentationSort")
  }

  test("fact-sized fan-in derives the distributed range sort BY RULE (r15)") {
    // The q10 rule is now a derived threshold in Present.presented, not
    // per-query hand pins (r14 verdict Missing #4): range sort iff the
    // plan's un-reduced fan-in rows (parquet-footer leaf counts, filters
    // deliberately not reducing) exceed Present.RangeSortRows — measured
    // calibration in 7ec77e8:SORT_THRESHOLD.json (SortModeProbe r15 at sf1:
    // q10 merged 13.1 s vs ranged 2.3 s is the wrong-way catastrophe the
    // rule exists to prevent; a needless range sort costs one flat
    // sampling job). At THIS test SF every fixture is far below the
    // threshold, so the same queries plan the single-partition merge —
    // pin the rule by moving the threshold, not the query:
    val rangey = Seq("q03_project", "q04_filter", "q05_join_inner",
      "q07_join_outer", "q10_join_range", "q18_window_lag",
      "q19_window_frame", "q37_asof_join")
    for (name <- rangey) {
      val df = plan(name)
      assert(!initialPlan(df).toString.contains("rangepartitioning"),
        s"$name should merge at fixture scale (fan-in below threshold):\n" +
          initialPlan(df).toString)
    }
    // lower the threshold below the fixtures' footer counts: the SAME
    // queries now derive the range shape — and produce identical rows in
    // identical order
    val sample = plan("q05_join_inner").collect().toSeq
    spark.conf.set("spark.graft.rangeSortRows", "10")
    try {
      for (name <- rangey) {
        val df = plan(name)
        assert(initialPlan(df).toString.contains("rangepartitioning"),
          s"$name did not inherit the range shape from the rule:\n" +
            initialPlan(df).toString)
      }
      assert(plan("q05_join_inner").collect().toSeq == sample)
      // ...while a reduced (aggregate) output stays merged even at a tiny
      // threshold: the rule reads fan-in AFTER row-reducing operators
      val agg = plan("q06_join_broadcast")
      assert(!initialPlan(agg).toString.contains("rangepartitioning"),
        initialPlan(agg).toString)
      // and a declared result-sized output (q87's churn-proportional diff)
      // keeps the merge regardless of its table-sized fan-in
      val diff = plan("q87_snapshot_diff")
      assert(!initialPlan(diff).toString.contains("rangepartitioning"),
        initialPlan(diff).toString)
    } finally spark.conf.unset("spark.graft.rangeSortRows")
  }

  test("Generate forces the range shape; Generate above a reduction keeps the merge (r16)") {
    // fanInRows treats an un-reduced Generate as unknown/large (output =
    // child rows x array length, no footer can bound it), so an explode
    // over table-sized fan-in derives the range sort at ANY scale — even
    // at this fixture SF where the raw footer counts sit far below the
    // threshold. q33 (posexplode over a filtered leaf) and q94 (frame
    // generator) are the shipped queries on that path.
    for (name <- Seq("q33_posexplode", "q94_frame_sample")) {
      val df = plan(name)
      assert(initialPlan(df).toString.contains("rangepartitioning"),
        s"$name: un-reduced Generate must guess big and range-sort:\n" +
          initialPlan(df).toString)
    }
    // ...but a Generate whose child is already reduced (fan-in 0) is
    // bounded by what the reduction emitted and keeps the merge
    import org.apache.spark.sql.functions._
    import graft.Present._
    val reduced = plan("q13_agg_hash") // small aggregate output
      .select(explode(array(col("l_returnflag"), col("l_linestatus"))).as("t"))
      .presented("t")
    assert(!initialPlan(reduced).toString.contains("rangepartitioning"),
      initialPlan(reduced).toString)
  }

  test("q11 star join: fact side is never broadcast") {
    val df = plan("q11_star_join")
    val broadcasts = collectAll(initialPlan(df)) { case b: BroadcastExchangeLike => b }
    assert(broadcasts.nonEmpty, initialPlan(df).toString)
    // lineitem (the fact) must not appear under a broadcast exchange — the
    // scan's rendered path names the table whichever scan node (V1 file
    // scan or DSv2 BatchScan) the session's source list resolves to
    broadcasts.foreach { b =>
      assert(!b.toString.contains("lineitem"), s"fact table broadcast: $b")
    }
  }

  test("q01 count(*) is answered from parquet footer metadata (aggregate pushdown)") {
    val df = plan("q01_scan_count")
    val p = initialPlan(df).toString
    // the DSv2 parquet scan must carry the pushed COUNT(*) — a conf-key
    // regression (this feature is spelled aggregatePushdown, not
    // aggregatePushDown) silently reverts to a full data pass
    assert(p.contains("PushedAggregation: [COUNT(*)]"), p)
  }

  test("q04 filter reaches the parquet scan as pushed filters") {
    val df = plan("q04_filter")
    // the sessionConfigs default is the DSv2 parquet path (BatchScan over
    // ParquetScan); the V1 FileSourceScan arm keeps the pin meaningful if a
    // session overrides useV1SourceList
    val v2Pushed = collectAll(initialPlan(df)) {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.scan
    }.collect {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
        p.pushedFilters.nonEmpty
    }
    val v1Pushed = collectAll(initialPlan(df)) { case s: FileSourceScanExec => s }
      .map(_.metadata.get("PushedFilters").exists(_ != "[]"))
    val all = v2Pushed ++ v1Pushed
    assert(all.nonEmpty && all.exists(identity), initialPlan(df).toString)
  }

  test("q93 partition-column filter prunes at plan time (PartitionFilters)") {
    val df = plan("q93_partition_prune")
    val v2Pruned = collectAll(initialPlan(df)) {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.scan
    }.collect {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
        p.partitionFilters.nonEmpty
    }
    val v1Pruned = collectAll(initialPlan(df)) { case s: FileSourceScanExec => s }
      .map(_.metadata.get("PartitionFilters").exists(_ != "[]"))
    val all = v2Pruned ++ v1Pruned
    assert(all.nonEmpty && all.exists(identity), initialPlan(df).toString)
  }

  test("runtime bloom-filter join pruning injects once the dim side outgrows broadcast") {
    // The 100 TB shuffle-join path: when the selective dim side is too big
    // to broadcast, Spark builds a bloom filter from it and prunes the fact
    // scan BEFORE the shuffle. Not reachable at fixture scale under default
    // thresholds (the dim broadcasts instead — and the rule correctly skips
    // broadcastable sides), so the conditions are simulated: no
    // auto-broadcast + a permissive creation-side MAX. This pins that the
    // engine's session keeps the rule enabled and the plan form it emits.
    import org.apache.spark.sql.functions.{col, count, lit}
    val s = spark
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = graft.Tables(s, dir)
      val dim = t.part.filter(col("p_retailprice") > 1900).select("p_partkey")
      val q = t.lineitem.join(dim, col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n"))
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"), p)
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  test("q100 rank-limit pushes down as WindowGroupLimit (bounded per-group state)") {
    val df = plan("q100_window_topk")
    // Spark 4 rewrites rank-filter windows into WindowGroupLimit: a k-row
    // heap per group on BOTH sides of the shuffle instead of buffering each
    // group's full history through the sort — losing this rewrite is the
    // difference between top-k and out-of-memory on a hot entity
    val p = initialPlan(df).toString
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q110 tokenizes the corpus once: bigram-count stages reuse at runtime, top-k is TakeOrdered") {
    val df = plan("q110_pmi_collocations")
    // the global top-k must be a TakeOrdered, never a full sort
    assert(initialPlan(df).toString.contains("TakeOrderedAndProject"), initialPlan(df).toString)
    // Under AQE, exchange dedup happens when stages MATERIALIZE, so the
    // evidence is in the post-execution adaptive plan. The marginal/N
    // branches must reuse the one corpus-tokenizing c12 exchange: with the
    // explicit isnotnull in wordBigrams the instances canonicalize
    // identically and 4 reuse; without it, join-inferred ONE-SIDED null
    // filters make them distinct and only 1 reuses (measured) — the corpus
    // would be tokenized once per consumer.
    df.collect()
    val reused = "ReusedExchange".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
    assert(reused >= 3, s"expected >=3 reused c12 exchanges, got $reused:\n" +
      df.queryExecution.executedPlan)
  }

  test("q111 broadcasts df + corpus stats and keeps one doc-keyed exchange + TakeOrdered") {
    val df = plan("q111_bm25")
    val p = initialPlan(df)
    // the |terms|-row df table and the 1-row stats both broadcast — the
    // corpus side never reshuffles for them
    val bcasts = collectAll(p) { case b: BroadcastExchangeLike => b }
    assert(bcasts.size >= 2, p.toString)
    assert(p.toString.contains("TakeOrderedAndProject"), p.toString)
  }

  test("q108 per-prefix cut is a WindowGroupLimit over a partial-agg count") {
    val df = plan("q108_ngram_lm")
    // the LM-statistics shape: bigram counts partial-aggregate before their
    // exchange (map-side combine on (w1,w2)), and the per-prefix top-k must
    // keep the WindowGroupLimit rewrite — a hot prefix ("the") has a huge
    // continuation set that must never buffer past k rows per task
    val p = initialPlan(df).toString
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
  }

  test("q134 fused pair stage: two data shuffles, map-side posting partial, codegen pair count") {
    val df = plan("q134_multimodal_frame_dedup")
    // r17 shape (6b33a9f:Q134_FUSE_AB.json): fp explode → ONE fused posting
    // aggregate (graft_posting_pairs) around the fp exchange → packed-long
    // explode → plain HashAggregate count around the pair exchange. Two
    // data shuffles total; the presentation sort's single-partition merge
    // is excluded. A regression to the HOF shape re-adds the size filter +
    // struct transforms; a regression of the pair count to a struct key
    // would demote it from whole-stage-codegen HashAggregate back to the
    // object hash path.
    val dataShuffles = shuffles(df).filterNot(
      _.outputPartitioning.numPartitions == 1)
    assert(dataShuffles.size == 2, initialPlan(df).toString)
    val p = initialPlan(df).toString
    // the fused aggregate partial-aggregates BELOW its exchange (map-side
    // k-capped combine — the O(k)-per-bucket shuffle-payload bound)
    assert(p.contains("partial_graft_posting_pairs"), p)
    // the pair count is a plain codegen HashAggregate on the packed long:
    // the only ObjectHashAggregates in the plan are the posting stage's
    // partial+final pair
    val objAggs = p.split("\n").count(_.contains("ObjectHashAggregate"))
    assert(objAggs == 2, s"expected exactly the posting partial+final " +
      s"ObjectHashAggregate pair, found $objAggs\n$p")
  }
}
