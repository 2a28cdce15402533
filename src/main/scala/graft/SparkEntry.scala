package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AsOfJoin, Cleaning, Curation, Dedup, Multimodal, Similarity, Sketches, TextAnalysis}
import graft.queries.Relational
import graft.streaming.EventStreams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's certified operator surface: the relational
  * inventory (SURVEY §2.B), the LLM-pipeline operators (§2.C), and the
  * streaming replays (B31–B34). Each entry with an `oracleSql` twin is
  * hash-checked against DuckDB on identical parquet inputs; entries without
  * one (engine-hash-dependent LSH variants, approx aggregates, the stub
  * decoder) get rows-only checks plus ScalaTest invariants.
  */
object SparkEntry {

  /** Session settings every entry point needs:
    *  - nanosAsLong: the events fixture stores nanosecond timestamps, which
    *    Spark otherwise refuses to read (event time is then canonicalized by
    *    [[Tables.eventsUs]]).
    *  - AQE on: runtime shuffle coalescing + skew handling — the 100 TB
    *    posture, exercised at test scale too.
    */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // AQE on (runtime coalescing + skew splitting is the at-scale posture).
    "spark.sql.adaptive.enabled" -> "true",
    // (Measured: forcing size-based AQE coalescing — parallelismFirst=false
    // — serializes genuinely parallel work at bench scale for no net win;
    // the default, which only merges empty/sub-minPartitionSize reads,
    // stays.)
    "spark.sql.session.timeZone" -> "UTC",
    // The JVM-wide codegen class cache defaults to 100 entries; a workload
    // that cycles through the full operator surface (Verify: 69
    // queries x several codegen units each) evicts constantly and pays a
    // Janino recompile (~50-100ms) per unit per query. The cache is keyed
    // by the source AND the thread's context class loader, so identical
    // source compiles once per JVM only while every query runs under the
    // same loader: the artifact-isolation setting below keeps it so.
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // No per-session artifact class loader. With isolation on (the
    // default), the executors run every session's tasks under that
    // session's own loader, and Structured Streaming clones the session for
    // each query, so every stream replay recompiled its generated classes
    // (CompileOnceSpec: 12 classes on a repeated q60 replay). The engine
    // adds no session artifacts (no addArtifact, addJar or ADD JAR), so
    // nothing depends on the isolation. Measured on analyst_mix (4 vCPUs,
    // seed 7, medians of 10 runs): q60/q62/q70 replays 0.72/0.82/1.08 s →
    // 0.52/0.57/0.91 s, and a 30 s JFR window held no Janino sample.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // DSv2 parquet reads + footer-metadata aggregate pushdown: a filterless
    // count/min/max scan is answered from rowgroup statistics instead of a
    // data pass (the at-scale posture: corpus-wide counts over 100 TB touch
    // no pages). Measured (tools.AggPushProbe, min-of-5): q01 count 2.1x
    // faster, and the V2 scan path is neutral-to-faster on every probed
    // shape (project/filter/join/agg/sort/dedup, 0.69-0.98x). Catalog
    // tables with bucket specs stay on the V1 path, so the bucketed
    // co-located-join layouts are unaffected.
    "spark.sql.sources.useV1SourceList" -> "",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // ObjectHashAggregate (the planning for TypedImperativeAggregates like
    // TopKByScore's bounded heap and ArgMaxText) falls back to SORT-based
    // aggregation once a partition sees >128 distinct groups — the default
    // turns an ANN search's per-query top-k (thousands of probe groups)
    // into a sort of the candidate stream. 131072, not the r12 4194304
    // (ADVICE r12): the threshold is read at EXECUTION from the session
    // conf, so it cannot be scoped per query, and it also governs
    // UNBOUNDED-buffer aggregates (per-user collect_list in Funnels,
    // percentile) — 4M arbitrary-size buffers per partition before
    // fallback is an OOM, not a plan choice. At 128k the arithmetic holds
    // for both classes: k-bounded heap/argmax cells (~200-400 B) cost
    // ≤ ~50 MB per partition on the hash path, which covers every typed
    // aggregate's per-partition group count at the bench scales (largest
    // observed: ~51k doc groups in q53's partial agg at sf1), while an
    // unbounded-buffer aggregate that genuinely accumulates >128k groups
    // per partition falls back to the memory-safe sort — the correct
    // at-scale posture.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
    // Local file permissions set in-process (InProcessLocalFileSystem). With
    // no Hadoop native library, the stock local filesystem forks a `chmod`
    // for every file and directory it creates. JFR profiles of 30 s timed
    // windows (4 vCPUs) counted 545 `chmod` and 1,712 `readlink` spawns on
    // analyst_mix and 1,461 `chmod` on ingest_sync, each spawn with its own
    // stderr-reader thread. The `readlink`s come from FileContext
    // checkpoints, which replays avoid (EventStreams.ReplayPosture).
    "spark.hadoop.fs.file.impl" -> classOf[InProcessLocalFileSystem].getName,
  )

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    sessionConfigs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    // Three settings take effect only when the session is built (through
    // `configure`). On a caller-provided live session the codegen cache size
    // is a static conf, so setting it throws and is skipped here;
    // `spark.hadoop.fs.file.impl` is accepted but never reaches Hadoop,
    // which copied the `spark.hadoop.*` keys when the SparkContext started;
    // and the artifact-isolation flag is accepted but never reaches the
    // replay clones, which `newSession()` builds from the SparkContext's
    // conf, not from this session's runtime conf, so every replay still
    // recompiles its classes.
    sessionConfigs.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => }
    }
    Relational.queries("q11_star_join")(spark, "/root/testdata/sf0.001")
  }

  /** Plan builders — safe to memoize per (session, query, dir). "Builder"
    * here means no QUERY work runs until the caller executes the DataFrame;
    * a few entries (q02 ndjson, q71 connector replay) first stage their
    * replay INPUTS on disk — idempotent, signature-guarded writes that
    * belong to fixture setup, not to the measured query.
    */
  private def planBuilderFamilies: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++
      AsOfJoin.queries ++
      Dedup.queries ++
      Similarity.queries ++
      TextAnalysis.queries ++
      Curation.queries ++
      Cleaning.queries ++
      Multimodal.queries ++
      graft.operators.MergeUpsert.queries ++
      graft.operators.Resample.queries ++
      graft.operators.Profile.queries ++
      graft.operators.Funnels.queries ++
      graft.operators.SkewJoin.queries ++
      graft.sources.ScaleLayouts.queries ++
      graft.sources.odata.ConnectorReplay.queries ++
      graft.operators.Pipeline.queries

  /** Entries whose builder EXECUTES work (sketch build + probe, streaming
    * replays) — never cached.
    */
  private def executingFamilies: Map[String, (SparkSession, String) => DataFrame] =
    Sketches.queries ++ EventStreams.queries ++ graft.streaming.DocPipeline.queries

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    cached(planBuilderFamilies) ++ executingFamilies

  /** The same surface with NO plan cache: every call builds a fresh plan.
    * Timed callers (`perfbench`, `StreamBudget`) measure through this so
    * each timed run pays the full plan-build + optimize + execute
    * pipeline — re-executing a cached AQE plan would silently REUSE its
    * materialized shuffle stages and report final-stage-only latency.
    */
  def freshQueries: Map[String, (SparkSession, String) => DataFrame] =
    planBuilderFamilies ++ executingFamilies

  /** Prepared-statement plan cache: the batch entries are pure plan
    * builders (no action runs until the caller executes the DataFrame), so
    * the analyzed logical plan can be built once per (session, query, input
    * dir) and re-executed many times — every execution still runs the full
    * scan/shuffle pipeline, only Catalyst's analyze/resolve pass is reused.
    *
    * ONE DECLARED EXCEPTION (r15 ADVICE): q91's builder runs the bounded
    * top-V vocabulary collect at plan-build time (the IVF-centroid
    * driver-pin contract — the 1000-term vocabulary becomes a codegen
    * literal in `graft_oov_stats`). On this cached surface that aggregate
    * runs once and the vocabulary is frozen into the cached plan — correct
    * because fixture dirs are immutable and part of the cache key, but a
    * future mutable-input caller must route q91 through [[freshQueries]].
    * Streaming replays stay uncached: their builder *runs* the stream, so
    * caching would return materialized results instead of re-executing.
    */
  private def cached(qs: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, (SparkSession, String) => DataFrame] =
    qs.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) =>
        // rangeSortRows is read at PLAN-BUILD time (Present.presented), so
        // it belongs in the cache key: changing it mid-session must rebuild
        // the sort shape, not serve the previously built plan.
        planCache.computeIfAbsent((System.identityHashCode(s), name, dir,
            s.conf.getOption("spark.graft.rangeSortRows").getOrElse("")),
          _ => fn(s, dir)))
    }

  private val planCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, String, String), DataFrame]()

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++
      AsOfJoin.oracles ++
      Dedup.oracles ++
      Similarity.oracles ++
      TextAnalysis.oracles ++
      Curation.oracles ++
      Cleaning.oracles ++
      graft.operators.MergeUpsert.oracles ++
      graft.operators.Resample.oracles ++
      graft.operators.Profile.oracles ++
      graft.operators.Funnels.oracles ++
      graft.operators.SkewJoin.oracles ++
      graft.sources.ScaleLayouts.oracles ++
      Sketches.oracles ++
      Multimodal.oracles ++
      EventStreams.oracles ++
      graft.streaming.DocPipeline.oracles ++
      graft.sources.odata.ConnectorReplay.oracles ++
      graft.operators.Pipeline.oracles
}
