package graft.operators

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

import graft.Present._
import graft.Tables

/** Sketch aggregates: sublinear-state summaries for heavy-hitter style
  * questions over unbounded key domains (SURVEY §2.C's sketch tier next to
  * HLL `approx_count_distinct`, q15).
  *
  * The count-min sketch aggregates distributively — per-partition sketches
  * merge associatively on the reduce side, so the shuffle carries one
  * `depth × width` counter grid per partition no matter how many rows or
  * distinct keys flow in. Probing the merged sketch is a driver-side read
  * of a BOUNDED candidate list (the same shape as catalog metadata reads) —
  * the sketch itself never exceeds `depth × width × 8` bytes.
  */
object Sketches {
  type Q = (SparkSession, String) => DataFrame

  /** Point estimates from a count-min sketch over `keyCol` (long) for a
    * bounded probe list. Estimates are deterministic for a fixed `seed` and
    * always over-count: `true ≤ est ≤ true + eps · N` with confidence
    * `1 - (1 - confidence)`.
    */
  def cmsEstimates(df: DataFrame, keyCol: String, probes: Seq[Long],
                   eps: Double = 0.001, confidence: Double = 0.99,
                   seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bin = df.agg(
      count_min_sketch(col(keyCol), lit(eps), lit(confidence), lit(seed)).as("s"))
      .head().getAs[Array[Byte]]("s")
    val cms = CountMinSketch.readFrom(new ByteArrayInputStream(bin))
    probes.sorted.map(k => (k, cms.estimateCount(java.lang.Long.valueOf(k))))
      .toDF(keyCol, "est")
  }

  /** Mergeable quantile sketch: log-bucket histogram (the DDSketch shape —
    * Masson et al., VLDB'19) with relative-error guarantee `γ − 1`.
    *
    * Positive values bucket by `b = ⌈ln x / ln γ⌉`, so bucket `b` covers
    * `(γ^(b−1), γ^b]` and the reported boundary `γ^b` over-estimates the
    * true q-quantile by at most a factor γ (2% at the default). Unlike
    * GK/`percentile_approx` or t-digest — whose summaries depend on
    * partition MERGE ORDER and therefore can't be value-certified across
    * engines or even across partitionings — histogram counts are additive
    * and commutative: the sketch is one exact `groupBy(group, b).count`,
    * identical at any parallelism, so the whole construction is
    * DuckDB-oracled (the q111/q112 integer-certification discipline; the
    * ln/ceil float-boundary margin is asserted by `BoundaryMarginSpec`).
    *
    * Scale shape: sketch state is one counter per OCCUPIED bucket —
    * ~⌈ln(max/min)/ln γ⌉ entries (≈820 for 7 decades at γ=1.02) per group
    * regardless of row count — built map-side by the partial aggregate; the
    * quantile extraction is a window cumsum over that bounded table plus a
    * broadcast ride of the (tiny) quantile list. At 100 TB the counts
    * stream through one exchange of `groups × buckets` rows; nothing is
    * proportional to data volume after the scan.
    */
  def logHistQuantiles(df: DataFrame, valueCol: String, groupCol: String,
                       qs: Seq[Double], gamma: Double = 1.02): DataFrame =
    quantilesFromCounts(logBucketCounts(df, valueCol, groupCol, gamma),
      groupCol, qs, gamma)

  /** The sketch-BUILD phase alone: additive `(group, bucket) → count`. This
    * is the part that runs over the data — batch or STREAM (a streaming
    * groupBy-count in complete mode IS this sketch; its state is one row
    * per occupied bucket, the sketch's own bound — see q133).
    */
  def logBucketCounts(df: DataFrame, valueCol: String, groupCol: String,
                      gamma: Double = 1.02): DataFrame = {
    val b = ceil(log(col(valueCol).cast("double")) / lit(math.log(gamma))).cast("long")
    df.filter(col(valueCol) > 0)
      .groupBy(col(groupCol), b.as("b")).agg(count(lit(1)).as("c"))
  }

  /** Quantile EXTRACTION from a (possibly merged) bucket-count table: a
    * window cumsum over the bounded sketch plus a broadcast ride of the
    * quantile list — never touches the original data.
    */
  def quantilesFromCounts(counts: DataFrame, groupCol: String,
                          qs: Seq[Double], gamma: Double = 1.02): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(groupCol).orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(Window.partitionBy(groupCol)))
    val qdf = qs.toDF("q")
    cum.join(broadcast(qdf))
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col(groupCol), col("q"))
      .agg(min("b").as("bucket"))
      .withColumn("est", round(pow(lit(gamma), col("bucket")), 4))
  }

  // ------------------------------------------------------- declared queries

  /** Seed-deterministic counters, value-certified against a committed
    * INDEPENDENT plain-Python recompute of the count-min construction
    * (tools/gen_sketch_goldens.py: its own JDK-LCG row seeds + bucket hash
    * + min-over-rows, sharing only the seed with the engine): CMS cells
    * are additive, so estimates are partition-order-independent and the
    * value is a pure function of corpus + seed — cross-implementation
    * checkable. The over-count bound stays in `SketchesSpec`.
    */
  val queries: Map[String, Q] = Map(
    "q69_sketch_cms" -> ((s, dir) =>
      cmsEstimates(Tables(s, dir).lineitem, "l_suppkey", (1L to 20L).toSeq)
        .presented("l_suppkey")),
    "q128_sketch_quantiles" -> ((s, dir) =>
      logHistQuantiles(Tables(s, dir).lineitem, "l_extendedprice",
        "l_returnflag", Seq(0.25, 0.5, 0.75, 0.95))
        .presented("l_returnflag", "q")),
  )

  val oracles: Map[String, String] = Map(
    // corpus checksums select the scale factor's rows from the one golden
    "q69_sketch_cms" ->
      """SELECT l_suppkey, est FROM read_parquet('/root/repo/goldens/q69_sketch_cms.parquet')
         WHERE corpus_tag = (SELECT SUM(l_suppkey) FROM lineitem)
           AND corpus_n = (SELECT COUNT(*) FROM lineitem)
         ORDER BY l_suppkey""",
    // mirrors logHistQuantiles: additive log-bucket counts, window cumsum,
    // first bucket whose cumulative count reaches ⌈q·n⌉ (both engines
    // evaluate the identical double expressions; margins in BoundaryMarginSpec)
    "q128_sketch_quantiles" ->
      """WITH c AS (SELECT l_returnflag,
                           CAST(CEIL(ln(l_extendedprice) / ln(1.02)) AS BIGINT) AS b,
                           COUNT(*) AS c
                    FROM lineitem WHERE l_extendedprice > 0
                    GROUP BY 1, 2),
              m AS (SELECT l_returnflag, b,
                           SUM(c) OVER (PARTITION BY l_returnflag ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum,
                           SUM(c) OVER (PARTITION BY l_returnflag) AS n
                    FROM c),
              qs AS (SELECT CAST(q AS DOUBLE) AS q
                     FROM (VALUES (0.25), (0.5), (0.75), (0.95)) t(q))
         SELECT l_returnflag, q, MIN(b) AS bucket,
                ROUND(POWER(1.02, MIN(b)), 4) AS est
         FROM m CROSS JOIN qs
         WHERE CAST(cum AS DOUBLE) >= CEIL(q * CAST(n AS DOUBLE))
         GROUP BY l_returnflag, q
         ORDER BY l_returnflag, q""",
  )
}
