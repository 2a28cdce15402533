package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted join for skewed keys.
  *
  * AQE's skew-join split handles most skew at runtime; salting is the
  * explicit fallback when one key dominates so badly that even split
  * partitions hot-spot (or when AQE is unavailable, e.g. inside some
  * streaming joins). The big side scatters each row into one of `nSalts`
  * sub-keys derived from a hash of the whole row; the small side replicates
  * `nSalts`×. Result set is identical to the plain join — only the shuffle
  * distribution changes.
  */
object SkewJoin {

  /** Inner equi-join `big ⋈ small` on `bigKey === smallKey`, salted.
    *
    * @param nSalts fan-out per key (executor-count-sized at scale)
    */
  def saltedInnerJoin(big: DataFrame, small: DataFrame, bigKey: String,
                      smallKey: String, nSalts: Int): DataFrame = {
    // deterministic scatter: hash all of the big side's columns
    val salted = big.withColumn("_salt",
      pmod(xxhash64(big.columns.map(col).toIndexedSeq: _*), lit(nSalts)).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    salted.join(replicated,
        salted("_salt") === replicated("_salt") && col(bigKey) === col(smallKey))
      .drop("_salt")
  }

  /** Inner equi-join that salts ONLY when the big side's key distribution
    * is actually skewed — the production entry point. Unconditional salting
    * taxes every non-skewed join with an `nSalts`× replication of the small
    * side and a fatter shuffle; real pipelines measure first. The decision
    * reads a bounded key sample (one column, `sampleFraction` of rows, one
    * aggregated row back to the driver — the same bounded-probe shape as
    * the dim-table pins) and salts when the hottest key holds more than
    * `maxKeyShare` of the sampled mass. Below `minSample` sampled rows the
    * frame is too small for salting to matter either way, so it stays
    * plain and AQE's runtime skew split remains the first line of defense.
    */
  def adaptiveInnerJoin(big: DataFrame, small: DataFrame, bigKey: String,
                        smallKey: String, nSalts: Int,
                        maxKeyShare: Double = 0.05,
                        sampleFraction: Double = 1e-3,
                        minSample: Long = 1000L): DataFrame = {
    // One bounded probe job per call, run while the plan is built.
    val probe = big.select(col(bigKey))
      .sample(withReplacement = false, sampleFraction, seed = 42)
      .groupBy(bigKey).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
      .collect()(0) // bounded: exactly one row
    val (mx, tot) =
      (Option(probe.get(0)).fold(0L)(_.asInstanceOf[Long]),
       Option(probe.get(1)).fold(0L)(_.asInstanceOf[Long]))
    val share = if (tot >= minSample) mx.toDouble / tot else 0.0
    if (share > maxKeyShare) saltedInnerJoin(big, small, bigKey, smallKey, nSalts)
    else big.join(small, col(bigKey) === col(smallKey))
  }

  // ------------------------------------------------------- declared queries

  /** q88: the skew-resilient join, certified against the plain SQL join —
    * lineitem ⋈ part aggregated per brand. The operator's contract is
    * result identity with the plain join whichever path the skew probe
    * picks; on the uniform synthetic keys it picks the plain join (AQE
    * covers runtime skew), and `SkewJoinSpec` separately certifies the
    * forced-salt path's result identity on a pathologically skewed frame.
    */
  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    "q88_skew_join" -> ((s, dir) => {
      import graft.Present._
      val t = graft.Tables(s, dir)
      adaptiveInnerJoin(t.lineitem, t.part, "l_partkey", "p_partkey", nSalts = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("l_quantity")).as("sum_qty"))
        .presented("p_brand")
    }))

  val oracles: Map[String, String] = Map(
    "q88_skew_join" ->
      """SELECT p_brand, COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""")
}
