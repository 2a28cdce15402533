package graft.operators

import org.apache.spark.sql.DataFrame

/** Input-shape helpers shared by the operator family. */
private[graft] object Inputs {

  /** Ensures CPU-bound per-row passes (signature hashing, tokenization) see
    * at least the cluster's parallelism: a corpus that arrives in fewer
    * splits than cores (one small file; a filtered partition) would
    * otherwise run on one thread. At scale the input already has thousands
    * of splits and this is a no-op; when it does fire, it shuffles only the
    * raw inputs once.
    *
    * Caveat: the split count comes from `df.rdd`, which EXECUTES any
    * shuffle stages already in the plan (AQE materializes stages when the
    * RDD is built). Callers pass scan/filter/project inputs — exchange-free
    * by construction — and the contract is now self-checking: any Exchange
    * (shuffle or broadcast) in the input's physical plan fails fast here,
    * instead of silently running the upstream stages twice.
    */
  def spread(df: DataFrame): DataFrame = {
    // Planning only (no job): under AQE the executedPlan is the adaptive
    // wrapper whose rendering includes the initial plan's exchanges, so a
    // text probe sees every Exchange variant (Shuffle/Broadcast/Reused)
    // without reaching into private plan fields.
    val plan = df.queryExecution.executedPlan.toString
    if (plan.contains("Exchange")) throw new IllegalArgumentException(
      "Inputs.spread: input plan contains an Exchange; probing df.rdd would " +
        "execute those stages eagerly (and the repartition would redo their " +
        "work). Pass the scan/filter/project input instead. Offending plan:\n" + plan)
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
