package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Stages the sf1-densified corpus: the sf0.1 fixtures ×10 under
  * `/tmp/graft_sf1`, with disjoint keys per copy that stay consistent
  * across tables (each copy joins only with itself). Documents use the
  * substitution-cipher copies of [[cipheredDocs]], so duplicate-class
  * structure stays constant; embeddings get disjoint vec_ids per copy.
  *
  * The goldens carry this corpus's tags (`gen_lsh_goldens.py
  * /tmp/graft_sf1`, `gen_sketch_goldens.py /tmp/graft_sf1`), so
  * `graft.Verify /tmp/graft_sf1 …` + `check_oracles.py` value-check the
  * sf1 point, and `STREAM_BUDGET.json`'s `graft_sf1` entry is checked with
  * `StreamBudget /tmp/graft_sf1`.
  *
  * Run: `sbt "Test/runMain graft.tools.StageSf1"`. A directory that holds
  * the `_STAGED_v2` marker is reused as is.
  */
object StageSf1 {
  private val Src = "/root/testdata/sf0.1"
  private val Dir = "/tmp/graft_sf1"
  private val Mult = 10

  def main(args: Array[String]): Unit = {
    // v2 staging signature: densified embeddings — a dir staged by the
    // older recipe must not be reused
    if (Files.exists(Paths.get(Dir, "_STAGED_v2"))) {
      println(s"$Dir already staged")
      return
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.configure(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.local.dir", graft.streaming.EventStreams.scratchBase)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def copies(df: DataFrame): DataFrame =
      df.select(col("*"), explode(sequence(lit(0L), lit(Mult - 1L))).as("_i"))

    Files.createDirectories(Paths.get(Dir))
    def write(name: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$Dir/$name.parquet")
    // dims unchanged: copies keep valid dim references
    Seq("region", "nation", "supplier", "part").foreach { t =>
      write(t)(spark.read.parquet(s"$Src/$t.parquet"))
    }
    // embeddings ARE a fact table for the ANN/semantic family: densify
    // with disjoint vec_ids (vectors repeat across copies — identical
    // vectors are legitimate near-dup/ANN structure, same as the
    // ciphered documents keep duplicate-class structure)
    val emb0 = spark.read.parquet(s"$Src/embeddings.parquet")
    val eOff = emb0.agg(max("vec_id")).head().getLong(0) + 1
    write("embeddings")(copies(emb0)
      .withColumn("vec_id", col("vec_id") + col("_i") * eOff).drop("_i"))
    val orders0 = spark.read.parquet(s"$Src/orders.parquet")
    val cust0 = spark.read.parquet(s"$Src/customer.parquet")
    val li0 = spark.read.parquet(s"$Src/lineitem.parquet")
    // disjoint key spaces per copy, consistent ACROSS tables so the join
    // graph is preserved (each copy joins only with itself)
    val kOff = orders0.agg(max("o_orderkey")).head().getLong(0) + 1
    val cOff = cust0.agg(max("c_custkey")).head().getLong(0) + 1
    write("customer")(copies(cust0)
      .withColumn("c_custkey", col("c_custkey") + col("_i") * cOff).drop("_i"))
    write("orders")(copies(orders0)
      .withColumn("o_orderkey", col("o_orderkey") + col("_i") * kOff)
      .withColumn("o_custkey", col("o_custkey") + col("_i") * cOff).drop("_i"))
    write("lineitem")(copies(li0)
      .withColumn("l_orderkey", col("l_orderkey") + col("_i") * kOff).drop("_i")
      .repartition(32))
    write("events")(copies(spark.read.parquet(s"$Src/events.parquet"))
      .withColumn("user_id", col("user_id") + col("_i") * 10000000L)
      .withColumn("event_id", col("event_id") + col("_i") * 1000000000L)
      .drop("_i").repartition(32))
    write("documents")(cipheredDocs(spark, Mult))
    Files.createFile(Paths.get(Dir, "_STAGED_v2"))
    println(s"staged $Dir")
    spark.stop()
  }

  /** `mult` disjoint copies of the sf0.1 documents, de-correlated by a
    * per-copy SUBSTITUTION CIPHER (rotation × reverse × case-swap — 104
    * distinct bijections): a bijective char map is bijective on the
    * character-shingle space, so within-copy Jaccard — and the planted
    * near-dup structure — is preserved EXACTLY, while cross-copy shingles
    * share nothing; duplicate-cluster size stays constant as the corpus
    * grows. Copy 0 is the identity cipher: the original sf0.1 texts under
    * shifted ids.
    */
  private def cipheredDocs(spark: SparkSession, mult: Int): DataFrame = {
    def rot(s: String, by: Int) = s.drop(by % s.length) + s.take(by % s.length)
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    val d = spark.read.parquet(s"$Src/documents.parquet")
    (0 until mult).map { i =>
      val l0 = rot(lower, i % 26)
      val u0 = rot(upper, i % 26)
      val (l1, u1) = if ((i / 26) % 2 == 1) (l0.reverse, u0.reverse) else (l0, u0)
      val (lTo, uTo) = if ((i / 52) % 2 == 1) (u1, l1) else (l1, u1)
      val to = lTo + uTo + rot(digits, i % 10)
      d.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", translate(col("text"), lower + upper + digits, to))
    }.reduce(_ unionAll _).repartition(32)
  }
}
