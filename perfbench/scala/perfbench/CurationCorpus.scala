package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Cleaning, Dedup, Similarity, TextAnalysis}

/** The curation part of `analyst_mix`: the document curation chain over a
  * generated corpus with planted near-duplicates and PII — `Cleaning.piiScrub` →
  * `TextAnalysis.qualityFeatures` → `Dedup.minhashPairs` →
  * `Dedup.duplicateClusters` → `Dedup.resolveDuplicates` — plus the ANN
  * read side: batches of `Similarity.searchIvfIndex` over an index that
  * `Similarity.buildIvfIndex` writes once per set-up. Each op is one public
  * operator call; the chain hands each step the previous step's collected
  * output.
  */
final class CurationCorpus(spark: SparkSession, inputs: Path, spec: JsonNode, seed: Long)
    extends Workload {
  private val sizes = spec.get("parts").get("curation")
  private val nDocs = sizes.get("documents").asLong
  private val nQueries = sizes.get("ann_queries").asLong
  private val k = sizes.get("ann_k").asInt
  private val nlist = sizes.get("ivf_nlist").asInt
  private val nprobe = sizes.get("ivf_nprobe").asInt
  private val expect = Main.readJson(inputs.resolve("expect.json"))

  private val chain = Seq("pii_scrub", "quality", "minhash_pairs", "clusters", "resolve")
  private val kinds = chain :+ "ivf_search"

  def kindCount: Int = kinds.size

  private var dir: Path = _
  private var tag: String = _
  private var pos = 0
  private var pairs: DataFrame = _
  private val results = new java.util.concurrent.ConcurrentHashMap[String, Seq[Row]]().asScala
  private val digests = new java.util.concurrent.ConcurrentHashMap[String, String]().asScala
  private val buildTimes = mutable.ArrayBuffer.empty[Double]

  private def docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
  private def corpus = spark.read.parquet(dir.resolve("embeddings.parquet").toString)
  private def queries = spark.read.parquet(dir.resolve("queries.parquet").toString)

  private def collectOp(kind: String, df: DataFrame): Seq[Row] = {
    val rows = Trace.span(kind, "graft.operators")(df.collect().toSeq)
    if (!results.contains(kind)) { results(kind) = rows; digests(kind) = Digest.of(sorted(rows)) }
    rows
  }

  private def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toString)

  private def run(kind: String): String = {
    val rows = kind match {
      case "pii_scrub" => collectOp(kind, Cleaning.piiScrub(docs, "doc_id", "text"))
      case "quality" => collectOp(kind, TextAnalysis.qualityFeatures(docs, "text"))
      case "minhash_pairs" =>
        val df = Dedup.minhashPairs(docs, "doc_id")
        val r = collectOp(kind, df)
        pairs = spark.createDataFrame(r.asJava, df.schema)
        r
      case "clusters" => collectOp(kind, Dedup.duplicateClusters(pairs))
      case "resolve" => collectOp(kind, Dedup.resolveDuplicates(docs, pairs, "doc_id", "text"))
      case "ivf_search" =>
        collectOp(kind, Similarity.searchIvfIndex(spark, queries, "vec_id", "embedding", tag,
          k = k, nprobe = nprobe))
    }
    Digest.of(sorted(rows))
  }

  def setup(rep: Path): Unit = {
    dir = rep.resolve("corpus")
    Files.createDirectories(dir)
    Seq("documents.parquet", "embeddings.parquet", "queries.parquet").foreach { f =>
      Files.createLink(dir.resolve(f), inputs.resolve(f))
    }
    tag = s"perfbench_${rep.getFileName}"
    results.clear()
    digests.clear()
    pos = 0
  }

  /** Two independent tasks: the chain pass, and the IVF index build (the
    * write side) followed by one search batch.
    */
  def warmupTasks: Seq[() => Unit] = Seq(
    () => chain.foreach(run),
    () => {
      val (_, s) = Main.timed(Trace.span("Similarity.buildIvfIndex", "graft.operators")(
        Similarity.buildIvfIndex(spark, corpus, "vec_id", "embedding", tag, nlist = nlist)))
      buildTimes += s
      run("ivf_search")
    })

  override def afterWarmup(): Unit = { results.clear(); digests.clear() }

  def next(): Op = {
    val kind = kinds(pos % kinds.size)
    pos += 1
    Op(kind, 1, () => run(kind))
  }

  /** Planted pairs found by the minhash step, over all planted pairs. */
  def plantedRecall: Double = {
    val planted = expect.get("clusters").asScala.map(c => (c.get(0).asLong, c.get(1).asLong)).toSet
    val found = results.getOrElse("minhash_pairs", Nil).map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.count(p => found(p) || found(p.swap)).toDouble / planted.size.max(1)
  }

  def pairPrecision: Double = {
    val planted = expect.get("clusters").asScala.map(c => (c.get(0).asLong, c.get(1).asLong)).toSet
    val found = results.getOrElse("minhash_pairs", Nil).map(r => (r.getLong(0), r.getLong(1)))
    found.count(p => planted(p) || planted(p.swap)).toDouble / found.size.max(1)
  }

  /** Recall@k of the IVF search against the exact top-k. */
  lazy val annTruth: Set[(Long, Long)] =
    Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k)
      .select(col("q_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val annRecall: Double = {
    val truth = annTruth
    val got = topK(results.getOrElse("ivf_search", Nil))
    truth.count(got).toDouble / truth.size.max(1)
  }

  /** The search result reduced to each query's k best neighbours. */
  private def topK(rows: Seq[Row]): Set[(Long, Long)] =
    if (rows.isEmpty) Set.empty
    else {
      val s = rows.head.schema
      val q = s.fieldIndex("q_id")
      val n = s.fieldIndex("n_id")
      val score = s.fields.indexWhere(f => f.name == "sim" || f.name == "score")
      rows.groupBy(_.getLong(q)).toSeq.flatMap { case (qid, rs) =>
        val best = if (score < 0) rs else rs.sortBy(r => (-r.getDouble(score), r.getLong(n))).take(k)
        best.map(r => (qid, r.getLong(n)))
      }.toSet
    }

  private def minRecall(name: String) = sizes.get("checks").get(name).asDouble

  private val piiDocs: Set[Long] = expect.get("pii_docs").asScala.map(_.asLong).toSet

  /** Every planted-PII doc, and no other, reports at least one PII match. */
  private def piiOk: Boolean = results.get("pii_scrub").exists { rows =>
    val s = rows.head.schema
    val counts = s.fieldNames.filter(_.startsWith("n_")).map(s.fieldIndex)
    val flagged = rows.filter(r => counts.exists(i => r.getLong(i) > 0))
      .map(_.getLong(s.fieldIndex("doc_id"))).toSet
    flagged == piiDocs
  }

  def check(records: Seq[OpRecord], outDir: Path): Unit = {
    val verdict: Map[String, Boolean] = Map(
      "pii_scrub" -> piiOk,
      "quality" -> results.get("quality").exists(_.size == nDocs),
      "minhash_pairs" -> (plantedRecall >= minRecall("planted_pair_recall")),
      "clusters" -> results.get("clusters").exists(_.nonEmpty),
      "resolve" -> results.get("resolve").exists { rows =>
        val s = rows.head.schema
        val keep = rows.groupBy(_.getLong(s.fieldIndex("cluster")))
          .values.map(_.count(_.getBoolean(s.fieldIndex("keep"))))
        keep.forall(_ == 1)
      },
      "ivf_search" -> (annRecall >= minRecall("ann_recall_at_k")))
    records.filter(_.ok.isEmpty).foreach { r =>
      r.ok = Some(verdict.getOrElse(r.kind, false) && digests.get(r.kind).contains(r.digest))
    }
  }

  override def layerMetrics(traced: Seq[OpRecord]): Map[String, Double] = {
    val spans = Trace.allSpans
    def per(kind: String) = Stats.median(spans.filter(s => s.name == kind).map(_.seconds))
    val n = traced.size.max(1).toDouble
    def sum(k: String) = traced.map(_.deltas.getOrElse(k, 0L)).sum.toDouble
    val searches = traced.filter(_.kind == "ivf_search")
    val qCand = Similarity.searchCandidateCount(spark, queries, "vec_id", "embedding", tag,
      nprobe = nprobe).toDouble
    val chainOps = traced.filter(r => chain.contains(r.kind))
    Map(
      "ops.docs_per_s" -> nDocs * traced.count(_.kind == "resolve") /
        chainOps.map(_.wallS).sum.max(1e-9),
      "ops.pii_scrub_s" -> per("pii_scrub"),
      "ops.quality_s" -> per("quality"),
      "ops.minhash_pairs_s" -> per("minhash_pairs"),
      "ops.clusters_s" -> per("clusters"),
      "ops.resolve_s" -> per("resolve"),
      "ops.ivf_build_s" -> Stats.median(buildTimes.toSeq),
      "ops.candidate_pairs" -> results.get("minhash_pairs").map(_.size.toDouble).getOrElse(0.0),
      "ops.pair_precision" -> pairPrecision,
      "ops.shuffle_bytes" -> sum("spark.shuffle_bytes") / n,
      "ops.spill_bytes" -> sum("spark.spill_bytes") / n,
      "ops.ivf_search_s" -> per("ivf_search"),
      "ops.ann_candidates_per_query" -> qCand / nQueries,
      "ops.ann_recall_at_k" -> annRecall,
      "ops.search_qps" -> nQueries * searches.size / searches.map(_.wallS).sum.max(1e-9),
    )
  }

  override def info: Map[String, Any] = Map(
    "planted_pair_recall" -> plantedRecall,
    "pair_precision" -> pairPrecision,
    "ann_recall_at_k" -> annRecall,
    "ivf_build_s" -> Stats.median(buildTimes.toSeq))
}
