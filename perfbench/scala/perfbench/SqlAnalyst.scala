package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.odata.StatlineIngest

object Links {
  /** Hard-links a file, or a directory's files, from `src` to `dst`. */
  def tree(src: Path, dst: Path): Unit =
    if (!Files.isDirectory(src)) Files.createLink(dst, src)
    else {
      Files.createDirectories(dst)
      val s = Files.list(src)
      try s.iterator().asScala.foreach(f => tree(f, dst.resolve(f.getFileName)))
      finally s.close()
    }
}

object Digest {
  /** SHA-256 over the rows in result order (every checked query has a total
    * order, so equal results give equal digests).
    */
  def of(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Writes the first result of each op kind for the output check. */
  def save(spark: SparkSession, rows: Seq[Row], df: DataFrame, path: Path): Unit =
    spark.createDataFrame(rows.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(path.toString)
}

/** The query part of `analyst_mix`: a seeded stream of
  * `SparkEntry.freshQueries` relational entries over generated star-schema
  * tables, with a fixed share of analyst queries over the external catalog
  * tables a set-up ingest registered.
  */
final class SqlAnalyst(spark: SparkSession, inputs: Path, catalogDir: Path, spec: JsonNode,
                       seed: Long) extends Workload {
  private val cfg = spec.get("parts").get("sql")
  private val relational = cfg.get("queries").asScala.map(_.asText).toIndexedSeq
  private val share = cfg.get("catalog_share").asDouble
  private val cat = new Catalog(catalogDir)
  private val catalogSets = cat.datasets
  private val fresh = graft.SparkEntry.freshQueries

  private var dir: String = _
  private var block: List[String] = Nil
  private var blockNo = 0
  private val results = mutable.Map.empty[String, (Seq[Row], DataFrame, String)]

  private def catalogSql(d: Dataset): String = {
    val (table, col) =
      if (d.version == "v3") (s"`cbs_v3_${d.id}`.`${d.id}_TypedDataSet`", "Topic0_1")
      else (s"`cbs_v4_${d.id}`.`${d.id}_Observations`", "Value")
    s"""SELECT Perioden, count(*) AS n,
       |  CAST(coalesce(sum(CAST($col AS DECIMAL(18, 2))), 0) * 100 AS BIGINT) AS cents
       |FROM $table GROUP BY Perioden ORDER BY Perioden""".stripMargin
  }

  private def build(kind: String): DataFrame =
    if (kind.startsWith("catalog_")) {
      val d = catalogSets.find(_.id == kind.stripPrefix("catalog_")).get
      Trace.span("spark.sql(catalog)", "graft.queries")(spark.sql(catalogSql(d)))
    } else Trace.span(s"freshQueries($kind)", "graft.queries")(fresh(kind)(spark, dir))

  /** One op: build a fresh plan, plan it, execute it, collect the rows. */
  private def runQuery(kind: String): String = {
    val df = build(kind)
    Trace.span("queryExecution.executedPlan", "sql.plan")(df.queryExecution.executedPlan)
    val rows = Trace.span("collect", "sql.exec")(df.collect().toSeq)
    val d = Digest.of(rows)
    if (!results.contains(kind)) results(kind) = (rows, df, d)
    Trace.add("sql.result_rows", rows.size.toLong)
    d
  }

  def kindCount: Int = mix.size

  private def mix: Seq[String] = {
    val nCat = math.round(relational.size * share / (1 - share)).toInt
    relational ++ (0 until nCat).map(i => s"catalog_${catalogSets(i % catalogSets.size).id}")
  }

  private var store: String = _

  def setup(rep: Path): Unit = {
    // the inputs, linked into a directory of this repetition's own, so the
    // engine's per-directory table cache and staged layouts start empty
    val d = rep.resolve("tables")
    Files.createDirectories(d)
    val tables = Files.list(inputs).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    tables.foreach(f => Links.tree(inputs.resolve(f), d.resolve(f)))
    dir = d.toString
    // the engine registers (and stages, when a table is one big file) each
    // table lazily on first read; do it here
    tables.foreach(f => graft.Tables(spark, dir).table(f.stripSuffix(".parquet")))
    store = rep.resolve("store").toString
    results.clear()
    block = Nil
    blockNo = 0
  }

  /** Registers the catalog tables (an ingest of the catalog datasets), then
    * runs every query of the mix once.
    */
  def warmupTasks: Seq[() => Unit] = Seq(() => warmQueries())

  private def warmQueries(): Unit = {
    catalogSets.foreach { c =>
      val r = new StatlineIngest(spark, cat.client(c.id, 0))
        .run(c.id, store, endpoint = "catalog", date = LocalDate.of(2024, 6, 1))
      require(!r.skipped)
    }
    mix.distinct.foreach(runQuery)
  }

  override def afterWarmup(): Unit = results.clear()

  def next(): Op = {
    if (block.isEmpty) {
      block = new scala.util.Random(seed * 7919L + blockNo).shuffle(mix).toList
      blockNo += 1
    }
    val kind = block.head
    block = block.tail
    Op(kind, 1, () => runQuery(kind))
  }

  def check(records: Seq[OpRecord], outDir: Path): Unit = {
    // catalog queries: against the generator's per-period aggregates
    results.foreach { case (kind, (rows, df, digest)) =>
      if (kind.startsWith("catalog_")) {
        val ds = kind.stripPrefix("catalog_")
        val exp = cat.expect.get(ds).get("by_period")
        val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        val want = exp.fields().asScala.map(e =>
          e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asLong)).toMap
        val ok = got == want
        records.filter(r => r.kind == kind && r.ok.isEmpty).foreach(r =>
          r.ok = Some(ok && r.digest == digest))
      } else Digest.save(spark, rows, df, outDir.resolve(kind))
    }
    val oracles = new java.util.LinkedHashMap[String, String]()
    relational.foreach(q => oracles.put(q, graft.SparkEntry.oracleSql(q)))
    Files.writeString(outDir.resolve("oracles.json"), Main.mapper.writeValueAsString(oracles))
    val digests = new java.util.LinkedHashMap[String, String]()
    results.foreach { case (k, (_, _, d)) => digests.put(k, d) }
    Files.writeString(outDir.resolve("digests.json"), Main.mapper.writeValueAsString(digests))
  }

  override def layerMetrics(traced: Seq[OpRecord]): Map[String, Double] = {
    val n = traced.size.max(1).toDouble
    def sum(k: String) = traced.map(_.deltas.getOrElse(k, 0L)).sum.toDouble
    val spans = Trace.allSpans
    val wall = traced.map(_.wallS).sum
    val cores = spark.sparkContext.defaultParallelism
    Map(
      "sql.queries_per_s" -> traced.size / wall.max(1e-9),
      "sql.plan_s" -> Stats.median(spans.filter(_.layer == "sql.plan").map(_.seconds)),
      "sql.exec_s" -> Stats.median(spans.filter(_.layer == "sql.exec").map(_.seconds)),
      "sql.codegen_compile_s" -> sum("sql.codegen_ns") / 1e9 / n,
      "sql.jobs_per_query" -> sum("spark.jobs") / n,
      "sql.stages_per_query" -> sum("spark.stages") / n,
      "sql.tasks_per_query" -> sum("spark.tasks") / n,
      "sql.task_busy_frac" -> sum("spark.task_ns") / 1e9 / (wall * cores).max(1e-9),
      "sql.input_rows_per_result_row" -> sum("spark.input_rows") / sum("sql.result_rows").max(1.0),
      "sql.shuffle_bytes" -> sum("spark.shuffle_bytes") / n,
    )
  }
}
