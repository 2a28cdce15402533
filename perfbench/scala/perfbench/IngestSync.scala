package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.sources.odata.{ReplayClient, StatlineClient, StatlineIngest}

final case class Dataset(id: String, version: String, phase: Int)

/** The generated replay catalog: every dataset's pages, its catalog
  * metadata page, and the rule that gives each sync round its Modified
  * versions.
  */
final class Catalog(dir: Path) {
  val datasets: Seq[Dataset] = {
    val c = Main.readJson(dir.resolve("catalog.json"))
    c.get("datasets").asScala.map(d => Dataset(d.get("id").asText, d.get("version").asText,
      d.get("phase").asInt)).toSeq
  }
  val expect: JsonNode = Main.readJson(dir.resolve("expect.json"))

  private val pages = mutable.Map.empty[String, mutable.Map[String, String]]
  // dataset -> (metadata url, metadata body with a placeholder for Modified, first date)
  private val meta = mutable.Map.empty[String, (String, String, LocalDate)]
  locally {
    val lines = Files.lines(dir.resolve("pages.jsonl"))
    try lines.iterator().asScala.foreach { l =>
      val n = Main.mapper.readTree(l)
      val ds = n.get("ds").asText
      if (n.has("meta_template")) meta(ds) = (n.get("meta_url").asText,
        n.get("meta_template").asText, LocalDate.parse(n.get("modified_first").asText))
      else pages.getOrElseUpdate(ds, mutable.Map.empty)(n.get("url").asText) = n.get("body").asText
    } finally lines.close()
  }

  /** The Modified version `d` has in sync round `r` (round 0 is the first
    * sync): every round r >= 1 with r % 2 == phase brings a new one. Rounds
    * are a rule, not a list, so a run never runs out of them.
    */
  def version(d: Dataset, r: Int): Int = (r + d.phase) / 2

  /** Replay client for one dataset as the source serves it at `metaVersion`:
    * nine days between successive Modified dates.
    */
  def client(ds: String, metaVersion: Int): StatlineClient = {
    val (url, template, first) = meta(ds)
    val body = template.replace("@MODIFIED@", s"${first.plusDays(9L * metaVersion)}T00:00:00")
    val r = ReplayClient(pages(ds).toMap + (url -> body))
    if (Trace.enabled) TimedClient(r) else r
  }

  def inputBytes(ds: String): Long = pages(ds).valuesIterator.map(_.length.toLong).sum

  def tableRows(ds: String): Long =
    expect.get(ds).get("tables").fields().asScala.map(_.getValue.asLong).sum

}

/** `ingest_sync`: the paper's own path. Each op is one
  * `StatlineIngest.run(endpoint = "catalog")` on a dataset that needs it;
  * unchanged datasets take the skip path, timed apart from the ops.
  */
final class IngestSync(spark: SparkSession, inputs: Path, spec: JsonNode, seed: Long)
    extends Workload {
  private val cat = new Catalog(inputs)
  private val datasets = cat.datasets
  private val baseDate = LocalDate.of(2024, 6, 1)

  private final case class Done(ds: Dataset, snapshot: String, paths: Seq[String])

  private var root: Path = _
  private var round = 0
  private var queue: List[Dataset] = Nil
  private val ingested = mutable.Map.empty[String, Int]
  private val done = ArrayBuffer.empty[Option[Done]]
  private val skipTimes = ArrayBuffer.empty[(Double, Boolean)] // (seconds, traced)

  def setup(dir: Path): Unit = {
    root = dir.resolve("store")
    Files.createDirectories(root)
    round = -1
    handedOut = 0
    queue = Nil
    ingested.clear()
    done.clear()
    skipTimes.clear()
  }

  /** Round 0, the first sync of every dataset, then a skip-path revisit
    * of each; the timed ops start at round 1. The first syncs run
    * concurrently (datasets are independent), as a catalog backfill would.
    */
  def warmupTasks: Seq[() => Unit] = Seq(() => firstSync())

  private def firstSync(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try {
      datasets.map { d =>
        pool.submit(() => new StatlineIngest(spark, cat.client(d.id, 0))
          .run(d.id, root.toString, endpoint = "catalog", date = baseDate))
      }.zip(datasets).foreach { case (f, d) =>
        require(!f.get().skipped, s"first sync of ${d.id} skipped")
        ingested(d.id) = 0
      }
    } finally pool.shutdown()
    datasets.foreach { d =>
      val r = new StatlineIngest(spark, cat.client(d.id, 0))
        .run(d.id, root.toString, endpoint = "catalog", date = baseDate)
      require(r.skipped, s"unchanged ${d.id} was not skipped")
    }
    round = 0
  }

  /** Round `r`'s visits: the unchanged datasets first (skip path), then
    * the changed ones, v3 and v4 alternating while both last, each version
    * in seeded order.
    */
  private def order(r: Int): List[Dataset] = {
    val rnd = new scala.util.Random(seed * 1000003L + r)
    val (changed, same) = datasets.partition(d => !ingested.get(d.id).contains(cat.version(d, r)))
    val v3 = rnd.shuffle(changed.filter(_.version == "v3"))
    val v4 = rnd.shuffle(changed.filter(_.version == "v4"))
    (rnd.shuffle(same) ++ v3.zipAll(v4, null, null).flatMap(p => Seq(p._1, p._2))
      .filter(_ != null)).toList
  }

  private var handedOut = 0

  /** Windows end on a whole number of two-round blocks: every dataset
    * re-ingested once (each round re-ingests half of them).
    */
  override def atGroupEnd: Boolean = handedOut % datasets.size == 0

  def next(): Op = {
    while (true) {
      if (queue.isEmpty) {
        round += 1
        queue = order(round)
      }
      val d = queue.head
      queue = queue.tail
      val want = cat.version(d, round)
      val r = round
      if (ingested.get(d.id).contains(want)) {
        // unchanged: the skip path, timed apart from the ops
        val client = cat.client(d.id, want)
        val (res, s) = Main.timed(Trace.span("StatlineIngest.run(skip)", "graft.sources.odata")(
          new StatlineIngest(spark, client)
            .run(d.id, root.toString, endpoint = "catalog", date = baseDate.plusDays(r))))
        skipTimes += ((s, Trace.enabled))
        if (!res.skipped) {
          done += None
          return Op("skip_check", 0, () =>
            throw new IllegalStateException(s"unchanged dataset ${d.id} was re-ingested"))
        }
      } else {
        ingested(d.id) = want
        handedOut += 1
        val slot = done.size
        done += None
        return Op(s"ingest_${d.version}", cat.tableRows(d.id), () => {
          val client = cat.client(d.id, want)
          val res = Trace.span("StatlineIngest.run", "graft.sources.odata")(
            new StatlineIngest(spark, client)
              .run(d.id, root.toString, endpoint = "catalog", date = baseDate.plusDays(r)))
          require(!res.skipped, s"modified dataset ${d.id} was skipped")
          done(slot) = Some(Done(d, res.snapshotDir, res.parquetPaths))
          ""
        })
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def dirBytes(p: String): (Long, Long) = {
    val s = Files.walk(java.nio.file.Paths.get(p))
    try {
      val files = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).toSeq
      (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")).toLong)
    } finally s.close()
  }

  private val stored = mutable.Map.empty[Int, (Long, Long)]

  /** Row counts and table contents are checked by the Python side against
    * the generated pages (written here as `ingests.json`); column comments
    * are checked here, on the catalog.
    */
  def check(records: Seq[OpRecord], outDir: Path): Unit = {
    require(records.size == done.size, "op records and ingest results out of step")
    val list = new java.util.ArrayList[java.util.Map[String, Any]]()
    done.zipWithIndex.foreach { case (d, i) =>
      d.foreach { x =>
        stored(i) = dirBytes(x.snapshot)
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("op", i); m.put("ds", x.ds.id); m.put("paths", x.paths.asJava)
        list.add(m)
      }
    }
    Files.writeString(outDir.resolve("ingests.json"), Main.mapper.writeValueAsString(list))
    // column comments on the registered main table of every v3 dataset
    // ingested in the window (the catalog holds each one's latest snapshot)
    val v3 = done.flatten.map(_.ds).filter(_.version == "v3").distinct
    val commentsOk = v3.forall { d =>
      val topics = cat.expect.get(d.id).get("topics").asScala.map(_.asText).toSet
      val desc = spark.sql(s"DESCRIBE TABLE `cbs_v3_${d.id}`.`${d.id}_TypedDataSet`").collect()
      val commented = desc.filter(r => topics(r.getString(0)) &&
        Option(r.getString(2)).exists(_.startsWith("Measure "))).map(_.getString(0)).toSet
      commented == topics
    }
    if (!commentsOk) records.filter(_.kind == "ingest_v3").foreach(_.ok = Some(false))
  }

  override def layerMetrics(traced: Seq[OpRecord]): Map[String, Double] = {
    val idx = traced.map(_.index)
    val ingests = traced.filter(_.kind.startsWith("ingest"))
    val n = ingests.size.max(1).toDouble
    def sum(k: String) = ingests.map(_.deltas.getOrElse(k, 0L)).sum.toDouble
    val storedT = idx.flatMap(stored.get)
    val inBytes = idx.flatMap(i => done(i)).map(x => cat.inputBytes(x.ds.id)).sum.toDouble
    Map(
      "odata.get_calls" -> sum("odata.get_calls") / n,
      "odata.get_s" -> sum("odata.get_ns") / 1e9 / n,
      "odata.bytes_in" -> sum("odata.bytes_in") / n,
      "odata.absent_calls" -> sum("odata.absent_calls") / n,
      "odata.refetch_ratio" -> sum("odata.get_calls") / Trace.distinctUrls.size.max(1),
      "odata.discover_s" -> sum("odata.discover_ns") / 1e9 / n,
      "sources.jobs_per_dataset" -> sum("spark.jobs") / n,
      "sources.task_s" -> sum("spark.task_ns") / 1e9 / n,
      "sources.bytes_written" -> storedT.map(_._1).sum / n,
      "sources.files_written" -> storedT.map(_._2).sum / n,
      "sources.catalog_ddl_calls" -> sum("sql.commands") / n,
      "sources.catalog_s" -> sum("sql.command_ns") / 1e9 / n,
      "sources.skip_check_s" -> Stats.median(skipTimes.filter(_._2).map(_._1).toSeq),
      "sources.stored_per_input_byte" -> storedT.map(_._1).sum / inBytes.max(1.0),
    )
  }

  override def info: Map[String, Any] = Map(
    "rounds_reached" -> round,
    "skip_checks" -> skipTimes.size,
    "skip_check_s_median" -> Stats.median(skipTimes.map(_._1).toSeq),
    "stored_per_input_byte" -> {
      val ks = stored.keys.toSeq
      ks.map(stored(_)._1).sum.toDouble /
        ks.flatMap(done(_)).map(x => cat.inputBytes(x.ds.id)).sum.max(1L)
    })
}
