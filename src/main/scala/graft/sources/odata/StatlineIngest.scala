package graft.sources.odata

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.{ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.InternalRows
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructType}

import graft.functions.NameRules
import graft.sources.{CatalogLoader, StatlineLayout}

/** The ingest pipeline (reference `main.py` endpoints, Spark-first).
  *
  * Where the reference runs fetch → ndjson spill → single-writer parquet →
  * object-store upload as separate stages (main.py:99-376), here each table
  * is one chain: the driver reads the first page that holds rows and
  * settles the schema — declared (CSDL), or inferred from that page like
  * the reference (A8) — then one task per page converts rows with
  * [[ODataRows.Converter]] and the parquet write lands directly in the
  * target layout (the A19 upload step collapses into the write path — at
  * scale the root is simply an object-store URI). Every written table costs
  * one Spark job (the write) and one file per page that holds rows; an
  * absent or empty table costs none. The chains of a dataset are
  * independent and run concurrently; the sidecars and the catalog step
  * follow once all are done.
  *
  * Scale notes: one task per page mirrors the reference's dask-bag
  * parallelism (statline.py:469-473) but distributes across executors;
  * every page is parsed once, straight into Spark rows; datasets are
  * independent too, so they fan out by calling [[run]] concurrently.
  *
  * Reference quirks deliberately NOT replicated (SURVEY §2.A): the stale
  * v4 schema variable, the unbound `pq_path` on first-table-empty, and the
  * v4 page misnaming — the rewrite derives every value per table.
  */
object StatlineIngest {
  final case class IngestResult(skipped: Boolean, snapshotDir: String,
                                parquetPaths: Seq[String])
}

final class StatlineIngest(spark: SparkSession, client: StatlineClient,
                           source: String = "cbs") {
  import StatlineIngest.IngestResult

  private val mapper = new ObjectMapper()

  /** The client rides to executors as a broadcast: a replay client carries
    * its whole page map (tens of MiB for golden fixtures), and a closure
    * capture would re-serialize it into every task binary; a broadcast ships
    * it once per executor. Lazy so driver-only use never touches the
    * SparkContext.
    */
  @transient private lazy val clientBc = spark.sparkContext.broadcast(client)

  /** Tables dropped from the loop (statline.py:418-427): metadata tables
    * handled separately and the redundant untyped main table.
    */
  private val DenyList = Set("Properties", "TableInfos", "UntypedDataSet")

  /** Canonical v4 EAV types (SURVEY §1.4): Id BIGINT, Value nullable DOUBLE,
    * textual attributes STRING; dimension columns stay as inferred.
    */
  private val ObservationTypes: Map[String, DataType] = Map(
    "Id" -> LongType, "Value" -> DoubleType, "Measure" -> StringType,
    "ValueAttribute" -> StringType, "StringValue" -> StringType)

  private def flatValues(payload: JsonNode): Map[String, String] = {
    val it = payload.properties().iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.isValueNode && !e.getValue.isNull) b += (e.getKey -> e.getValue.asText())
    }
    b.result()
  }

  /** Modified-date change detection (main.py:39-95): skip when the stored
    * latest snapshot has the same `Modified` as the source (unless forced).
    */
  def shouldSkip(root: String, id: String, odataVersion: String,
                 cbsMeta: Map[String, String], force: Boolean): Boolean = {
    if (force) return false
    val stored = latestStoredMetadata(root, id, odataVersion)
    (stored.flatMap(_.get("Modified")), cbsMeta.get("Modified")) match {
      case (Some(a), Some(b)) => a == b
      case _ => false
    }
  }

  private def latestStoredMetadata(root: String, id: String,
                                   odataVersion: String): Option[Map[String, String]] = {
    val base = Paths.get(StatlineLayout.partitionedPath(root, source, odataVersion, id))
    if (!Files.isDirectory(base)) return None
    val names = new scala.collection.mutable.ArrayBuffer[String]
    val stream = Files.list(base)
    try {
      val folders = stream.iterator()
      while (folders.hasNext) names += folders.next().getFileName.toString
    } finally stream.close() // Files.list leaks an fd unless closed
    StatlineLayout.latestFolder(names.toSeq).flatMap { latest =>
      val sidecar = base.resolve(latest)
        .resolve(StatlineLayout.sidecarName(source, odataVersion, id, "Metadata"))
      if (!Files.exists(sidecar)) None
      else Some(flatValues(mapper.readTree(Files.readString(sidecar))))
    }
  }

  /** Fetches one table as a DataFrame, with the first page that holds rows.
    * The driver reads pages until one holds rows and settles the schema from
    * it with `schemaOf`; those rows ride in their partition, and executors
    * fetch the pages after it, one partition each. None when the table is
    * absent or every page is empty (A15 — e.g. 84799NED's CategoryGroups,
    * 83765NED's dropped Observations blob).
    */
  def fetchTable(tableUrl: String, nRecords: Option[Long], odataVersion: String,
                 schemaOf: JsonNode => StructType): Option[(DataFrame, JsonNode)] = {
    val urls = ODataUrls.pageUrls(tableUrl, nRecords, odataVersion)
    ODataRows.firstRows(client, urls).map { case (first, rows) =>
      val schema = schemaOf(rows)
      val convert = new ODataRows.Converter(schema, spark.sessionState.conf.sessionLocalTimeZone)
      val pages: Seq[Either[Array[InternalRow], String]] =
        Left(convert(rows, urls(first)).toArray) +: urls.drop(first + 1).map(Right(_))
      // the client ships as a broadcast only when executors fetch pages
      val cl = if (pages.size > 1) Some(clientBc) else None
      val rdd = spark.sparkContext.parallelize(pages, pages.size).flatMap {
        case Left(probed) => probed.iterator
        case Right(url) => ODataRows.page(cl.get.value, url).iterator.flatMap(convert(_, url))
      }
      (InternalRows.toDataFrame(spark, rdd, schema), rows)
    }
  }

  /** Column descriptions for the v3 main table (statline.py:350-377):
    * DataProperties rows → {Key → cleaned/truncated Description}. The
    * reference keeps every Key — null descriptions stay null (its
    * bare-except leaves them untouched), so the sidecar round-trips
    * faithfully.
    */
  def columnDescriptions(dataProperties: JsonNode): Map[String, String] =
    dataProperties.elements().asScala.map { item =>
      val key = Option(item.get("Key")).map(_.asText()).getOrElse("")
      val desc = Option(item.get("Description")).filter(!_.isNull)
        .map(d => NameRules.cleanDescription(d.asText())).orNull
      key -> desc
    }.toMap

  /** Runs the pipeline for one dataset.
    *
    * @param endpoint "local" (files only), "store" (same layout at the store
    *   root — the upload collapses into the write), or "catalog" (store +
    *   warehouse registration A20-A24)
    */
  def run(id: String, root: String, endpoint: String = "local",
          thirdParty: Boolean = false, force: Boolean = false,
          date: LocalDate = LocalDate.now()): IngestResult = {
    require(Set("local", "store", "catalog")(endpoint), s"bad endpoint $endpoint")
    val odataVersion = ODataUrls.checkV4(client, id, thirdParty)
    val metaNode = ODataUrls.metadata(client, id, odataVersion, thirdParty)
    val meta = flatValues(metaNode)
    val snapshotDir = StatlineLayout.datasetPath(root, source, odataVersion, id, date)
    if (shouldSkip(root, id, odataVersion, meta, force))
      return IngestResult(skipped = true, snapshotDir, Seq.empty)

    val tables = ODataUrls.discoverTables(client, id, odataVersion, thirdParty)
      .filterNot { case (name, _) => DenyList(name) }
      .map { case (key, rawUrl) =>
        (key, rawUrl, if (odataVersion == "v3") s"$rawUrl?$$format=json" else rawUrl)
      }

    Files.createDirectories(Paths.get(snapshotDir))

    // one chain per table (fetch → type → write), independent of the others
    val chains = tables.map { case (key, rawUrl, url) => () =>
      val tableName = StatlineLayout.tableName(source, odataVersion, id, key)
      val nRecords = ODataUrls.rowCount(metaNode, key, odataVersion)
      val schemaOf: JsonNode => StructType = key match {
        case "TypedDataSet" if odataVersion == "v3" =>
          val declared = ODataUrls.csdlSchema(client, rawUrl)
          rows => declared.getOrElse(ODataRows.inferSchema(rows))
        // v4 Observations: the reference never solved typing for the long
        // format (statline.py:441-443 TODO + the stale-schema quirk). The
        // EAV base columns are declared, so `Value` is a nullable double
        // whatever one page holds; dimension columns are inferred.
        case "Observations" => ODataRows.inferSchema(_, ObservationTypes)
        case _ => ODataRows.inferSchema(_)
      }
      fetchTable(url, nRecords, odataVersion, schemaOf).map { case (df, rows) =>
        // DataProperties: warehouse-compat dot rename (A12, main.py:170-180)
        val typed = if (key == "DataProperties") NameRules.renameDots(df) else df
        val out = s"$snapshotDir/$tableName.parquet"
        typed.write.mode(SaveMode.Overwrite).parquet(out)
        val descriptions = if (key == "DataProperties") columnDescriptions(rows) else Map.empty[String, String]
        (out, typed.schema, descriptions)
      }
    }
    val written = concurrently(chains).flatten

    // Sidecars (A18): Metadata.json always (raw tree — nested fields and
    // nulls preserved); ColDescriptions.json v3 only, from the rows the
    // DataProperties chain fetched.
    Files.writeString(
      Paths.get(snapshotDir, StatlineLayout.sidecarName(source, odataVersion, id, "Metadata")),
      mapper.writeValueAsString(metaNode))
    val colDescs = written.flatMap(_._3).toMap
    if (odataVersion == "v3") {
      Files.writeString(
        Paths.get(snapshotDir, StatlineLayout.sidecarName(source, odataVersion, id, "ColDescriptions")),
        mapper.writeValueAsString(mapper.valueToTree[JsonNode](colDescs.asJava)))
    }

    if (endpoint == "catalog") {
      val ns = StatlineLayout.namespace(source, odataVersion, id)
      // reference behavior: always drop-then-recreate (gcpl.py:549-573)
      CatalogLoader.dropNamespace(spark, ns)
      CatalogLoader.createNamespace(spark, ns,
        meta.getOrElse("ShortDescription", meta.getOrElse("Description", "")).take(1000))
      written.foreach { case (path, schema, _) =>
        val file = path.split('/').last
        // column comments go on the main table only (gcpl.py:233-288)
        CatalogLoader.registerExternalTable(spark, ns, StatlineLayout.warehouseTableId(file),
          path, schema, if (file.contains("TypedDataSet")) colDescs else Map.empty)
      }
    }
    IngestResult(skipped = false, snapshotDir, written.map(_._1))
  }

  /** Runs `chains` on a pool of one thread per chain and returns their
    * results in order. The pool threads are created by the calling thread,
    * so they inherit its SparkContext local properties (job group,
    * scheduler pool). When chains throw, the rest still run to completion;
    * then the first failure in order is rethrown as the chain threw it.
    */
  private def concurrently[T](chains: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(chains.size.max(1))
    try {
      chains.map(c => pool.submit(() => c()))
        .map(f => try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) })
        .map(_.fold(e => throw e, identity))
    } finally pool.shutdown()
  }
}
