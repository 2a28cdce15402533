package graft.sources.odata

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.{ExecutionException, Executors}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.functions.NameRules
import graft.sources.{CatalogLoader, EdmSchema, StatlineLayout}

/** The ingest pipeline (reference `main.py` endpoints, Spark-first).
  *
  * Where the reference runs fetch → ndjson spill → single-writer parquet →
  * object-store upload as separate stages (main.py:99-376), here each table
  * is one chain: page urls become a parallelized collection, executors
  * fetch + extract rows, `spark.read.json` applies the declared schema (or
  * infers one), and the parquet write lands directly in the target layout
  * (the A19 upload step collapses into the write path — at scale the root
  * is simply an object-store URI). A table whose first page holds rows
  * costs one Spark job with a declared schema (the write) and two with an
  * inferred one (inference + write); an absent or empty single-page table
  * costs none. The chains of a dataset are independent and run
  * concurrently; the sidecars and the catalog step follow once all are done.
  *
  * Scale notes: one task per page mirrors the reference's dask-bag
  * parallelism (statline.py:469-473) but distributes across executors; the
  * declared CSDL schema keeps parsing single-pass; datasets are independent
  * too, so they fan out by calling [[run]] concurrently.
  *
  * Reference quirks deliberately NOT replicated (SURVEY §2.A): the stale
  * v4 schema variable, the unbound `pq_path` on first-table-empty, and the
  * v4 page misnaming — the rewrite derives every value per table.
  */
final class StatlineIngest(spark: SparkSession, client: StatlineClient,
                           source: String = "cbs") {

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

  private val MainTables = Set("TypedDataSet", "Observations")

  final case class IngestResult(skipped: Boolean, snapshotDir: String,
                                parquetPaths: Seq[String])

  /** Raw catalog metadata document (statline.py:112-167) — kept as a tree so
    * the Metadata sidecar preserves nested/null fields byte-faithfully.
    */
  def metadataNode(id: String, odataVersion: String, thirdParty: Boolean): com.fasterxml.jackson.databind.JsonNode =
    odataVersion match {
      case "v3" =>
        val doc = client.get(ODataUrls.v3CatalogUrl(id, thirdParty)).getOrElse(
          throw new NoSuchElementException(s"dataset $id not in catalog"))
        val value = mapper.readTree(doc).get("value")
        if (value == null || value.size() == 0)
          throw new NoSuchElementException(s"dataset $id not in catalog")
        value.get(0)
      case _ =>
        mapper.readTree(client.get(ODataUrls.v4PropertiesUrl(id)).getOrElse(
          throw new NoSuchElementException(s"dataset $id has no v4 Properties")))
    }

  private def flatValues(payload: com.fasterxml.jackson.databind.JsonNode): Map[String, String] = {
    val it = payload.fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.isValueNode && !e.getValue.isNull) b += (e.getKey -> e.getValue.asText())
    }
    b.result()
  }

  /** Scalar view of the catalog metadata (skip logic, shapes, descriptions). */
  def metadataCbs(id: String, odataVersion: String, thirdParty: Boolean): Map[String, String] =
    flatValues(metadataNode(id, odataVersion, thirdParty))

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
      else {
        val node = mapper.readTree(Files.readString(sidecar))
        val it = node.fields()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); if (e.getValue.isValueNode) b += (e.getKey -> e.getValue.asText()) }
        Some(b.result())
      }
    }
  }

  /** Fetches one table (all pages, executor-parallel) as a DataFrame and
    * hands it to `use`. Returns None, without calling `use`, when the table
    * is absent or every page is empty (A15 — e.g. 84799NED's
    * CategoryGroups, 83765NED's dropped Observations blob).
    */
  def fetchTable[T](tableUrl: String, nRecords: Option[Long], odataVersion: String,
                    schema: Option[StructType])(use: DataFrame => T): Option[T] = {
    // Driver-side probe of the first page: an absent first page is an absent
    // table (A15) — skip the Spark job entirely. With presence established,
    // executors can treat any missing `$skip` page as a GAP (silent
    // truncation) rather than absence. Costs one extra page fetch per table
    // live; the reference's sequential fetcher paid the same page. The
    // probe's first row also settles what would otherwise take a Spark job
    // each: that the table is non-empty, and the wire field order.
    val firstRow = client.get(tableUrl) match {
      case None => return None
      case Some(payload) =>
        Option(mapper.readTree(payload).get("value"))
          .filter(v => v.isArray && v.size() > 0).map(_.get(0))
    }
    val urls = ODataUrls.pageUrls(tableUrl, nRecords, odataVersion)
    if (firstRow.isEmpty && urls.size == 1) return None
    val cl = clientBc // broadcast handle, not the client itself
    val lines = spark.sparkContext.parallelize(urls, urls.size).flatMap { u =>
      val page = cl.value.get(u)
      // missing FIRST page = absent/empty table (expected); a missing
      // mid-pagination page would silently truncate the snapshot — raise.
      if (page.isEmpty && u.contains("$skip="))
        throw new java.io.IOException(s"missing pagination page: $u")
      page.toSeq.flatMap { payload =>
        val m = new ObjectMapper()
        val v = m.readTree(payload).get("value")
        if (v == null || !v.isArray) Seq.empty[String]
        else (0 until v.size()).map(i => m.writeValueAsString(v.get(i)))
      }
    }
    // The write reads `lines` once. An emptiness check (first page empty,
    // later pages unknown) or schema inference reads it again, and would
    // re-fetch every page from the source without the persist.
    val reread = firstRow.isEmpty || schema.isEmpty
    if (reread) lines.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (firstRow.isEmpty && lines.isEmpty()) None
      else {
        import spark.implicits._
        val ds = spark.createDataset(lines)
        Some(use(schema match {
          case Some(st) => spark.read.schema(st).json(ds)
          case None =>
            // Spark's json inference alphabetizes fields; the reference keeps
            // wire order (pyarrow pins the first page's field order). Restore
            // document order from the first row, inferred-only tail after.
            val inferred = spark.read.json(ds)
            val firstOrder = {
              val it = firstRow.getOrElse(mapper.readTree(lines.first())).fieldNames()
              val b = Seq.newBuilder[String]
              while (it.hasNext) b += it.next()
              b.result()
            }
            val have = inferred.columns.toSet
            val ordered = firstOrder.filter(have) ++ inferred.columns.filterNot(firstOrder.toSet)
            // backquote: raw field names may contain dots (`odata.type`)
            inferred.select(ordered.map(n =>
              org.apache.spark.sql.functions.col(s"`$n`")).toIndexedSeq: _*)
        }))
      }
    } finally if (reread) lines.unpersist(blocking = false)
  }

  /** Canonical v4 EAV types (SURVEY §1.4): Id BIGINT, Value nullable DOUBLE,
    * textual attributes STRING; dimension columns stay as inferred (strings).
    */
  private def canonicalizeObservations(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val canonical = Map(
      "Id" -> LongType, "Value" -> DoubleType, "Measure" -> StringType,
      "ValueAttribute" -> StringType, "StringValue" -> StringType)
    df.select(df.columns.toIndexedSeq.map { c =>
      canonical.get(c)
        .map(t => org.apache.spark.sql.functions.col(c).cast(t).as(c))
        .getOrElse(org.apache.spark.sql.functions.col(c))
    }: _*)
  }

  /** Column descriptions for the v3 main table (statline.py:350-377):
    * DataProperties → {Key → cleaned/truncated Description}. The reference
    * keeps every Key — null descriptions stay null (its bare-except leaves
    * them untouched), so the sidecar round-trips faithfully.
    */
  def columnDescriptions(dataPropertiesUrl: String): Map[String, String] = {
    client.get(dataPropertiesUrl).map { payload =>
      val v = mapper.readTree(payload).get("value")
      (0 until v.size()).map { i =>
        val item = v.get(i)
        val key = Option(item.get("Key")).map(_.asText()).getOrElse("")
        val desc = Option(item.get("Description")).filter(!_.isNull)
          .map(d => NameRules.cleanDescription(d.asText())).orNull
        key -> desc
      }.toMap
    }.getOrElse(Map.empty)
  }

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
    val metaNode = metadataNode(id, odataVersion, thirdParty)
    val meta = flatValues(metaNode)
    val snapshotDir = StatlineLayout.datasetPath(root, source, odataVersion, id, date)
    if (shouldSkip(root, id, odataVersion, meta, force))
      return IngestResult(skipped = true, snapshotDir, Seq.empty)

    val shape = Map(
      "n_records" -> meta.get("RecordCount").map(_.toLong),
      "n_columns" -> meta.get("ColumnCount").map(_.toLong),
      "n_observations" -> meta.get("ObservationCount").map(_.toLong))

    val tables = ODataUrls.discoverTables(client, id, odataVersion, thirdParty)
      .filterNot { case (name, _) => DenyList(name) }
      .map { case (key, rawUrl) =>
        (key, rawUrl, if (odataVersion == "v3") s"$rawUrl?$$format=json" else rawUrl)
      }
    val dataPropertiesUrl = tables.collectFirst { case ("DataProperties", _, url) => url }

    Files.createDirectories(Paths.get(snapshotDir))

    // one chain per table (fetch → type → write), independent of the others
    val chains = tables.map { case (key, rawUrl, url) => () =>
      val tableName = StatlineLayout.tableName(source, odataVersion, id, key)
      val (nRecords, schema) =
        if (MainTables(key)) {
          val n = if (odataVersion == "v3") shape("n_records") else shape("n_observations")
          // v3 main table: declared schema from the CSDL $metadata doc
          // (statline.py:241-308); the v4 TODO is resolved by inference.
          val csdlUrl = rawUrl.split('?').head.reverse.dropWhile(_ != '/').reverse + "$metadata"
          val st =
            if (odataVersion == "v3")
              client.get(csdlUrl).flatMap(xml => EdmSchema.fromCsdl(xml, "TData"))
            else None
          (n, st)
        } else (None, None)
      fetchTable(url, nRecords, odataVersion, schema) { df =>
        // v4 Observations: the reference never solved typing for the long
        // format (statline.py:441-443 TODO + the stale-schema quirk). Fix:
        // canonicalize the EAV base columns after inference so `Value` is
        // always a nullable double regardless of what any one page held.
        // DataProperties: warehouse-compat dot rename (A12, main.py:170-180).
        val typed = key match {
          case "Observations"   => canonicalizeObservations(df)
          case "DataProperties" => NameRules.renameDots(df)
          case _                => df
        }
        val out = s"$snapshotDir/$tableName.parquet"
        typed.write.mode(SaveMode.Overwrite).parquet(out)
        (out, typed.schema)
      }
    }
    val written = concurrently(chains).flatten

    // Sidecars (A18): Metadata.json always (raw tree — nested fields and
    // nulls preserved); ColDescriptions.json v3 only.
    Files.writeString(
      Paths.get(snapshotDir, StatlineLayout.sidecarName(source, odataVersion, id, "Metadata")),
      mapper.writeValueAsString(metaNode))
    val colDescs: Map[String, String] =
      if (odataVersion == "v3") dataPropertiesUrl.map(columnDescriptions).getOrElse(Map.empty)
      else Map.empty
    if (odataVersion == "v3") {
      Files.writeString(
        Paths.get(snapshotDir, StatlineLayout.sidecarName(source, odataVersion, id, "ColDescriptions")),
        mapper.writeValueAsString(mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](
          scala.jdk.CollectionConverters.MapHasAsJava(colDescs).asJava)))
    }

    if (endpoint == "catalog") {
      val ns = StatlineLayout.namespace(source, odataVersion, id)
      // reference behavior: always drop-then-recreate (gcpl.py:549-573)
      CatalogLoader.dropNamespace(spark, ns)
      CatalogLoader.createNamespace(spark, ns,
        meta.getOrElse("ShortDescription", meta.getOrElse("Description", "")).take(1000))
      written.foreach { case (path, schema) =>
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
