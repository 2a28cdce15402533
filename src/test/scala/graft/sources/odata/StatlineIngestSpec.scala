package graft.sources.odata

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.{CatalogLoader, StatlineLayout}

/** End-to-end ingest against an offline replay of the CBS OData protocol —
  * the Spark analog of the reference's golden-fixture tests
  * (tests/test_statline_bq.py:151-219), with fixtures synthesized here
  * (shape-compatible, content original).
  */
class StatlineIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val id = "99999TST"
  private val v3Base = s"https://opendata.cbs.nl/ODataFeed/odata/$id"

  private def page(rows: String*) = s"""{"odata.metadata":"x","value":[${rows.mkString(",")}]}"""

  private val csdl =
    s"""<?xml version="1.0" encoding="utf-8"?>
       |<edmx:Edmx xmlns:edmx="http://schemas.microsoft.com/ado/2007/06/edmx" Version="1.0">
       |<edmx:DataServices><Schema xmlns="http://schemas.microsoft.com/ado/2009/11/edm" Namespace="Cbs">
       |<EntityType Name="TData">
       |<Property Name="ID" Type="Edm.Int32"/>
       |<Property Name="Perioden" Type="Edm.String"/>
       |<Property Name="Banen_1" Type="Edm.Double"/>
       |</EntityType></Schema></edmx:DataServices></edmx:Edmx>""".stripMargin

  /** Main-table row count 15000 ⇒ two pages at the v3 10k page size. */
  private def v3Fixture(modified: String): Map[String, String] = Map(
    // version probe: no v4 root ⇒ v3 (absence = None in ReplayClient)
    ODataUrls.v3CatalogUrl(id, thirdParty = false) ->
      s"""{"value":[{"Identifier":"$id","Title":"Test dataset","ShortDescription":"a test set","Modified":"$modified","RecordCount":15000,"ColumnCount":3}]}""",
    s"$v3Base?$$format=json" ->
      s"""{"value":[
          {"name":"TableInfos","url":"$v3Base/TableInfos"},
          {"name":"UntypedDataSet","url":"$v3Base/UntypedDataSet"},
          {"name":"TypedDataSet","url":"$v3Base/TypedDataSet"},
          {"name":"DataProperties","url":"$v3Base/DataProperties"},
          {"name":"CategoryGroups","url":"$v3Base/CategoryGroups"},
          {"name":"Perioden","url":"$v3Base/Perioden"}]}""",
    s"$v3Base/$$metadata" -> csdl,
    s"$v3Base/TypedDataSet?$$format=json" ->
      page("""{"ID":1,"Perioden":"2018JJ00","Banen_1":10.5}""",
           """{"ID":2,"Perioden":"2018JJ00","Banen_1":null}"""),
    s"$v3Base/TypedDataSet?$$format=json&$$skip=10000" ->
      page("""{"ID":3,"Perioden":"2019JJ00","Banen_1":7.25}"""),
    s"$v3Base/DataProperties?$$format=json" ->
      page("""{"odata.type":"Cbs.Dimension","Key":"Perioden","Description":"Periods\nof time"}""",
           s"""{"odata.type":"Cbs.Topic","Key":"Banen_1","Description":"${"d" * 2000}"}"""),
    s"$v3Base/CategoryGroups?$$format=json" -> page(), // empty table (A15)
    s"$v3Base/Perioden?$$format=json" ->
      page("""{"Key":"2018JJ00","Title":"2018","Description":null}""",
           """{"Key":"2019JJ00","Title":"2019","Description":null}"""),
  )

  private val v4Id = "88888TST"
  private val v4Base = ODataUrls.v4Base(v4Id)
  private val v4Fixture: Map[String, String] = Map(
    v4Base ->
      s"""{"value":[
          {"name":"Properties","url":"Properties"},
          {"name":"Observations","url":"Observations"},
          {"name":"MeasureCodes","url":"MeasureCodes"}]}""",
    s"$v4Base/Properties" ->
      """{"Identifier":"88888TST","Description":"v4 test","Modified":"2024-02-02T00:00:00","ObservationCount":2}""",
    // Value deliberately integer-only in the json: inference would type it
    // long; canonicalization must force the EAV double.
    s"$v4Base/Observations" ->
      page("""{"Id":0,"Measure":"M1","Value":2,"StringValue":null}""",
           """{"Id":1,"Measure":"M2","Value":null,"StringValue":"x"}"""),
    s"$v4Base/MeasureCodes" ->
      page("""{"Identifier":"M1","Title":"Measure one"}""",
           """{"Identifier":"M2","Title":"Measure two"}"""),
  )

  test("v3 ingest: layout, declared schema, empty-table skip, sidecars, catalog") {
    val root = Files.createTempDirectory("graft_ingest_v3").toString
    val ingest = new StatlineIngest(spark, ReplayClient(v3Fixture("2024-01-01T00:00:00")))
    val res = ingest.run(id, root, endpoint = "catalog", date = LocalDate.of(2024, 3, 1))

    assert(!res.skipped)
    assert(res.snapshotDir == s"$root/cbs/v3/$id/20240301")
    val names = res.parquetPaths.map(_.split('/').last).toSet
    // deny-listed + empty tables absent; others present with naming contract
    assert(names == Set(
      s"cbs.v3.${id}_TypedDataSet.parquet",
      s"cbs.v3.${id}_DataProperties.parquet",
      s"cbs.v3.${id}_Perioden.parquet"))

    // declared CSDL schema applied (not inferred): ID is int32, both pages read
    val main = spark.read.parquet(s"${res.snapshotDir}/cbs.v3.${id}_TypedDataSet.parquet")
    assert(main.schema == StructType(Seq(
      StructField("ID", IntegerType), StructField("Perioden", StringType),
      StructField("Banen_1", DoubleType))))
    assert(main.count() == 3)

    // sidecars: metadata + cleaned/truncated column descriptions
    val metaJson = Files.readString(Paths.get(res.snapshotDir, s"cbs.v3.${id}_Metadata.json"))
    assert(metaJson.contains("\"Modified\":\"2024-01-01T00:00:00\""))
    val colDescJson = Files.readString(Paths.get(res.snapshotDir, s"cbs.v3.${id}_ColDescriptions.json"))
    assert(colDescJson.contains("Periodsof time")) // newline stripped (A11)
    assert(colDescJson.contains("ddd..."))         // truncated at 1023 (A11)

    // catalog endpoint: external tables queryable, comments applied
    assert(spark.table(s"cbs_v3_$id.${id}_TypedDataSet").count() == 3)
    val comment = spark.sql(s"DESCRIBE TABLE cbs_v3_$id.${id}_TypedDataSet")
      .filter("col_name = 'Perioden'").select("comment").head().getString(0)
    assert(comment == "Periodsof time")

    // A17: unchanged Modified ⇒ skip; force ⇒ re-run
    val res2 = ingest.run(id, root, date = LocalDate.of(2024, 3, 2))
    assert(res2.skipped)
    val res3 = ingest.run(id, root, force = true, date = LocalDate.of(2024, 3, 2))
    assert(!res3.skipped)
    // A16: a newer Modified date ingests to a new dated folder; latest wins
    val ingest2 = new StatlineIngest(spark, ReplayClient(v3Fixture("2024-05-05T00:00:00")))
    val res4 = ingest2.run(id, root, date = LocalDate.of(2024, 6, 1))
    assert(!res4.skipped && res4.snapshotDir.endsWith("20240601"))
    CatalogLoader.dropNamespace(spark, s"cbs_v3_$id")
  }

  test("v4 ingest: version probe, relative urls, long-format main table") {
    val root = Files.createTempDirectory("graft_ingest_v4").toString
    val ingest = new StatlineIngest(spark, ReplayClient(v4Fixture))
    val res = ingest.run(v4Id, root, date = LocalDate.of(2024, 3, 1))
    assert(!res.skipped)
    assert(res.snapshotDir == s"$root/cbs/v4/$v4Id/20240301")
    val names = res.parquetPaths.map(_.split('/').last).toSet
    assert(names == Set(
      s"cbs.v4.${v4Id}_Observations.parquet",
      s"cbs.v4.${v4Id}_MeasureCodes.parquet"))
    val obs = spark.read.parquet(s"${res.snapshotDir}/cbs.v4.${v4Id}_Observations.parquet")
    assert(obs.count() == 2)
    // canonical EAV typing despite integer-only page values
    assert(obs.schema("Value").dataType == DoubleType)
    assert(obs.schema("Id").dataType == LongType)
    // no ColDescriptions sidecar for v4 (main.py:356-357)
    assert(!Files.exists(Paths.get(res.snapshotDir, s"cbs.v4.${v4Id}_ColDescriptions.json")))
    assert(Files.exists(Paths.get(res.snapshotDir, s"cbs.v4.${v4Id}_Metadata.json")))
  }

  /** Runs `body` and returns its result with the Spark jobs it launched and
    * the logical plan names of the eager commands it executed.
    */
  private def counted[T](body: => T): (T, Int, Seq[String]) = {
    val jobs = new AtomicInteger
    val commands = new ConcurrentLinkedQueue[String]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val commandListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "command") commands.add(qe.logical.nodeName)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(commandListener)
    try {
      val r = body
      ListenerBusDrain(spark.sparkContext)
      (r, jobs.get, commands.asScala.toSeq)
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(commandListener)
    }
  }

  test("catalog ingest: one job per written table, none per empty; every page fetched once; only the writes are commands") {
    val root = Files.createTempDirectory("graft_ingest_jobs").toString
    val date = LocalDate.of(2024, 3, 1)
    CountingClient.urls.clear()
    val (v3, v3Jobs, v3Commands) = counted(
      new StatlineIngest(spark, CountingClient(ReplayClient(v3Fixture("2024-01-01T00:00:00"))))
        .run(id, root, endpoint = "catalog", date = date))
    // TypedDataSet (two pages), DataProperties and Perioden: one write job
    // each; CategoryGroups a single empty page
    assert(v3Jobs == 3)
    // driver probes, executor pages and the ColDescriptions sidecar share
    // their fetches: no url is requested twice
    val fetched = CountingClient.urls.asScala.toSeq
    assert(fetched.size == fetched.distinct.size, fetched.diff(fetched.distinct))
    val (v4, v4Jobs, v4Commands) = counted(
      new StatlineIngest(spark, ReplayClient(v4Fixture))
        .run(v4Id, root, endpoint = "catalog", date = date))
    assert(v4Jobs == 2) // Observations and MeasureCodes
    // the catalog step plans no command: only the parquet writes are
    Seq(v3 -> v3Commands, v4 -> v4Commands).foreach { case (res, commands) =>
      assert(commands == Seq.fill(res.parquetPaths.size)("InsertIntoHadoopFsRelationCommand"), commands)
    }
    // one file per page that holds rows
    Seq(v3, v4).flatMap(_.parquetPaths).foreach { path =>
      val files = new java.io.File(path).list().count(_.endsWith(".parquet"))
      assert(files == (if (path.endsWith("_TypedDataSet.parquet")) 2 else 1), path)
    }

    // every registered table has the schema its files were written with
    Seq((v3, "v3", id), (v4, "v4", v4Id)).foreach { case (res, version, ds) =>
      res.parquetPaths.foreach { path =>
        val table = StatlineLayout.warehouseTableId(path.split('/').last)
        val registered = spark.table(s"${StatlineLayout.namespace("cbs", version, ds)}.$table")
        assert(registered.schema.map(f => (f.name, f.dataType)) ==
          spark.read.parquet(path).schema.map(f => (f.name, f.dataType)), path)
      }
    }
    val main = spark.table(s"cbs_v3_$id.${id}_TypedDataSet").schema
    assert(main("Perioden").getComment().contains("Periodsof time"))
    assert(main("Banen_1").getComment().exists(c => c.length == 1023 && c.endsWith("...")))
    assert(main("ID").getComment().isEmpty)
    CatalogLoader.dropNamespace(spark, s"cbs_v3_$id")
    CatalogLoader.dropNamespace(spark, s"cbs_v4_$v4Id")
  }

  test("the catalog holds the entries CREATE DATABASE and spark.catalog.createTable would make") {
    val root = Files.createTempDirectory("graft_ingest_catalog").toString
    val res = new StatlineIngest(spark, ReplayClient(v3Fixture("2024-01-01T00:00:00")))
      .run(id, root, endpoint = "catalog", date = LocalDate.of(2024, 3, 1))
    val ns = s"cbs_v3_$id"
    val catalog = spark.sessionState.catalog
    val database = catalog.getDatabaseMetadata(ns)
    val tables = res.parquetPaths.map { path =>
      val table = TableIdentifier(StatlineLayout.warehouseTableId(path.split('/').last), Some(ns))
      (table, path, catalog.getTableMetadata(table))
    }
    spark.sql(s"DROP DATABASE `$ns` CASCADE")
    spark.sql(s"CREATE DATABASE `$ns` COMMENT 'a test set'")
    assert(catalog.getDatabaseMetadata(ns) == database)
    tables.foreach { case (table, path, registered) =>
      spark.catalog.createTable(s"`$ns`.`${table.table}`", "parquet", registered.schema,
        Map("path" -> path))
      val made = catalog.getTableMetadata(table)
      assert(made == registered.copy(createTime = made.createTime))
      assert(registered.storage.properties == Map("path" -> path))
    }
    CatalogLoader.dropNamespace(spark, ns)
  }

  /** The schema the ingest wrote before driver-side inference:
    * `spark.read.json` over all of a table's rows, reordered to the first
    * row's fields, the inferred-only ones after.
    */
  private def sparkInferred(pages: Seq[String]): StructType = {
    import spark.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = pages.flatMap(p => mapper.readTree(p).get("value").elements().asScala.map(_.toString))
    val inferred = spark.read.json(rows.toDS())
    val first = mapper.readTree(rows.head).fieldNames().asScala.toSeq
    val order = first.filter(inferred.columns.toSet) ++ inferred.columns.filterNot(first.toSet)
    StructType(order.map(n => inferred.schema(n)))
  }

  test("first-page inference equals spark.read.json's wire-ordered schema") {
    def tablePages(fixture: Map[String, String], prefix: String) =
      fixture.filter { case (url, body) => url.startsWith(prefix) && body.startsWith("""{"odata.metadata"""") }
        .groupBy { case (url, _) => url.split("[?&]\\$skip").head }
        .map { case (table, pages) => table -> pages.toSeq.sortBy(_._1.length).map(_._2) }
    val fixtures = tablePages(v3Fixture("2024-01-01T00:00:00"), v3Base) ++ tablePages(v4Fixture, v4Base)
    val r = new scala.util.Random(7)
    def money = if (r.nextDouble() < 0.03) "null" else "%.2f".formatLocal(java.util.Locale.ROOT, r.nextDouble() * 100)
    // benchmark-shaped rows: ints, strings, two-decimal doubles with nulls,
    // an all-null column, int+double mixes, booleans, a dotted name, and a
    // field only later rows hold
    val bench = Seq(page((0 until 500).map { i =>
      s"""{"ID":$i,"RegioS":"GM${i % 40}","Perioden":"${1995 + i % 30}JJ00","Topic0_1":$money,""" +
        s""""Topic1_2":$money,"StringValue":null,"Value":${if (i % 2 == 0) i else s"$i.5"},""" +
        s""""Flag":${i % 3 == 0},"odata.type":"Cbs.Topic"${if (i > 0) s""","Late":$i""" else ""}}"""
    }: _*))
    (fixtures.values.filter(_.exists(!_.contains(""""value":[]"""))) ++ Seq(bench)).foreach { pages =>
      val probe = ReplayClient(pages.zipWithIndex.map { case (p, i) => s"u$i" -> p }.toMap)
      val (_, rows) = ODataRows.firstRows(probe, pages.indices.map(i => s"u$i")).get
      val expected = sparkInferred(pages)
      assert(ODataRows.inferSchema(rows) == expected, pages.head.take(200))
    }
  }

  test("a value that does not fit its declared type fails the ingest with the column and page") {
    val skipUrl = s"$v3Base/TypedDataSet?$$format=json&$$skip=10000"
    val bad = v3Fixture("2024-01-01T00:00:00") +
      (skipUrl -> page("""{"ID":3,"Perioden":"2019JJ00","Banen_1":"n/a"}"""))
    val e = intercept[Exception](new StatlineIngest(spark, ReplayClient(bad))
      .run(id, Files.createTempDirectory("graft_ingest_misfit").toString, date = LocalDate.of(2024, 3, 1)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(t =>
      String.valueOf(t.getMessage).contains("column Banen_1:") &&
        String.valueOf(t.getMessage).contains(skipUrl)), e)
  }

  test("a re-ingest with a page gap throws after all its chains end; the catalog keeps the old snapshot") {
    val root = Files.createTempDirectory("graft_ingest_gap").toString
    new StatlineIngest(spark, ReplayClient(v3Fixture("2024-01-01T00:00:00")))
      .run(id, root, endpoint = "catalog", date = LocalDate.of(2024, 3, 1))
    val gap = v3Fixture("2024-05-05T00:00:00") - s"$v3Base/TypedDataSet?$$format=json&$$skip=10000"
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](
      new StatlineIngest(spark, SlowClient(ReplayClient(gap), s"$v3Base/Perioden?$$format=json"))
        .run(id, root, endpoint = "catalog", date = LocalDate.of(2024, 6, 1)))
    assert(!e.isInstanceOf[ExecutionException])
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("missing pagination page")), e)
    // the slow chain wrote its table before the throw; nothing still fetches
    assert(Files.exists(Paths.get(s"$root/cbs/v3/$id/20240601/cbs.v3.${id}_Perioden.parquet/_SUCCESS")))
    assert(SlowClient.inFlight.get == 0)
    // no page cache outlives the failed run
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    val main = spark.table(s"cbs_v3_$id.${id}_TypedDataSet")
    assert(main.count() == 3)
    assert(main.inputFiles.nonEmpty && main.inputFiles.forall(_.contains("/20240301/")))
    CatalogLoader.dropNamespace(spark, s"cbs_v3_$id")
  }

  test("a multi-page table whose first page is empty is still ingested") {
    val root = Files.createTempDirectory("graft_ingest_empty_first").toString
    // 100001 observations: pages at 0 and $skip=100000, only the second holds rows
    val fixture = v4Fixture ++ Map(
      s"$v4Base/Properties" ->
        """{"Identifier":"88888TST","Description":"v4 test","Modified":"2024-02-02T00:00:00","ObservationCount":100001}""",
      s"$v4Base/Observations" -> page(),
      s"$v4Base/Observations?$$skip=100000" ->
        page("""{"Id":5,"Measure":"M1","Value":1.5,"StringValue":null}"""))
    val res = new StatlineIngest(spark, ReplayClient(fixture))
      .run(v4Id, root, date = LocalDate.of(2024, 3, 1))
    val obs = spark.read.parquet(s"${res.snapshotDir}/cbs.v4.${v4Id}_Observations.parquet")
    assert(obs.columns.toSeq == Seq("Id", "Measure", "Value", "StringValue")) // wire order
    assert(obs.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq == Seq((5L, 1.5)))
  }

  test("pagination math matches the reference (10k/100k, base first)") {
    assert(ODataUrls.pageUrls("http://x?$format=json", Some(15000L), "v3") == Seq(
      "http://x?$format=json", "http://x?$format=json&$skip=10000"))
    assert(ODataUrls.pageUrls("http://x?$format=json", Some(30000L), "v3").size == 4)
    assert(ODataUrls.pageUrls("http://x", Some(250000L), "v4") == Seq(
      "http://x", "http://x?$skip=100000", "http://x?$skip=200000"))
    assert(ODataUrls.pageUrls("http://x", None, "v3") == Seq("http://x"))
    // exact multiple: 20000 rows ⇒ pages at 0 and 10000 plus the (empty) 20000
    assert(ODataUrls.pageUrls("http://x?$format=json", Some(20000L), "v3").size == 3)
  }

  test("pagination properties: full coverage, no overlap, base first") {
    val limits = Map("v3" -> 10000L, "v4" -> 100000L)
    for (version <- Seq("v3", "v4"); n <- Seq(1L, 9999L, 10000L, 10001L, 99999L, 250000L, 1000001L)) {
      val base = if (version == "v3") "http://x?$format=json" else "http://x"
      val urls = ODataUrls.pageUrls(base, Some(n), version)
      val limit = limits(version)
      // one page per started limit-block, plus the page straddling an exact multiple
      assert(urls.size == (n / limit) + 1, s"$version n=$n -> ${urls.size}")
      assert(urls.head == base)
      val skips = urls.tail.map(_.split("skip=").last.toLong)
      assert(skips == (1L to n / limit).map(_ * limit), s"$version n=$n skips=$skips")
      assert(skips.distinct.size == skips.size)
      assert(skips.forall(_ <= n)) // never skips past the data
    }
  }

  test("HttpClient encodes query parameter values component-wise") {
    val c = new HttpClient
    // spaces and quotes in a $filter value
    assert(c.encodeQueryValues("https://h/T?$format=json&$filter=Identifier eq 'X Y'")
      == "https://h/T?$format=json&$filter=Identifier%20eq%20%27X%20Y%27")
    // reserved characters that the old space-only encoding passed through
    assert(c.encodeQueryValues("https://h/T?$filter=Key eq 'a+b %'")
      == "https://h/T?$filter=Key%20eq%20%27a%2Bb%20%25%27")
    // no query string: untouched
    assert(c.encodeQueryValues("https://h/CBS/83583NED") == "https://h/CBS/83583NED")
    // $skip pages keep their numeric values intact
    assert(c.encodeQueryValues("https://h/T?$format=json&$skip=10000")
      == "https://h/T?$format=json&$skip=10000")
  }

  test("version probe: third-party always v3; v4 iff root answers") {
    val c = ReplayClient(Map(ODataUrls.v4Base("A") -> "{}"))
    assert(ODataUrls.checkV4(c, "A", thirdParty = false) == "v4")
    assert(ODataUrls.checkV4(c, "A", thirdParty = true) == "v3")
    assert(ODataUrls.checkV4(c, "B", thirdParty = false) == "v3")
  }
}

/** Delays every fetch of `slowUrl` (driver probe and executor page alike)
  * and counts the fetches in flight across all copies of the client.
  */
final case class SlowClient(inner: StatlineClient, slowUrl: String) extends StatlineClient {
  override def get(url: String): Option[String] = {
    SlowClient.inFlight.incrementAndGet()
    try {
      if (url == slowUrl) Thread.sleep(500)
      inner.get(url)
    } finally SlowClient.inFlight.decrementAndGet()
  }
}

object SlowClient {
  val inFlight = new AtomicInteger
}

/** Records every url fetched, across all copies of the client. */
final case class CountingClient(inner: StatlineClient) extends StatlineClient {
  override def get(url: String): Option[String] = {
    CountingClient.urls.add(url)
    inner.get(url)
  }
}

object CountingClient {
  val urls = new ConcurrentLinkedQueue[String]
}
