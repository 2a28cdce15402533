package graft.sources.odata

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StatlineTableProviderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val id = "66666TST"
  private val base = s"https://opendata.cbs.nl/ODataFeed/odata/$id"

  /** 25000 records ⇒ three pages; page 3 is empty (count overshoot). */
  private def writeFixture(): String = {
    val dir = Files.createTempDirectory("graft_dsv2")
    val csdl =
      s"""<?xml version="1.0" encoding="utf-8"?>
         |<edmx:Edmx xmlns:edmx="http://schemas.microsoft.com/ado/2007/06/edmx" Version="1.0">
         |<edmx:DataServices><Schema xmlns="http://schemas.microsoft.com/ado/2009/11/edm" Namespace="Cbs">
         |<EntityType Name="TData">
         |<Property Name="ID" Type="Edm.Int32"/>
         |<Property Name="Waarde" Type="Edm.Double"/>
         |</EntityType></Schema></edmx:DataServices></edmx:Edmx>""".stripMargin
    val payloads = Map(
      s"https://opendata.cbs.nl/ODataCatalog/Tables?$$format=json&$$filter=Identifier eq '$id'" ->
        s"""{"value":[{"Identifier":"$id","Modified":"2024-01-01","RecordCount":25000,"ColumnCount":2}]}""",
      s"$base?$$format=json" ->
        s"""{"value":[{"name":"TypedDataSet","url":"$base/TypedDataSet"},{"name":"Perioden","url":"$base/Perioden"}]}""",
      s"$base/$$metadata" -> csdl,
      s"$base/TypedDataSet?$$format=json" ->
        """{"value":[{"ID":1,"Waarde":1.5},{"ID":2,"Waarde":null}]}""",
      s"$base/TypedDataSet?$$format=json&$$skip=10000" ->
        """{"value":[{"ID":3,"Waarde":3.25}]}""",
      s"$base/TypedDataSet?$$format=json&$$skip=20000" -> """{"value":[]}""",
      s"$base/Perioden?$$format=json" ->
        """{"value":[{"Key":"2018JJ00","Title":"2018","Volgnr":7}]}""",
    )
    var i = 0
    val index = payloads.map { case (url, content) =>
      val fn = s"p$i.json"; i += 1
      Files.writeString(dir.resolve(fn), content)
      s""""${url.replace("\\", "\\\\").replace("\"", "\\\"")}": "$fn""""
    }.mkString("{", ",", "}")
    Files.writeString(dir.resolve("index.json"), index)
    dir.resolve("index.json").toString
  }

  test("DSv2: declared schema, one partition per page, empty page tolerated") {
    val idx = writeFixture()
    val df = spark.read.format("graft.sources.odata.StatlineTableProvider")
      .option("id", id).option("table", "TypedDataSet").option("replayIndex", idx)
      .load()
    assert(df.schema == StructType(Seq(
      StructField("ID", IntegerType), StructField("Waarde", DoubleType))))
    // 3 pages ⇒ 3 input partitions (A4 as planInputPartitions)
    assert(df.rdd.getNumPartitions == 3)
    val rows = df.orderBy("ID").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(rows(1).isNullAt(1))
  }

  test("DSv2: column pruning reaches the connector's read schema") {
    val idx = writeFixture()
    val df = spark.read.format("graft.sources.odata.StatlineTableProvider")
      .option("id", id).option("table", "TypedDataSet").option("replayIndex", idx)
      .load()
      .select("ID")
    val scan = df.queryExecution.executedPlan.toString
    // the BatchScan's output carries only the pruned column
    assert(scan.contains("BatchScan statline[ID#") && !scan.contains("Waarde"),
      s"pruning missing:\n$scan")
    assert(df.count() == 3)
  }

  test("DSv2: predicates reach the page urls as OData $filter") {
    // serve ONLY the filtered urls: correct results prove the connector
    // narrowed the request server-side (and Spark's residual re-filter is
    // harmless on the already-filtered payload)
    val dir = Files.createTempDirectory("graft_dsv2_filter")
    val filteredBase = s"$base/TypedDataSet?$$format=json&$$filter=ID gt 1"
    val payloads = Map(
      s"https://opendata.cbs.nl/ODataCatalog/Tables?$$format=json&$$filter=Identifier eq '$id'" ->
        s"""{"value":[{"Identifier":"$id","Modified":"2024-01-01","RecordCount":15000,"ColumnCount":2}]}""",
      s"$base?$$format=json" ->
        s"""{"value":[{"name":"TypedDataSet","url":"$base/TypedDataSet"}]}""",
      s"$base/$$metadata" ->
        s"""<?xml version="1.0"?><edmx:Edmx xmlns:edmx="x"><edmx:DataServices><Schema xmlns="y"><EntityType Name="TData"><Property Name="ID" Type="Edm.Int32"/><Property Name="Waarde" Type="Edm.Double"/></EntityType></Schema></edmx:DataServices></edmx:Edmx>""",
      filteredBase -> """{"value":[{"ID":2,"Waarde":2.5},{"ID":3,"Waarde":3.5}]}""",
      s"$filteredBase&$$skip=10000" -> """{"value":[]}""",
    )
    var i = 0
    val index = payloads.map { case (url, content) =>
      val fn = s"f$i.json"; i += 1
      Files.writeString(dir.resolve(fn), content)
      s""""${url.replace("\"", "\\\"")}": "$fn""""
    }.mkString("{", ",", "}")
    Files.writeString(dir.resolve("index.json"), index)
    val df = spark.read.format("graft.sources.odata.StatlineTableProvider")
      .option("id", id).option("table", "TypedDataSet")
      .option("replayIndex", dir.resolve("index.json").toString)
      .load()
      .filter("ID > 1")
    assert(df.orderBy("ID").collect().map(_.getInt(0)).toSeq == Seq(2, 3))
  }

  test("DSv2: v4 + pushed $filter + multipage uses '&' for $skip pages") {
    // v4 bases carry no '?': a pushed filter adds one, and $skip pages must
    // then connect with '&' — keying the connector on the OData version
    // would produce 'base?$filter=f?$skip=100000' and silently drop pages
    val v4id = "55555TST"
    val v4base = ODataUrls.v4Base(v4id)
    val dir = Files.createTempDirectory("graft_dsv2_v4filter")
    val filteredBase = s"$v4base/Observations?$$filter=Id gt 0"
    val payloads = Map(
      v4base ->
        s"""{"value":[{"name":"Properties","url":"Properties"},{"name":"Observations","url":"Observations"}]}""",
      s"$v4base/Properties" ->
        s"""{"Identifier":"$v4id","Modified":"2024-01-01","ObservationCount":150000}""",
      s"$v4base/Observations" ->
        """{"value":[{"Id":0,"Measure":"M1","Value":1.5}]}""",
      filteredBase -> """{"value":[{"Id":1,"Measure":"M1","Value":2.5}]}""",
      s"$filteredBase&$$skip=100000" -> """{"value":[{"Id":100001,"Measure":"M2","Value":9.5}]}""",
    )
    var i = 0
    val index = payloads.map { case (url, content) =>
      val fn = s"v$i.json"; i += 1
      Files.writeString(dir.resolve(fn), content)
      s""""${url.replace("\"", "\\\"")}": "$fn""""
    }.mkString("{", ",", "}")
    Files.writeString(dir.resolve("index.json"), index)
    val df = spark.read.format("graft.sources.odata.StatlineTableProvider")
      .option("id", v4id).option("table", "Observations")
      .option("replayIndex", dir.resolve("index.json").toString)
      .load()
      .filter("Id > 0")
    // both filtered pages read ⇒ the $skip connector was '&' (a malformed
    // second-page url would now raise, not truncate)
    assert(df.orderBy("Id").collect().map(_.getLong(0)).toSeq == Seq(1L, 100001L))
  }

  test("DSv2: a missing mid-pagination page raises instead of truncating") {
    val v4id = "44444TST"
    val v4base = ODataUrls.v4Base(v4id)
    val dir = Files.createTempDirectory("graft_dsv2_gap")
    val payloads = Map(
      v4base ->
        s"""{"value":[{"name":"Properties","url":"Properties"},{"name":"Observations","url":"Observations"}]}""",
      s"$v4base/Properties" ->
        s"""{"Identifier":"$v4id","Modified":"2024-01-01","ObservationCount":150000}""",
      s"$v4base/Observations" ->
        """{"value":[{"Id":0,"Measure":"M1","Value":1.5}]}""",
      // $skip=100000 page deliberately absent from the replay index
    )
    var i = 0
    val index = payloads.map { case (url, content) =>
      val fn = s"g$i.json"; i += 1
      Files.writeString(dir.resolve(fn), content)
      s""""${url.replace("\"", "\\\"")}": "$fn""""
    }.mkString("{", ",", "}")
    Files.writeString(dir.resolve("index.json"), index)
    val df = spark.read.format("graft.sources.odata.StatlineTableProvider")
      .option("id", v4id).option("table", "Observations")
      .option("replayIndex", dir.resolve("index.json").toString)
      .load()
    val e = intercept[org.apache.spark.SparkException](df.count())
    assert(e.getMessage.contains("missing pagination page") ||
      Option(e.getCause).exists(_.getMessage.contains("missing pagination page")))
  }

  test("OData filter translation: supported shapes and conservative bailout") {
    import org.apache.spark.sql.sources._
    assert(ODataFilters.translate(EqualTo("Perioden", "2018JJ00")).contains("Perioden eq '2018JJ00'"))
    assert(ODataFilters.translate(GreaterThan("ID", 5)).contains("ID gt 5"))
    assert(ODataFilters.translate(And(GreaterThanOrEqual("ID", 1), LessThan("ID", 9)))
      .contains("(ID ge 1 and ID lt 9)"))
    assert(ODataFilters.translate(EqualTo("Key", "o'conner")).contains("Key eq 'o''conner'"))
    assert(ODataFilters.translate(StringContains("Key", "x")).isEmpty) // no OData analog used
    // '&'/'#' in a value can't be unambiguously embedded in a query string
    assert(ODataFilters.translate(EqualTo("Key", "a&b")).isEmpty)
    assert(ODataFilters.translate(EqualTo("Key", "a#b")).isEmpty)
    assert(ODataFilters.translate(EqualTo("Key", "a+b %")).isDefined) // encodable at send time
    assert(ODataFilters.translate(And(EqualTo("A", 1), StringContains("B", "x"))).isEmpty)
  }

  test("DSv2: a rewritten source is resolved again on the next load") {
    val dir = Files.createTempDirectory("graft_dsv2_rewrite")
    val tablesUrl =
      s"https://opendata.cbs.nl/ODataCatalog/Tables?$$format=json&$$filter=Identifier eq '$id'"
    val typedUrl = s"$base/TypedDataSet?$$format=json"
    def csdl(props: String*) =
      """<edmx:Edmx xmlns:edmx="x"><edmx:DataServices><Schema xmlns="y"><EntityType Name="TData">""" +
        props.map(p => s"""<Property Name="$p" Type="Edm.Int32"/>""").mkString +
        "</EntityType></Schema></edmx:DataServices></edmx:Edmx>"
    // the index and its payload files, written at the same paths each time
    def publish(payloads: Seq[(String, String)]): String = {
      val index = payloads.zipWithIndex.map { case ((url, content), i) =>
        Files.writeString(dir.resolve(s"r$i.json"), content)
        s""""${url.replace("\"", "\\\"")}": "r$i.json""""
      }.mkString("{", ",", "}")
      Files.writeString(dir.resolve("index.json"), index)
      dir.resolve("index.json").toString
    }
    def load(idx: String) = spark.read.format("graft.sources.odata.StatlineTableProvider")
      .option("id", id).option("table", "TypedDataSet").option("replayIndex", idx)
      .load()
    def catalog(records: Int) =
      s"""{"value":[{"Identifier":"$id","Modified":"2024-01-01","RecordCount":$records,"ColumnCount":2}]}"""
    val datasets = s"""{"value":[{"name":"TypedDataSet","url":"$base/TypedDataSet"}]}"""

    val idx = publish(Seq(
      tablesUrl -> catalog(2),
      s"$base?$$format=json" -> datasets,
      s"$base/$$metadata" -> csdl("ID", "Waarde"),
      typedUrl -> """{"value":[{"ID":1,"Waarde":10},{"ID":2,"Waarde":20}]}"""))
    val before = load(idx)
    assert(before.schema.fieldNames.toSeq == Seq("ID", "Waarde"))
    assert(before.collect().length == 2)

    // one more column, and 15000 records ⇒ a second page
    assert(publish(Seq(
      tablesUrl -> catalog(15000),
      s"$base?$$format=json" -> datasets,
      s"$base/$$metadata" -> csdl("ID", "Waarde", "Extra"),
      typedUrl -> """{"value":[{"ID":1,"Waarde":10,"Extra":5},{"ID":2,"Waarde":20,"Extra":6}]}""",
      s"$typedUrl&$$skip=10000" -> """{"value":[{"ID":3,"Waarde":30,"Extra":7}]}""")) == idx)
    val after = load(idx)
    assert(after.schema == StructType(Seq("ID", "Waarde", "Extra").map(StructField(_, IntegerType))))
    assert(after.orderBy("ID").collect().map(_.getInt(2)).toSeq == Seq(5, 6, 7))
  }

  test("DSv2: dimension table schema is first-page inferred") {
    val idx = writeFixture()
    val df = spark.read.format("graft.sources.odata.StatlineTableProvider")
      .option("id", id).option("table", "Perioden").option("replayIndex", idx)
      .load()
    assert(df.schema == StructType(Seq(
      StructField("Key", StringType), StructField("Title", StringType),
      StructField("Volgnr", LongType))))
    assert(df.count() == 1)
  }

  test("DSv2: declared Decimal, DateTime and Date columns read as spark.read.json reads them") {
    val dir = Files.createTempDirectory("graft_dsv2_types")
    val typedUrl = s"$base/TypedDataSet?$$format=json"
    val rows = """[{"ID":1,"Bedrag":12.34,"Tijdstip":"2024-01-02T03:04:05","Dag":"2024-01-02"},""" +
      """{"ID":2,"Bedrag":null,"Tijdstip":null,"Dag":null}]"""
    val payloads = Map(
      s"https://opendata.cbs.nl/ODataCatalog/Tables?$$format=json&$$filter=Identifier eq '$id'" ->
        s"""{"value":[{"Identifier":"$id","Modified":"2024-01-01","RecordCount":2,"ColumnCount":4}]}""",
      s"$base?$$format=json" -> s"""{"value":[{"name":"TypedDataSet","url":"$base/TypedDataSet"}]}""",
      s"$base/$$metadata" -> (
        """<edmx:Edmx xmlns:edmx="x"><edmx:DataServices><Schema xmlns="y"><EntityType Name="TData">""" +
        """<Property Name="ID" Type="Edm.Int32"/><Property Name="Bedrag" Type="Edm.Decimal" Precision="10" Scale="2"/>""" +
        """<Property Name="Tijdstip" Type="Edm.DateTime"/><Property Name="Dag" Type="Edm.Date"/>""" +
        """</EntityType></Schema></edmx:DataServices></edmx:Edmx>"""),
      typedUrl -> s"""{"value":$rows}""")
    val index = payloads.zipWithIndex.map { case ((url, content), i) =>
      Files.writeString(dir.resolve(s"t$i.json"), content)
      s""""${url.replace("\"", "\\\"")}": "t$i.json""""
    }.mkString("{", ",", "}")
    Files.writeString(dir.resolve("index.json"), index)
    val df = spark.read.format("graft.sources.odata.StatlineTableProvider")
      .option("id", id).option("table", "TypedDataSet")
      .option("replayIndex", dir.resolve("index.json").toString)
      .load()
    assert(df.schema.map(_.dataType) == Seq(IntegerType, DecimalType(10, 2), TimestampType, DateType))
    import spark.implicits._
    val viaJson = spark.read.schema(df.schema).json(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(rows).elements()
        .asScala.map(_.toString).toSeq.toDS())
    val read = df.orderBy("ID").collect().toSeq
    assert(read == viaJson.orderBy("ID").collect().toSeq)
    assert(read.head.getDecimal(1) == new java.math.BigDecimal("12.34"))
  }
}
