package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CatalogLoaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("A20-A24: namespace + external table + column comments round-trip") {
    val ns = StatlineLayout.namespace("cbs", "v3", "83583TEST")
    assert(ns == "cbs_v3_83583TEST")
    CatalogLoader.dropNamespace(spark, ns)
    CatalogLoader.createNamespace(spark, ns, "test dataset: 'quoted'")
    assert(CatalogLoader.namespaceExists(spark, ns))
    assert(spark.catalog.getDatabase(ns).description == "test dataset: 'quoted'")
    // idempotent create (reference swallows Conflict, gcpl.py:388-393)
    CatalogLoader.createNamespace(spark, ns, "test dataset: 'quoted'")

    val location = s"${TestSpark.Sf0001}/region.parquet"
    val schema = spark.read.parquet(location).schema
    val desc = Map("r_name" -> ("region name\nwith newline" + "x" * 2000), "missing" -> "ignored",
      "r_comment" -> null)
    CatalogLoader.registerExternalTable(spark, ns, "region", location, schema, desc)
    assert(spark.table(s"$ns.region").count() == 5)
    // external: dropping the namespace must leave the files in place
    assert(spark.catalog.getTable(s"$ns.region").tableType == "EXTERNAL")
    // registered schema = the files' schema; comments only where described
    val registered = spark.table(s"$ns.region").schema
    assert(registered.map(f => (f.name, f.dataType, f.nullable)) ==
      schema.map(f => (f.name, f.dataType, f.nullable)))
    assert(registered.fields.flatMap(_.getComment()).length == 1)
    val comment = spark.sql(s"DESCRIBE TABLE $ns.region")
      .filter("col_name = 'r_name'").select("comment").head().getString(0)
    assert(comment.startsWith("region namewith newline"))
    assert(comment.length == 1023 && comment.endsWith("..."))
    // the missing column is ignored, not added
    assert(!spark.table(s"$ns.region").columns.contains("missing"))

    CatalogLoader.dropNamespace(spark, ns)
    assert(!CatalogLoader.namespaceExists(spark, ns))
    assert(spark.read.parquet(location).count() == 5)
  }

  test("layout contract: names, paths, latest-folder") {
    assert(StatlineLayout.tableName("cbs", "v3", "83583NED", "TypedDataSet")
      == "cbs.v3.83583NED_TypedDataSet")
    assert(StatlineLayout.sidecarName("cbs", "v4", "83765NED", "Metadata")
      == "cbs.v4.83765NED_Metadata.json")
    assert(StatlineLayout.datasetPath("/data", "cbs", "v3", "X", java.time.LocalDate.of(2020, 12, 14))
      == "/data/cbs/v3/X/20201214")
    assert(StatlineLayout.latestFolder(Seq("20201214", "20210103", "20201231")).contains("20210103"))
    assert(StatlineLayout.latestFolder(Nil).isEmpty)
    assert(StatlineLayout.warehouseTableId("cbs.v3.83583NED_TypedDataSet.parquet")
      == "83583NED_TypedDataSet")
  }

  test("A7: ndjson → parquet with declared schema round-trips") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ndjson_test")
    val nd = tmp.resolve("page0.ndjson")
    java.nio.file.Files.writeString(nd,
      """{"ID": 1, "Perioden": "2018JJ00", "Banen_1": 10.5}
        |{"ID": 2, "Perioden": "2019JJ00", "Banen_1": null}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ID INT, Perioden STRING, Banen_1 DOUBLE")
    val out = tmp.resolve("out").toString
    NdjsonToParquet.convert(spark, tmp.toString + "/page0.ndjson", out, Some(schema), coalesceTo = Some(1))
    val back = spark.read.parquet(out)
    assert(back.schema == schema)
    assert(back.count() == 2)
    assert(back.filter("Banen_1 IS NULL").count() == 1)
  }
}
