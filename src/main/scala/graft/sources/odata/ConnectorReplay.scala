package graft.sources.odata

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Present._

/** q71/q72: CORRECTNESS rows for the DSv2 connector itself.
  *
  * The `customer` fixture is staged as a complete offline OData v3 replay —
  * service document, catalog metadata (whose `RecordCount` drives
  * pagination), CSDL `$metadata` declaring the schema, and one JSON page
  * file per `$skip` page — and then read back END-TO-END through
  * [[StatlineTableProvider]]: version probe, table discovery, declared
  * schema, one input partition per page, per-partition fetch + typed
  * conversion. The DuckDB oracle is plain SQL over the same parquet table,
  * so every row and every value must survive the whole connector path
  * exactly (doubles round-trip through shortest-decimal JSON).
  *
  * q72 adds the server-side `$filter` pushdown path (A3 as a table-scan
  * feature): the replay also serves the NARROWED page family for
  * `c_mktsegment eq 'BUILDING'` — filtered rows on the `$filter` URLs plus
  * the over-cover empty pages the unchanged pagination plan still requests
  * (a server filter shrinks responses, never the page count). The oracle
  * certifies values; `ConnectorReplaySpec` certifies the scan actually
  * requested the `$filter` URLs (correct rows alone can't prove that —
  * Spark's residual re-filter would mask a lost pushdown).
  *
  * Staging is replay HARNESS work, not the measured scan: the one driver
  * collect assembles ≤ ~2 MB of JSON pages once per fixture signature
  * (sig-suffixed dir, atomic publish — the shared [[graft.StageDir]]
  * discipline).
  */
object ConnectorReplay {
  type Q = (SparkSession, String) => DataFrame

  private val DatasetId = "99999GRF"
  private val Base = s"https://opendata.cbs.nl/ODataFeed/odata/$DatasetId"
  private val PageSize = 10000 // ODataUrls cbs_limit v3

  /** The q72 pushed predicate, exactly as [[ODataFilters.translate]] renders
    * `c_mktsegment = 'BUILDING'`.
    */
  private[odata] val PushedSegment = "BUILDING"
  private[odata] val PushedFilterExpr = s"c_mktsegment eq '$PushedSegment'"

  val queries: Map[String, Q] = Map(
    "q71_connector_scan" -> ((s, dir) => {
      val idx = stageReplay(s, dir)
      s.read.format("graft.sources.odata.StatlineTableProvider")
        .option("id", DatasetId).option("table", "TypedDataSet")
        .option("replayIndex", idx)
        .load()
        .presented("c_custkey")
    }),
    "q72_connector_filter" -> ((s, dir) => {
      val idx = stageReplay(s, dir)
      s.read.format("graft.sources.odata.StatlineTableProvider")
        .option("id", DatasetId).option("table", "TypedDataSet")
        .option("replayIndex", idx)
        .load()
        .filter(org.apache.spark.sql.functions.col("c_mktsegment") === PushedSegment)
        .presented("c_custkey")
    }))

  val oracles: Map[String, String] = Map(
    "q71_connector_scan" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey",
    "q72_connector_filter" ->
      s"SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer WHERE c_mktsegment = '$PushedSegment' ORDER BY c_custkey")

  private val Csdl =
    """<?xml version="1.0" encoding="utf-8"?>
      |<edmx:Edmx xmlns:edmx="http://schemas.microsoft.com/ado/2007/06/edmx" Version="1.0">
      |<edmx:DataServices><Schema xmlns="http://schemas.microsoft.com/ado/2009/11/edm" Namespace="Cbs">
      |<EntityType Name="TData">
      |<Property Name="c_custkey" Type="Edm.Int64"/>
      |<Property Name="c_name" Type="Edm.String"/>
      |<Property Name="c_nationkey" Type="Edm.Int32"/>
      |<Property Name="c_acctbal" Type="Edm.Double"/>
      |<Property Name="c_mktsegment" Type="Edm.String"/>
      |</EntityType></Schema></edmx:DataServices></edmx:Edmx>""".stripMargin

  /** Builds the replay dir (index.json + payload files) once per fixture
    * signature; returns the index path.
    */
  private def stageReplay(spark: SparkSession, dir: String): String = {
    val src = Paths.get(s"$dir/customer.parquet")
    require(Files.exists(src), s"replay source missing: $src")
    // "v2": the sig embeds the RECIPE version — adding the filtered page
    // family must invalidate previously staged layouts
    val sig = s"connector-v2:${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}"
    val baseName = s"graft_odata_replay_${Integer.toHexString(dir.hashCode)}"
    graft.StageDir.publish(baseName, sig) { tmp =>
      import org.apache.spark.sql.functions.{col, struct, to_json}
      val df = graft.Tables(spark, dir).customer
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
      // bounded replay-staging collect (≤ ~2 MB at sf0.1), documented above;
      // one pass carries the JSON row plus the segment for the filtered family
      val collected = df
        .select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("j"), col("c_mktsegment").as("seg"))
        .collect()
      val rows = collected.map(_.getString(0))
      val building = collected.filter(_.getString(1) == PushedSegment).map(_.getString(0))
      val payloads = scala.collection.mutable.LinkedHashMap[String, String](
        // absent v4 root ⇒ the version probe resolves "v3"
        s"https://opendata.cbs.nl/ODataCatalog/Tables?$$format=json&$$filter=Identifier eq '$DatasetId'" ->
          s"""{"value":[{"Identifier":"$DatasetId","Modified":"2026-01-01","RecordCount":${rows.length},"ColumnCount":5}]}""",
        s"$Base?$$format=json" ->
          s"""{"value":[{"name":"TypedDataSet","url":"$Base/TypedDataSet"}]}""",
        s"$Base/$$metadata" -> Csdl,
      )
      // One page family per scan shape. The page COUNT always follows the
      // unfiltered RecordCount (ODataUrls.pageUrls over-covers for filtered
      // scans), so a narrowed family pads with empty pages: a 200 + empty
      // `value` is a legitimate over-covered page, a MISSING url is a
      // pagination gap the reader correctly refuses to tolerate.
      val plannedPages = (rows.length.toLong / PageSize + 1).toInt
      def pageFamily(first: String, familyRows: Array[String]): Unit = {
        val chunks = familyRows.grouped(PageSize).toSeq
        (0 until plannedPages).foreach { i =>
          val url = if (i == 0) first else s"$first&$$skip=${i.toLong * PageSize}"
          val content =
            if (i < chunks.size) chunks(i).mkString("""{"value":[""", ",", "]}")
            else """{"value":[]}"""
          payloads += (url -> content)
        }
      }
      pageFamily(s"$Base/TypedDataSet?$$format=json", rows)
      pageFamily(s"$Base/TypedDataSet?$$format=json&$$filter=$PushedFilterExpr", building)
      var i = 0
      val index = payloads.map { case (url, content) =>
        val fn = s"r$i.json"; i += 1
        Files.writeString(tmp.resolve(fn), content)
        s""""${url.replace("\\", "\\\\").replace("\"", "\\\"")}": "$fn""""
      }.mkString("{", ",", "}")
      Files.writeString(tmp.resolve("index.json"), index)
    }.resolve("index.json").toString
  }
}
