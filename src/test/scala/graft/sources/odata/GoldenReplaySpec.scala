package graft.sources.odata

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end parity against the reference's own golden outputs
  * (under `/root/reference/tests/data`, produced by the real pipeline from live
  * CBS) — the offline analog of the reference's golden test
  * (tests/test_statline_bq.py:151-219), across its v3 parametrizations:
  * core (83583NED), wide + empty-table (84799NED), third-party multi-page
  * (45012NED, 435k rows = 44 replay pages).
  *
  * The golden parquet is turned back into the OData wire responses (rows →
  * 10k-row `value` pages with explicit nulls, DataProperties keys
  * un-dot-renamed, CSDL reconstructed from the golden main-table schema, the
  * checked-in Metadata.json as the catalog response), replayed through the
  * Spark pipeline, and the outputs compared to the golden files.
  */
class GoldenReplaySpec extends AnyFunSuite {
  import GoldenReplaySpec.GoldenDataset

  private lazy val spark = TestSpark.spark
  private val mapper = new ObjectMapper()

  private val datasets = Seq(
    GoldenDataset("/root/reference/tests/data/83583NED", "cbs", "83583NED",
      thirdParty = false, emptyTables = Nil),
    GoldenDataset("/root/reference/tests/data/84799NED", "cbs", "84799NED",
      thirdParty = false, emptyTables = Seq("CategoryGroups")),
    GoldenDataset("/root/reference/tests/data/45012NED", "iv3", "45012NED",
      thirdParty = true, emptyTables = Nil),
  )

  /** Rows → wire pages of `pageSize` with explicit nulls (toJSON would drop
    * them, but real CBS responses carry them — that's how all-null columns
    * exist in the golden parquet at all).
    */
  private def pagesOf(df: DataFrame, renameKeys: Map[String, String],
                      pageSize: Int): Seq[String] = {
    val schema = df.schema
    df.collect().grouped(pageSize).map { chunk =>
      val arr = mapper.createArrayNode()
      chunk.foreach { row =>
        val o: ObjectNode = mapper.createObjectNode()
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          val name = renameKeys.getOrElse(f.name, f.name)
          if (row.isNullAt(i)) o.putNull(name)
          else f.dataType match {
            case StringType  => o.put(name, row.getString(i))
            case IntegerType => o.put(name, row.getInt(i))
            case LongType    => o.put(name, row.getLong(i))
            case DoubleType  => o.put(name, row.getDouble(i))
            case FloatType   => o.put(name, row.getFloat(i))
            case BooleanType => o.put(name, row.getBoolean(i))
            case other       => fail(s"unhandled golden type $other for ${f.name}")
          }
        }
        arr.add(o)
      }
      val root = mapper.createObjectNode()
      root.set[ObjectNode]("value", arr)
      mapper.writeValueAsString(root)
    }.toSeq match {
      case Nil => Seq("""{"value":[]}""")
      case ps  => ps
    }
  }

  /** CSDL reconstructed from the golden main-table schema (reverse EDM map). */
  private def csdlFor(schema: StructType): String = {
    val props = schema.fields.map { f =>
      val edm = f.dataType match {
        case IntegerType => "Edm.Int32"
        case LongType    => "Edm.Int64"
        case FloatType   => "Edm.Single"
        case DoubleType  => "Edm.Double"
        case BooleanType => "Edm.Boolean"
        case _           => "Edm.String"
      }
      s"""<Property Name="${f.name}" Type="$edm"/>"""
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="utf-8"?>
       |<edmx:Edmx xmlns:edmx="http://schemas.microsoft.com/ado/2007/06/edmx" Version="1.0">
       |<edmx:DataServices><Schema xmlns="http://schemas.microsoft.com/ado/2009/11/edm" Namespace="Cbs">
       |<EntityType Name="TData">
       |$props
       |</EntityType></Schema></edmx:DataServices></edmx:Edmx>""".stripMargin
  }

  private def buildReplay(d: GoldenDataset): ReplayClient = {
    val serviceEntries = (d.tables ++ d.emptyTables ++ Seq("TableInfos", "UntypedDataSet"))
      .map(n => s"""{"name":"$n","url":"${d.base}/$n"}""").mkString(",")
    val pages = d.tables.flatMap { name =>
      val rename = if (name == "DataProperties") Map("odata_type" -> "odata.type")
        else Map.empty[String, String]
      // only the main table is paginated (statline.py:444-460); dimension
      // endpoints return everything in one response, however large
      val pageSize = if (name == "TypedDataSet") 10000 else Int.MaxValue
      val ps = pagesOf(d.golden(spark, name), rename, pageSize)
      val baseUrl = s"${d.base}/$name?$$format=json"
      ps.zipWithIndex.map { case (p, i) =>
        (if (i == 0) baseUrl else s"$baseUrl&$$skip=${i * 10000}") -> p
      }
    }.toMap
    val empties = d.emptyTables.map(n => s"${d.base}/$n?$$format=json" -> """{"value":[]}""")
    ReplayClient(pages ++ empties ++ Map(
      ODataUrls.v3CatalogUrl(d.id, d.thirdParty) -> s"""{"value":[${d.metadataRaw}]}""",
      s"${d.base}?$$format=json" -> s"""{"value":[$serviceEntries]}""",
      s"${d.base}/$$metadata" -> csdlFor(d.golden(spark, "TypedDataSet").schema),
    ))
  }

  /** The reference fixtures are not part of this repository: a host
    * without them fails here, naming the directory, rather than deep
    * inside the replay.
    */
  private def requireFixtures(dir: String): Unit =
    assert(new java.io.File(dir).isDirectory, s"golden fixture directory $dir is missing")

  private def runAndCompare(d: GoldenDataset): Unit = {
    requireFixtures(d.dir)
    val root = Files.createTempDirectory(s"graft_golden_${d.id}").toString
    val ingest = new StatlineIngest(spark, buildReplay(d), d.source)
    val res = ingest.run(d.id, root, thirdParty = d.thirdParty,
      date = LocalDate.of(2024, 3, 1))
    assert(!res.skipped)
    // exactly the golden tables emitted — empty tables produce nothing (A15)
    assert(res.parquetPaths.map(_.split('/').last).toSet ==
      d.tables.map(n => s"${d.prefix}_$n.parquet").toSet)

    // main table: exact declared schema (int32/float preserved) + content
    val mainMine = spark.read.parquet(s"${res.snapshotDir}/${d.prefix}_TypedDataSet.parquet")
    val mainGold = d.golden(spark, "TypedDataSet")
    assert(mainMine.schema.map(f => (f.name, f.dataType)) ==
      mainGold.schema.map(f => (f.name, f.dataType)))
    assert(mainMine.count() == mainGold.count())
    assert(mainMine.exceptAll(mainGold).isEmpty && mainGold.exceptAll(mainMine).isEmpty)

    // every other table: content equality on all columns; schema equality
    // except all-null columns (pyarrow types them null, Spark's json
    // inference types them string — both carry only nulls)
    d.tables.filterNot(_ == "TypedDataSet").foreach { name =>
      val mine = spark.read.parquet(s"${res.snapshotDir}/${d.prefix}_$name.parquet")
      val gold = d.golden(spark, name)
      assert(mine.columns.toSeq == gold.columns.toSeq, s"$name columns")
      val allNull = gold.columns.filter(c => gold.filter(gold(c).isNotNull).isEmpty).toSet
      gold.schema.fields.filterNot(f => allNull(f.name)).foreach { f =>
        assert(mine.schema(f.name).dataType == f.dataType, s"$name.${f.name} type")
      }
      val cmpCols = gold.columns.filterNot(allNull).toSeq
      val m = mine.select(cmpCols.map(c => mine(s"`$c`")): _*)
      val g = gold.select(cmpCols.map(c => gold(s"`$c`")): _*)
      assert(m.exceptAll(g).isEmpty && g.exceptAll(m).isEmpty, s"$name content")
      allNull.foreach { c => assert(mine.filter(mine(s"`$c`").isNotNull).isEmpty, s"$name.$c nulls") }
    }

    // sidecars: structural equality with the checked-in files
    val goldMeta = mapper.readTree(d.metadataRaw)
    val mineMeta = mapper.readTree(Files.readString(
      Paths.get(s"${res.snapshotDir}/${d.prefix}_Metadata.json")))
    assert(mineMeta == goldMeta)
    val goldDesc = mapper.readTree(Files.readString(
      Paths.get(s"${d.dir}/${d.prefix}_ColDescriptions.json")))
    val mineDesc = mapper.readTree(Files.readString(
      Paths.get(s"${res.snapshotDir}/${d.prefix}_ColDescriptions.json")))
    assert(mineDesc == goldDesc)
  }

  datasets.foreach { d =>
    test(s"golden replay reproduces the reference's outputs: ${d.source}/${d.id}") {
      runAndCompare(d)
    }
  }

  test("golden replay, v4 long format: cbs/83765NED (main-table pages absent)") {
    // The golden repo drops the 1.5M-row Observations blob
    // (.MISSING_LARGE_BLOBS) — its 16 page urls get no response, which
    // exercises the v4 pagination + empty-table path against the real
    // metadata (TZ-offset Modified, ObservationCount) and real dim tables.
    val dir = "/root/reference/tests/data/83765NED"
    requireFixtures(dir)
    val id = "83765NED"
    val base = ODataUrls.v4Base(id)
    val tables = Seq("MeasureCodes", "MeasureGroups", "Dimensions",
      "WijkenEnBuurtenCodes", "WijkenEnBuurtenGroups")
    def gold(name: String): DataFrame = spark.read.parquet(s"$dir/cbs.v4.${id}_$name.parquet")
    val metaRaw = Files.readString(Paths.get(s"$dir/cbs.v4.${id}_Metadata.json"))
    val serviceEntries = (tables ++ Seq("Observations", "Properties"))
      .map(n => s"""{"name":"$n","url":"$n"}""").mkString(",")
    val pages = tables.map { name =>
      s"$base/$name" -> pagesOf(gold(name), Map.empty, Int.MaxValue).head
    }.toMap
    val client = ReplayClient(pages ++ Map(
      base -> s"""{"value":[$serviceEntries]}""",
      s"$base/Properties" -> metaRaw,
    ))
    val root = Files.createTempDirectory("graft_golden_v4").toString
    val res = new StatlineIngest(spark, client).run(id, root, date = LocalDate.of(2024, 3, 1))
    assert(!res.skipped)
    // Observations absent (all pages missing) — only the dim tables emit
    assert(res.parquetPaths.map(_.split('/').last).toSet ==
      tables.map(n => s"cbs.v4.${id}_$n.parquet").toSet)
    tables.foreach { name =>
      val mine = spark.read.parquet(s"${res.snapshotDir}/cbs.v4.${id}_$name.parquet")
      val g = gold(name)
      assert(mine.columns.toSeq == g.columns.toSeq, s"$name columns")
      val allNull = g.columns.filter(c => g.filter(g(c).isNotNull).isEmpty).toSet
      val cmp = g.columns.filterNot(allNull).toSeq
      val m = mine.select(cmp.map(c => mine(s"`$c`")): _*)
      val gg = g.select(cmp.map(c => g(s"`$c`")): _*)
      assert(m.exceptAll(gg).isEmpty && gg.exceptAll(m).isEmpty, s"$name content")
    }
    // Metadata sidecar = raw v4 Properties document
    val mineMeta = mapper.readTree(Files.readString(
      Paths.get(s"${res.snapshotDir}/cbs.v4.${id}_Metadata.json")))
    assert(mineMeta == mapper.readTree(metaRaw))
    // v4 never writes ColDescriptions (main.py:356-357)
    assert(!Files.exists(Paths.get(s"${res.snapshotDir}/cbs.v4.${id}_ColDescriptions.json")))
  }
}

object GoldenReplaySpec {
  final case class GoldenDataset(dir: String, source: String, id: String,
                                 thirdParty: Boolean, emptyTables: Seq[String]) {
    val host: String = if (thirdParty) "dataderden.cbs.nl" else "opendata.cbs.nl"
    val base = s"https://$host/ODataFeed/odata/$id"
    def prefix = s"$source.v3.$id"
    def tables: Seq[String] = new java.io.File(dir).list().toSeq.sorted
      .filter(f => f.startsWith(s"${prefix}_") && f.endsWith(".parquet"))
      .map(_.stripPrefix(s"${prefix}_").stripSuffix(".parquet"))
    def golden(spark: SparkSession, name: String): DataFrame =
      spark.read.parquet(s"$dir/${prefix}_$name.parquet")
    def metadataRaw: String = Files.readString(Paths.get(s"$dir/${prefix}_Metadata.json"))
  }
}
