package graft.sources.odata

import org.apache.spark.sql.graft.InternalRows
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.EdmSchema

class ODataRowsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One property per EDM type `EdmSchema` maps, named after it. */
  private val edmTypes = Seq("Binary", "Boolean", "Byte", "SByte", "Date", "DateTime",
    "DateTimeOffset", "Decimal", "Double", "Duration", "Guid", "Int16", "Int32", "Int64",
    "Single", "String", "TimeOfDay", "GeographyPoint")

  private val schema: StructType = EdmSchema.fromCsdl(
    s"""<edmx:Edmx xmlns:edmx="x"><edmx:DataServices><Schema xmlns="y"><EntityType Name="TData">
       |${edmTypes.map(t => s"""<Property Name="$t" Type="Edm.$t"/>""").mkString}
       |<Property Name="Money" Type="Edm.Decimal" Precision="10" Scale="2"/>
       |</EntityType></Schema></edmx:DataServices></edmx:Edmx>""".stripMargin).get

  private val url = "https://opendata.cbs.nl/ODataFeed/odata/1TST/TypedDataSet?$format=json&$skip=10000"

  /** `rows` served as one page at `url`, read and converted. */
  private def convert(rows: Seq[String]) =
    new ODataRows.Converter(schema, spark.sessionState.conf.sessionLocalTimeZone)(
      ODataRows.page(ReplayClient(Map(url -> rows.mkString("""{"value":[""", ",", "]}"))), url).get, url)

  test("A7: the row converter reads every EDM type as spark.read.schema(st).json does") {
    // the declared types cover every type EdmSchema produces
    assert(schema.map(_.dataType).toSet == Set[DataType](BinaryType, BooleanType, ShortType,
      ByteType, DateType, TimestampType, DecimalType(38, 0), DoubleType, DayTimeIntervalType(),
      StringType, IntegerType, LongType, FloatType, DecimalType(10, 2)))
    val rows = Seq(
      """{"Binary":"AQID","Boolean":true,"Byte":255,"SByte":-128,"Date":"2024-01-02",
        |"DateTime":"2024-01-02T03:04:05","DateTimeOffset":"2024-01-02T03:04:05+01:00",
        |"Decimal":123456789012345678901234567890,"Double":0.30000000000000004,
        |"Duration":"1 02:03:04","Guid":"6f9619ff-8b86-d011-b42d-00c04fc964ff","Int16":-32768,
        |"Int32":2147483647,"Int64":9223372036854775807,"Single":0.1,"String":"tekst",
        |"TimeOfDay":"12:30:00","GeographyPoint":"POINT(5.1 52.1)","Money":12.345}""",
      """{"Binary":"","Boolean":false,"Byte":0,"SByte":127,"Date":"2024-01-02T03:04:05",
        |"DateTime":1700000000,"DateTimeOffset":"2024-01-02T03:04:05.123456Z","Decimal":-7,
        |"Double":7,"Duration":"INTERVAL '1 02:03:04.5' DAY TO SECOND","Int16":32767,"Int32":-1,
        |"Int64":-1,"Single":16777217,"String":1.50,"Money":"3.14"}""",
      """{"Double":"NaN","Single":3.4e39,"String":12345678901234567890123,"Money":12,
        |"Duration":"-1 00:00:01","Decimal":"1,234"}""",
      """{"Double":1e400,"Single":"-Infinity","String":true}""",
      """{"String":{"a":[1,"x",null]}}""",
      """{"Int32":null,"String":null}""",
      "{}").map(_.stripMargin.replace("\n", ""))
    import spark.implicits._
    val expected = spark.read.schema(schema).option("mode", "FAILFAST").json(rows.toDS()).collect()
    val converted = convert(rows).toSeq
    val actual = InternalRows.toDataFrame(spark,
      spark.sparkContext.parallelize(converted, 1), schema).collect()
    assert(actual.toSeq == expected.toSeq)
  }

  test("a value that does not fit its declared type fails with the column and page url") {
    Seq("Int32" -> "1.5", "Int32" -> "\"5\"", "Boolean" -> "\"true\"", "SByte" -> "200",
      "Money" -> "123456789.123", "Date" -> "\"\"", "DateTime" -> "1.5", "Binary" -> "\"!!\"",
      "Double" -> "\"1.5\"", "Duration" -> "100", "Int64" -> "9223372036854775808").foreach {
      case (column, value) =>
        val e = intercept[IllegalArgumentException](convert(Seq(s"""{"$column":$value}""")).toList)
        assert(e.getMessage.contains(s"column $column:") && e.getMessage.contains(url), e.getMessage)
    }
  }
}
