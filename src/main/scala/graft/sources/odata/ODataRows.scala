package graft.sources.odata

import java.time.ZoneId

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, IntervalUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** OData pages → Spark rows, shared by the ingest ([[StatlineIngest]]) and
  * the DSv2 connector ([[StatlineTableProvider]]): page fetching with the
  * absent-table and gap rules, first-page schema inference (reference A8,
  * utils.py:123-124), and one JsonNode → `InternalRow` converter.
  *
  * Floats are read as `BigDecimal`, so a decimal, float or double value is
  * rounded once, straight from its text, as Spark's JSON reader does. The
  * one visible difference is inside a nested object or array kept as text,
  * whose floats keep their decimal form (`1E+3` where Spark writes
  * `1000.0`); OData rows are flat.
  */
object ODataRows {

  private val mapper = new ObjectMapper().enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  /** The `value` rows of the page at `url`; None when the page is absent.
    * An absent FIRST page is an absent table (A15: the version probe and the
    * empty-table skip rely on it). An absent `$skip` page is a gap: an empty
    * result would be a silently truncated snapshot, so it throws.
    */
  def page(client: StatlineClient, url: String): Option[JsonNode] = client.get(url) match {
    case None if url.contains("$skip=") =>
      throw new java.io.IOException(s"missing pagination page: $url")
    case None => None
    case Some(payload) =>
      Some(Option(mapper.readTree(payload).get("value")).filter(_.isArray)
        .getOrElse(mapper.createArrayNode()))
  }

  /** Reads `urls` in order until a page holds rows and returns its index
    * and rows. None when the first page is absent or every page is empty.
    */
  def firstRows(client: StatlineClient, urls: Seq[String]): Option[(Int, JsonNode)] =
    urls.iterator.zipWithIndex.map { case (url, i) => (i, page(client, url)) }
      .takeWhile(_._2.isDefined)
      .collectFirst { case (i, Some(rows)) if rows.size() > 0 => (i, rows) }

  /** The schema of `rows` by Spark's JSON inference rules (`spark.read.json`)
    * over this one page, in wire order: the first row's fields, then those
    * only later rows hold, by name. Fields named in `declared` take that
    * type. OData rows are flat: a nested object or array is kept as JSON
    * text, and an integer beyond 64 bits fails its conversion.
    */
  def inferSchema(rows: JsonNode, declared: Map[String, DataType] = Map.empty): StructType = {
    val types = scala.collection.mutable.Map.empty[String, DataType]
    rows.elements().asScala.foreach(_.properties().asScala.foreach { e =>
      val v = e.getValue
      val t =
        if (v.isNull) NullType
        else if (v.isBoolean) BooleanType
        else if (v.isIntegralNumber) LongType
        else if (v.isNumber) DoubleType
        else StringType
      types(e.getKey) = types.get(e.getKey) match {
        case None | Some(NullType) => t
        case Some(u) if u == t || t == NullType => u
        case Some(LongType | DoubleType) if t == LongType || t == DoubleType => DoubleType
        case _ => StringType
      }
    })
    val first = if (rows.size() > 0) rows.get(0).fieldNames().asScala.toSeq else Nil
    val order = first ++ types.keys.filterNot(first.toSet).toSeq.sorted
    StructType(order.map { n =>
      // an all-null field is a string, as in Spark
      StructField(n, declared.getOrElse(n, if (types(n) == NullType) StringType else types(n)))
    })
  }

  /** Converts rows to `schema`, field by name, with the value rules of
    * `spark.read.schema(schema).json` (timestamps in `timeZone`). A value
    * that does not fit its field's type fails with the column and page url
    * (Spark's FAILFAST; its default PERMISSIVE mode would write a null).
    */
  final class Converter(schema: StructType, timeZone: String) extends Serializable {
    private val names = schema.fieldNames
    private val converters: Array[JsonNode => Any] = {
      val zone = ZoneId.of(timeZone)
      schema.fields.map(f => converter(f.dataType, zone))
    }

    def apply(rows: JsonNode, url: String): Iterator[InternalRow] =
      rows.elements().asScala.map { node =>
        val values = new Array[Any](names.length)
        var i = 0
        while (i < values.length) {
          val v = node.get(names(i))
          if (v != null && !v.isNull) values(i) =
            try converters(i)(v) catch {
              case NonFatal(e) => throw new IllegalArgumentException(
                s"column ${names(i)}: $v does not fit ${schema(i).dataType.sql} (page $url)", e)
            }
          i += 1
        }
        new GenericInternalRow(values)
      }
  }

  private def converter(t: DataType, zone: ZoneId): JsonNode => Any = t match {
    case BooleanType => v => { require(v.isBoolean); v.booleanValue() }
    case ByteType    => v => integral(v, Byte.MinValue, Byte.MaxValue).toByte
    case ShortType   => v => integral(v, Short.MinValue, Short.MaxValue).toShort
    case IntegerType => v => integral(v, Int.MinValue, Int.MaxValue).toInt
    case LongType    => v => integral(v, Long.MinValue, Long.MaxValue)
    case FloatType   => v => if (v.isNumber) v.floatValue() else nonNumeric(v).toFloat
    case DoubleType  => v => if (v.isNumber) v.doubleValue() else nonNumeric(v)
    case d: DecimalType => v =>
      Decimal(if (v.isNumber) v.decimalValue() else new java.math.BigDecimal(text(v).replace(",", "")),
        d.precision, d.scale)
    case StringType => v => UTF8String.fromString(
      if (v.isTextual) v.textValue()
      else if (v.isFloatingPointNumber) java.lang.Double.toString(v.doubleValue())
      else v.toString)
    case DateType => v => DateTimeUtils.stringToDate(UTF8String.fromString(text(v))).get
    case TimestampType => v =>
      if (v.isIntegralNumber) Math.multiplyExact(integral(v, Long.MinValue, Long.MaxValue), 1000000L)
      else DateTimeUtils.stringToTimestamp(UTF8String.fromString(text(v)), zone).get
    case BinaryType => v => { text(v); v.binaryValue() }
    case d: DayTimeIntervalType => v =>
      IntervalUtils.castStringToDTInterval(UTF8String.fromString(text(v)), d.startField, d.endField)
    case other => throw new IllegalArgumentException(s"an OData value cannot be read as ${other.sql}")
  }

  private def text(v: JsonNode): String = { require(v.isTextual); v.textValue() }

  private def integral(v: JsonNode, min: Long, max: Long): Long = {
    require(v.isIntegralNumber && v.canConvertToLong)
    val l = v.longValue()
    require(l >= min && l <= max)
    l
  }

  /** The non-numeric doubles Spark's JSON reader accepts as strings. */
  private def nonNumeric(v: JsonNode): Double = text(v) match {
    case "NaN" => Double.NaN
    case "+INF" | "+Infinity" | "Infinity" => Double.PositiveInfinity
    case "-INF" | "-Infinity" => Double.NegativeInfinity
    case s => throw new NumberFormatException(s)
  }
}
