package graft.sources.odata

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 connector for a CBS Statline table (SURVEY M4):
  *
  * {{{
  * spark.read.format("graft.sources.odata.StatlineTableProvider")
  *   .option("id", "83583NED").option("table", "TypedDataSet")
  *   [.option("thirdParty", "true")] [.option("replayIndex", "/path/index.json")]
  *   .load()
  * }}}
  *
  * Catalyst integration points, mapping the reference's hand-rolled tactics
  * (SURVEY §4) onto the V2 API:
  *  - table discovery + version probe + row count run once at table
  *    resolution (A1–A3);
  *  - `planInputPartitions` emits **one partition per `$skip` page** (A4–A6)
  *    — the fetch parallelism is the scheduler's, not a thread pool's;
  *  - `SupportsPushDownRequiredColumns`: column pruning reaches the
  *    connector, so partition readers convert only requested fields;
  *  - the v3 main-table schema is declared from CSDL (A9), everything else
  *    inferred from the first page that holds rows (A8); pages are read,
  *    inferred and converted by [[ODataRows]], as in the ingest.
  *
  * The wire client is reconstructed per partition from options (replay index
  * file or live HTTP) because V2 options are strings — partitions must not
  * capture driver objects.
  */
class StatlineTableProvider extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val ctx = StatlineScanContext.resolve(options.asCaseSensitiveMap().asScala.toMap)
    ctx.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new StatlineTable(schema, StatlineScanContext.resolve(properties.asScala.toMap))

  override def supportsExternalMetadata(): Boolean = true
}

/** Resolved scan context: all strings/longs, safely serializable. */
private[odata] final case class StatlineScanContext(
    baseUrl: String, nRecords: Option[Long], odataVersion: String,
    schema: StructType, replayIndex: Option[String]) {
  /** Page urls, optionally narrowed by a server-side `$filter`. A filter can
    * only shrink responses, so the unfiltered pagination plan over-covers —
    * trailing empty pages are tolerated by the reader.
    */
  def pageUrls(odataFilter: Option[String]): Seq[String] = {
    val connector = if (baseUrl.contains("?")) "&" else "?"
    val filtered = odataFilter.fold(baseUrl)(f => s"$baseUrl$connector$$filter=$f")
    ODataUrls.pageUrls(filtered, nRecords, odataVersion)
  }
}

private[graft] object StatlineScanContext {

  // Spark calls inferSchema and getTable back-to-back with the same options;
  // resolution costs ~5 network round trips, so memoize per options map
  // (also keeps the schema and the pagination plan from racing a source
  // change between the two calls).
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Map[String, String], StatlineScanContext]()

  private[odata] def resolve(opts: Map[String, String]): StatlineScanContext =
    cache.computeIfAbsent(opts, fromOptions)

  /** A replay client over a JSON index of url → payload file (paths
    * relative to the index), or the live client.
    */
  def makeClient(replayIndex: Option[String]): StatlineClient = replayIndex match {
    case Some(path) =>
      val mapper = new ObjectMapper()
      val node = mapper.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      val base = java.nio.file.Paths.get(path).toAbsolutePath.getParent
      val m = Map.newBuilder[String, String]
      val it = node.fields()
      while (it.hasNext) {
        val e = it.next()
        m += (e.getKey -> java.nio.file.Files.readString(base.resolve(e.getValue.asText())))
      }
      ReplayClient(m.result())
    case None => RetryingClient(new HttpClient())
  }

  private[odata] def fromOptions(opts: Map[String, String]): StatlineScanContext = {
    val id = opts.getOrElse("id", sys.error("option 'id' is required"))
    val tableName = opts.getOrElse("table", sys.error("option 'table' is required"))
    val thirdParty = opts.get("thirdparty").orElse(opts.get("thirdParty")).exists(_.toBoolean)
    val replayIndex = opts.get("replayindex").orElse(opts.get("replayIndex"))
    val client = makeClient(replayIndex)

    val version = ODataUrls.checkV4(client, id, thirdParty)
    val tables = ODataUrls.discoverTables(client, id, version, thirdParty).toMap
    val rawUrl = tables.getOrElse(tableName,
      sys.error(s"table $tableName not in dataset $id (has: ${tables.keys.mkString(", ")})"))
    val url = if (version == "v3") s"$rawUrl?$$format=json" else rawUrl

    val nRecords = ODataUrls.rowCount(ODataUrls.metadata(client, id, version, thirdParty), tableName, version)

    val schema = (if (version == "v3" && tableName == "TypedDataSet") ODataUrls.csdlSchema(client, rawUrl) else None)
      .getOrElse {
        val (_, rows) = ODataRows.firstRows(client, ODataUrls.pageUrls(url, nRecords, version))
          .getOrElse(sys.error(s"cannot infer the schema of $url: no page holds rows"))
        ODataRows.inferSchema(rows)
      }
    StatlineScanContext(url, nRecords, version, schema, replayIndex)
  }
}

private[odata] class StatlineTable(schema0: StructType, ctx: StatlineScanContext)
    extends Table with SupportsRead {
  override def name(): String = "statline"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StatlineScanBuilder(schema0, ctx)
}

private[odata] class StatlineScanBuilder(full: StructType, ctx: StatlineScanContext)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = full
  private var odataFilter: Option[String] = None
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  // column pruning pushed into the connector: readers convert only these
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Server-side `$filter` pushdown — the table-scan generalization of the
    * reference's catalog filter (statline.py:145). The translated predicate
    * narrows every page request, but ALL filters are returned as residual so
    * Spark re-applies them: the server's evaluation is an optimization the
    * engine's correctness never depends on.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    val translated = filters.flatMap(f => ODataFilters.translate(f).map(f -> _))
    pushed = translated.map(_._1)
    odataFilter = if (translated.isEmpty) None
      else Some(translated.map(_._2).mkString(" and "))
    filters // everything stays residual (see above)
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan = new StatlineScan(required, ctx, odataFilter)
}

/** Catalyst `Filter` → OData v3/v4 `$filter` expression text. Conservative:
  * only shapes with an exact OData equivalent translate; anything else stays
  * Spark-side.
  */
private[odata] object ODataFilters {
  import org.apache.spark.sql.sources._

  private def lit(v: Any): Option[String] = v match {
    // '&' / '#' in a value are ambiguous once the URL is assembled (the query
    // string can no longer be split into parameters unambiguously), so such
    // strings stay Spark-side residual; everything else is percent-encoded by
    // HttpClient at send time.
    case s: String if !s.exists(c => c == '&' || c == '#') =>
      Some("'" + s.replace("'", "''") + "'")
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
         _: java.lang.Byte | _: java.lang.Double | _: java.lang.Float => Some(v.toString)
    case b: java.lang.Boolean => Some(b.toString)
    case _ => None
  }

  def translate(f: Filter): Option[String] = f match {
    case EqualTo(a, v)            => lit(v).map(l => s"$a eq $l")
    case GreaterThan(a, v)        => lit(v).map(l => s"$a gt $l")
    case GreaterThanOrEqual(a, v) => lit(v).map(l => s"$a ge $l")
    case LessThan(a, v)           => lit(v).map(l => s"$a lt $l")
    case LessThanOrEqual(a, v)    => lit(v).map(l => s"$a le $l")
    case Not(EqualTo(a, v))       => lit(v).map(l => s"$a ne $l")
    case And(l, r) =>
      for (lt <- translate(l); rt <- translate(r)) yield s"($lt and $rt)"
    case Or(l, r) =>
      for (lt <- translate(l); rt <- translate(r)) yield s"($lt or $rt)"
    case _ => None
  }
}

private[odata] class StatlineScan(schema: StructType, ctx: StatlineScanContext,
    odataFilter: Option[String]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    ctx.pageUrls(odataFilter).map(u => StatlinePagePartition(u): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new StatlinePageReaderFactory(
      new ODataRows.Converter(schema, SQLConf.get.sessionLocalTimeZone), ctx.replayIndex)
}

private[odata] final case class StatlinePagePartition(url: String) extends InputPartition

/** Executor-side: fetch one page, convert its rows over the (pruned)
  * schema. (Legitimately over-covering filtered pagination returns 200 +
  * empty `value`.)
  */
private[odata] class StatlinePageReaderFactory(convert: ODataRows.Converter,
    replayIndex: Option[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val url = partition.asInstanceOf[StatlinePagePartition].url
    val rows = ODataRows.page(StatlineScanContext.makeClient(replayIndex), url).iterator
      .flatMap(convert(_, url))
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
