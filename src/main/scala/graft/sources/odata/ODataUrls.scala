package graft.sources.odata

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.types.StructType

import graft.sources.EdmSchema

/** URL construction, discovery and pagination semantics of the CBS OData
  * endpoints, matching the reference behavior exactly:
  *
  *  - base urls and the v4 probe: statline.py:15-48
  *  - service-document discovery: statline.py:52-108
  *  - catalog metadata (server-side `$filter` pushdown): statline.py:112-167
  *  - `$skip` pagination, 10k/100k page size: statline.py:198-237
  */
object ODataUrls {

  val V3PageSize = 10000L
  val V4PageSize = 100000L

  def v4Base(id: String): String = s"https://odata4.cbs.nl/CBS/$id"

  def v3ServiceDoc(id: String, thirdParty: Boolean): String =
    if (thirdParty) s"https://dataderden.cbs.nl/ODataFeed/odata/$id?$$format=json"
    else s"https://opendata.cbs.nl/ODataFeed/odata/$id?$$format=json"

  /** v3 catalog query with the Identifier filter pushed server-side. */
  def v3CatalogUrl(id: String, thirdParty: Boolean): String = {
    val host = if (thirdParty) "dataderden.cbs.nl" else "opendata.cbs.nl"
    s"https://$host/ODataCatalog/Tables?$$format=json&$$filter=Identifier eq '$id'"
  }

  def v4PropertiesUrl(id: String): String = s"${v4Base(id)}/Properties"

  /** Raw catalog metadata document (statline.py:112-167): the v3 catalog
    * entry or the v4 Properties document, kept as a tree so the Metadata
    * sidecar preserves nested/null fields byte-faithfully.
    */
  def metadata(client: StatlineClient, id: String, odataVersion: String,
               thirdParty: Boolean): JsonNode = {
    val mapper = new ObjectMapper()
    odataVersion match {
      case "v3" =>
        val doc = client.get(v3CatalogUrl(id, thirdParty)).getOrElse(
          throw new NoSuchElementException(s"dataset $id not in catalog"))
        val value = mapper.readTree(doc).get("value")
        if (value == null || value.size() == 0)
          throw new NoSuchElementException(s"dataset $id not in catalog")
        value.get(0)
      case _ =>
        mapper.readTree(client.get(v4PropertiesUrl(id)).getOrElse(
          throw new NoSuchElementException(s"dataset $id has no v4 Properties")))
    }
  }

  /** The row count that drives a table's pagination: the catalog
    * metadata's RecordCount (v3) or ObservationCount (v4) for the main
    * table; None for the others, which are one page (and leave `metadata`
    * unread).
    */
  def rowCount(metadata: => JsonNode, table: String, odataVersion: String): Option[Long] =
    if (table != "TypedDataSet" && table != "Observations") None
    else Option(metadata.get(if (odataVersion == "v3") "RecordCount" else "ObservationCount"))
      .filter(!_.isNull).map(_.asLong())

  /** The v3 main table's declared schema, from the CSDL `$metadata`
    * document beside the table (statline.py:241-308).
    */
  def csdlSchema(client: StatlineClient, rawTableUrl: String): Option[StructType] =
    client.get(rawTableUrl.split('?').head.reverse.dropWhile(_ != '/').reverse + "$metadata")
      .flatMap(EdmSchema.fromCsdl(_, "TData"))

  /** Version probe (statline.py:15-48): third-party is always v3; otherwise
    * v4 iff the v4 root responds.
    */
  def checkV4(client: StatlineClient, id: String, thirdParty: Boolean): String =
    if (thirdParty) "v3"
    else if (client.get(v4Base(id)).isDefined) "v4"
    else "v3"

  /** Table discovery from the service document (statline.py:52-108):
    * v3 urls come absolute; v4 urls are relative to the dataset root.
    * Returned in document order.
    */
  def discoverTables(client: StatlineClient, id: String, odataVersion: String,
                     thirdParty: Boolean): Seq[(String, String)] = {
    val mapper = new ObjectMapper()
    odataVersion match {
      case "v4" =>
        val base = v4Base(id)
        val doc = client.get(base).getOrElse(
          throw new NoSuchElementException(s"no v4 service document for $id"))
        val value = mapper.readTree(doc).get("value")
        (0 until value.size()).map { i =>
          val item = value.get(i)
          item.get("name").asText() -> s"$base/${item.get("url").asText()}"
        }
      case "v3" =>
        val doc = client.get(v3ServiceDoc(id, thirdParty)).getOrElse(
          throw new NoSuchElementException(s"no v3 service document for $id"))
        val value = mapper.readTree(doc).get("value")
        (0 until value.size()).map { i =>
          val item = value.get(i)
          item.get("name").asText() -> item.get("url").asText()
        }
      case other => throw new IllegalArgumentException(s"odata version must be v3 or v4, got $other")
    }
  }

  /** Page-url generation (statline.py:198-237): `$skip` increments of the
    * version's page size; tables without a known row count get one url.
    * The `$skip` connector comes from the URL itself, not the OData version:
    * v3 bases always carry `?$format=json`, but a v4 base may already carry a
    * pushed-down `?$filter=...` — keying on the version would emit
    * `base?$filter=f?$skip=n` and silently drop pages in replay mode.
    */
  def pageUrls(baseUrl: String, nRecords: Option[Long], odataVersion: String): Seq[String] = {
    val connector = if (baseUrl.contains("?")) "&" else "?"
    val limit = if (odataVersion == "v3") V3PageSize else V4PageSize
    nRecords match {
      case Some(n) =>
        baseUrl +: (1L to n / limit).map(i => s"$baseUrl$connector$$skip=${i * limit}")
      case None => Seq(baseUrl)
    }
  }
}
