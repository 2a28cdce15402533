package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogDatabase, CatalogStorageFormat, CatalogTable, CatalogTableType, CatalogUtils}
import org.apache.spark.sql.connector.catalog.SupportsNamespaces
import org.apache.spark.sql.types.StructType

import graft.functions.NameRules

/** Catalog registration (reference A20–A24, gcpl.py:340-603) on the Spark
  * catalog: external-location parquet tables inside a per-dataset database,
  * with column descriptions as column comments (truncated per the
  * reference's 1023-char warehouse limit, statline.py:370-376).
  *
  * Every call goes straight to the session catalog, with the entries the
  * equivalent SQL statement or `spark.catalog.createTable` would write: no
  * query is parsed or planned and no file is listed.
  */
object CatalogLoader {

  /** Idempotent database create (A20), as `CREATE DATABASE IF NOT EXISTS`
    * with a comment: the default location, the session user as owner.
    */
  def createNamespace(spark: SparkSession, namespace: String, description: String): Unit = {
    val catalog = spark.sessionState.catalog
    catalog.createDatabase(CatalogDatabase(namespace, description, catalog.getDefaultDBPath(namespace),
      Map(SupportsNamespaces.PROP_OWNER -> spark.sparkContext.sparkUser)), ignoreIfExists = true)
  }

  /** A21. */
  def namespaceExists(spark: SparkSession, namespace: String): Boolean =
    spark.sessionState.catalog.databaseExists(namespace)

  /** Drop-cascade (A22) — the reference's always-drop-then-recreate flow. */
  def dropNamespace(spark: SparkSession, namespace: String): Unit =
    spark.sessionState.catalog.dropDatabase(namespace, ignoreIfNotExists = true, cascade = true)

  /** External parquet table over a location (A23) with its column comments
    * (A24), registered in one catalog call — the Spark analog of a BigQuery
    * external table whose schema descriptions the reference patches in one
    * `update_table` call (gcpl.py:268-286).
    *
    * `schema` is the flat schema the files at `location` were written with,
    * so nothing reads the parquet footers; fields are registered nullable,
    * as parquet stores them. Each description is cleaned/truncated with the
    * reference's exact rule; descriptions of columns the table lacks, and
    * null descriptions, are ignored. The table must not exist yet (its
    * namespace is recreated before every load).
    */
  def registerExternalTable(spark: SparkSession, namespace: String, table: String,
                            location: String, schema: StructType,
                            descriptions: Map[String, String]): Unit = {
    val fields = schema.fields.map { f =>
      val field = f.copy(nullable = true)
      descriptions.get(f.name).flatMap(Option(_))
        .fold(field)(d => field.withComment(NameRules.cleanDescription(d)))
    }
    spark.sessionState.catalog.createTable(CatalogTable(
      identifier = TableIdentifier(table, Some(namespace)),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(CatalogUtils.stringToURI(location)), properties = Map("path" -> location)),
      schema = StructType(fields),
      provider = Some("parquet")), ignoreIfExists = false)
  }
}
