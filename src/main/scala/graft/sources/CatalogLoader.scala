package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

import graft.functions.NameRules

/** Catalog registration (reference A20–A24, gcpl.py:340-603) on the Spark
  * catalog: external-location parquet tables inside a per-dataset database,
  * with column descriptions as column comments (truncated per the
  * reference's 1023-char warehouse limit, statline.py:370-376).
  */
object CatalogLoader {

  /** Idempotent database create (A20): `CREATE DATABASE IF NOT EXISTS`. */
  def createNamespace(spark: SparkSession, namespace: String, description: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$namespace` COMMENT '${sqlEscape(description)}'")

  /** A21. */
  def namespaceExists(spark: SparkSession, namespace: String): Boolean =
    spark.catalog.databaseExists(namespace)

  /** Drop-cascade (A22) — the reference's always-drop-then-recreate flow. */
  def dropNamespace(spark: SparkSession, namespace: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS `$namespace` CASCADE")

  /** External parquet table over a location (A23) with its column comments
    * (A24), registered in one catalog statement — the Spark analog of a
    * BigQuery external table whose schema descriptions the reference patches
    * in one `update_table` call (gcpl.py:268-286).
    *
    * `schema` is the schema the files at `location` were written with, so
    * the catalog does not infer it from the parquet footers (a Spark job per
    * table); fields are registered nullable, as parquet stores them. Each
    * description is cleaned/truncated with the reference's exact rule;
    * descriptions of columns the table lacks, and null descriptions, are
    * ignored. The table must not exist yet (its namespace is recreated
    * before every load).
    */
  def registerExternalTable(spark: SparkSession, namespace: String, table: String,
                            location: String, schema: StructType,
                            descriptions: Map[String, String]): Unit = {
    val fields = schema.fields.map { f =>
      val field = nullableField(f)
      descriptions.get(f.name).flatMap(Option(_))
        .fold(field)(d => field.withComment(NameRules.cleanDescription(d)))
    }
    spark.catalog.createTable(s"`$namespace`.`$table`", "parquet", StructType(fields),
      Map("path" -> location))
  }

  /** `f` with itself and every nested field, array element and map value
    * nullable.
    */
  private def nullableField(f: StructField): StructField =
    f.copy(dataType = nullable(f.dataType), nullable = true)

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(nullableField))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def sqlEscape(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")
}
