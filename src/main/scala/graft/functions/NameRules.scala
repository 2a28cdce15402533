package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Column-name and description hygiene rules from the reference pipeline,
  * re-expressed as pure functions + Catalyst column expressions.
  *
  * Reference behavior being matched (semantics, not code):
  *  - `clean_python_name`: strip leading non-letter/underscore chars (after
  *    trimming), replace every other invalid char with `_`
  *    (`/root/reference/statline_bq/utils.py:268-295`).
  *  - dot-rename: BigQuery forbids `.` in field names, so `odata.type` →
  *    `odata_type` (`/root/reference/statline_bq/main.py:170-180`).
  *  - description cleaning: drop CR/LF and truncate to 1023 chars as
  *    1020 + "..." (`/root/reference/statline_bq/statline.py:370-376`).
  */
object NameRules {
  val MaxDescriptionLength = 1023
  private val TruncateAt = 1020

  /** `clean_python_name` semantics (utils.py:268-295). Pure — usable on the
    * driver for column renames and registered as a UDF for data cleaning.
    */
  def cleanPythonName(s: String, extraChars: String = ""): String = {
    if (s == null) return null
    val lead = s.trim.replaceAll("^[^a-zA-Z_]+", "")
    lead.replaceAll("[^0-9a-zA-Z_]" + extraChars, "_")
  }

  /** BigQuery-compat dot rename over a DataFrame's columns (main.py:170-180). */
  def renameDots(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.replace(".", "_")).toIndexedSeq: _*)

  /** Description cleanup (statline.py:370-376): strip CR/LF, cap at 1023. */
  def cleanDescription(s: String): String = {
    if (s == null) return null
    val flat = s.replace("\n", "").replace("\r", "")
    if (flat.length > MaxDescriptionLength) flat.substring(0, TruncateAt) + "..." else flat
  }

  /** Column-expression form of [[cleanDescription]]. */
  def cleanDescriptionCol(c: Column): Column = {
    val flat = regexp_replace(c, "[\n\r]", "")
    when(length(flat) > MaxDescriptionLength,
      concat(substring(flat, 1, TruncateAt), lit("..."))).otherwise(flat)
  }

  /** Registers the UDF surface (SURVEY B35). Column-expression variants above
    * are preferred in plans; the UDF exists to certify UDF registration.
    */
  def registerUdfs(spark: SparkSession): Unit =
    spark.udf.register("clean_name", (s: String) => cleanPythonName(s))
}
