package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's transform core (`/root/reference/Spatially ETL test.py:154-202`):
  * both ingestion branches converge on one 12-column "gold" schema
  * (SURVEY §1.4). This is the heart of reference parity — every function here
  * maps 1:1 to a row of SURVEY §2.2/§2.3.
  *
  * Cast semantics: the reference runs with ANSI off (Databricks default at the
  * time), so malformed casts (`'~'` → int) yield null, never error. Spark 4
  * defaults `spark.sql.ansi.enabled=true`, so we use `try_cast`/`get()` —
  * null-on-failure regardless of the session's ANSI flag (SURVEY §7.4.2).
  */
object Normalize {

  /** Null-on-failure cast — ANSI-proof parity with the reference's ANSI-off
    * `cast` (malformed input → null, `'~'` sentinel included).
    */
  private def tryTo(c: Column, t: DataType): Column = c.try_cast(t)

  val goldColumns: Seq[String] = Seq(
    "year_start", "year_end", "location_abbreviation", "location_description",
    "datasource", "class", "data_value_type", "data_value", "sample_size",
    "geolocation", "stratification_category_1", "stratification_1")

  /** CSV-branch geolocation parse (`:156-163`): `"(lat, lon)"` string →
    * struct<human_address:string, latitude:double, longitude:double> with a
    * null human_address. split → getItem → regexp_replace("[()]") → trim → cast.
    * `get()` (not `getItem`) so an out-of-bounds index is null under ANSI too.
    */
  def parseGeolocationString(geo: Column): Column = {
    val parts = split(geo, ",")
    val lat = tryTo(trim(regexp_replace(get(parts, lit(0)), "[()]", "")), DoubleType)
    val lon = tryTo(trim(regexp_replace(get(parts, lit(1)), "[()]", "")), DoubleType)
    struct(
      lit(null).cast(StringType).as("human_address"),
      lat.as("latitude"),
      lon.as("longitude"))
  }

  /** API-branch geolocation normalization (`:165-168`): JSON inference already
    * produced a struct (Socrata emits lat/lon as strings inside it); cast the
    * two coordinate fields and pin the struct to exactly the 3 gold fields
    * (SURVEY §7.4.1 — inferred extras like `needs_recoding` are dropped). A
    * field the inferred schema lacks (or a missing `geolocation` column —
    * rows without coordinates) reads as null.
    */
  def normalizeGeolocationStruct(df: DataFrame): Column = {
    val fields = df.schema.find(_.name == "geolocation").map(_.dataType) match {
      case Some(s: StructType) => s.fieldNames.toSet
      case _                   => Set.empty[String]
    }
    def fld(name: String): Column =
      if (fields.contains(name)) col(s"geolocation.$name") else lit(null)
    struct(
      tryTo(fld("human_address"), StringType).as("human_address"),
      tryTo(fld("latitude"), DoubleType).as("latitude"),
      tryTo(fld("longitude"), DoubleType).as("longitude"))
  }

  /** Shared tail of the transform chain (`:170-202`): typed casts, the two
    * `when` rewrites, snake_case renames and the final 12-column projection,
    * as ONE `select` over the branch's input with its geolocation column.
    */
  private def finish(df: DataFrame, geolocation: Column): DataFrame =
    df.select(
      tryTo(col("yearstart"), IntegerType).as("year_start"),             // :170, :180
      tryTo(col("yearend"), IntegerType).as("year_end"),                 // :171, :181
      col("locationabbr").as("location_abbreviation"),                   // :182
      col("locationdesc").as("location_description"),                   // :183
      when(col("datasource") === "Behavioral Risk Factor Surveillance System",
        lit("BRFSS")).otherwise(col("datasource")).as("datasource"),     // :174-175
      col("class"),
      when(lower(col("question")).contains("percent"), lit("Percent"))  // :176-177
        .otherwise(col("data_value_type")).as("data_value_type"),
      tryTo(col("data_value"), DoubleType).as("data_value"),             // :172
      tryTo(col("sample_size"), IntegerType).as("sample_size"),          // :173
      geolocation.as("geolocation"),
      col("stratificationcategory1").as("stratification_category_1"),    // :184
      col("stratification1").as("stratification_1"))                     // :185, :189-202

  /** BLOB/CSV branch (`:154-163` + shared tail). Input: all-string columns. */
  def fromCsv(df: DataFrame): DataFrame =
    finish(df, parseGeolocationString(col("geolocation")))               // :156-158

  /** API/JSON branch (`:165-168` + shared tail). Input: inferred JSON schema,
    * geolocation may be a struct or absent entirely (rows without coordinates).
    */
  def fromApi(df: DataFrame): DataFrame =
    finish(df, normalizeGeolocationStruct(df))
}
