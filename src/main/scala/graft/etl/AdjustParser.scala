package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Adjust server-callback (postback) parser (SURVEY.md §2.1 J2/A3).
  *
  * Input is one JSON object per line with string-typed values (HTTP query
  * params `[pub:adjust]`). Parsed with an explicit schema — no inference in
  * production paths (SURVEY.md §1.2) — then coerced: `created_at` unix
  * seconds → TIMESTAMP, `revenue_float` → DOUBLE, `is_organic` `0/1` →
  * BOOLEAN. Rows with a missing/bad `created_at`, a bad `revenue_float`, an
  * unknown `activity_kind`, or unparseable JSON dead-letter to `bad` (A9).
  */
object AdjustParser {

  val ACTIVITY_KINDS: Seq[String] = Seq("install", "event", "session")

  /** Raw postback schema: every value arrives as a string. */
  val RAW_SCHEMA: StructType = StructType(Seq(
    "activity_kind", "event_token", "app_token", "adid", "idfa", "gps_adid",
    "created_at", "tracker", "tracker_name", "network_name", "campaign_name",
    "adgroup_name", "creative_name", "country", "os_name", "os_version",
    "device_name", "is_organic", "revenue_float", "currency"
  ).map(StructField(_, StringType, nullable = true)))

  /** Parse schema = RAW_SCHEMA + a corrupt-record column: Spark 3+'s
    * PERMISSIVE from_json never returns a NULL struct for malformed JSON
    * (all fields come back null instead — ADVICE r2), so malformed lines
    * are detected explicitly via columnNameOfCorruptRecord.
    */
  private val PARSE_SCHEMA: StructType =
    RAW_SCHEMA.add(StructField("_corrupt", StringType, nullable = true))

  /** Error labels of the parsed struct `_r`, bound once (one `from_json`
    * per row in the filter, however many fields the checks read).
    */
  private val errors: Column = ParseResult.bindOnce(col("_r")) { r =>
    // bad_json is the SOLE error for a malformed line — the per-field
    // labels below would all fire spuriously on its null-struct fields
    when(r.isNull || r("_corrupt").isNotNull, array(lit("bad_json")))
      .otherwise(filter(array(
        when(r("created_at").isNull, lit("missing:created_at"))
          .when(r("created_at").try_cast(LongType).isNull, lit("bad_bigint:created_at")),
        when(r("revenue_float").isNotNull && r("revenue_float").try_cast(DoubleType).isNull,
          lit("bad_double:revenue_float")),
        when(r("activity_kind").isNull || !r("activity_kind").isin(ACTIVITY_KINDS: _*),
          lit("bad_activity_kind"))
      ), _.isNotNull))
  }

  /** Typed good columns, in RAW_SCHEMA order (revenue keeps its coerced name). */
  private val goodCols: Seq[Column] = RAW_SCHEMA.fieldNames.toSeq.map {
    case "created_at" =>
      timestamp_seconds(col("_r.created_at").try_cast(LongType)).as("created_at")
    case "is_organic" =>
      val v = col("_r.is_organic")
      when(v === "1", true).when(v === "0", false).as("is_organic")
    case "revenue_float" => col("_r.revenue_float").try_cast(DoubleType).as("revenue")
    case n => col(s"_r.$n").as(n)
  }

  def parseLines(raw: DataFrame): ParseResult = {
    val typed = raw
      .withColumn("_r", from_json(col("value"), PARSE_SCHEMA,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")))
      .withColumn("_errors", errors)
    ParseResult.route(typed, goodCols)
  }

  def read(spark: SparkSession, path: String): ParseResult =
    parseLines(spark.read.text(path))
}
