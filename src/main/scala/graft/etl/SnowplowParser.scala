package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Snowplow enriched-event TSV parser (SURVEY.md §2.1 J1/J3/A2/A9).
  *
  * Pure column expressions, no UDFs. Each line is split once per operator:
  * the error check runs ONE lambda over the split array zipped with a
  * literal per-field metadata array (name, type, required), so its cost does
  * not grow with references to the fields. That check is a higher-order
  * function, so the filter holding it is evaluated outside whole-stage
  * codegen; so is the 131-column typed projection, which is wider than
  * `spark.sql.codegen.maxFields` (100). Strictness:
  *
  *   - field count must be exactly 131 (line-shift protection);
  *   - empty string → NULL (TSV convention);
  *   - typed fields coerce via try_cast semantics — a non-NULL raw value
  *     that fails coercion marks the row bad (never silently nulled);
  *   - booleans accept the Snowplow `0`/`1` encoding only;
  *   - `event_id` must be a UUID; REQUIRED fields must be non-NULL.
  *
  * Each field reports its first failing check only, in the order required,
  * uuid, coercion; the row's errors keep field order.
  */
object SnowplowParser {
  import SnowplowSchema._

  /** Typed value of a raw field (NULL when the field is empty). */
  private def typed(dt: DataType, raw: Column): Column = dt match {
    case StringType                               => raw
    case IntegerType | DoubleType | TimestampType => raw.try_cast(dt)
    case BooleanType => when(raw === "1", true).when(raw === "0", false)
    case other => sys.error(s"unsupported snowplow field type $other")
  }

  private case class FieldMeta(n: String, t: String, req: Boolean)

  /** One literal struct per TSV position: name, `simpleString` type, required. */
  private val fieldMeta: Column = typedLit(FIELDS.map { case (n, t) =>
    FieldMeta(n, t.simpleString, REQUIRED.contains(n))
  })

  /** Error label of raw field `x` described by `m`, NULL when it is fine. */
  private def fieldCheck(x: Column, m: Column): Column = {
    val coercionFails = FIELDS.map(_._2).distinct.filter(_ != StringType)
      .map(dt => m("t") === dt.simpleString && typed(dt, x).isNull).reduce(_ || _)
    when(x.isNull, when(m("req"), concat(lit("missing:"), m("n"))))
      .when(m("t") === "string",
        when(m("n") === "event_id" && !x.rlike(UUID_RE), lit("bad_uuid:event_id")))
      .when(coercionFails, concat(lit("bad_"), m("t"), lit(":"), m("n")))
  }

  private val errors: Column = ParseResult.bindOnce(col("_f")) { f =>
    when(size(f) =!= NUM_FIELDS, array(concat(lit("field_count:"), size(f).cast("string"))))
      .otherwise(filter(zip_with(f, fieldMeta, fieldCheck), _.isNotNull))
  }

  /** Parse a DataFrame of raw lines (single `value` string column). */
  def parseLines(raw: DataFrame): ParseResult = {
    val fields = transform(split(col("value"), "\t", -1), nullif(_, lit("")))
    val goodCols = FIELDS.zipWithIndex.map { case ((n, t), i) => typed(t, col("_f")(i)).as(n) }
    ParseResult.route(raw.withColumn("_f", fields).withColumn("_errors", errors), goodCols)
  }

  /** Read + parse a TSV path (A2). */
  def read(spark: org.apache.spark.sql.SparkSession, path: String): ParseResult =
    parseLines(spark.read.text(path))
}
