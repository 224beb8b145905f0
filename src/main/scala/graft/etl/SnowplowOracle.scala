package graft.etl

import java.nio.file.Paths

import org.apache.spark.sql.types._

/** Independent DuckDB re-implementation of the Snowplow TSV parse rules
  * (VERDICT.md round-2 "next" #2): gives the p1 pipeline entries a hard
  * value oracle instead of a rows-only check.
  *
  * The oracle reads the same fixture file as raw LINES (a 1-byte \x01
  * separator with quoting disabled, so embedded tabs survive into one
  * column), splits positionally on chr(9), and mirrors the per-field
  * check [[SnowplowParser]] zips over its split array: exact 131-field count,
  * required fields, UUID shape on event_id, typed coercions via try_cast,
  * and the 0/1 boolean encoding — with the same first-match-wins error
  * labels. Every expression is GENERATED from [[SnowplowSchema.FIELDS]],
  * so the Spark parser and the oracle cannot drift apart silently.
  */
object SnowplowOracle {
  import SnowplowSchema._

  private val idx: Map[String, Int] = FIELDS.map(_._1).zipWithIndex.toMap

  /** DuckDB lists are 1-based; empty TSV field → NULL (parser convention). */
  private def raw(i: Int): String = s"nullif(f[${i + 1}], '')"

  /** Typed value of field `i` — mirror of SnowplowParser's typed good projection. */
  private def typed(dt: DataType, i: Int): String = {
    val r = raw(i)
    dt match {
      case StringType    => r
      case IntegerType   => s"try_cast($r AS INT)"
      case DoubleType    => s"try_cast($r AS DOUBLE)"
      case TimestampType => s"try_cast($r AS TIMESTAMP)"
      case BooleanType   =>
        s"CASE WHEN $r = '1' THEN true WHEN $r = '0' THEN false END"
      case other => sys.error(s"unsupported snowplow field type $other")
    }
  }

  private def typedByName(name: String): String =
    typed(FIELDS(idx(name))._2, idx(name))

  /** Per-field error label CASE — same WHEN order and labels as the
    * lambda SnowplowParser zips over each field and its metadata
    * (required, then uuid, then coercion).
    */
  private def errCase(name: String, dt: DataType, i: Int): Option[String] = {
    val r = raw(i)
    val t = typed(dt, i)
    val coercion =
      if (dt == StringType) None
      else Some(s"WHEN $r IS NOT NULL AND ($t) IS NULL " +
        s"THEN 'bad_${dt.simpleString}:$name'")
    val uuid =
      if (name == "event_id")
        Some(s"WHEN $r IS NOT NULL AND NOT regexp_matches($r, '$UUID_RE') " +
          s"THEN 'bad_uuid:$name'")
      else None
    val required =
      if (REQUIRED.contains(name)) Some(s"WHEN $r IS NULL THEN 'missing:$name'")
      else None
    val whens = (required ++ uuid ++ coercion).mkString(" ")
    if (whens.isEmpty) None else Some(s"CASE $whens END")
  }

  /** One row per fixture line, `f` = the split field list. */
  private def linesCte: String = {
    val path = Paths.get(EtlFixtures.snowplowTsv()).toAbsolutePath
    s"""lines AS (
       |  SELECT string_split(line, chr(9)) AS f
       |  FROM read_csv('$path', sep=e'\\x01', header=false, quote='',
       |                columns={'line': 'VARCHAR'}))""".stripMargin
  }

  /** A line is good iff the field count is exact and no per-field error
    * fires — expressed as positive conditions (no-error ⇔ condition true).
    */
  private def goodCond: String = {
    val perField = FIELDS.zipWithIndex.flatMap { case ((name, dt), i) =>
      val r = raw(i)
      val required =
        if (REQUIRED.contains(name)) Seq(s"$r IS NOT NULL") else Nil
      val uuid =
        if (name == "event_id") Seq(s"regexp_matches($r, '$UUID_RE')") else Nil
      val coercion = dt match {
        case StringType  => Nil
        case BooleanType => Seq(s"($r IS NULL OR $r IN ('0', '1'))")
        case _           => Seq(s"($r IS NULL OR (${typed(dt, i)}) IS NOT NULL)")
      }
      required ++ uuid ++ coercion
    }
    (s"len(f) = $NUM_FIELDS" +: perField).mkString("\n  AND ")
  }

  /** Oracle for p1_snowplow_good: typed values of the projected columns.
    * Timestamp fields are emitted as µs-since-epoch BIGINT (SURVEY §2.3
    * rule 8) — mirrors p1Good's unix_micros conversion, driven by the same
    * FIELDS types so the two sides cannot disagree on which columns convert.
    */
  def p1GoodSql(outCols: Seq[String]): String = {
    val sel = outCols.map { n =>
      val t = typedByName(n)
      val e = if (FIELDS(idx(n))._2 == TimestampType) s"epoch_us($t)" else t
      s"$e AS $n"
    }.mkString(",\n       ")
    s"""WITH $linesCte
       |SELECT $sel
       |FROM lines
       |WHERE $goodCond
       |ORDER BY event_id""".stripMargin
  }

  /** Oracle for p1_snowplow_badrows: exploded error labels with counts. */
  def p1BadRowsSql: String = {
    val cases = FIELDS.zipWithIndex
      .flatMap { case ((n, dt), i) => errCase(n, dt, i) }
      .mkString(",\n           ")
    s"""WITH $linesCte,
       |errs AS (
       |  SELECT CASE WHEN len(f) <> $NUM_FIELDS
       |              THEN ['field_count:' || CAST(len(f) AS VARCHAR)]
       |              ELSE list_filter(
       |           [$cases],
       |           x -> x IS NOT NULL) END AS e
       |  FROM lines)
       |SELECT error, count(*) AS n
       |FROM (SELECT unnest(e) AS error FROM errs)
       |GROUP BY error
       |ORDER BY error""".stripMargin
  }

  /** Oracle for p5_target_mapping: per-target row counts derived from the
    * same TSV + parse rules. The JDBC upsert is keyed on event_id (unique
    * in the fixture) and the double load is idempotent, so the loaded
    * counts must equal the fixture-derived counts exactly.
    */
  def p5Sql: String = {
    val ev = raw(idx("event"))
    s"""WITH $linesCte,
       |good AS (SELECT f FROM lines WHERE $goodCond)
       |SELECT * FROM (
       |  SELECT 'atomic_events' AS target_table, count(*) AS n FROM good
       |  UNION ALL SELECT 'structured_events', count(*) FROM good
       |    WHERE $ev = 'struct'
       |  UNION ALL SELECT 'transactions', count(*) FROM good
       |    WHERE $ev = 'transaction'
       |  UNION ALL SELECT 'transaction_items', count(*) FROM good
       |    WHERE $ev = 'transaction_item')
       |ORDER BY target_table""".stripMargin
  }

  /** Oracle for p11_ua_enrichment: the computed UA columns re-derived by
    * the IDENTICAL pattern strings (generated from [[UaEnrich]]'s ordered
    * tables — the common RE2 ∩ java.util.regex dialect, so regexp_matches
    * here and rlike in Spark see the same language).
    */
  def p11Sql: String = {
    val eid = raw(idx("event_id"))
    val ua = raw(idx("useragent"))
    s"""WITH $linesCte,
       |good AS (SELECT f FROM lines WHERE $goodCond)
       |SELECT $eid AS event_id,
       |       $ua AS useragent,
       |       ${UaEnrich.familySql(ua)} AS ua_family,
       |       ${UaEnrich.versionSql(ua)} AS ua_version,
       |       ${UaEnrich.osFamilySql(ua)} AS ua_os_family,
       |       ${UaEnrich.deviceClassSql(ua)} AS ua_device_class
       |FROM good
       |ORDER BY event_id""".stripMargin
  }

  /** Oracle for p1_snowplow_shred: explode the contexts envelope of good
    * rows — one row per attached context, keys joined scalar, tier value.
    */
  def p1ShredSql: String = {
    val eid = raw(idx("event_id"))
    val ctx = raw(idx("contexts"))
    s"""WITH $linesCte,
       |good AS (SELECT f FROM lines WHERE $goodCond),
       |ctx AS (
       |  SELECT $eid AS event_id,
       |         unnest(json_transform(json_extract($ctx, '$$.data'),
       |                '[{"schema":"VARCHAR","data":"JSON"}]')) AS c
       |  FROM good
       |  WHERE $ctx IS NOT NULL)
       |SELECT event_id,
       |       c."schema" AS context_schema,
       |       array_to_string(json_keys(c."data"), ',') AS keys,
       |       json_extract_string(c."data", '$$.tier') AS tier
       |FROM ctx
       |ORDER BY event_id, context_schema""".stripMargin
  }
}
