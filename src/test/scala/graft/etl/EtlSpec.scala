package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden-file tests for the silvia ETL surface (SURVEY.md §2.2 P1/P2):
  * positional fidelity of the 131-col schema, typed coercion, bad-row
  * routing (never dropped, never thrown), and self-describing JSON shred.
  */
class EtlSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // --- schema position pins (SURVEY.md §7 risk 3) --------------------------

  test("canonical schema has exactly 131 fields with pinned positions") {
    val f = SnowplowSchema.FIELDS.map(_._1)
    assert(f.length == 131)
    assert(f(0) == "app_id")
    assert(f(6) == "event_id")
    assert(f(52) == "contexts")
    assert(f(58) == "unstruct_event")
    assert(f(112) == "ti_currency")
    assert(f(123) == "domain_sessionid")
    assert(f(130) == "true_tstamp")
  }

  // --- P1: snowplow parse --------------------------------------------------

  private lazy val sp = SnowplowParser.read(spark, EtlFixtures.snowplowTsv())

  test("P1: 5 good rows, 3 bad rows — nothing dropped, nothing thrown") {
    assert(sp.good.count() == 5)
    assert(sp.bad.count() == 3)
  }

  test("P1: typed golden values for the page_view row") {
    val r = sp.good.filter(col("event_id") === EtlFixtures.uuidPageView).head()
    assert(r.getAs[String]("event") == "page_view")
    assert(r.getAs[String]("user_id") == "user42")
    assert(r.getAs[Int]("domain_sessionidx") == 3)
    assert(math.abs(r.getAs[Double]("geo_latitude") - 55.7558) < 1e-9)
    assert(r.getAs[Boolean]("br_features_pdf"))
    assert(!r.getAs[Boolean]("dvce_ismobile"))
    assert(r.getAs[Int]("page_urlport") == 443)
    assert(r.getAs[java.sql.Timestamp]("derived_tstamp").toInstant ==
      java.time.Instant.parse("2024-01-01T10:00:00.500Z"))
  }

  test("P1: transaction money fields coerce to double") {
    val r = sp.good.filter(col("event_id") === EtlFixtures.uuidTrans).head()
    assert(r.getAs[Double]("tr_total") == 129.90)
    assert(r.getAs[Double]("tr_tax") == 21.65)
    assert(r.getAs[String]("tr_currency") == "RUB")
  }

  test("P1: bad rows carry the exact failure reasons") {
    val errs = sp.bad.select(explode(col("errors")).as("e"))
      .collect().map(_.getString(0)).toSet
    assert(errs.contains("field_count:130"))
    assert(errs.contains("bad_uuid:event_id"))
    assert(errs.contains("bad_double:tr_total"))
  }

  test("P1: a line with MORE than 131 fields also dead-letters") {
    import spark.implicits._
    val tooMany = EtlFixtures.goodPageView + "\textra_field"
    val res = SnowplowParser.parseLines(Seq(tooMany).toDF("value"))
    assert(res.good.count() == 0)
    val errs = res.bad.select(explode(col("errors"))).collect().map(_.getString(0))
    assert(errs.contains("field_count:132"))
  }

  test("P1: each field reports its first failing check, errors in field order") {
    import spark.implicits._
    val pos = SnowplowSchema.FIELDS.map(_._1).zipWithIndex.toMap
    def withFields(kvs: (String, String)*): String = {
      val f = EtlFixtures.goodPageView.split("\t", -1)
      kvs.foreach { case (n, v) => f(pos(n)) = v }
      f.mkString("\t")
    }
    val faulty = withFields(
      "event" -> "", "event_id" -> "not-a-uuid", "txn_id" -> "abc",
      "br_features_pdf" -> "yes", "dvce_created_tstamp" -> "not-a-time")
    // required wins over uuid and coercion on an empty required field
    val missing = withFields("event_id" -> "", "collector_tstamp" -> "")
    val fields = EtlFixtures.goodPageView.split("\t", -1)
    val lines = Seq(faulty, missing, fields.init.mkString("\t"),
      (fields :+ "extra").mkString("\t"))
    val res = SnowplowParser.parseLines(lines.toDF("value"))
    assert(res.good.count() == 0)
    val errors = res.bad.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(errors(faulty) == List(
      "bad_timestamp:dvce_created_tstamp", "missing:event", "bad_uuid:event_id",
      "bad_int:txn_id", "bad_boolean:br_features_pdf"))
    assert(errors(missing) == List("missing:collector_tstamp", "missing:event_id"))
    assert(errors(lines(2)) == List("field_count:130"))
    assert(errors(lines(3)) == List("field_count:132"))
  }

  test("P1: empty TSV fields become NULL, not empty strings") {
    val r = sp.good.filter(col("event_id") === EtlFixtures.uuidStruct).head()
    assert(r.isNullAt(r.fieldIndex("page_url")))
    assert(r.isNullAt(r.fieldIndex("tr_total")))
  }

  // --- J4: self-describing JSON shred --------------------------------------

  test("J4: unstruct_event shreds to schema + data map") {
    val shredded = SnowplowShred.shredUnstruct(sp.good)
      .filter(col("event_id") === EtlFixtures.uuidUnstruct).head()
    assert(shredded.getAs[String]("event_schema") ==
      "iglu:com.qlean/order_created/jsonschema/1-0-0")
    val data = shredded.getAs[Map[String, String]]("event_data")
    assert(data("order_id") == "ord-77")
    assert(data("amount") == "129.90")
  }

  test("J4: contexts explode one row per attached context") {
    val ctx = SnowplowShred.explodeContexts(sp.good).collect()
    assert(ctx.length == 2)
    val schemas = ctx.map(_.getAs[String]("context_schema")).toSet
    assert(schemas == Set(
      "iglu:com.qlean/user_ctx/jsonschema/1-0-0",
      "iglu:org.w3/PerformanceTiming/jsonschema/1-0-0"))
  }

  // --- P2: adjust parse ----------------------------------------------------

  private lazy val adj = AdjustParser.read(spark, EtlFixtures.adjustJsonl())

  test("P2: 3 good rows, 3 bad rows with exact reasons") {
    assert(adj.good.count() == 3)
    assert(adj.bad.count() == 3)
    val errs = adj.bad.select(explode(col("errors")).as("e"))
      .collect().map(_.getString(0)).toSet
    assert(errs == Set("missing:created_at", "bad_double:revenue_float", "bad_json"))
  }

  test("P2: malformed JSON dead-letters as bad_json ONLY (no spurious labels)") {
    val r = adj.bad.filter(col("line").startsWith("""{"activity_kind":"install","created_at":"1704110600"""))
      .head()
    assert(r.getSeq[String](r.fieldIndex("errors")).toList == List("bad_json"))
  }

  test("P2: typed golden values for the revenue event") {
    val r = adj.good.filter(col("activity_kind") === "event").head()
    assert(r.getAs[Double]("revenue") == 1.99)
    assert(!r.getAs[Boolean]("is_organic"))
    assert(r.getAs[java.sql.Timestamp]("created_at").toInstant ==
      java.time.Instant.ofEpochSecond(1704106800L))
  }

  test("P2: install row unix created_at converts to UTC timestamp") {
    val r = adj.good.filter(col("activity_kind") === "install").head()
    assert(r.getAs[java.sql.Timestamp]("created_at").toInstant ==
      java.time.Instant.parse("2024-01-01T10:00:00Z"))
    assert(r.getAs[Boolean]("is_organic"))
    assert(r.isNullAt(r.fieldIndex("revenue")))
  }
}
