package silviabench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.etl.SnowplowSchema

/** Seeded input generator. Every workload's files come from here and from
  * nothing else: the same seed writes byte-identical files. Files carry
  * strictly increasing mtimes (one second apart, in batch order), the
  * `StreamInput.staggerModTimes` convention, so the file source replays
  * batch `i` as micro-batch `i`.
  */
object Gen {

  /** Snowplow + Adjust feed shape. `redeliver` is the share of lines that
    * redeliver or correct a key from an earlier batch (recent batches
    * weighted), `bad` the share of dead-letter lines (spread evenly over
    * every parser reason), `adjust` the share of Adjust postbacks.
    */
  final case class FeedSpec(batches: Int, lines: Int, redeliver: Double,
      bad: Double = 0.02, adjust: Double = 0.2)

  /** What the generator planted: per-feed line counts and bad-row counts
    * per parser reason (the exact labels the parsers emit).
    */
  final case class FeedTruth(snowLines: Long, adjLines: Long,
      badByReason: Map[String, Long], redelivered: Long)

  val SnowBadReasons: Seq[String] = Seq(
    "field_count:130", "missing:event_id", "bad_uuid:event_id",
    "missing:collector_tstamp", "bad_timestamp:collector_tstamp",
    "missing:event", "bad_int:txn_id", "bad_double:tr_total",
    "bad_boolean:br_cookies")
  val AdjBadReasons: Seq[String] = Seq(
    "bad_json", "missing:created_at", "bad_bigint:created_at",
    "bad_double:revenue_float", "bad_activity_kind")

  private val Fields = SnowplowSchema.FIELDS.map(_._1)
  private val Pos: Map[String, Int] = Fields.zipWithIndex.toMap
  private val Day0 = java.time.LocalDate.of(2024, 3, 1).atStartOfDay()
    .toEpochSecond(java.time.ZoneOffset.UTC)
  val Days = 8

  private def hex(r: java.util.Random, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Character.forDigit(r.nextInt(16), 16)); i += 1 }
    sb.toString
  }
  private def uuid(r: java.util.Random): String =
    s"${hex(r, 8)}-${hex(r, 4)}-4${hex(r, 3)}-a${hex(r, 3)}-${hex(r, 12)}"
  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
  private def ts(sec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC).format(TsFormat)

  private val EventTypes =
    Seq("page_view", "page_view", "page_view", "struct", "unstruct",
      "transaction", "transaction_item", "page_ping")
  private val CtxSchemas = Seq(
    "iglu:com.qlean/user_ctx/jsonschema/1-0-0",
    "iglu:org.w3/PerformanceTiming/jsonschema/1-0-0",
    "iglu:com.google.analytics/cookies/jsonschema/1-0-0",
    "iglu:com.snowplowanalytics.snowplow/web_page/jsonschema/1-0-0")
  private val Agents = Seq(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_2 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.2 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.144 Mobile Safari/537.36")

  /** One Snowplow event, fully determined by (key seed, version). A
    * correction keeps event_id, event type and timestamps, and changes the
    * payload fields, so last-write-wins by key is observable.
    */
  private def snowFields(key: Long, version: Int): Array[String] = {
    val r = new java.util.Random(key)
    val f = Array.fill(Fields.length)("")
    def set(n: String, v: String): Unit = f(Pos(n)) = v
    val ev = EventTypes(r.nextInt(EventTypes.size))
    val sec = Day0 + r.nextInt(Days * 86400)
    set("app_id", "qlean-web"); set("platform", if (r.nextBoolean()) "web" else "mob")
    set("etl_tstamp", ts(sec + 5)); set("collector_tstamp", ts(sec))
    set("dvce_created_tstamp", ts(sec - 1)); set("derived_tstamp", ts(sec - 1))
    set("event", ev); set("event_id", uuid(r)); set("txn_id", r.nextInt(1000000).toString)
    set("v_tracker", "js-2.17.0"); set("v_collector", "ssc-2.8.2"); set("v_etl", "spark-enrich-1.0.0")
    set("user_id", s"user${r.nextInt(50000)}")
    set("user_ipaddress", s"203.0.${r.nextInt(256)}.${r.nextInt(256)}")
    set("domain_userid", hex(r, 16)); set("domain_sessionidx", (1 + r.nextInt(40)).toString)
    set("network_userid", uuid(r)); set("domain_sessionid", uuid(r))
    set("geo_country", Seq("RU", "DE", "US", "KZ")(r.nextInt(4)))
    set("geo_city", Seq("Moscow", "Berlin", "Austin", "Almaty")(r.nextInt(4)))
    set("geo_latitude", f"${r.nextDouble() * 90}%.4f"); set("geo_longitude", f"${r.nextDouble() * 90}%.4f")
    val path = s"/catalog/p${r.nextInt(500)}"
    set("page_url", s"https://qlean.example$path?v=$version"); set("page_title", s"Page v$version")
    set("page_urlscheme", "https"); set("page_urlhost", "qlean.example"); set("page_urlport", "443")
    set("page_urlpath", path); set("page_urlquery", s"v=$version")
    set("refr_urlhost", "ya.example"); set("refr_medium", "search")
    set("mkt_medium", "cpc"); set("mkt_source", "ya"); set("mkt_campaign", s"c${r.nextInt(30)}")
    val ua = Agents(r.nextInt(Agents.size))
    set("useragent", ua); set("br_name", "Chrome"); set("br_family", "Chrome"); set("br_lang", "en-US")
    set("br_features_pdf", "1"); set("br_features_flash", "0"); set("br_cookies", "1")
    set("br_colordepth", "24"); set("br_viewwidth", "1920"); set("br_viewheight", "1080")
    set("os_name", "Mac OS X"); set("os_family", "Mac OS X"); set("os_timezone", "Europe/Moscow")
    set("dvce_type", "Computer"); set("dvce_ismobile", if (ua.contains("Mobile")) "1" else "0")
    set("dvce_screenwidth", "2560"); set("dvce_screenheight", "1440")
    set("doc_charset", "UTF-8"); set("doc_width", "1920"); set("doc_height", "4320")
    set("dvce_sent_tstamp", ts(sec - 1))
    set("event_vendor", "com.snowplowanalytics.snowplow"); set("event_name", ev)
    set("event_format", "jsonschema"); set("event_version", "1-0-0")
    set("event_fingerprint", hex(r, 16))
    val amount = f"${r.nextInt(20000) / 100.0 + version}%.2f"
    ev match {
      case "struct" =>
        set("se_category", "checkout"); set("se_action", "add_to_cart")
        set("se_label", s"sku-${r.nextInt(900)}"); set("se_property", "qty")
        set("se_value", s"${1 + r.nextInt(5) + version}.0")
      case "unstruct" =>
        set("unstruct_event",
          """{"schema":"iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0",""" +
            s""""data":{"schema":"iglu:com.qlean/order_created/jsonschema/1-0-0",""" +
            s""""data":{"order_id":"ord-${r.nextInt(99999)}","amount":"$amount"}}}""")
      case "transaction" =>
        set("tr_orderid", s"ord-${r.nextInt(99999)}"); set("tr_affiliation", "web")
        set("tr_total", amount); set("tr_tax", "1.50"); set("tr_shipping", "0.00")
        set("tr_city", "Moscow"); set("tr_country", "RU"); set("tr_currency", "RUB")
        set("tr_total_base", amount); set("base_currency", "EUR")
      case "transaction_item" =>
        set("ti_orderid", s"ord-${r.nextInt(99999)}"); set("ti_sku", s"sku-${r.nextInt(900)}")
        set("ti_name", "Deep cleaning"); set("ti_category", "cleaning")
        set("ti_price", amount); set("ti_quantity", (1 + version).toString); set("ti_currency", "RUB")
      case "page_ping" =>
        set("pp_xoffset_min", "0"); set("pp_xoffset_max", r.nextInt(800).toString)
        set("pp_yoffset_min", "0"); set("pp_yoffset_max", r.nextInt(4000).toString)
      case _ => ()
    }
    val nCtx = r.nextInt(4)
    if (nCtx > 0) {
      val ctx = scala.util.Random.javaRandomToRandom(r).shuffle(CtxSchemas).take(nCtx)
        .map(s => s"""{"schema":"$s","data":{"v":"$version","k":"${r.nextInt(100)}"}}""")
      set("contexts",
        """{"schema":"iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-1","data":[""" +
          ctx.mkString(",") + "]}")
    }
    f
  }

  /** A bad Snowplow line carrying exactly one parser reason. */
  private def snowBad(key: Long, reason: String): String = {
    val f = snowFields(key, 0)
    def set(n: String, v: String): Unit = f(Pos(n)) = v
    reason match {
      case "field_count:130" => return f.dropRight(1).mkString("\t")
      case "missing:event_id" => set("event_id", "")
      case "bad_uuid:event_id" => set("event_id", "not-a-uuid")
      case "missing:collector_tstamp" => set("collector_tstamp", "")
      case "bad_timestamp:collector_tstamp" => set("collector_tstamp", "yesterday")
      case "missing:event" => set("event", "")
      case "bad_int:txn_id" => set("txn_id", "12x")
      case "bad_double:tr_total" => set("tr_total", "12f.90")
      case "bad_boolean:br_cookies" => set("br_cookies", "2")
    }
    f.mkString("\t")
  }

  private def adjFields(key: Long, version: Int): Seq[(String, String)] = {
    val r = new java.util.Random(key)
    val kind = Seq("install", "event", "session")(r.nextInt(3))
    val base = Seq(
      "activity_kind" -> kind, "app_token" -> "4w565xzmb54d", "adid" -> hex(r, 32),
      "gps_adid" -> uuid(r), "created_at" -> (Day0 + r.nextInt(Days * 86400)).toString,
      "tracker" -> hex(r, 6), "tracker_name" -> s"AdNet::Campaign${r.nextInt(20)}",
      "network_name" -> "AdNet", "campaign_name" -> s"Campaign${r.nextInt(20)}",
      "country" -> Seq("ru", "de", "us")(r.nextInt(3)), "os_name" -> "android",
      "os_version" -> "14", "device_name" -> "Pixel 8",
      "is_organic" -> (if (r.nextBoolean()) "1" else "0"),
      "creative_name" -> s"v$version")
    if (kind == "event")
      base ++ Seq("event_token" -> "f0ob4r",
        "revenue_float" -> f"${r.nextInt(1000) / 100.0 + version}%.2f", "currency" -> "USD")
    else base
  }

  private def json(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")

  private def adjBad(key: Long, reason: String): String = {
    val kv = adjFields(key, 0).toMap
    reason match {
      case "bad_json" => json(kv.toSeq).dropRight(1)
      case "missing:created_at" => json((kv - "created_at").toSeq)
      case "bad_bigint:created_at" => json((kv + ("created_at" -> "soon")).toSeq)
      case "bad_double:revenue_float" => json((kv + ("revenue_float" -> "one.99")).toSeq)
      case "bad_activity_kind" => json((kv + ("activity_kind" -> "reattribution")).toSeq)
    }
  }

  private def writeLines(path: String, lines: Iterator[String], mtimeMs: Long): Unit = {
    val tmp = new File(path + ".tmp")
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(tmp), StandardCharsets.UTF_8), 1 << 20)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    tmp.setLastModified(mtimeMs)
    Files.move(tmp.toPath, Paths.get(path))
  }

  private def mtimeBase(n: Int): Long = System.currentTimeMillis() - (n + 10) * 1000L

  /** Write `spec.batches` feed files `dir/b-00000.txt`, … Lines of both
    * feeds are interleaved in one file per micro-batch; the feed is told
    * apart by the leading `{` of an Adjust postback.
    */
  def writeFeed(dir: String, seed: Long, spec: FeedSpec): FeedTruth = {
    Files.createDirectories(Paths.get(dir))
    val r = new java.util.Random(seed)
    val keysByBatch = mutable.ArrayBuffer.empty[Array[Long]] // signed: <0 adjust
    val versions = mutable.HashMap.empty[Long, Int]
    val bad = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var snow, adj, redelivered = 0L
    var snowBadI, adjBadI = 0
    val base = mtimeBase(spec.batches)
    for (b <- 0 until spec.batches) {
      val used = mutable.HashSet.empty[Long]
      val keys = mutable.ArrayBuffer.empty[Long]
      val lines = new Array[String](spec.lines)
      var i = 0
      while (i < spec.lines) {
        val u = r.nextDouble()
        val isAdj = r.nextDouble() < spec.adjust
        if (u < spec.bad) {
          val k = r.nextLong()
          lines(i) =
            if (isAdj) {
              val reason = AdjBadReasons(adjBadI % AdjBadReasons.size); adjBadI += 1
              bad(reason) += 1; adj += 1; adjBad(k, reason)
            } else {
              val reason = SnowBadReasons(snowBadI % SnowBadReasons.size); snowBadI += 1
              bad(reason) += 1; snow += 1; snowBad(k, reason)
            }
          i += 1
        } else {
          var key = 0L
          if (b > 0 && u < spec.bad + spec.redeliver) {
            // geometric lag: most corrections hit the last few batches
            var lag = 1
            while (lag < b && r.nextDouble() < 0.5) lag += 1
            val src = keysByBatch(b - lag)
            if (src.nonEmpty) key = src(r.nextInt(src.length))
          }
          if (key == 0L || used.contains(key)) {
            key = r.nextLong() & Long.MaxValue
            if (key == 0L) key = 1L
            if (isAdj) key = -key
          } else redelivered += 1
          used += key; keys += key
          val v = versions.getOrElse(key, -1) + 1
          versions(key) = v
          lines(i) =
            if (key < 0) { adj += 1; json(adjFields(key, v)) }
            else { snow += 1; snowFields(key, v).mkString("\t") }
          i += 1
        }
      }
      keysByBatch += keys.toArray
      writeLines(f"$dir/b-$b%05d.txt", lines.iterator, base + b * 1000L)
    }
    FeedTruth(snow, adj, bad.toMap, redelivered)
  }

  // --- corpus ---------------------------------------------------------------

  final case class CorpusSpec(histDocs: Int, batches: Int, docs: Int, dim: Int = 16)

  /** Planted duplicate kinds, as shares of batch docs. */
  val Planted: Seq[(String, Double)] = Seq(
    "exact" -> 0.05, "near" -> 0.05, "semantic" -> 0.05, "contaminated" -> 0.03)

  final case class CorpusTruth(plantedSemantic: Set[Long])

  private val Vocab: Array[String] = {
    val r = new java.util.Random(7L)
    Array.fill(3000) {
      val n = 3 + r.nextInt(7)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
  }

  /** Write history (`hist.json`) and `batches` doc files `dir/in/d-*.json`
    * (JSON lines: doc_id, lang, text, emb). Ids strictly increase across
    * history then batches, the arrival-order contract of CorpusPrep's
    * incremental chain. Every 50th id is a held-out benchmark doc.
    */
  def writeCorpus(dir: String, seed: Long, spec: CorpusSpec): CorpusTruth = {
    Files.createDirectories(Paths.get(s"$dir/in"))
    val r = new java.util.Random(seed)
    val texts = mutable.ArrayBuffer.empty[(Long, String, Array[Double])]
    val semantic = mutable.HashSet.empty[Long]
    var nextId = 1L
    def freshText(): String = {
      val n = 25 + r.nextInt(30)
      val sb = new StringBuilder
      for (j <- 0 until n) {
        if (j > 0) sb.append(' ')
        sb.append(Vocab(r.nextInt(Vocab.length)))
      }
      if (r.nextInt(20) == 0) sb.append(s" mail user${r.nextInt(999)}@qlean.example")
      sb.toString
    }
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def freshVec(): Array[Double] = unit(Array.fill(spec.dim)(r.nextGaussian()))
    def fmt(v: Array[Double]): String = v.map(x => f"$x%.6f").mkString("[", ",", "]")
    def doc(id: Long, text: String, v: Array[Double]): String = {
      val lang = Seq("en", "de", "ru")((id % 3).toInt)
      s"""{"doc_id":$id,"lang":"$lang","text":"$text","emb":${fmt(v)}}"""
    }
    def gen(inBatch: Boolean): String = {
      val id = nextId; nextId += 1
      val u = r.nextDouble()
      var acc = 0.0
      val kind =
        if (!inBatch || texts.size < 100 || id % 50 == 0) "fresh"
        else Planted.collectFirst { case (k, s) if { acc += s; u < acc } => k }
          .getOrElse("fresh")
      val (text, v) = kind match {
        case "exact" =>
          val (_, t, _) = texts(r.nextInt(texts.size)); (t, freshVec())
        case "near" =>
          val words = texts(r.nextInt(texts.size))._2.split(' ')
          words(words.length / 2) = Vocab(r.nextInt(Vocab.length))
          (words.mkString(" "), freshVec())
        case "semantic" =>
          val src = texts(r.nextInt(texts.size))._3
          semantic += id
          (freshText(), unit(src.map(_ + r.nextGaussian() * 0.01)))
        case "contaminated" =>
          val bench = texts.filter(_._1 % 50 == 0)
          val t = if (bench.isEmpty) freshText() else bench(r.nextInt(bench.size))._2
          (t.split(' ').take(30).mkString(" ") + " " + freshText(), freshVec())
        case _ => (freshText(), freshVec())
      }
      texts += ((id, text, v))
      doc(id, text, v)
    }
    val base = mtimeBase(spec.batches)
    writeLines(s"$dir/hist.json", Iterator.fill(spec.histDocs)(gen(false)), base - 1000L)
    for (b <- 0 until spec.batches)
      writeLines(f"$dir/in/d-$b%05d.json",
        Iterator.fill(spec.docs)(gen(true)).toArray.iterator, base + b * 1000L)
    CorpusTruth(semantic.toSet)
  }
}
