package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("functions-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("of_iso_duration: native expression, correct under codegen, null-safe") {
    Functions.registerAll(spark)
    import spark.implicits._
    val df = Seq("PT25M", "PT1H30M", "P1DT2H", "garbage", "PT45S", null)
      .toDF("d")
    val got = df.selectExpr("of_iso_duration(d) AS h").collect().map(_.getString(0))
    assert(got.toSeq == Seq("25 min", "1h 30 min", "1d 2h", "garbage", "45s", null))
    // stays inside whole-stage codegen (no BatchEvalPython / no udf node)
    val plan = df.selectExpr("of_iso_duration(d)").queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEval"), plan)
  }

  test("of_chunk500 from SQL: array<struct> with ids and types") {
    Functions.registerAll(spark)
    import spark.implicits._
    // blank line between paragraphs: cleanHtml maps tags to spaces, so the
    // \n\n separator must come from the source text (reference behavior)
    val html = ("<p>" + ("word " * 300).trim + "</p>\n\n<p>" + ("más " * 300).trim + "</p>")
    val rows = Seq((html, "https://e.com/p")).toDF("html", "url")
      .createOrReplaceTempView("t")
    val out = spark.sql(
      """SELECT c.id, c.type, of_word_count(c.text) AS n
        |FROM t LATERAL VIEW explode(of_chunk500(html, url)) AS c""".stripMargin)
      .collect()
    assert(out.length == 2)
    assert(out.map(_.getInt(2)).toSeq == Seq(300, 300))
    assert(out.forall(_.getString(0).startsWith(
      graft.extract.TextUtil.md5Hex("https://e.com/p"))))
  }

  test("of_extract_chunks from SQL: sidecar pipeline, typed chunks with sha ids") {
    Functions.registerAll(spark)
    val out = spark.sql(
      """SELECT c.id, c.type, c.text FROM (SELECT 1) t
        |LATERAL VIEW explode(of_extract_chunks('https://e.com/r',
        |  '<html><body><main><h2>Section heading of decent length</h2>
        |   <p>A paragraph with more than twenty characters.</p></main></body></html>')) AS c
        |""".stripMargin).collect()
    assert(out.map(_.getString(1)).toSeq == Seq("heading", "paragraph"))
    assert(out.forall(_.getString(0).length == 16))
    assert(out(1).getString(2) == "A paragraph with more than twenty characters.")
  }

  test("of_clean_html / of_summarise / of_detect_type / of_sync_token from SQL") {
    Functions.registerAll(spark)
    val r = spark.sql(
      """SELECT of_clean_html('<b>a &amp; b</b>') AS c,
        |       of_summarise('one two three four five', 3) AS s,
        |       of_detect_type('- a\n- b\n- c') AS t,
        |       of_parse_since(of_sync_token('2026-01-01T00:00:00+00:00')) AS ts,
        |       of_clean_wp('[gallery ids="1"]keep this text') AS w""".stripMargin)
      .collect().head
    assert(r.getString(0) == "a & b")
    assert(r.getString(1) == "one two three...")
    assert(r.getString(2) == "list")
    assert(r.getDouble(3) == 1.7672256e9)
    assert(r.getString(4) == "keep this text")
  }

  test("of_extract_turn dispatches on tool; of_is_llm_bot matches UA substrings") {
    Functions.registerAll(spark)
    val html = "'<html><body><p>A paragraph with more than twenty characters.</p></body></html>'"
    val r = spark.sql(
      s"""SELECT of_extract_turn('u#0', $html, 'browser') AS h,
         |       of_extract_turn('u#0', $html, 'render') AS s,
         |       of_extract_turn('u#0', $html, 'pdf') AS p,
         |       of_is_llm_bot('Mozilla/5.0 GPTBot/1.0') AS bot,
         |       of_is_llm_bot('Mozilla/5.0 human') AS human""".stripMargin)
      .collect().head
    val htmlChunks = r.getSeq[org.apache.spark.sql.Row](0)
    val spanChunks = r.getSeq[org.apache.spark.sql.Row](1)
    assert(htmlChunks.map(_.getString(2)) == Seq("paragraph"))
    assert(spanChunks.map(_.getString(2)) == Seq("span"))
    assert(spanChunks.head.getString(1) == "A paragraph with more than twenty characters.")
    assert(r.getSeq[org.apache.spark.sql.Row](2) == spanChunks)
    assert(r.getBoolean(3) && !r.getBoolean(4))
  }

  test("of_extract_turn numbers a NULL url's chunks as the empty url") {
    Functions.registerAll(spark)
    val r = spark.sql("SELECT of_extract_turn(NULL, " +
      "'<p>A paragraph with more than twenty characters.</p>', 'browser') AS h")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(r.head.getString(0) == graft.job.ExtractJob.chunkId("", 0))
    assert(r.head.getString(0) == "871bfd972afe747e")
  }

  test("of_detect_bot / of_bot_family / of_encode_uri from SQL") {
    Functions.registerAll(spark)
    val r = spark.sql(
      """SELECT of_detect_bot('Mozilla/5.0 ClaudeBot/1.0') AS n,
        |       of_bot_family('Mozilla/5.0 ClaudeBot/1.0') AS f,
        |       of_detect_bot('Mozilla/5.0 human') AS hn,
        |       of_bot_family('') AS ef,
        |       of_encode_uri('/a b/café?&') AS e""".stripMargin)
      .collect().head
    assert(r.getString(0) == "ClaudeBot" && r.getString(1) == "anthropic")
    assert(r.getString(2) == "human-or-unknown")
    assert(r.getString(3) == "unknown")
    assert(r.getString(4) == "%2Fa%20b%2Fcaf%C3%A9%3F%26")
  }

  test("of_etag matches makeEtag: quoted 16-hex md5 prefix; 304 only on exact match") {
    Functions.registerAll(spark)
    // md5('{"a":1}') = bb6cb5c68df4652941caf652a366f2d8 (python hashlib);
    // the quoted first 16 chars is the etag.js:11-13 contract — computed
    // independently via the JDK below so the assertion is self-contained
    val body = """{"a":1}"""
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = "\"" + md.take(16) + "\""
    val r = spark.sql(s"""SELECT of_etag('$body') AS e""").collect().head
    assert(r.getString(0) == expected)
    assert(r.getString(0).length == 18 && r.getString(0).startsWith("\""))
    // non-ASCII body: the string→binary cast must hash UTF-8 bytes, like
    // node's Buffer default in crypto.update — and the SQL function and
    // Column-API encodings of the contract must agree exactly (they are
    // separate expression compositions; this pins them together)
    val uni = "café ✓"
    val mdU = java.security.MessageDigest.getInstance("MD5")
      .digest(uni.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rU = spark.sql(s"SELECT of_etag('$uni') AS e").collect().head.getString(0)
    assert(rU == "\"" + mdU.take(16) + "\"")
    import org.apache.spark.sql.functions.{col, lit}
    val s = spark; import s.implicits._
    val viaColumn = Seq(body, uni).toDF("b")
      .select(graft.query.Caching.etag(col("b"))).collect().map(_.getString(0)).toSeq
    val viaSql = Seq(body, uni).toDF("b")
      .selectExpr("of_etag(b)").collect().map(_.getString(0)).toSeq
    assert(viaColumn == viaSql, "Caching.etag and of_etag must encode the same contract")
    val df = Seq((body, expected), (body, "\"wrong\""), (body, null))
      .toDF("body", "inm")
    val statuses = df.select(graft.query.Caching.conditionalStatus(
        graft.query.Caching.etag(col("body")), col("inm")).as("s"))
      .collect().map(_.getInt(0)).toSeq
    assert(statuses == Seq(304, 200, 200), "exact match 304s; mismatch and absent header 200")
    // If-Modified-Since alone never produces a 304 (test-caching.js:219-225):
    // conditionalStatus takes no such input by design — absent header = 200
    val lm = df.limit(1).select(graft.query.Caching.toUtcString(
        lit("2025-01-15 10:00:00").cast("timestamp")).as("lm")).collect().head.getString(0)
    assert(lm == "Wed, 15 Jan 2025 10:00:00 GMT")
    // JS toUTCString always renders UTC: the render must not drift when a
    // library caller runs a non-UTC session timezone (the fixed-offset
    // case is exact; see the operator's scaladoc for the DST caveat)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC+05:30")
      // epoch seconds pin the INSTANT independent of the session zone
      val lmOffset = Seq(1).toDF("x").select(graft.query.Caching.toUtcString(
          org.apache.spark.sql.functions.expr(
            "timestamp_seconds(1736935200)")) // 2025-01-15T10:00:00Z
          .as("lm")).collect().head.getString(0)
      assert(lmOffset == "Wed, 15 Jan 2025 10:00:00 GMT",
        "toUtcString must render the UTC wall clock under a non-UTC session zone")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("every of_* function survives NULL arguments, all-NULL giving its documented result") {
    Functions.registerAll(spark)
    // documented non-NULL results on NULL input; every other of_*
    // function, including any registered later, must return NULL
    val documented: Map[String, Any] = Map(
      "of_extract_turn" -> Seq.empty, "of_sitemap_locs" -> Seq.empty,
      "of_is_llm_bot" -> false, "of_robots_allowed" -> false,
      "of_detect_bot" -> "unknown", "of_bot_family" -> "unknown")
    val names = spark.catalog.listFunctions().collect().map(_.name)
      .filter(_.startsWith("of_")).distinct.sorted.toSeq
    assert(names.size >= 19, names)
    def call(name: String, args: Seq[String]) = scala.util.Try(
      spark.sql(s"SELECT $name(${args.mkString(", ")}) AS v").collect().head.get(0))
    val failures = names.flatMap { name =>
      // a function's arity is the smallest NULL-argument count that analyses
      (0 to 3).find(n => scala.util.Try(
          spark.sql(s"SELECT $name(${Seq.fill(n)("NULL").mkString(", ")})")).isSuccess) match {
        case None => Seq(s"$name analyses at no arity 0..3")
        case Some(n) =>
          val want = documented.getOrElse(name, null)
          val allNull = call(name, Seq.fill(n)("NULL")) match {
            case scala.util.Failure(e) => Some(s"$name(NULL...) failed: $e")
            case scala.util.Success(v) =>
              if (v == want) None else Some(s"$name returned $v, expected $want")
          }
          // one NULL beside non-NULL arguments must not fail either: a NULL
          // primitive argument alone short-circuits the all-NULL call
          val oneNull = if (n < 2) Nil else (0 until n).flatMap { i =>
            val args = Seq.tabulate(n)(j => if (j == i) "NULL" else "'0'")
            call(name, args).failed.toOption
              .map(e => s"$name(${args.mkString(", ")}) failed: $e")
          }
          allNull.toSeq ++ oneNull
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
