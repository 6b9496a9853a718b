package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GatewaySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("gateway-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def enc(s: String): String = {
    val t = spark; import t.implicits._
    Seq(s).toDF("v").select(Gateway.encodeUriComponent(col("v")))
      .collect().head.getString(0)
  }

  test("encodeUriComponent matches JS encodeURIComponent on known vectors") {
    // expected values are the literal outputs of Node's encodeURIComponent
    assert(enc("spark & café tuning") == "spark%20%26%20caf%C3%A9%20tuning")
    assert(enc("/products/widget-9") == "%2Fproducts%2Fwidget-9")
    // the unreserved marks encodeURIComponent keeps (URLEncoder would
    // escape ! ~ ' ( ) and turn space into '+'; literal + must escape)
    assert(enc("a+b!~'()*A9-_.") == "a%2Bb!~'()*A9-_.")
    assert(enc("100% sure?") == "100%25%20sure%3F")
    // multibyte UTF-8 incl. an astral (surrogate-pair) emoji
    assert(enc("naïve 😀") == "na%C3%AFve%20%F0%9F%98%80")
    assert(enc("") == "")
  }

  test("column encodeUriComponent equals the local JS-parity twin on tricky inputs") {
    val t = spark; import t.implicits._
    // the JS-parity twin: the body of the former Gateway.encodeUriComponentLocal
    def local(s: String): String = graft.extract.TextUtil.percentEncode(s, "-_.!~*'()")
    val inputs = Seq("", "plain", "a b", "a+b", "100%", "x&y=z", "/p/q/",
      "tilde~bang!quote'parens()star*", "naïve café", "emoji 😀 end",
      "semi;colon,comma:colon@at", "#hash?q=v", "\"quotes\" <tags>")
    val got = inputs.toDF("v")
      .select(col("v"), Gateway.encodeUriComponent(col("v")).as("e"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    inputs.foreach { s =>
      assert(got(s) == local(s),
        s"divergence for '$s': column=${got(s)} local=${local(s)}")
    }
  }

  test("tailoredResponse percent-encodes query and path like gateway.js") {
    val t = spark; import t.implicits._
    val reqs = Seq(("q1", "/products/widget 9", "product", "Widget 9", "answer-question"))
      .toDF("id", "path", "detected_type", "detected_topic", "intent")
      .withColumn("depth", lit(null).cast("string"))
      .withColumn("format", lit(null).cast("string"))
      .withColumn("query", lit("spark & café tuning"))
      .withColumn("language", lit(null).cast("string"))
    val out = Gateway.tailoredResponse(Gateway.withIntentDefaults(reqs), "https://x.example")
      .select("recommended_endpoints", "query_hints", "current_page").collect().head
    val cp = out.getStruct(2)
    assert(cp.getString(0) == "https://x.example/openfeeder?url=%2Fproducts%2Fwidget%209")
    assert(cp.getString(1) == "Widget 9" && cp.getString(2) == "product page")
    val eps = out.getSeq[org.apache.spark.sql.Row](0)
    assert(eps.head.getString(0) ==
      "https://x.example/openfeeder?q=spark%20%26%20caf%C3%A9%20tuning&format=full-text")
    assert(eps(1).getString(0) ==
      "https://x.example/openfeeder/products?url=%2Fproducts%2Fwidget%209")
    val hints = out.getSeq[String](1)
    assert(hints.head == "GET /openfeeder?q=spark%20%26%20caf%C3%A9%20tuning")
    assert(hints(1) ==
      "GET /openfeeder?q=spark%20%26%20caf%C3%A9%20tuning&format=full-text&depth=standard")
  }
}
