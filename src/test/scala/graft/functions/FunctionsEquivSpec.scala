package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.udf
import org.scalatest.funsuite.AnyFunSuite
import graft.JUnitSafe.same

/** Equivalence of the five rule-backed SQL functions (`of_etag`,
  * `of_is_llm_bot`, `of_detect_bot`, `of_bot_family`, `of_encode_uri`),
  * which now run the library's column rules, against their replaced
  * SQL bodies. [[ReplacedBodies]] holds verbatim copies of those bodies;
  * they are registered under a `parent_` name and both forms are called
  * in one SQL query over the same inputs. */
class FunctionsEquivSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("functions-equiv-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The user agents of the former GatewaySpec twin test. */
  private val uas = Seq("", "Mozilla/5.0 (human)", "GPTBot/1.0", "chatgpt-user probe",
    "ClaudeBot/1.0", "something anthropic-ai here", "PerplexityBot",
    "Googlebot/2.1", "Google-Extended", "CCBot/2.0", "Bytespider x",
    "Amazonbot", "YOUBOT uppercase", "FacebookBot")

  /** The tricky inputs of the former GatewaySpec twin test. */
  private val uris = Seq("", "plain", "a b", "a+b", "100%", "x&y=z", "/p/q/",
    "tilde~bang!quote'parens()star*", "naïve café", "emoji 😀 end",
    "semi;colon,comma:colon@at", "#hash?q=v", "\"quotes\" <tags>")

  /** The seeded piece corpus of HostStringSpec's percentEncode test:
    * ASCII marks, every UTF-8 length boundary, surrogate pairs and lone
    * surrogates (which reach SQL as `?`). */
  private val pieceCorpus: Seq[String] = {
    val rnd = new scala.util.Random(20261019L)
    val pieces = Vector("a", "Z", "0", "/", "_.-~", "!*'()", " ", "%", "+", "?&=#",
      "\u0000", "\u007F", "\u0080", "é", "\u07FF", "\u0800", "€", "\uFFFF",
      "😀", "𐐷", "\uD800", "\uDBFF", "\uDC00", "\uDFFF", "\uDC00\uD800")
    Seq.fill(3000)(
      Vector.fill(rnd.nextInt(24))(pieces(rnd.nextInt(pieces.size))).mkString)
  }

  /** The ASCII and non-ASCII bodies of FunctionsSpec's of_etag test. */
  private val etagBodies = Seq("""{"a":1}""", "café ✓")

  private val Names = FunctionsSpec.RuleBacked

  /** Each function and its parent form over `inputs` plus NULL, in one
    * query: (input, name, new result, parent result). */
  private def compare(inputs: Seq[String]): Seq[(String, String, Any, Any)] = {
    Functions.registerAll(spark)
    ReplacedBodies.register(spark)
    val s = spark; import s.implicits._
    val df = (inputs.map(Option(_)) :+ None).toDF("v")
    val sel = "v" +: Names.flatMap(n => Seq(s"$n(v)", s"parent_$n(v)"))
    df.selectExpr(sel: _*).collect().toSeq.flatMap { r =>
      Names.zipWithIndex.map { case (n, i) =>
        (r.getString(0), n, r.get(1 + 2 * i), r.get(2 + 2 * i))
      }
    }
  }

  private def assertSame(inputs: Seq[String]): Unit = {
    val got = compare(inputs)
    assert(got.size == (inputs.size + 1) * Names.size)
    got.foreach { case (v, n, now, parent) => same(now, parent, s"$n($v)") }
  }

  test("bot rules equal the replaced bodies on the UA corpus and NULL") {
    assertSame(uas)
    // the corpus reaches the empty, no-match and pattern arms
    val names = compare(uas).collect { case (_, "of_detect_bot", n: String, _) => n }.toSet
    assert(Set("unknown", "human-or-unknown", "GPTBot", "Googlebot").subsetOf(names))
  }

  test("of_encode_uri equals the replaced body on tricky and seeded inputs") {
    assertSame(uris)
    assertSame(pieceCorpus)
    // the corpus holds lone surrogates
    assert(pieceCorpus.exists(_.codePoints().anyMatch(cp => cp >= 0xD800 && cp <= 0xDFFF)))
  }

  test("of_etag equals the replaced expression tree on ASCII and non-ASCII bodies") {
    assertSame(etagBodies)
    val got = compare(etagBodies).collect { case (_, "of_etag", e: String, _) => e }
    assert(got.size == 2 && got.forall(_.length == 18))
  }
}

/** Verbatim copies of the replaced SQL bodies, registered as
  * `parent_<name>`. */
private object ReplacedBodies {

  /** `Analytics.detectBotLocal`. */
  def detectBotLocal(ua: String): (String, String) =
    if (ua == null || ua.isEmpty) ("unknown", "unknown")
    else {
      val lowered = ua.toLowerCase(java.util.Locale.ROOT)
      graft.query.Analytics.BotFamilies.find { case (p, _) =>
        lowered.contains(p.toLowerCase(java.util.Locale.ROOT))
      }.getOrElse(("human-or-unknown", "unknown"))
    }

  /** `Gateway.encodeUriComponentLocal`. */
  def encodeUriComponentLocal(s: String): String =
    graft.extract.TextUtil.percentEncode(s, "-_.!~*'()")

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "parent_of_etag",
      { (exprs: Seq[Expression]) =>
        import org.apache.spark.sql.catalyst.expressions.{Cast, Concat, Literal, Md5, Substring}
        Concat(Seq(Literal("\""),
          Substring(Md5(Cast(exprs.head, org.apache.spark.sql.types.BinaryType)),
            Literal(1), Literal(16)),
          Literal("\"")))
      },
      "built-in")
    spark.udf.register("parent_of_is_llm_bot",
      udf((ua: String) =>
        ua != null && graft.query.Gateway.LlmAgents.exists(ua.contains)))
    spark.udf.register("parent_of_detect_bot",
      udf((ua: String) => detectBotLocal(ua)._1))
    spark.udf.register("parent_of_bot_family",
      udf((ua: String) => detectBotLocal(ua)._2))
    spark.udf.register("parent_of_encode_uri",
      udf((s: String) =>
        if (s == null) null else encodeUriComponentLocal(s)))
  }
}
