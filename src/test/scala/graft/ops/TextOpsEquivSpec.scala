package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** Equivalence of the single-body text rules against the two-body forms
  * they replaced: the one `simHash` (xxhash64 and md5-portable word
  * hashes), the registry's 64-bit → (sim_hi, sim_lo) split, and the
  * quality and language column rules. The `legacy*` bodies below are
  * verbatim copies of the replaced code. */
class TextOpsEquivSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("textops-equiv-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private val vocab = Seq("the", "and", "of", "a", "to", "le", "la", "et", "les",
    "el", "los", "que", "y", "der", "die", "und", "das", "spark", "shuffle",
    "Partition", "codegen", "café", "naïve", "日本語", "über", "x", "antidisestablishment",
    "quick,", "fox.", "why?", "ok!", "zz")

  /** 300 seeded docs: the edge shapes first, then random word mixes with
    * random case, separators and padding. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(20261017L)
    val edge = Seq("", " ", " \t\n ", "word", "  padded  ", "same same same same",
      "the the the and of", "日本語 テキスト", "le la et les les la", null)
    val seps = Seq(" ", "  ", "\t", "\n", " \t ")
    val random = (edge.length until 300).map { _ =>
      val n = rnd.nextInt(40)
      val ws = Seq.fill(n) {
        val w = vocab(rnd.nextInt(vocab.length))
        if (rnd.nextInt(5) == 0) w.toUpperCase else w
      }
      val body = ws.map(_ + seps(rnd.nextInt(seps.length))).mkString
      (if (rnd.nextBoolean()) " " else "") + body
    }
    val langs = Seq("en", "fr", "es", "de")
    val s = spark; import s.implicits._
    (edge ++ random).zipWithIndex
      .map { case (t, i) => (i.toLong, t, langs(i % 4)) }
      .toDF("doc_id", "text", "lang")
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    val (g, w) = (sorted(got), sorted(want))
    assert(g.length == w.length)
    g.zip(w).foreach { case (a, b) => assert(a == b) }
  }

  // ---- verbatim copies of the replaced bodies ---------------------------

  private def legacySimHash(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
    val bitCols = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val agg = words.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
    val sim = (0 until 64).map { b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  private def legacySimHashPortable(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring(md5(col("w")), 9, 8), 16, 10).cast("long").as("h2"))
    val votes = (0 until 32).map { b =>
      sum(when(shiftright(col("h1"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"hi$b")
    } ++ (0 until 32).map { b =>
      sum(when(shiftright(col("h2"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"lo$b")
    }
    val agg = words.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    def fold(prefix: String): Column = (0 until 32).map { b =>
      when(col(s"$prefix$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), fold("hi").as("sim_hi"), fold("lo").as("sim_lo"))
  }

  private def legacyQualityFeatures(docs: DataFrame): DataFrame = {
    val stops = Seq("the", "a", "and", "of", "to")
    val stopHits = stops.map(s => TextOps.occurrences(col("text"), s" $s ")).reduce(_ + _)
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      TextOps.wordCount(col("text")).as("n_words"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      size(regexp_extract_all(col("text"), lit("[.!?,;:]"), lit(0))).as("n_punct"),
      stopHits.as("stop_hits"))
      .withColumn("mean_word_len_x100",
        (col("n_chars") * 100L / greatest(col("n_words"), lit(1))).cast("long"))
      .withColumn("is_quality",
        (col("n_words") >= 5) && (col("mean_word_len_x100") between (200L, 1200L)))
  }

  private def legacyLangId(docs: DataFrame): DataFrame = {
    def hits(words: Seq[String]): Column =
      words.map(w => TextOps.occurrences(lower(col("text")), s" $w ")).reduce(_ + _)
    val en = hits(Seq("the", "and", "of"))
    val fr = hits(Seq("le", "la", "et", "les"))
    val es = hits(Seq("el", "los", "que", "y"))
    val de = hits(Seq("der", "die", "und", "das"))
    docs.select(col("doc_id"), col("lang"), en.as("en_hits"), fr.as("fr_hits"),
        es.as("es_hits"), de.as("de_hits"))
      .withColumn("lang_pred",
        when(col("en_hits") >= col("fr_hits") && col("en_hits") >= col("es_hits")
          && col("en_hits") >= col("de_hits"), "en")
        .when(col("fr_hits") >= col("es_hits") && col("fr_hits") >= col("de_hits"), "fr")
        .when(col("es_hits") >= col("de_hits"), "es")
        .otherwise("de"))
  }

  // ---- properties -------------------------------------------------------

  test("corpus includes words and documents whose portable hash is negative") {
    // a word whose md5 starts with a hex digit >= 8 has bit 63 set in the
    // combined `h1 << 32 | h2` hash, so the split must be unsigned
    assert(vocab.exists(w => Integer.parseInt(md5Hex(w.toLowerCase).take(1), 16) >= 8))
    assert(vocab.exists(w => Integer.parseInt(md5Hex(w.toLowerCase).take(1), 16) < 8))
    val neg = TextOps.simHash(docs, portable = true).filter(col("simhash") < 0).count()
    assert(neg > 0, "no document with a negative portable simhash")
  }

  test("portable simHash split by x_simhash equals the replaced two-half body") {
    val dir = Files.createTempDirectory("simhash-equiv").toString
    docs.select("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    assertSame(SparkEntry.queries("x_simhash")(spark, dir), legacySimHashPortable(docs))
  }

  test("production simHash equals the xxhash64 body it replaced") {
    assertSame(TextOps.simHash(docs), legacySimHash(docs))
  }

  test("qualityFeatures and langId equal their replaced bodies") {
    assertSame(TextOps.qualityFeatures(docs), legacyQualityFeatures(docs))
    assertSame(TextOps.langId(docs), legacyLangId(docs))
  }
}
