package graft.job

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("sinks-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("S7/S8: upsert keeps earliest first_indexed_at, replaces payload") {
    import spark.implicits._
    val existing = Seq(
      ("/a", "old title a", ts(100), ts(100)),
      ("/b", "old title b", ts(200), ts(200)))
      .toDF("url", "title", "first_indexed_at", "indexed_at")
    val incoming = Seq(
      ("/a", "new title a", ts(500), ts(500)), // re-index: first_indexed_at preserved
      ("/c", "new page c", ts(500), ts(500)))  // brand new
      .toDF("url", "title", "first_indexed_at", "indexed_at")
    val out = Sinks.upsertPages(existing, incoming)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getTimestamp(2))).toMap
    assert(out("/a") == ("new title a", ts(100))) // payload new, first old
    assert(out("/b") == ("old title b", ts(200))) // untouched survives
    assert(out("/c") == ("new page c", ts(500))) // new gets its own first
    assert(out.size == 3)
  }

  test("upsert is row-identical under MERGE INTO semantics (Iceberg seam)") {
    import spark.implicits._
    val existing = Seq(
      ("/a", "old a", ts(100), ts(100)),
      ("/b", "old b", ts(200), ts(200)),
      ("/keep", "untouched", ts(50), ts(50)))
      .toDF("url", "title", "first_indexed_at", "indexed_at")
    val incoming = Seq(
      ("/a", "new a", ts(500), ts(500)),
      ("/c", "new c", ts(500), ts(500)))
      .toDF("url", "title", "first_indexed_at", "indexed_at")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(Sinks.upsertPages(existing, incoming)) ==
      rows(Sinks.upsertPagesMergeSemantics(existing, incoming)))
  }

  test("S9/W4: delete + tombstone append with FIFO cap and latest-wins per url") {
    import spark.implicits._
    val existing = Seq(("/a", "x"), ("/b", "y"), ("/c", "z")).toDF("url", "title")
    val dels = Seq("/a", "/b").toDF("url")
    val tombs0 = Seq(("/a", ts(10))).toDF("url", "deleted_at") // /a deleted before
    val (remaining, tombs1) = Sinks.deleteWithTombstones(existing, dels, tombs0, ts(50))
    assert(remaining.collect().map(_.getString(0)).toSet == Set("/c"))
    val tm = tombs1.collect().map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    assert(tm == Map("/a" -> ts(50), "/b" -> ts(50))) // latest deletion wins

    // FIFO cap: 1200 tombstones -> newest 1000 kept
    val many = (0 until 1200).map(i => (s"/p$i", ts(i))).toDF("url", "deleted_at")
    val (_, capped) = Sinks.deleteWithTombstones(
      Seq.empty[(String, String)].toDF("url", "title"),
      Seq.empty[String].toDF("url"), many, ts(0))
    assert(capped.count() == 1000)
    assert(capped.agg(org.apache.spark.sql.functions.min("deleted_at"))
      .collect().head.getTimestamp(0) == ts(200))
  }

  test("T2/J5/A2/T3: full sync envelope") {
    import spark.implicits._
    val pages = Seq(
      ("/new", ts(700), ts(700)),   // first seen inside window  -> added
      ("/upd", ts(100), ts(800)),   // first seen before since   -> updated
      ("/old", ts(100), ts(100)),   // untouched (outside window)
      ("/fut", ts(950), ts(950)),   // after until (excluded)
      ("/nul", null, ts(750)))      // no first_indexed_at: in neither list
      .toDF("url", "first_indexed_at", "indexed_at")
    val tombs = Seq(("/gone", ts(650)), ("/ancient", ts(10))).toDF("url", "deleted_at")
    val (added, updated, deleted, counts, token) =
      Sinks.syncEnvelope(pages, tombs, since = ts(600), until = ts(900))
    assert(added.collect().map(_.getString(0)).toSeq == Seq("/new"))
    assert(updated.collect().map(_.getString(0)).toSeq == Seq("/upd"))
    assert(deleted.collect().map(_.getString(0)).toSeq == Seq("/gone"))
    // the counts are the sizes of the two lists
    assert(counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("added" -> 1L, "updated" -> 1L))
    // token decodes back to `until`
    assert(graft.extract.SyncCodec.decodeSyncToken(token).contains(900.0))
    // Python isoformat parity: whole-minute timestamps keep the ":00"
    // seconds field inside the encoded payload
    val payload = new String(java.util.Base64.getDecoder.decode(token), "UTF-8")
    assert(payload == "{\"t\": \"1970-01-01T00:15:00+00:00\"}", payload)
  }

  test("tombstone FIFO cap plans as top-k, not a single-partition window") {
    import spark.implicits._
    val many = (0 until 50).map(i => (s"/p$i", ts(i))).toDF("url", "deleted_at")
    val (_, capped) = Sinks.deleteWithTombstones(
      Seq.empty[(String, String)].toDF("url", "title"),
      Seq.empty[String].toDF("url"), many, ts(0), cap = 10)
    val p = capped.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "FIFO cap must not use a global window:\n" + p.take(1200))
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(capped.count() == 10)
  }

  test("static feed write: kind-partitioned JSON-lines round-trips (build.ts analog)") {
    val artifacts = graft.query.Queries.registry
      .collectFirst { case ("x_static_build", q) => q }.get
      .fn(spark, "/root/testdata/sf0.001")
    val out = java.nio.file.Files.createTempDirectory("static_feed").toString
    Sinks.writeStaticFeed(artifacts, out)
    // partition layout: one directory per artifact kind
    val kinds = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(kinds == Set("kind=discovery", "kind=index_item", "kind=item"))
    // round-trip: partition column restored, counts match the query
    val back = spark.read.json(out)
    assert(back.count() == artifacts.count())
    import org.apache.spark.sql.functions.col
    assert(back.filter(col("kind") === "discovery").count() == 1)
    assert(back.filter(col("kind") === "index_item").count() == 10)
    // the root url landed on the slug-fallback path
    assert(back.filter(col("path") === "openfeeder-items/index.json").count() == 1)
  }
}
