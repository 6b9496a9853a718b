package graft.job

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Store-maintenance semantics from the reference's indexer/sync layer,
  * expressed as batch table transforms (Iceberg `MERGE INTO` is the
  * one-line swap once the runtime jar is present; the logic below is the
  * same plan Iceberg would execute):
  *
  *  - S7 upsert: delete-then-insert per url —
  *    `/root/reference/sidecar/indexer.py:74-148`
  *  - S8 first_indexed_at carry-forward on re-index —
  *    `/root/reference/sidecar/indexer.py:81-88,129-145`
  *  - S9 delete + tombstone append —
  *    `/root/reference/sidecar/indexer.py:157-174`,
  *    `/root/reference/sidecar/sync_utils.py:88-92`
  *  - W4/T4 tombstone FIFO cap 1000 + since-filter —
  *    `/root/reference/sidecar/sync_utils.py:76-79,94-104`
  */
object Sinks {

  /** S7+S8: upsert `incoming` into `existing` keyed by `url`.
    * New rows win on every column except `first_indexed_at`, which keeps
    * the earliest value ever seen (min across both sides). Shuffle: one
    * hash exchange on url; broadcast the small side automatically. */
  def upsertPages(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val cols = incoming.columns
    require(cols.contains("url") && cols.contains("first_indexed_at"))
    val oldFirst = existing.select(col("url"),
      col("first_indexed_at").as("_old_first"))
    val merged = incoming.join(oldFirst, Seq("url"), "left")
      .withColumn("first_indexed_at",
        least(col("first_indexed_at"), coalesce(col("_old_first"), col("first_indexed_at"))))
      .drop("_old_first")
    // untouched existing rows survive (anti-join), updated/new rows replace
    existing.join(incoming.select("url"), Seq("url"), "left_anti")
      .unionByName(merged.select(existing.columns.map(col).toSeq: _*))
  }

  /** MERGE-semantics variant of [[upsertPages]], written as the exact
    * relational algebra Iceberg executes for
    * `MERGE INTO existing e USING incoming i ON e.url = i.url
    *  WHEN MATCHED THEN UPDATE SET *, first_indexed_at = least(...)
    *  WHEN NOT MATCHED THEN INSERT *`
    * — a full-outer join with matched/unmatched row dispatch. No Iceberg
    * runtime ships in this container; SinksSpec asserts this path is
    * row-identical to [[upsertPages]], proving the one-line swap to
    * `MERGE INTO` preserves semantics when the jar is present. */
  def upsertPagesMergeSemantics(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val cols = existing.columns.toSeq
    val e = existing.select(cols.map(c => col(c).as(s"e_$c")): _*)
    // explicit presence flag, NOT the join key's nullness: an incoming row
    // with a null url never equi-joins, and dispatching on `i_url IS NULL`
    // would emit it as an all-null row instead of inserting it — real
    // MERGE INTO inserts every unmatched source row
    val i = incoming.select(lit(true).as("i_present") +:
      cols.map(c => col(c).as(s"i_$c")): _*)
    val joined = e.join(i, col("e_url") === col("i_url"), "full_outer")
    val fromIncoming = coalesce(col("i_present"), lit(false))
    val merged = cols.map {
      case "first_indexed_at" =>
        when(!fromIncoming, col("e_first_indexed_at")) // unmatched existing
          .otherwise(least(col("i_first_indexed_at"),
            coalesce(col("e_first_indexed_at"), col("i_first_indexed_at"))))
          .as("first_indexed_at")
      case c =>
        when(!fromIncoming, col(s"e_$c")).otherwise(col(s"i_$c")).as(c)
    }
    joined.select(merged: _*)
  }

  /** S9: delete urls + record tombstones; returns (remaining, tombstones′)
    * with the FIFO-1000 cap applied (newest by deleted_at kept). */
  def deleteWithTombstones(existing: DataFrame, deleteUrls: DataFrame,
      tombstones: DataFrame, deletedAt: java.sql.Timestamp,
      cap: Int = 1000): (DataFrame, DataFrame) = {
    val remaining = existing.join(deleteUrls, Seq("url"), "left_anti")
    val appended = tombstones.unionByName(
      deleteUrls.select(col("url"), lit(deletedAt).as("deleted_at")))
    // url is a key: latest deletion wins (groupBy max — map-side combinable,
    // no window), then FIFO cap newest `cap` as top-k sort+limit
    // (TakeOrderedAndProject), never a single-partition global window
    val latest = appended
      .groupBy("url").agg(max("deleted_at").as("deleted_at"))
    val capped = latest
      .orderBy(col("deleted_at").desc, col("url"))
      .limit(cap)
    (remaining, capped)
  }

  /** T4: tombstones with deleted_at >= since (only consulted when a since
    * cursor is present — sync_utils.py:94-104). */
  def tombstonesSince(tombstones: DataFrame, since: java.sql.Timestamp): DataFrame =
    tombstones.filter(col("deleted_at") >= lit(since)).orderBy("url")

  /** T2+J5: the sync window over an indexed pages table
    * (the sidecar's `indexer.py:339-377`) — the pages whose
    * `indexed_at` lies in the inclusive [since, until], and the predicate
    * that puts a windowed page in the added bucket (`first_indexed_at >=
    * since`; the rest are updated). The predicate is NULL on a NULL
    * `first_indexed_at`, so such a page is in neither bucket. */
  def syncWindow(pages: DataFrame, since: Column, until: Column): (DataFrame, Column) =
    (pages.filter(col("indexed_at") >= since && col("indexed_at") <= until),
      col("first_indexed_at") >= since)

  /** T2+J5+A2+T3 combined: the full differential-sync envelope for a
    * [since, until] [[syncWindow]] over an indexed pages table —
    * `/root/reference/sidecar/main.py:393-472`. Returns (added, updated,
    * deleted, counts, sync_token); `counts` holds the sizes of the
    * non-empty `added` and `updated` lists, as `x_sync_envelope`'s do. */
  def syncEnvelope(pages: DataFrame, tombstones: DataFrame,
      since: java.sql.Timestamp, until: java.sql.Timestamp)
      : (DataFrame, DataFrame, DataFrame, DataFrame, String) = {
    val (inWindow, isAdded) = syncWindow(pages, lit(since), lit(until))
    val added = inWindow.filter(isAdded)
    val updated = inWindow.filter(!isAdded)
    val deleted = tombstonesSince(tombstones, since)
    val counts = inWindow.filter(isAdded.isNotNull)
      .withColumn("bucket", when(isAdded, "added").otherwise("updated"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    // SyncCodec.toIsoUtc pads whole-minute timestamps to ":00" seconds like
    // Python's isoformat (LocalDateTime.toString would drop them)
    val asOfIso = graft.extract.SyncCodec.toIsoUtc(until.getTime / 1000.0)
    (added, updated, deleted, counts, graft.extract.SyncCodec.encodeSyncToken(asOfIso))
  }

  /** The vite port's build-time static feed
    * (`/root/reference/adapters/vite/src/build.ts:22-113`) as a Spark
    * WRITE: one JSON-lines dataset per artifact kind
    * (discovery / index_item / item), partitioned by `kind`. The
    * reference writes one pretty-printed FILE per item with
    * `writeFileSync` — at 10⁸ pages that is the classic small-files
    * anti-pattern, so the Spark-native shape is partitioned JSON-lines
    * keyed by the same `path` values (a CDN/edge materializer fans rows
    * out to files; `path` is the file each row would become). Input is
    * any DataFrame shaped like the `x_static_build` query's output.
    * Local paths are written through [[LocalFs]], like `ExtractJob.run`'s. */
  def writeStaticFeed(artifacts: DataFrame, outDir: String): Unit =
    artifacts
      .repartition(col("kind")) // one writer wave per artifact kind
      .sortWithinPartitions("seq", "path")
      .write.mode(SaveMode.Overwrite).options(LocalFs.WriteOptions)
      .partitionBy("kind")
      .json(outDir)
}
