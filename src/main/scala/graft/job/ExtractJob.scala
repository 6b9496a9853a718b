package graft.job

import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.concurrent.{ExecutionException, Executors, Future}
import scala.util.Try
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.extract.{ChunkHtml, JNull, JStr, JsonLite, TextUtil}
import graft.model._

/** The flagship batch job: transcripts → extracted turns + chunk table +
  * metrics + lineage, checkpoint-resumable per conv-bucket.
  *
  * Spark shape (SURVEY.md §3.1): scan → typed `mapPartitions` extraction
  * (zero-shuffle, row-local) → stable-order window over
  * (conv_id, turn_idx, ts) on the *compressed* post-extraction
  * rows (the reference measures ~18× HTML→JSON shrinkage, README.md:93-97,
  * so windowing after extraction shuffles an order of magnitude less data
  * than windowing the raw input) → dynamic-partition-overwrite write keyed
  * by `conv_bucket`, with a lineage row per completed bucket. At most two
  * groups are in flight; lineage is committed in group order.
  *
  * Catalyst-only: typed mapPartitions on Datasets (MapPartitionsExec), no
  * RDD API anywhere.
  */
object ExtractJob {

  final case class Config(
      outDir: String,
      buckets: Int = 64,
      /** checkpoint granularity: at most two of these groups in flight;
        * each commits output, then lineage, in group order. */
      groups: Int = 4,
      runId: String = "run")

  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx")
    .withZone(ZoneOffset.UTC)

  /** Sidecar chunk id: the first 16 hex digits of SHA-256 over the url
    * and the chunk index (indexer.py:383-387). */
  def chunkId(url: String, i: Int): String =
    TextUtil.sha256Hex(s"$url::chunk::$i").take(16)

  /** Sidecar page id: the first 16 hex digits of SHA-256 over the
    * prefixed url (indexer.py:383-392). */
  def pageId(url: String): String = TextUtil.sha256Hex(s"page::$url").take(16)

  private def utf8Len(s: String): Long = {
    var n = 0L; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1 else if (c < 0x800) 2
            else if (Character.isHighSurrogate(c)) { i += 1; 4 } else 3)
      i += 1
    }
    n
  }

  private def optStr(v: graft.extract.JVal): Option[String] =
    v match { case JNull => None; case other => Some(other.pyStr) }

  /** Tools routed to the raw-fallback flatten-to-spans path — the single
    * source of truth shared by [[extractOne]] and the `of_extract_turn`
    * SQL function. */
  val RawFallbackTools: Set[String] = Set("render", "pdf")

  /** One turn through the reference pipeline, dispatched on the `tool`
    * column (SURVEY §1.3): `render`/`pdf` payloads take the raw-fallback
    * flatten-to-spans path with the 50 KB cap
    * (`/root/reference/mcp/src/tools/smart-fetch.ts:75-87`, see
    * [[graft.extract.SpanFlatten]]) and no metadata chain — the
    * reference's fallback returns the raw body; everything else takes the
    * full HTML extraction path. Deterministic: `updated` pinned to the
    * turn's `ts` (chunker.py:733 uses wall-clock; we do not). */
  def extractOne(t: Turn): ExtractedTurn = {
    val url = s"${t.conv_id}#${t.turn_idx}"
    val iso = isoFmt.format(t.ts.toInstant)
    if (RawFallbackTools.contains(t.tool)) {
      val fl = graft.extract.SpanFlatten.flatten(t.text)
      turnOut(t, url, fl.chunks, fl.summary, title = "", author = None,
        published = None, updated = iso, language = "en", RawMeta,
        fl.spansKept, fl.spansDropped)
    } else {
      val ex = ChunkHtml.extract(url, t.text, Some(iso))
      val page = ex.page
      val m = page.metadata
      val meta = MetadataOut(
        title = optStr(m.title), description = optStr(m.description),
        author = optStr(m.author), published = optStr(m.published),
        modified = optStr(m.modified), keywords = m.keywords,
        image = optStr(m.image),
        meta_type = m.metaType.pyStr,
        schema_type = optStr(m.schemaType),
        extra = m.extra.map { case (k, v) =>
          k -> (v match { case JStr(s) => s; case o => JsonLite.render(o) })
        }.toMap)
      turnOut(t, url, page.chunks, page.summary, page.title, page.author,
        page.published, page.updated.getOrElse(iso), page.language, meta,
        ex.blocksKept, ex.blocksDropped)
    }
  }

  /** Tool-dispatched chunk list for one payload (the `of_extract_turn`
    * SQL surface; null-safe: null text yields no chunks). */
  def chunksFor(url: String, text: String, tool: String): Vector[ChunkHtml.Chunk] =
    if (text == null) Vector.empty
    else if (RawFallbackTools.contains(tool)) graft.extract.SpanFlatten.flatten(text).chunks
    else ChunkHtml(if (url == null) "" else url, text).chunks

  private val RawMeta = MetadataOut(None, None, None, None, None, Vector.empty,
    None, meta_type = "raw", schema_type = None, extra = Map.empty)

  /** The one [[ExtractedTurn]] builder of both paths: chunk ids, the
    * UTF-8 byte counts and the turn envelope. */
  private def turnOut(t: Turn, url: String, chunks: Vector[ChunkHtml.Chunk],
      summary: String, title: String, author: Option[String],
      published: Option[String], updated: String, language: String,
      meta: MetadataOut, kept: Int, dropped: Int): ExtractedTurn = {
    val out = chunks.zipWithIndex.map { case (c, i) =>
      ChunkOut(chunkId(url, i), i, c.text, c.chunkType)
    }
    ExtractedTurn(
      conv_id = t.conv_id, turn_idx = t.turn_idx, turn_pos = 0L,
      url = url, page_id = pageId(url),
      role = t.role, tool = t.tool, ts = t.ts,
      title = title, author = author, published = published,
      updated = updated, language = language,
      summary = summary, chunks = out, metadata = meta,
      n_chunks = out.length,
      bytes_in = utf8Len(t.text),
      bytes_out = out.map(c => utf8Len(c.text)).sum + utf8Len(summary) + utf8Len(title),
      blocks_kept = kept, blocks_dropped = dropped)
  }

  /** J8 skew mitigation: spread one conversation's turns across partitions
    * with a salted key (extraction is row-local, so this is safe; only the
    * ordering window needs conv locality). Use when the input layout is
    * conv-clustered: pass the salted Dataset to [[run]], whose
    * deterministic bucket filter the optimizer pushes below this
    * repartition, so each commit group shuffles only its own slice. */
  def saltedByConv(turns: Dataset[Turn], partitions: Int, salts: Int): Dataset[Turn] =
    turns.repartition(partitions, col("conv_id"),
      pmod(hash(col("turn_idx")), lit(salts)))

  /** Extraction pass: typed mapPartitions, one tokenizer/regex set per JVM
    * (all static), zero shuffle. */
  def extract(turns: Dataset[Turn]): Dataset[ExtractedTurn] = {
    import turns.sparkSession.implicits._
    turns.mapPartitions(_.map(extractOne))
  }

  /** W2 stable turn ordering: `row_number` over (conv_id; turn_idx, ts).
    * Runs on post-extraction (compressed) rows. Mega-conversation sorts
    * rely on Spark's external sort + AQE; see [[scalableTurnPos]] for the
    * skew-proof two-pass variant. */
  def withTurnPos(extracted: Dataset[ExtractedTurn]): Dataset[ExtractedTurn] = {
    import extracted.sparkSession.implicits._
    val w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    extracted.withColumn("turn_pos", row_number().over(w).cast("long"))
      .as[ExtractedTurn]
  }

  /** Skew-proof ordering for conversations too large for a single task's
    * sort: range-partition by (conv_id, turn_idx, ts) so one conversation
    * spans many partitions, rank locally, then shift by per-(partition,
    * conv) prefix offsets (tiny aggregate, broadcast back). Output is
    * identical to [[withTurnPos]] whenever (turn_idx, ts) is unique per
    * conversation. */
  def scalableTurnPos(extracted: Dataset[ExtractedTurn], partitions: Int): Dataset[ExtractedTurn] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    // localCheckpoint (NOT cache): both the offsets pass and the output
    // pass must see the SAME range-partition assignment — a cache entry
    // that gets evicted/recomputed could re-sample different boundaries,
    // and a cacheManager entry would pin executor storage until a session-
    // wide clearCache. The checkpoint freezes rows + partitioning, leaves
    // the cacheManager empty, and its blocks free when the returned
    // Dataset is GC'd. Storage cost is identical to the old cache
    // (MEMORY_AND_DISK of the compressed post-extraction rows).
    val ranged = extracted
      .repartitionByRange(partitions, $"conv_id", $"turn_idx", $"ts")
      .sortWithinPartitions($"conv_id", $"turn_idx", $"ts")
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)
    // prefix offsets per (partition, conversation), computed DISTRIBUTED:
    // a window partitioned by conv_id over the per-(partition, conv)
    // counts yields each conversation's running prefix. Only rows with a
    // NON-ZERO offset matter — i.e. conversations that span a range-
    // partition boundary — and there are at most O(#partitions + mega-
    // conversation spans) of those regardless of how many conversations
    // exist, so the broadcast stays tiny at any corpus size (a 10^9-conv
    // table must never ship 10^9 offset rows through the driver).
    val wOff = Window.partitionBy("conv_id").orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy($"_pid", $"conv_id").count()
      .withColumn("_off", coalesce(sum($"count").over(wOff), lit(0L)))
      .filter($"_off" > 0) // boundary-spanning (pid, conv) pairs only
      .select($"_pid", $"conv_id", $"_off")
    // left broadcast hash join streams `ranged` in place: within-partition
    // sort order survives, so the local running counter below stays valid
    val turnCols = implicitly[org.apache.spark.sql.Encoder[ExtractedTurn]].schema
      .fieldNames.map(col)
    ranged.join(broadcast(offsets), Seq("_pid", "conv_id"), "left")
      .na.fill(0L, Seq("_off"))
      .select(struct(turnCols: _*).as("_1"), $"_off".as("_2"))
      .as[(ExtractedTurn, Long)].mapPartitions { it =>
        var lastConv: String = null
        var local = 0L
        it.map { case (t, off) =>
          if (t.conv_id != lastConv) { lastConv = t.conv_id; local = 0L }
          local += 1
          t.copy(turn_pos = off + local)
        }
      }
  }

  /** conv_bucket assignment used for output partitioning / lineage. */
  def bucketOf(buckets: Int): org.apache.spark.sql.Column =
    pmod(hash(col("conv_id")), lit(buckets))

  /** Full run with per-group checkpoint commits. Returns (rows written).
    * Group g+1 extracts and writes while group g finishes: their dynamic
    * overwrites stage apart, on disjoint partitions, but lineage appends
    * share `lineage/_temporary`, so they stay on the calling thread.
    * All four writers take [[LocalFs.WriteOptions]]: local files and
    * directories get their permissions without a forked `chmod`.
    *
    * Each group filters the caller's `turns` on its buckets, and Catalyst
    * cannot push that filter below a typed operator: when `turns` ends in
    * a typed `map`/`flatMap`, as `Transcripts.generate` does, that map
    * runs over the whole input once per group. Extraction still sees
    * only the group's rows. */
  def run(turns: Dataset[Turn], cfg: Config,
      stopAfterGroups: Int = Int.MaxValue): Long = {
    val spark = turns.sparkSession
    import spark.implicits._

    val doneBuckets: Set[Int] = completedBuckets(spark, cfg.outDir)
    val todo = (0 until math.min(cfg.groups, stopAfterGroups)).map { g =>
      g -> (g * cfg.buckets / cfg.groups until (g + 1) * cfg.buckets / cfg.groups)
        .filterNot(doneBuckets.contains)
    }.filter(_._2.nonEmpty)

    /** One group's pages, chunks and metrics; returns its metric rows. */
    def writeGroup(g: Int, groupBuckets: Seq[Int]): Seq[MetricRow] = {
      // bucket is derivable from conv_id alone, so the resume/group
      // predicate applies BEFORE extraction: completed buckets are never
      // re-extracted (the whole point of per-partition lineage)
      val slice = turns.filter(bucketOf(cfg.buckets).isin(groupBuckets: _*))
        .as[Turn]
      val part = withTurnPos(extract(slice))
        .withColumn("conv_bucket", bucketOf(cfg.buckets))
        .cache()
      try {
        // pages table (turn envelope, nested chunks)
        part.write.mode(SaveMode.Overwrite).options(LocalFs.WriteOptions)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("conv_bucket")
          .parquet(s"${cfg.outDir}/pages")
        // chunks table (exploded, flat — the reference's chunk store)
        part.select($"conv_id", $"turn_idx", $"turn_pos", $"url", $"page_id",
            $"title", $"ts", $"conv_bucket", explode($"chunks").as("c"))
          .select($"conv_id", $"turn_idx", $"turn_pos", $"url", $"page_id",
            $"title", $"ts", $"c.id".as("chunk_id"),
            $"c.chunk_index", $"c.text", $"c.chunk_type", $"conv_bucket")
          .write.mode(SaveMode.Overwrite).options(LocalFs.WriteOptions)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("conv_bucket")
          .parquet(s"${cfg.outDir}/chunks")
        // metrics side table (exact, aggregated from output columns)
        val metrics = part.groupBy($"conv_bucket").agg(
            count(lit(1)).as("rows"), sum($"bytes_in").as("bytes_in"),
            sum($"bytes_out").as("bytes_out"), sum($"n_chunks").as("chunks_emitted"),
            sum($"blocks_kept").as("blocks_kept"), sum($"blocks_dropped").as("blocks_dropped"))
          .collect()
        val metricRows = metrics.map { r =>
          // rows_in == rows_out by construction: extraction is strictly
          // one ExtractedTurn per Turn (both kept so a future filtering
          // stage can diverge them)
          MetricRow(cfg.runId, g, r.getInt(0), r.getLong(1), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
        }.toSeq
        // dynamic overwrite keyed by (run_id, group_id): a crash between
        // the metrics write and the lineage write re-runs the group, and
        // the re-run REPLACES this group's metrics instead of appending
        // duplicates — metrics stay exact under resume
        spark.createDataset(metricRows).coalesce(1).write.mode(SaveMode.Overwrite)
          .options(LocalFs.WriteOptions)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("run_id", "group_id")
          .parquet(s"${cfg.outDir}/metrics")
        metricRows
      } finally part.unpersist()
    }

    // threads start on submit, from this thread: their jobs inherit the
    // caller's local properties (job group, scheduler pool) of this call
    val pool = Executors.newFixedThreadPool(2)
    val inFlight = new Array[Future[Seq[MetricRow]]](todo.size)
    def submit(i: Int): Unit = if (i < todo.size)
      inFlight(i) = pool.submit[Seq[MetricRow]](() => writeGroup(todo(i)._1, todo(i)._2))
    def commit(i: Int): Long = {
      val (g, groupBuckets) = todo(i)
      val metricRows = try inFlight(i).get() catch { case e: ExecutionException => throw e.getCause }
      // lineage LAST: a bucket is only "done" once its data + metrics
      // are durable (idempotent resume)
      val lineageRows = metricRows.map(m =>
        LineageRow(cfg.runId, g, m.conv_bucket, "done", m.rows_out)) ++
        groupBuckets.filterNot(b => metricRows.exists(_.conv_bucket == b))
          .map(b => LineageRow(cfg.runId, g, b, "done", 0L)) // empty buckets
      spark.createDataset(lineageRows).coalesce(1).write.mode(SaveMode.Append)
        .options(LocalFs.WriteOptions)
        .parquet(s"${cfg.outDir}/lineage")
      submit(i + 2) // at most two parts cached; a failed group starts none
      metricRows.map(_.rows_out).sum
    }
    try {
      submit(0); submit(1)
      todo.indices.map(commit).sum
    } catch { case e: Throwable => // no job of this run may outlive it
      inFlight.filter(_ != null).foreach(f => Try(f.get()))
      throw e
    } finally pool.shutdown()
  }

  /** Buckets already marked done in the lineage table (resume support). */
  def completedBuckets(spark: SparkSession, outDir: String): Set[Int] = {
    val path = new org.apache.hadoop.fs.Path(s"$outDir/lineage")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else spark.read.parquet(s"$outDir/lineage")
      .filter(col("status") === "done")
      .select("conv_bucket").distinct()
      .collect().map(_.getInt(0)).toSet
  }

  def readPages(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/pages")

  def readChunks(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/chunks")
}
