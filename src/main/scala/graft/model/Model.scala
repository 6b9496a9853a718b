package graft.model

import java.sql.Timestamp

/** Input row — `BASELINE.json` `input_hint`: table of multi-turn agent
  * transcripts. The reference's crawl unit (`Page` —
  * `/root/reference/sidecar/crawler.py:27-34`) maps to one turn. */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** One extracted content chunk. Id scheme follows the sidecar
  * ([[graft.job.ExtractJob.chunkId]]) —
  * `/root/reference/sidecar/indexer.py:383-387`. `chunk_index` is kept
  * explicit (the reference re-sorts by hash id at read time,
  * `indexer.py:246-247` — a quirk we do not propagate to storage). */
final case class ChunkOut(
    id: String,
    chunk_index: Int,
    text: String,
    chunk_type: String)

/** Metadata envelope — `/root/reference/sidecar/chunker.py:539-542`.
  * `extra` values are strings; list/number-valued extras are rendered as
  * JSON text (the reference keeps raw Python objects in a dict). */
final case class MetadataOut(
    title: Option[String],
    description: Option[String],
    author: Option[String],
    published: Option[String],
    modified: Option[String],
    keywords: Seq[String],
    image: Option[String],
    meta_type: String,
    schema_type: Option[String],
    extra: Map[String, String])

/** Output row: the reference's ParsedPage
  * (`/root/reference/sidecar/chunker.py:30-41`) per turn, plus lineage /
  * metric columns. `turn_pos` is the stable within-conversation position
  * assigned by the ordering window (0 until assigned). */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    turn_pos: Long,
    url: String,
    page_id: String,
    role: String,
    tool: String,
    ts: Timestamp,
    title: String,
    author: Option[String],
    published: Option[String],
    updated: String,
    language: String,
    summary: String,
    chunks: Seq[ChunkOut],
    metadata: MetadataOut,
    n_chunks: Int,
    bytes_in: Long,
    bytes_out: Long,
    blocks_kept: Int,
    blocks_dropped: Int)

/** Extraction metrics side-table row (north rule: "extraction metrics
  * (blocks kept/dropped, bytes in/out) written to ... side tables";
  * reference analog: crawl counters `/root/reference/sidecar/main.py:116-125`). */
final case class MetricRow(
    run_id: String,
    group_id: Int,
    conv_bucket: Int,
    rows_in: Long,
    rows_out: Long,
    bytes_in: Long,
    bytes_out: Long,
    chunks_emitted: Long,
    blocks_kept: Long,
    blocks_dropped: Long)

/** Per-bucket lineage row for checkpoint/resume (north rule T5; reference
  * analog: `first_indexed_at` carry-forward,
  * `/root/reference/sidecar/indexer.py:81-88`). */
final case class LineageRow(
    run_id: String,
    group_id: Int,
    conv_bucket: Int,
    status: String,
    rows: Long)
