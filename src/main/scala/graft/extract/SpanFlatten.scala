package graft.extract

/** `tool='render'/'pdf'` payload path: the batch analog of the reference's
  * raw-fetch fallback (`/root/reference/mcp/src/tools/smart-fetch.ts:75-87`),
  * which returns the raw body capped at 50 KB instead of running the HTML
  * extraction pipeline. As a batch operator that becomes flatten-to-spans:
  *
  *  1. cap the payload at 50,000 UTF-16 units (JS `.slice(0, 50_000)`
  *     counts UTF-16 code units; `String.substring` matches exactly,
  *     including mid-surrogate truncation);
  *  2. strip markup with the adapter tag-strip pipeline
  *     (`AdapterChunker.cleanHtml` — tag removal, 6-entity decode,
  *     whitespace squeeze, chunker.js:19-34);
  *  3. split into paragraph spans on blank lines, drop empties;
  *  4. repack spans longer than 1500 code points with the sidecar's
  *     sentence splitter (chunker.py:86-101), chunk type `"span"`;
  *  5. synthesize the summary the E9 way (chunker.py:719-726) over the
  *     span chunks.
  *
  * No metadata chain, no noise heuristics, no 20-char minimum — the
  * reference's fallback keeps the raw body whole; only the cap applies.
  */
object SpanFlatten {

  /** smart-fetch.ts:82 — `resp.text.slice(0, 50_000)`. */
  val RawCapUnits = 50000

  final case class Flattened(chunks: Vector[ChunkHtml.Chunk], summary: String,
      spansKept: Int, spansDropped: Int)

  def flatten(text: String): Flattened = {
    val capped =
      if (text.length <= RawCapUnits) text else text.substring(0, RawCapUnits)
    val cleaned = AdapterChunker.cleanHtml(capped)
    val segments = AdapterChunker.paraSplitRe.split(cleaned, -1)
    val rawSpans = segments.iterator.map(TextUtil.stripPy).filter(_.nonEmpty).toVector
    val chunks = rawSpans.flatMap(s => ChunkHtml.splitLongText(s, "span"))
    val summary = ChunkHtml.summaryOf(chunks.iterator.map(_.text)).getOrElse("")
    Flattened(chunks, summary, rawSpans.length, segments.length - rawSpans.length)
  }
}
