package graft.model

import java.sql.Timestamp

/** One row of the input table (shape fixed by BASELINE.json input_hint). */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** A half-open [start, end) char range in the extracted markdown.
  * kind ∈ {heading, para, table, list, page}. */
final case class Span(start: Long, end: Long, kind: String)

/** Extraction output for one document — errors are data, never exceptions
  * (mirrors /root/reference/mvp/evaluation/ground_truth_prediciton.py:66-82).
  * status ∈ {ok, error}; content_type ∈ {html, pdf, image, media, unknown}
  * (`image`/`media` are the binary payloads `Extractor.sniffMedia` labels). */
final case class Extracted(
    status: String,
    content_type: String,
    markdown: String,
    spans: Seq[Span],
    pages: Int,
    error: String)

/** Full result row written by the extract job. */
final case class ResultRow(
    url: String,
    warc_ts: Timestamp,
    lang: String,
    status: String,
    content_type: String,
    markdown: String,
    spans: Seq[Span],
    pages: Int,
    error: String)

/** Per-partition lineage (north_rule: partition id, row counts, commutative
  * checksum). */
final case class LineageRow(
    part_id: Int,
    row_count: Long,
    ok_count: Long,
    err_count: Long,
    checksum: Long)

/** Resume manifest: partitions already completed (left-anti joined on rerun). */
final case class ManifestRow(part_id: Int, run_ts: Timestamp, status: String)
