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

/** One part's row in the manifest, written when the part's results are
  * committed: the resume record (`status` "done": the part is skipped on
  * rerun) and the part's lineage (north_rule: partition id, row counts,
  * commutative checksum) with the job counters of the same pass.
  * `partitions` is the run's P, which `part_id` = `pmod(xxhash64(url), P)`
  * depends on: a resume under another P would assign urls to other parts.
  * `checksum` is the XOR of the rows' `xxhash64(url, markdown)`;
  * `by_content_type` counts docs per `content_type`, `by_error_class` per
  * error class (the `error` text before its first `:`), and
  * `markdown_bytes` is the UTF-8 size of the markdown. Every field but
  * `run_ts` is identical at any parallelism. Kernel nanos are not
  * counted: they are not deterministic. Payload bytes in are not counted
  * either: the tally runs above the exchange, and counting them would
  * carry one more column across it. */
final case class ManifestRow(
    part_id: Int, partitions: Int, run_ts: Timestamp, status: String, row_count: Long, ok_count: Long, err_count: Long,
    checksum: Long, by_content_type: Map[String, Long], by_error_class: Map[String, Long], markdown_bytes: Long)
