package graft.spark

import java.sql.Timestamp

/** Row types of the engine (SURVEY.md §1.2).
  *
  * `pages` follows BASELINE.json `input_hint` exactly:
  * (url:string, warc_ts:timestamp, html:binary, text:string, lang:string).
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Output of the extraction kernel per page. `pid` is the explicit
  * partition-bucket column (SURVEY.md §4.2/§7.4): lineage and resume key on
  * it, never on physical partition indices, so AQE coalescing cannot break
  * resume identity. `wall_us` is per-row kernel wall time; per-partition
  * lineage sums it.
  */
final case class ExtractedRow(
    url: String,
    pid: Int,
    content: String,
    note: String,
    error: String, // null on success
    in_bytes: Long,
    wall_us: Long)

final case class FailureSample(url: String, error: String)

/** One pid's lineage so far: the buffer entry of `ExtractJob.Lineage`,
  * failure samples already capped to the smallest by (url, error).
  */
final case class LineagePartial(
    pid: Int,
    input_count: Long,
    input_bytes: Long,
    ok_count: Long,
    fail_count: Long,
    failure_samples: Seq[FailureSample],
    wall_us: Long)

/** Per-partition lineage row (north rule). One row per (run_id, pid). */
final case class LineageRow(
    run_id: String,
    partition_id: Int,
    input_count: Long,
    input_bytes: Long,
    ok_count: Long,
    fail_count: Long,
    failure_samples: Seq[FailureSample],
    wall_ms: Long)
