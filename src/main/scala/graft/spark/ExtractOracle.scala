package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry

/** Dynamic driver-recompute oracles for the extraction queries themselves
  * (VERDICT r05 task 1 — the t12 pattern applied to the flagship kernel).
  *
  * The kernel is a deterministic pure-JVM function of (url, html), and the
  * pages corpus is itself a deterministic pure function of the `documents`
  * table (PagesGen keys every byte off doc_id). So at verify-sized corpora
  * the expected x1/x3 rows — (url, pid, note, error, content_len,
  * content_hash) — can be recomputed SEQUENTIALLY on the driver with none
  * of the distributed machinery (no Dataset, no partitioning, no encoder)
  * and inlined as a DuckDB VALUES list; x2's lineage is the same rows
  * grouped by pid. The check then pins, with full rows+schema+hash instead
  * of the former rows-only gate, that the distributed pipeline loses /
  * duplicates / reorders nothing and that extraction is deterministic
  * across partitionings.
  *
  * The driver mirror reproduces the two Spark-expression semantics the
  * query output depends on bit-for-bit, via Spark's own catalyst
  * primitives (public API of the spark-catalyst/spark-unsafe jars):
  *   - `xxhash64(string)` = XXH64.hashUTF8String(v, seed = 42) — used for
  *     both `pid = pmod(xxhash64(url), buckets)` and `content_hash`;
  *   - `length(string)` = UTF8String.numChars (code points, not bytes —
  *     the hyphenator inserts non-ASCII soft hyphens, so the two differ).
  */
object ExtractOracle {

  /** Same cap (and rationale) as Multimodal.MaxOracleRows: the VALUES
    * oracle is only emitted at verify-sized corpora; above it the x-queries
    * degrade to the rows-only check.
    */
  val MaxOracleRows = 20000

  /** Spark's `xxhash64` over one string argument (seed 42). */
  def sparkXxhash64(s: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(s), 42L)

  /** Spark's `length` over a string (code points). */
  def sparkLength(s: String): Long =
    UTF8String.fromString(s).numChars().toLong

  /** One recomputed x1 row plus the html byte count x2 aggregates. */
  final case class Expected(
      url: String,
      pid: Int,
      note: String,
      error: String,
      contentLen: Long,
      contentHash: Long,
      htmlBytes: Long)

  /** The expected extraction output, recomputed on the driver: documents →
    * PagesGen.buildPage (replica 0, exactly what PagesGen.asDataFrame
    * synthesizes at repl=1) → ExtractJob.extractOne with the production
    * size cap — the same per-row function the distributed
    * mapPartitions applies, minus all distribution. Work is spread over a
    * parallel stream purely for wall time; the output array is
    * index-addressed, so the result is order-deterministic.
    */
  def driverRows(spark: SparkSession, sfDir: String): Option[Array[Expected]] = {
    // one scan: collect up to cap+1 rows and bail on overflow — a separate
    // count() would pay a second full read of the table
    val input = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .orderBy("doc_id").limit(MaxOracleRows + 1).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // empty corpus would render "FROM (VALUES )" — invalid SQL, which the
    // compare would read as an oracle failure instead of degrading;
    // oversized corpora degrade to the rows-only check as documented
    if (input.length > MaxOracleRows || input.isEmpty) return None
    val out = new Array[Expected](input.length)
    java.util.stream.IntStream.range(0, input.length).parallel().forEach { i =>
      val (docId, text) = input(i)
      val (url, html) = PagesGen.buildPage(docId, text, 0)
      val pid = {
        val h = sparkXxhash64(url) % SparkEntry.ExtractBuckets
        (if (h < 0) h + SparkEntry.ExtractBuckets else h).toInt // pmod semantics
      }
      val r = ExtractJob.extractOne(url, html, pid, ExtractJob.DefaultMaxHtmlBytes)
      val content = Option(r.content).getOrElse("")
      out(i) = Expected(url, pid, r.note, Option(r.error).getOrElse(""),
        sparkLength(content), sparkXxhash64(content), html.length.toLong)
    }
    Some(out)
  }

  /** SQL string literal (standard quoting — DuckDB does not interpret
    * backslashes outside E'' strings, so only the quote needs doubling).
    */
  private def lit(s: String): String =
    if (s == null) "NULL" else "'" + s.replace("'", "''") + "'"

  /** VALUES oracles for x1_extract / x2_extract_lineage / x3_extract_sql.
    * Emitted only under [[MaxOracleRows]]; an unreadable documents table
    * degrades to rows-only via SparkEntry's dynamic-oracle fail-safe.
    */
  def dynamicOracles(spark: SparkSession, sfDir: String): Map[String, String] =
    driverRows(spark, sfDir) match {
      case None => Map.empty
      case Some(rows) =>
        val x1Vals = rows.map { r =>
          s"(${lit(r.url)}, ${r.pid}, ${lit(r.note)}, ${lit(r.error)}, ${r.contentLen}, CAST(${r.contentHash} AS BIGINT))"
        }.mkString(", ")
        val x1 =
          s"""SELECT url, CAST(pid AS BIGINT) AS pid, note, error,
             |       CAST(content_len AS BIGINT) AS content_len,
             |       CAST(content_hash AS BIGINT) AS content_hash
             |FROM (VALUES $x1Vals)
             |  AS t(url, pid, note, error, content_len, content_hash)"""
            .stripMargin.replace("\n", " ")
        val x3 =
          s"""SELECT url, note, error,
             |       CAST(content_len AS BIGINT) AS content_len,
             |       CAST(content_hash AS BIGINT) AS content_hash
             |FROM (VALUES $x1Vals)
             |  AS t(url, pid, note, error, content_len, content_hash)"""
            .stripMargin.replace("\n", " ")
        // x2: the same rows grouped by pid on the driver (≤ buckets rows)
        val byPid = rows.groupBy(_.pid).toSeq.sortBy(_._1).map { case (pid, rs) =>
          val fails = rs.count(_.error.nonEmpty)
          s"($pid, ${rs.length}, ${rs.map(_.htmlBytes).sum}, ${rs.length - fails}, $fails)"
        }.mkString(", ")
        val x2 =
          s"""SELECT CAST(partition_id AS BIGINT) AS partition_id,
             |       CAST(input_count AS BIGINT) AS input_count,
             |       CAST(input_bytes AS BIGINT) AS input_bytes,
             |       CAST(ok_count AS BIGINT) AS ok_count,
             |       CAST(fail_count AS BIGINT) AS fail_count
             |FROM (VALUES $byPid)
             |  AS t(partition_id, input_count, input_bytes, ok_count, fail_count)"""
            .stripMargin.replace("\n", " ")
        Map("x1_extract" -> x1, "x2_extract_lineage" -> x2, "x3_extract_sql" -> x3)
    }
}
