package graft.perfbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernel.Clean
import graft.spark.{ExtractJob, Page, PagesGen}
import PerfBench._

/** The extract_articles workload: `ExtractJob.runToDir` over a parquet
  * table of PagesGen article pages, one clean run to a fresh directory,
  * timed from call to return. The traced run also kills a run after half
  * the pid buckets and resumes it, to measure the resume path.
  */
final class Extraction(spark: SparkSession, a: Args, tracer: Tracer) {
  import spark.implicits._

  private val pagesDir = s"${a.workDir}/pages"
  private val RunId = "bench"
  private val docs = Corpus.documents(Corpus.ArticleDocs)
  private val replicas = Corpus.articleReplicas(a.seed)

  private var pages: DataFrame = _
  private var nPages = 0L
  private var htmlBytes = 0L
  private var buckets = 0
  private var reference = ""

  /** Writes the pages table; returns its row count and html bytes. */
  private def generate(): (Long, Long) = {
    val reps = replicas
    val (rows, bytes) = (spark.sparkContext.longAccumulator, spark.sparkContext.longAccumulator)
    spark.createDataset(docs.toSeq).repartition(16)
      .flatMap { d =>
        reps.iterator.map { r =>
          val (url, html) = Corpus.articlePage(d, r)
          rows.add(1L)
          bytes.add(html.length.toLong)
          Page(url, new Timestamp(PagesGen.BaseTs + d.doc_id * 1000L + r), html, d.text, d.lang)
        }
      }
      .write.mode("overwrite").parquet(pagesDir)
    (rows.value, bytes.value)
  }

  /** Order-independent digest of (url, note, error, xxhash64(content)),
    * and the number of error rows other than intended size-cap rows.
    */
  private def digest(df: DataFrame): (String, Long) = {
    val r = df.select(xxhash64(col("url"), coalesce(col("note"), lit("")),
        coalesce(col("error"), lit("")), xxhash64(coalesce(col("content"), lit(""))))
        .cast("decimal(38,0)").as("h"),
        (col("error").isNotNull && col("note") =!= "size-cap").cast("int").as("err"))
      .agg(count(lit(1)), sum(col("h")), sum(col("err"))).head()
    (s"${r.getLong(0)}:${r.getDecimal(1)}", if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** The timed work. */
  private def job(dir: String): Unit =
    tracer.span("spark.runToDir")(ExtractJob.runToDir(spark, pages, dir, RunId, buckets))

  /** Writes the pages table and sizes it; the set-up part a run repeats. */
  private def generateTimed(): Double = timed {
    rmrf(pagesDir)
    val (n, b) = generate()
    nPages = n
    htmlBytes = b
    pages = spark.read.parquet(pagesDir)
    buckets = ExtractJob.chooseBuckets(pages)
    progress(s"$nPages pages, $htmlBytes html bytes, $buckets buckets")
  }._2

  /** A single-pass run on the cold JVM, whose output is the reference,
    * then one run of the timed work, so the JIT has settled before timing.
    */
  private def warmUp(): Double = timed {
    val warm = s"${a.workDir}/warm"
    rmrf(warm)
    ExtractJob.runToDir(spark, pages, warm, RunId, buckets)
    reference = digest(spark.read.parquet(s"$warm/extracted"))._1
    val again = s"${a.workDir}/warm-again"
    rmrf(again)
    job(again)
    rmrf(again)
    progress("warm-up jobs done")
  }._2

  /** Driver-side `Clean.clean` of every replica of a seeded sample of
    * documents must match the single-pass output for those urls.
    */
  private def checkSample(out: Outcome): Unit = {
    val rnd = new SplittableRandom(a.seed ^ 0x5EEDL)
    val sample = Seq.fill(25)(docs(rnd.nextInt(docs.length))).distinct
      .flatMap(d => replicas.map(Corpus.articlePage(d, _)))
    val expected = sample.map { case (u, b) =>
      val c = Clean.clean(u, b)
      (u, c.note, c.error, c.content)
    }.toDF("url", "note", "error", "content")
    val urls = sample.map(_._1).distinct
    val got = spark.read.parquet(s"${a.workDir}/warm/extracted").filter(col("url").isin(urls: _*))
    val (e, g) = (digest(expected)._1, digest(got)._1)
    out.check("sample recompute matches output", e == g, s"driver $e vs output $g")
  }

  /** Output checks of one run; counts its operations. */
  private def verify(dir: String, label: String, out: Outcome): Unit = {
    val (dg, errs) = digest(spark.read.parquet(s"$dir/extracted"))
    val (pids, maxRows) = {
      val r = spark.read.parquet(s"$dir/lineage").groupBy("run_id", "partition_id").count()
        .agg(count(lit(1)), max(col("count"))).head()
      (r.getLong(0), r.getLong(1))
    }
    out.attempted += nPages
    val ok = out.check(s"$label: output equals the single-pass digest", dg == reference,
      s"$dg vs $reference") &
      out.check(s"$label: one lineage row per (run_id, pid)", pids == buckets && maxRows == 1,
        s"$pids pids for $buckets buckets, max rows per pid $maxRows")
    out.failed += (if (ok) errs else nPages)
  }

  def run(sessionS: Double, out: Outcome): Unit = {
    val gens = (1 to (if (a.trace) 1 else SetupReps)).map(_ => generateTimed())
    val setupS = sessionS + Stats.median(gens) + warmUp()
    checkSample(out)
    val dir = s"${a.workDir}/out"
    if (!a.trace) {
      var written = 0L
      val times = repeatFor(a.seconds) { i =>
        rmrf(dir)
        val (_, s) = timed(job(dir))
        progress(f"run $i: $s%.3f s")
        verify(dir, s"run $i", out)
        if (i == 0) written = dataBytes(dir)
        s
      }
      val jobS = Stats.median(times)
      out.series ++= Seq("generate_s" -> gens, "job_s" -> times)
      out.metrics ++= Seq(
        "setup_s" -> setupS,
        "job_s" -> jobS,
        "docs_per_s" -> nPages / jobS,
        "html_mb_per_s" -> htmlBytes / 1e6 / jobS,
        "written_bytes_per_html_byte" -> written.toDouble / htmlBytes)
    } else traced(dir, out)
  }

  private def lineageFiles(dir: String): Set[String] =
    Option(new File(s"$dir/lineage").list()).map(_.filter(_.endsWith(".parquet")).toSet)
      .getOrElse(Set.empty)

  /** A run killed after half the pid buckets, then resumed with the same
    * run id: (seconds of the resume call's committed-pid read and
    * anti-join, pids the resume committed over pids left uncommitted).
    */
  private def killAndResume(out: Outcome): (Double, Double) = {
    val dir = s"${a.workDir}/resume"
    rmrf(dir)
    tracer.span("spark.runToDir.killed") {
      ExtractJob.runToDir(spark, pages, dir, RunId, buckets, failAfterPids = buckets / 2)
    }
    val committed = ExtractJob.committedPids(spark.read.parquet(s"$dir/lineage"), RunId).size
    val before = lineageFiles(dir)
    val (_, resumeS) = timed(tracer.span("spark.resume") {
      val c = ExtractJob.committedPidsDf(spark, s"$dir/lineage", RunId).get
      noop(ExtractJob.withPid(pages, buckets).join(broadcast(c), Seq("pid"), "left_anti"))
    })
    tracer.span("spark.runToDir.resumed")(ExtractJob.runToDir(spark, pages, dir, RunId, buckets))
    verify(dir, "killed and resumed", out)
    val appended = (lineageFiles(dir) -- before).toSeq.map(f => s"$dir/lineage/$f")
    val resumed = if (appended.isEmpty) 0L else spark.read.parquet(appended: _*).count()
    rmrf(dir)
    (resumeS, resumed.toDouble / (buckets - committed))
  }

  private def traced(dir: String, out: Outcome): Unit = {
    def untraced(label: String): Double = {
      rmrf(dir)
      val (_, t) = timed(job(dir))
      verify(dir, label, out)
      t
    }
    val before = untraced("untraced before")
    rmrf(dir)

    val prof = new StageProfiler
    spark.sparkContext.addSparkListener(prof)
    prof.clear(spark)
    val (_, tracedS) = timed(tracer.span("job")(job(dir)))
    val stages = prof.snapshot(spark)
    spark.sparkContext.removeSparkListener(prof)
    PerfBench.write(s"${a.workDir}/trace/stages.json",
      stages.map(_.json).mkString("[\n", ",\n", "\n]\n"))
    PerfBench.write(s"${a.workDir}/trace/executions.json", prof.executionsJson)
    verify(dir, "traced", out)

    val extractStages = stages.filter(s => prof.writeTarget(s.executionId).endsWith("/extracted"))
    val kernelStages = extractStages.filter(_.inputBytes > 0)
    val writeStages = extractStages.filterNot(_.inputBytes > 0)
    val all = stages.flatMap(_.tasks)
    val runMs = math.max(all.map(_.runMs).sum, 1L).toDouble

    val r = spark.read.parquet(s"$dir/extracted").agg(
      expr("percentile(wall_us, 0.5)"), expr("percentile(wall_us, 0.999)"),
      sum(when(col("error").isNotNull && col("note") =!= "size-cap", 1).otherwise(0)),
      sum(when(col("note") === "size-cap", 1).otherwise(0))).head()
    // untraced runs on both sides of the traced one, so the JIT's
    // continued warming does not count as tracing overhead
    val plainS = (before + untraced("untraced after")) / 2
    rmrf(dir)

    val (resumeS, redoneFrac) = killAndResume(out)
    val (_, scanS) = timed(tracer.span("spark.scan") {
      noop(ExtractJob.withPid(spark.read.parquet(pagesDir), buckets))
    })

    val rnd = new SplittableRandom(a.seed ^ 0xC0FFEEL)
    val sample = Seq.fill(300) {
      Corpus.articlePage(docs(rnd.nextInt(docs.length)), replicas(rnd.nextInt(replicas.size)))
    }
    val phases = tracer.span("kernel.phases")(KernelProfile.phases(sample, 3.0))
    out.check("kernel phase shares sum to Clean.clean within 5%",
      math.abs(phases.phaseSumErr) <= 0.05, f"phase sum off by ${phases.phaseSumErr * 100}%.1f%%",
      program = false)
    val threadsRate = tracer.span("kernel.threads")(KernelProfile.threadsDocsPerS(sample, a.cores, 1.0))

    out.metrics ++= Metrics.zeros(Metrics.Ops)
    out.metrics ++= KernelProfile.Phases.map(p => s"kernel.${p}_share" -> phases.shares(p))
    out.metrics ++= Seq(
      "kernel.clean_us" -> phases.cleanUs,
      "kernel.threads_docs_per_s" -> threadsRate,
      "kernel.row_us.p50" -> r.getDouble(0),
      "kernel.row_us.p999" -> r.getDouble(1),
      "kernel.error_rows" -> r.getLong(2).toDouble,
      "kernel.sizecap_rows" -> r.getLong(3).toDouble,
      "spark.scan_s" -> scanS,
      "spark.kernel_stage_s" -> kernelStages.map(_.wallS).sum,
      "spark.write_stage_s" -> writeStages.map(_.wallS).sum,
      "spark.lineage_s" -> prof.writeWallS("/lineage"),
      "spark.resume_s" -> resumeS,
      "spark.residual_share" -> (1.0 - nPages / threadsRate / plainS),
      "spark.cpu_frac" -> all.map(_.cpuNs).sum / 1e6 / runMs,
      "spark.gc_frac" -> all.map(_.gcMs).sum / runMs,
      "spark.deser_frac" -> all.map(_.deserMs).sum / runMs,
      "spark.shuffle_write_bytes_per_html_byte" -> stages.map(_.shuffleWriteBytes).sum.toDouble / htmlBytes,
      "spark.input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
      "spark.output_bytes" -> stages.map(_.outputBytes).sum.toDouble,
      "spark.task_skew" -> (0.0 +: kernelStages.map(_.skew)).max,
      "spark.tasks" -> all.size.toDouble,
      "spark.failed_tasks" -> all.count(_.failed).toDouble,
      "spark.resume_redone_frac" -> redoneFrac,
      "trace.overhead_frac" -> (tracedS / plainS - 1.0))
  }
}
