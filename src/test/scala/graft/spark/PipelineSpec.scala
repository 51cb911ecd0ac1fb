package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.kernel.Clean

/** End-to-end extraction pipeline specs (SURVEY.md §5.2.4): the Spark
  * plumbing must be byte-lossless vs the kernel, lineage must balance, and
  * resume must be idempotent at partition granularity.
  */
class PipelineSpec extends SparkSpec {

  private lazy val pages = PagesGen.fromDocuments(spark, sf001).collect()

  test("spark extraction is byte-identical to the kernel per url") {
    val buckets = 8
    val viaSpark = ExtractJob
      .extract(ExtractJob.withPid(PagesGen.asDataFrame(spark, sf001), buckets))
      .collect()
      .map(r => r.url -> (r.content, r.note, r.error))
      .toMap
    assert(viaSpark.size == pages.length)
    pages.foreach { p =>
      val k = Clean.clean(p.url, p.html)
      val (c, n, e) = viaSpark(p.url)
      assert(c == k.content, s"content mismatch for ${p.url}")
      assert(n == k.note && e == k.error, s"note/error mismatch for ${p.url}")
    }
  }

  test("synthesized corpus is realistically weighted (≥10 KiB avg page)") {
    // Bench gate (VERDICT r01 #6): feather-weight pages overstate kernel
    // throughput; real article pages are tens of KiB of boilerplate-heavy
    // DOM. Articles (non-route docs) must average ≥10 KiB, and synthesis
    // must be deterministic byte-for-byte.
    val articles = pages.filter(_.url.contains("/articles/"))
    val avg = articles.map(_.html.length.toLong).sum / articles.length
    assert(avg >= 10 * 1024, s"avg article page is $avg bytes")
    val again = PagesGen.buildPage(articles.head.url.length.toLong, "x y z", 0)
    assert(PagesGen.buildPage(articles.head.url.length.toLong, "x y z", 0)
      ._2.sameElements(again._2))
  }

  test("pid column is a deterministic pure function of url") {
    val a = ExtractJob.withPid(PagesGen.asDataFrame(spark, sf001), 16)
      .select("url", "pid").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val b = ExtractJob.withPid(
      PagesGen.asDataFrame(spark, sf001).repartition(3), 16)
      .select("url", "pid").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(a == b)
    assert(a.values.forall(p => p >= 0 && p < 16))
  }

  test("lineage balances: sum(input_count)=rows, ok+fail=input, bytes match") {
    val buckets = 8
    val extracted = ExtractJob
      .extract(ExtractJob.withPid(PagesGen.asDataFrame(spark, sf001), buckets))
    val rows = ExtractJob.lineage(extracted, "t").collect()
    assert(rows.map(_.input_count).sum == pages.length)
    assert(rows.forall(r => r.ok_count + r.fail_count == r.input_count))
    assert(rows.map(_.input_bytes).sum == pages.map(_.html.length.toLong).sum)
    assert(rows.forall(_.run_id == "t"))
  }

  test("size cap short-circuits to an error row, not a task failure") {
    val buckets = 4
    val out = ExtractJob
      .extract(ExtractJob.withPid(PagesGen.asDataFrame(spark, sf001), buckets),
        maxHtmlBytes = 600)
      .collect()
    val capped = out.filter(_.note == "size-cap")
    assert(capped.nonEmpty)
    assert(capped.forall(r => r.error != null && r.content == null))
    val l = ExtractJob.lineage(
      ExtractJob.extract(
        ExtractJob.withPid(PagesGen.asDataFrame(spark, sf001), buckets),
        maxHtmlBytes = 600), "cap").collect()
    assert(l.map(_.fail_count).sum == capped.length)
    assert(l.filter(_.fail_count > 0).forall(_.failure_samples.nonEmpty))
  }

  test("checkpointed resume: kill-after-K, resume, no-op — full coverage, no dupes") {
    val dir = Files.createTempDirectory("graft-resume").toString
    val df = PagesGen.asDataFrame(spark, sf001)
    ExtractJob.runToDir(spark, df, dir, "r1", 8, failAfterPids = 3)
    val partial = spark.read.parquet(s"$dir/extracted")
    val committed1 = spark.read.parquet(s"$dir/lineage")
      .select("partition_id").distinct().count()
    assert(committed1 == 3)
    assert(partial.count() < pages.length)

    ExtractJob.runToDir(spark, df, dir, "r1", 8)
    val full = spark.read.parquet(s"$dir/extracted")
    assert(full.count() == pages.length)
    assert(full.select("url").distinct().count() == pages.length)
    assert(spark.read.parquet(s"$dir/lineage")
      .select("partition_id").distinct().count() == 8)

    // third run: nothing pending → no duplicates, lineage unchanged
    ExtractJob.runToDir(spark, df, dir, "r1", 8)
    assert(spark.read.parquet(s"$dir/extracted").count() == pages.length)
    assert(spark.read.parquet(s"$dir/lineage").count() == 8)
  }

  test("runToDir lineage equals ExtractJob.lineage, failure samples included") {
    // One parquet file (one input split): both paths then see each pid's
    // rows in file order, so even the capped failure samples must agree.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-lineage").toString
    val failing = (0 until 12).map(i => (s"https://gfycat.com/NoVideo${('a' + i).toChar}", "<html></html>"))
      .toDF("url", "h").select(col("url"), col("h").cast("binary").as("html"))
    failing.union(PagesGen.asDataFrame(spark, sf001).select("url", "html"))
      .coalesce(1).write.parquet(s"$dir/pages")
    val df = spark.read.parquet(s"$dir/pages")
    val sizes = pages.map(_.html.length).sorted
    val cap = sizes(sizes.length / 2)
    val buckets = 8
    def key(r: LineageRow) =
      (r.run_id, r.partition_id, r.input_count, r.input_bytes, r.ok_count, r.fail_count,
        r.failure_samples)
    val expected = ExtractJob.lineage(
      ExtractJob.extract(ExtractJob.withPid(df, buckets), maxHtmlBytes = cap), "r1")
      .collect().map(key).sortBy(_._2).toSeq
    assert(expected.map(_._6).sum > 0)
    assert(expected.exists(_._7.exists(_.error.contains("exceeds cap"))))
    assert(expected.exists(_._7.exists(_.url.startsWith("https://gfycat.com/"))))
    assert(expected.exists(_._6 > ExtractJob.MaxFailureSamples),
      "some pid must hit the failure-sample cap")

    val clean = s"$dir/clean"
    val execs = executionsOf(ExtractJob.runToDir(spark, df, clean, "r1", buckets, cap))
    val scans = execs.flatMap(qe => scannedPaths(qe.executedPlan))
    assert(!scans.exists(_.contains(s"$clean/extracted")),
      s"runToDir read its own output back: ${scans.mkString(", ")}")
    assert(scans.count(_.endsWith(s"$dir/pages")) == 1,
      s"pages must be scanned exactly once: ${scans.mkString(", ")}")
    def lineageOf(out: String) =
      spark.read.parquet(s"$out/lineage").as[LineageRow].collect().map(key).sortBy(_._2).toSeq
    assert(lineageOf(clean) == expected)

    val resumed = s"$dir/resumed"
    ExtractJob.runToDir(spark, df, resumed, "r1", buckets, cap, failAfterPids = 3)
    ExtractJob.runToDir(spark, df, resumed, "r1", buckets, cap)
    ExtractJob.runToDir(spark, df, resumed, "r1", buckets, cap)
    val perPid = spark.read.parquet(s"$resumed/lineage")
      .groupBy("run_id", "partition_id").count().collect()
    assert(perPid.length == buckets && perPid.forall(_.getLong(2) == 1L),
      "exactly one lineage row per (run_id, pid) after kill-and-resume")
    assert(lineageOf(resumed) == expected)
  }

  test("crash BETWEEN extracted write and lineage append: resume leaves exactly one copy (VERDICT r04 task 6)") {
    val dir = Files.createTempDirectory("graft-crashwin").toString
    val df = PagesGen.asDataFrame(spark, sf001)
    val buckets = 8
    ExtractJob.runToDir(spark, df, dir, "r1", buckets, failAfterPids = 3)
    val committed = spark.read.parquet(s"$dir/lineage")
      .select("partition_id").distinct().collect().map(_.getInt(0)).toSet
    assert(committed.size == 3)

    // Simulate the precise window the lineage-commits-last ordering exists
    // for: the extracted files for ONE more pid land on disk, then the JVM
    // dies BEFORE the lineage append — same write sequence as runToDir,
    // truncated after the first write.
    val victim = (0 until buckets).filterNot(committed.contains).head
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      ExtractJob.extract(ExtractJob.withPid(df, buckets).filter(col("pid") === victim))
        .repartition(1, col("pid"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("pid").parquet(s"$dir/extracted")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val orphan = spark.read.parquet(s"$dir/extracted")
      .filter(col("pid") === victim).count()
    assert(orphan > 0, "the crash window must leave orphaned extracted files")
    assert(!ExtractJob.committedPids(
      spark.read.parquet(s"$dir/lineage"), "r1").contains(victim),
      "the victim pid must NOT be committed — its lineage row never landed")

    // Resume: the victim pid is uncommitted, so it must re-extract, and
    // dynamic overwrite must replace the orphaned files — exactly one copy
    // of every url, zero duplicates.
    ExtractJob.runToDir(spark, df, dir, "r1", buckets)
    val full = spark.read.parquet(s"$dir/extracted")
    assert(full.count() == pages.length)
    assert(full.select("url").distinct().count() == pages.length,
      "duplicate rows after resume — dynamic overwrite failed to replace the orphans")
    assert(spark.read.parquet(s"$dir/lineage")
      .select("partition_id").distinct().count() == buckets)
    val victimRows = spark.read.parquet(s"$dir/extracted")
      .filter(col("pid") === victim)
    assert(victimRows.count() == orphan,
      "victim pid must hold the same row count as the orphaned write, once")
    assert(victimRows.select("url").distinct().count() == victimRows.count())
  }

  test("flagship entry returns rows with successful extraction") {
    val rows = graft.SparkEntry.entry(spark).collect()
    assert(rows.length == pages.length)
    val byNote = rows.groupBy(_.getAs[String]("note"))
    assert(byNote.keySet.exists(_.startsWith("cleaned content, ")))
    assert(rows.forall(_.getAs[String]("error") == ""))
  }

  test("byte-aware bucket count scales with corpus bytes") {
    val df = PagesGen.asDataFrame(spark, sf001)
    val p1 = ExtractJob.chooseBuckets(df, targetBytesPerBucket = 10000, minBuckets = 1)
    val p2 = ExtractJob.chooseBuckets(df, targetBytesPerBucket = 20000, minBuckets = 1)
    assert(p1 > p2)
    val totalBytes = pages.map(_.html.length.toLong).sum
    assert(p1 == math.ceil(totalBytes / 10000.0).toLong)
  }
}
