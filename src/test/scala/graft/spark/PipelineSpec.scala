package graft.spark

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

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

  /** (url, html) of the sf001 pages plus `n` gfycat pages without a
    * <video>, which fail in the kernel. Their urls' upper-case scheme
    * sorts them before every PagesGen url, so they are the failure
    * samples of their pids; all `n` share one pid of `buckets`.
    */
  private def pagesWithFailures(n: Int, buckets: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val letters = 'a' to 'z'
    val candidates = (for (a <- letters; b <- letters; c <- letters)
      yield s"HTTPS://gfycat.com/NoVideo$a$b$c").toDF("url")
    val failing = ExtractJob.withPid(candidates, buckets)
      .filter(col("pid") === 0).orderBy("url").limit(n).select("url")
      .withColumn("html", lit("<html></html>").cast("binary"))
    failing.union(PagesGen.asDataFrame(spark, sf001).select("url", "html"))
  }

  private def lineageKey(r: LineageRow) =
    (r.run_id, r.partition_id, r.input_count, r.input_bytes, r.ok_count, r.fail_count,
      r.failure_samples)

  test("runToDir lineage equals ExtractJob.lineage, failure samples included") {
    // Over 64 input splits and 256 buckets, so a pid's rows span many map
    // tasks: the samples still agree, because both paths keep each pid's
    // smallest by (url, error), whatever order its rows arrive in.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-lineage").toString
    val buckets = 256
    pagesWithFailures(8, buckets).repartition(64).write.parquet(s"$dir/pages")
    val sizes = pages.map(_.html.length).sorted
    val cap = sizes(sizes.length / 2)
    // an open cost of a whole split puts each file in its own split
    withConf("spark.sql.files.openCostInBytes" -> (128L << 20).toString) {
      val df = spark.read.parquet(s"$dir/pages")
      assert(df.rdd.getNumPartitions >= 64)
      val expected = ExtractJob.lineage(
        ExtractJob.extract(ExtractJob.withPid(df, buckets), maxHtmlBytes = cap), "r1")
        .collect().map(lineageKey).sortBy(_._2).toSeq
      assert(expected.map(_._6).sum > 0)
      assert(expected.exists(_._7.exists(_.error.contains("exceeds cap"))))
      assert(expected.exists(_._7.exists(_.url.startsWith("HTTPS://gfycat.com/"))))
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
        spark.read.parquet(s"$out/lineage").as[LineageRow].collect().map(lineageKey)
          .sortBy(_._2).toSeq
      // ExtractJob.lineage has no bucket count, so its rows are the pids
      // with rows; runToDir also commits the empty ones, with zero rows
      def withEmpties = {
        val seen = expected.map(_._2).toSet
        assert(seen.size < buckets, "some pid must be empty")
        (expected ++ (0 until buckets).filterNot(seen).map(pid =>
          ("r1", pid, 0L, 0L, 0L, 0L, Seq.empty[FailureSample]))).sortBy(_._2)
      }
      assert(lineageOf(clean) == withEmpties)

      val resumed = s"$dir/resumed"
      ExtractJob.runToDir(spark, df, resumed, "r1", buckets, cap, failAfterPids = 3)
      ExtractJob.runToDir(spark, df, resumed, "r1", buckets, cap)
      ExtractJob.runToDir(spark, df, resumed, "r1", buckets, cap)
      val perPid = spark.read.parquet(s"$resumed/lineage")
        .groupBy("run_id", "partition_id").count().collect()
      assert(perPid.length == buckets && perPid.forall(_.getLong(2) == 1L),
        "exactly one lineage row per (run_id, pid) after kill-and-resume")
      assert(lineageOf(resumed) == withEmpties)
    }
  }

  test("runToDir commits empty pids with zero-count lineage rows; failAfterPids commits exactly K") {
    val dir = Files.createTempDirectory("graft-empty").toString
    val buckets = 32
    val k = 5
    // planted: only pids 1, 3, 6 and 20 hold rows, so each kill commits
    // empty and non-empty pids alike
    val full = ExtractJob.withPid(PagesGen.asDataFrame(spark, sf001), buckets)
    val df = full.filter(col("pid").isin(1, 3, 6, 20)).drop("pid").cache()
    val n = df.count()
    assert(n > 0 && full.filter(col("pid").isin(1, 3, 6, 20)).select("pid").distinct().count() == 4)
    def lineage = spark.read.parquet(s"$dir/lineage").orderBy("partition_id").collect()

    ExtractJob.runToDir(spark, df, dir, "r1", buckets, failAfterPids = k)
    val first = lineage
    assert(first.map(_.getAs[Int]("partition_id")).toSeq == (0 until k))
    for (r <- first) {
      val pid = r.getAs[Int]("partition_id")
      if (pid == 1 || pid == 3) assert(r.getAs[Long]("input_count") > 0, s"pid $pid")
      else {
        assert(r.getAs[Long]("input_count") == 0L && r.getAs[Long]("input_bytes") == 0L &&
          r.getAs[Long]("ok_count") == 0L && r.getAs[Long]("fail_count") == 0L, s"pid $pid: $r")
        assert(r.getAs[collection.Seq[Row]]("failure_samples").isEmpty && r.getAs[Long]("wall_ms") == 0L,
          s"pid $pid: $r")
      }
    }

    ExtractJob.runToDir(spark, df, dir, "r1", buckets, failAfterPids = k)
    assert(lineage.map(_.getAs[Int]("partition_id")).toSeq == (0 until 2 * k))

    ExtractJob.runToDir(spark, df, dir, "r1", buckets)
    ExtractJob.runToDir(spark, df, dir, "r1", buckets) // nothing pending: a no-op
    assert(lineage.map(_.getAs[Int]("partition_id")).toSeq == (0 until buckets),
      "one lineage row per pid, empty ones included")
    assert(ExtractJob.committedPids(spark.read.parquet(s"$dir/lineage"), "r1").size == buckets)
    val out = spark.read.parquet(s"$dir/extracted")
    assert(out.count() == n && out.select("url").distinct().count() == n)
    assert(lineage.map(_.getAs[Long]("input_count")).sum == n)
    df.unpersist()
  }

  test("ExtractJob.lineage rows, samples included, do not depend on partitioning") {
    val buckets = 8
    val df = pagesWithFailures(8, buckets)
    val sizes = pages.map(_.html.length).sorted
    val cap = sizes(sizes.length / 2)
    def lineageOf(input: DataFrame) =
      ExtractJob.lineage(
        ExtractJob.extract(ExtractJob.withPid(input, buckets), maxHtmlBytes = cap), "m")
        .collect().map(lineageKey).sortBy(_._2).toSeq
    val one = withConf("spark.sql.shuffle.partitions" -> "1")(lineageOf(df))
    assert(one.length == buckets)
    assert(one.count(_._6 > ExtractJob.MaxFailureSamples) > 1,
      "the samples must be a choice among a pid's failures")
    assert(withConf("spark.sql.shuffle.partitions" -> "7")(lineageOf(df)) == one)
    assert(lineageOf(df.repartition(5)) == one)
  }

  test("lineage Aggregator: buffers merged in any order or tree shape equal one reduce") {
    // Spark merges a pid's buffers in whatever order tasks and stages
    // finish; the result must equal one fold over all rows, with each
    // pid's samples its MaxFailureSamples smallest failures by (url, error)
    val agg = new ExtractJob.Lineage("p")
    type In = (Int, String, String, Long, Long)
    val genRow: Gen[In] = for {
      pid <- Gen.choose(0, 3)
      url <- Gen.frequency(1 -> Gen.const(null), 9 -> Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))
      error <- Gen.frequency(2 -> Gen.const(null), 1 -> Gen.oneOf("x", "y"))
      inBytes <- Gen.choose(0L, 1000L)
      wallUs <- Gen.choose(0L, 5000L)
    } yield (pid, url, error, inBytes, wallUs)
    val gen = for {
      rows <- Gen.listOf(genRow)
      cuts <- Gen.listOf(Gen.choose(0, rows.size))
      seed <- Gen.long
    } yield (rows, cuts, seed)
    val prop = Prop.forAllNoShrink(gen) { case (rows, cuts, seed) =>
      val bounds = (0 +: cuts.sorted :+ rows.size).sliding(2).toSeq
      val buffers = bounds.map { case Seq(a, b) => rows.slice(a, b).foldLeft(agg.zero)(agg.reduce) }
      // random tree: merge two random buffers, in random argument order
      val rnd = new scala.util.Random(seed)
      val pool = scala.collection.mutable.ArrayBuffer.from(buffers)
      while (pool.size > 1) {
        val x = pool.remove(rnd.nextInt(pool.size))
        val y = pool.remove(rnd.nextInt(pool.size))
        pool += (if (rnd.nextBoolean()) agg.merge(x, y) else agg.merge(y, x))
      }
      val once = rows.foldLeft(agg.zero)(agg.reduce)
      val samplesOk = once.forall { case (pid, p) =>
        p.failure_samples == rows
          .collect { case (`pid`, url, error, _, _) if error != null => FailureSample(url, error) }
          .sortBy(f => (Option(f.url), Option(f.error)))
          .take(ExtractJob.MaxFailureSamples)
      }
      (pool.head == once) :| "merged != one reduce" &&
        samplesOk :| "samples are not the smallest by (url, error)" &&
        (agg.finish(once).map(_.input_count).sum == rows.size) :| "row count"
    }
    val r = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(2000).withInitialSeed(Seed(11L)).withWorkers(1),
      prop)
    assert(r.passed, s"${r.status} after ${r.succeeded} passed")
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
    withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      ExtractJob.extract(ExtractJob.withPid(df, buckets).filter(col("pid") === victim))
        .repartition(1, col("pid"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("pid").parquet(s"$dir/extracted")
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

  /** Codecs of every parquet file under `dir`, by path relative to it,
    * from the footers (every column chunk of every row group).
    */
  private def codecs(dir: String): Map[String, Set[String]] = {
    val root = Paths.get(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toUri), conf))
      try {
        val blocks = r.getFooter.getBlocks.asScala
        assert(blocks.nonEmpty, s"$f holds no row group")
        root.relativize(f).toString ->
          blocks.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
      } finally r.close()
    }.toMap
  }

  /** SHA-256 over the extracted rows, sorted, without `wall_us`. */
  private def digest(dir: String): String = {
    val rows = spark.read.parquet(s"$dir/extracted")
      .select("url", "pid", "content", "note", "error", "in_bytes")
      .collect().map(_.mkString("\u0000")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private lazy val singlePass: String = {
    val dir = Files.createTempDirectory("graft-single").toString
    ExtractJob.runToDir(spark, PagesGen.asDataFrame(spark, sf001), dir, "r1", 8)
    dir
  }

  test("runToDir writes every extracted and lineage file with zstd") {
    for (table <- Seq("extracted", "lineage")) {
      val c = codecs(s"$singlePass/$table")
      assert(c.nonEmpty && c.values.forall(_ == Set("ZSTD")), s"$table: $c")
    }
  }

  test("resuming a run directory written with snappy: same rows, one lineage row per pid, zstd only where resumed") {
    // The directory runToDir left before its tables moved to zstd: Spark's
    // default snappy, with half the pids extracted and committed.
    val dir = Files.createTempDirectory("graft-upgrade").toString
    val df = PagesGen.asDataFrame(spark, sf001)
    val buckets = 8
    val old = (0 until buckets by 2).toSet
    val oldRows = ExtractJob.extract(
      ExtractJob.withPid(df, buckets).filter(col("pid").isin(old.toSeq: _*)))
    oldRows.repartition(buckets, col("pid")).write.partitionBy("pid")
      .option("compression", "snappy").parquet(s"$dir/extracted")
    ExtractJob.lineage(oldRows, "r1").coalesce(1).write
      .option("compression", "snappy").parquet(s"$dir/lineage")
    assert(ExtractJob.committedPids(spark.read.parquet(s"$dir/lineage"), "r1") == old)

    ExtractJob.runToDir(spark, df, dir, "r1", buckets)

    assert(digest(dir) == digest(singlePass))
    val perPid = spark.read.parquet(s"$dir/lineage")
      .groupBy("run_id", "partition_id").count().collect()
    assert(perPid.length == buckets && perPid.forall(_.getLong(2) == 1L),
      "exactly one lineage row per (run_id, pid) after the resume")
    def counts(d: String) = spark.read.parquet(s"$d/lineage")
      .select("partition_id", "input_count", "input_bytes", "ok_count", "fail_count")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Int]).toSeq
    assert(counts(dir) == counts(singlePass))

    val extracted = codecs(s"$dir/extracted")
    assert(extracted.keys.map(_.takeWhile(_ != '/')).toSet ==
      (0 until buckets).map(p => s"pid=$p").toSet)
    extracted.foreach { case (f, c) =>
      val pid = f.stripPrefix("pid=").takeWhile(_ != '/').toInt
      assert(c == Set(if (old.contains(pid)) "SNAPPY" else "ZSTD"), s"$f: $c")
    }
    assert(codecs(s"$dir/lineage").values.toSeq.sortBy(_.head) ==
      Seq(Set("SNAPPY"), Set("ZSTD")))
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
