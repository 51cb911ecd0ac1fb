package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, DirectShufflePartitionID}
import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{CollectMetricsExec, DeserializeToObjectExec, MapPartitionsExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan assertions (SURVEY.md §4): the scale posture is part of
  * correctness — these specs pin the plans we want so a regression that
  * adds a shuffle, drops a broadcast, or breaks filter pushdown fails CI.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Nodes of an executed plan that sit above its shuffles: the walk
    * enters adaptive plans and their result stage but stops at every
    * shuffle exchange or shuffle query stage.
    */
  private def aboveExchange(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case _: ShuffleExchangeExec | _: ShuffleQueryStageExec => Nil
    case a: AdaptiveSparkPlanExec => aboveExchange(a.executedPlan)
    case s: QueryStageExec => aboveExchange(s.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(aboveExchange)
  }

  test("ANN/dedup operators never plan an all-pairs product") {
    // the scale contract for every similarity/dedup operator in the
    // driver set: candidate generation is an equi-join on a narrow key
    // (band, chunk, bucket, cell) — a CartesianProduct or nested-loop
    // join anywhere is a 100-TB scale-killer
    val qs = Seq(
      graft.ops.Dedup.minhashLsh(spark, sf001),
      graft.ops.Dedup.simhashDedup(spark, sf001),
      graft.ops.Dedup.embeddingCosine(spark, sf001),
      graft.ops.Dedup.dedupPipeline(spark, sf001),
      graft.ops.Dedup.minhashIncremental(spark, sf001),
      graft.ops.Similarity.annLsh(spark, sf001),
      graft.ops.Similarity.annIvf(spark, sf001),
      graft.ops.Components.clusterKeepers(spark, sf001))
    for (q <- qs) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian in:\n${p.take(2000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"nested loop in:\n${p.take(2000)}")
    }
  }

  test("t19 decontamination: benchmark shingles broadcast, corpus never shuffled on shingle") {
    // benchmark sets are MBs against a 100 TB corpus: the eval shingle
    // relation must broadcast and the corpus shingle stream be probed
    // map-side — only the matched pairs reach the group-by
    val p = plan(graft.ops.Dedup.decontaminate(spark, sf001))
    assert(p.contains("BroadcastHashJoin [shingle"),
      s"eval shingles not broadcast:\n${p.take(3000)}")
    assert(!"(SortMergeJoin|ShuffledHashJoin) \\[shingle".r
      .unanchored.matches(p),
      s"corpus shingles shuffled for the probe:\n${p.take(3000)}")
  }

  test("t17 incremental: the batch's bands broadcast into the corpus probe") {
    // the continuous-ingest contract: the standing corpus (the 100 TB
    // side) is probed map-side by the bounded batch — a shuffled join
    // keyed on the band would exchange the corpus band table every ingest
    val p = plan(graft.ops.Dedup.minhashIncremental(spark, sf001))
    assert(p.contains("BroadcastHashJoin [band_idx"),
      s"batch bands not broadcast:\n${p.take(3000)}")
    assert(!"(SortMergeJoin|ShuffledHashJoin) \\[band_idx".r
      .unanchored.matches(p),
      s"corpus band table shuffled for the probe:\n${p.take(3000)}")
  }

  test("t8 co-shingle counting is one shingle shuffle, not a self-join") {
    // r05: the co-shingle stage groups by shingle once and expands i<j
    // pairs in-bucket. The r04 shape self-joined the capped relation —
    // TWO exchanges of the widest relation in the job. Pin exactly one
    // hashpartitioning on shingle and no join keyed by it.
    val p = plan(graft.ops.Dedup.ngramJaccard(spark, sf001))
    val shingleExchanges =
      "hashpartitioning\\(shingle".r.findAllIn(p).length
    assert(shingleExchanges == 1,
      s"expected exactly 1 shingle exchange, got $shingleExchanges:\n$p")
    assert(!"(SortMergeJoin|ShuffledHashJoin) \\[shingle".r
      .unanchored.matches(p) && !p.contains("Join [shingle"),
      s"shingle-keyed join found:\n${p.take(2000)}")
  }

  test("per-row ops plan narrow: no shuffle anywhere, scans pruned") {
    // every per-row operator (token/quality/lang/fingerprint/repetition/
    // quantization) must stay a linear single-pass map — an Exchange in
    // any of them is a scale regression. (HOF lambdas are CodegenFallback
    // in Spark, so no WholeStageCodegen assertion.)
    val perRow = Seq(
      "t2" -> graft.ops.TextOps.tokenCount(spark, sf001),
      "t3" -> graft.ops.TextOps.qualityScore(spark, sf001),
      "t4" -> graft.ops.TextOps.langId(spark, sf001),
      "t5" -> graft.ops.TextOps.fingerprint(spark, sf001),
      "t15" -> graft.ops.TextOps.repetition(spark, sf001),
      "t34" -> graft.ops.TextOps.compressRatio(spark, sf001),
      "t16" -> graft.ops.Similarity.quantizeInt8(spark, sf001),
      "t18" -> graft.ops.Sampling.stratifiedSample(spark, sf001),
      "t21" -> graft.ops.Export.shardAssign(spark, sf001),
      "u1" -> Relational.u1UrlOps(spark, sf001),
      "u5" -> Relational.u5Templates(spark, sf001),
      "f4" -> Relational.f4ContentChoice(spark, sf001))
    for ((nm, df) <- perRow) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"$nm: unexpected shuffle:\n$p")
    }
    // u1 synthesizes urls from doc_id alone — text/lang/source pruned out
    val pu1 = plan(Relational.u1UrlOps(spark, sf001))
    assert(pu1.contains("ReadSchema: struct<doc_id:bigint>"),
      s"u1 scan not pruned to doc_id:\n$pu1")
    // scans prune to exactly the consumed columns
    val p15 = plan(graft.ops.TextOps.repetition(spark, sf001))
    assert(p15.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"t15 scan not pruned to (doc_id, text):\n$p15")
    val p16 = plan(graft.ops.Similarity.quantizeInt8(spark, sf001))
    assert(p16.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"t16 scan not pruned to (vec_id, embedding):\n$p16")
    val p18 = plan(graft.ops.Sampling.stratifiedSample(spark, sf001))
    assert(p18.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"t18 scan not pruned to (doc_id, lang):\n$p18")
    val p21 = plan(graft.ops.Export.shardAssign(spark, sf001))
    assert(p21.contains("ReadSchema: struct<doc_id:bigint>"),
      s"t21 scan not pruned to doc_id:\n$p21")
    val p34 = plan(graft.ops.TextOps.compressRatio(spark, sf001))
    assert(p34.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"t34 scan not pruned to (doc_id, text):\n$p34")
    assert(p34.contains("deflate_len"), s"t34 expression not in plan:\n$p34")
  }

  test("f3 entry match resolves with one grouped argmin (map-side partial)") {
    val p = plan(Relational.f3EntryMatch(spark, sf001))
    val exchanges = p.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"f3 should need at most the groupBy (+join) shuffles:\n$p")
    assert(p.contains("partial_min") || p.contains("partial"),
      s"no map-side partial argmin in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("t1 exact dedup aggregates with a map-side partial (one shuffle)") {
    val p = plan(graft.ops.Dedup.exact(spark, sf001))
    val exchanges = p.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges == 1, s"expected exactly 1 shuffle:\n$p")
    assert(p.contains("partial_"), s"no map-side partial agg:\n$p")
  }

  test("d5: dimension joins are broadcast (no shuffle on the fact side)") {
    val p = plan(Relational.d5BroadcastJoin(spark, sf001))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("d6: filter is pushed into the parquet scan") {
    val p = plan(Relational.d6SchedulingScan(spark, sf001))
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"),
      s"pushdown missing in:\n$p")
  }

  test("d6: scan reads only needed columns (column pruning)") {
    val p = plan(Relational.d6SchedulingScan(spark, sf001))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("event_id") && readSchema.contains("ts") &&
      readSchema.contains("user_id") && readSchema.contains("event_type"))
    assert(!readSchema.contains("props"), s"props not pruned: $readSchema")
  }

  test("extraction over a pages table is SHUFFLE-FREE (r04: scan-local kernel)") {
    // r03 shipped one pid exchange before the kernel; r04 removed it —
    // the shuffle moved the FULL html corpus (the largest byte movement
    // in the job at 10^12 docs; 3x the local wall-clock) and nothing in
    // extraction needs pid co-location. Clustering now happens on the
    // EXTRACTED rows at the write (next test).
    val dir = Files.createTempDirectory("graft-plan").toString
    PagesGen.asDataFrame(spark, sf001).write.parquet(s"$dir/pages")
    val pages = spark.read.parquet(s"$dir/pages")
    val ds = ExtractJob.extract(ExtractJob.withPid(pages, 8))
    val exchanges = plan(ds.toDF())
      .linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges == 0, s"expected a shuffle-free extraction plan, got $exchanges")
  }

  test("write clustering shuffles EXTRACTED rows, never the html blob") {
    // the plan runToDir actually writes: ONE exchange, above the kernel,
    // that passes pid through as the partition id — no pid hashing, so no
    // two pids share a writing task and none is left empty
    val dir = Files.createTempDirectory("graft-plan5").toString
    PagesGen.asDataFrame(spark, sf001).write.parquet(s"$dir/pages")
    val pages = spark.read.parquet(s"$dir/pages")
    val buckets = 8
    // the SQL execution id of every job started
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY)))
    }
    spark.sparkContext.addSparkListener(listener)
    val execs =
      try executionsOf(ExtractJob.runToDir(spark, pages, s"$dir/out", "r", buckets))
      finally spark.sparkContext.removeSparkListener(listener)
    val write = execs.map(_.executedPlan)
      .filter(p => p.toString.contains("InsertIntoHadoopFsRelationCommand") &&
        p.toString.contains(s"$dir/out/extracted"))
    assert(write.size == 1, s"expected one extracted write, got ${write.size}")
    // runToDir writes with adaptive execution off: a fixed plan, run as
    // one job, with no re-plan between the kernel stage and the write
    assert(write.head.collectFirst { case a: AdaptiveSparkPlanExec => a }.isEmpty,
      s"the extracted write is adaptive:\n${write.head}")
    // a fresh directory: the extracted write and the lineage append, as
    // two SQL executions of one job each
    val jobsPerExecution = jobs.asScala.toSeq.groupBy(identity).values.map(_.size).toSeq
    assert(execs.size == 2 && jobsPerExecution == Seq(1, 1),
      s"${execs.size} executions, jobs by execution: $jobsPerExecution")
    val exchanges = AqePlans.collect(write.head) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected exactly the write-clustering shuffle:\n${write.head}")
    val ex = exchanges.head
    ex.outputPartitioning match {
      case ShufflePartitionIdPassThrough(DirectShufflePartitionID(pid: AttributeReference), n) =>
        assert(pid.name == "pid" && n == buckets)
      case other => fail(s"write exchange is not a pid pass-through: $other")
    }
    val p = write.head.toString
    assert(!p.contains("hashpartitioning(pid"), s"pid is hashed:\n$p")
    // lineage is observed above the exchange, in the write's result
    // stage: Spark applies a result task's metrics once, and each write
    // task holds one pid, so no update needs deduplicating
    val above = aboveExchange(write.head)
    val observed = above.collect { case m: CollectMetricsExec => m }
    assert(observed.size == 1, s"lineage is not observed in the result stage:\n$p")
    assert(AqePlans.collect(observed.head) { case e: ShuffleExchangeExec => e }.size == 1,
      s"the pid exchange is not below the lineage observation:\n$p")
    // the aggregate reads the row's columns: no typed pass-through that
    // deserializes ExtractedRow again
    val typed = above.collect {
      case n @ (_: DeserializeToObjectExec | _: MapPartitionsExec) => n.nodeName
    }
    assert(typed.isEmpty, s"typed pass-through above the write exchange: $typed\n$p")
    // below it only the kernel: one deserialization (the page columns)
    // and its mapPartitions
    val below = ex.child.collect {
      case n @ (_: DeserializeToObjectExec | _: MapPartitionsExec) => n.nodeName
    }
    assert(below.sorted == Seq("DeserializeToObject", "MapPartitions"),
      s"kernel stage: $below\n$p")
    // the exchange moves ExtractedRow (content), not the raw page html
    val shuffled = ex.output.map(_.name)
    assert(shuffled.contains("content") && !shuffled.contains("html"), shuffled.toString)
    val pidDirs = new java.io.File(s"$dir/out/extracted").listFiles().filter(_.getName.startsWith("pid="))
    assert(pidDirs.length == buckets)
    pidDirs.foreach { d =>
      val files = d.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.length} data files")
    }
  }

  test("lineage aggregation is partial (map-side combine before the shuffle)") {
    val dir = Files.createTempDirectory("graft-plan2").toString
    PagesGen.asDataFrame(spark, sf001).write.parquet(s"$dir/pages")
    val pages = spark.read.parquet(s"$dir/pages")
    val lin = ExtractJob.lineage(
      ExtractJob.extract(ExtractJob.withPid(pages, 8)), "p")
    val p = plan(lin.toDF())
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no partial aggregation in:\n$p")
  }

  test("resume filter is a broadcast anti-join, not a driver-side In-list") {
    // At maxBuckets = 2^20 an isin() In-list is a million-term expression
    // built on the driver (VERDICT r01). The resume scope must be a
    // broadcast LEFT ANTI join against the committed-pid set, with the
    // html blob column untouched by the join keys.
    val dir = Files.createTempDirectory("graft-plan4").toString
    val s = spark
    import s.implicits._
    PagesGen.asDataFrame(spark, sf001).write.parquet(s"$dir/pages")
    ExtractJob.lineage(
      ExtractJob.extract(
        ExtractJob.withPid(spark.read.parquet(s"$dir/pages"), 8)), "run-a")
      .write.parquet(s"$dir/lineage")
    val committed = ExtractJob.committedPidsDf(spark, s"$dir/lineage", "run-a").get
    val pending = ExtractJob.withPid(spark.read.parquet(s"$dir/pages"), 8)
      .join(org.apache.spark.sql.functions.broadcast(committed), Seq("pid"), "left_anti")
    val p = plan(pending)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"no broadcast anti-join in:\n$p")
    assert(!p.contains(" IN ("), s"In-list leaked into plan:\n$p")
    // missing lineage dir → None (first run); corrupt reads propagate
    assert(ExtractJob.committedPidsDf(spark, s"$dir/nope", "run-a").isEmpty)
  }

  test("resume bookkeeping never deserializes html blobs") {
    // committedPids reads only (run_id, partition_id); simulate with a
    // lineage table and verify the scan schema excludes wide columns.
    val dir = Files.createTempDirectory("graft-plan3").toString
    val s = spark
    import s.implicits._
    Seq(LineageRow("r", 1, 10, 100, 10, 0, Seq(), 5))
      .toDS().write.parquet(s"$dir/lineage")
    val df = spark.read.parquet(s"$dir/lineage")
      .filter($"run_id" === "r").select("partition_id")
    val readSchema = plan(df).linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("partition_id"))
    assert(!readSchema.contains("failure_samples"),
      s"wide column not pruned: $readSchema")
  }

  test("lineage prunes the content column of a scanned source") {
    // lineage selects its five narrow columns before the typed fold, so
    // over a scan of extracted rows the content blob column is pruned
    // (runToDir never scans its output: PipelineSpec asserts no read-back)
    val dir = Files.createTempDirectory("graft-plan4").toString
    val s = spark
    import s.implicits._
    Seq(
      graft.spark.ExtractedRow("u1", 0, "big content", "", null, 10L, 5L),
      graft.spark.ExtractedRow("u2", 1, "more content", "", "err", 20L, 6L))
      .toDS().write.partitionBy("pid").parquet(s"$dir/extracted")
    val scanned = spark.read.parquet(s"$dir/extracted").as[ExtractedRow]
    val lin = graft.spark.ExtractJob.lineage(scanned, "r")
    val readSchema = plan(lin.toDF()).linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("in_bytes"),
      s"lineage columns missing from scan: $readSchema")
    assert(!readSchema.contains("content"),
      s"content blob not pruned from lineage scan: $readSchema")
    // and the rows are right
    val rows = lin.collect().sortBy(_.partition_id)
    assert(rows.map(r => (r.partition_id, r.input_count, r.ok_count, r.fail_count)).toSeq
      == Seq((0, 1L, 1L, 0L), (1, 1L, 0L, 1L)))
  }

  test("t23 redaction plans narrow: exchange-free, scan pruned to (doc_id, text)") {
    // the scrub pass must run at scan speed — regex expressions are
    // codegen'd Catalyst natives, and nothing in it may shuffle
    val p = plan(graft.ops.Redact.queries("t23_pii_redact")(spark, sf001))
    assert(!p.contains("Exchange"), s"t23: unexpected shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"t23 scan not pruned to (doc_id, text):\n$p")
  }

  test("t24 line dedup: frequent set broadcast, corpus lines never join-shuffled") {
    // the 100 TB contract: ONE wide shuffle (the line-frequency groupBy,
    // with map-side partial), then the bounded frequent set broadcasts
    // into a map-side LEFT ANTI probe — a shuffled join keyed on the line
    // would exchange the exploded corpus a second time
    val p = plan(graft.ops.LineDedup.lineDedup(spark, sf001))
    assert(p.contains("BroadcastHashJoin [line"), s"frequent lines not broadcast:\n${p.take(3000)}")
    assert(p.contains("LeftAnti"), s"no anti-join in:\n${p.take(3000)}")
    assert(!"(SortMergeJoin|ShuffledHashJoin) \\[line".r.unanchored.matches(p),
      s"corpus lines shuffled for the strip join:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val freqExchanges = "hashpartitioning\\(line".r.findAllIn(p).length
    assert(freqExchanges == 1,
      s"expected exactly 1 line-keyed exchange (the frequency groupBy), got $freqExchanges:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side partial in the frequency count:\n$p")
  }

  test("t25 decontam report: eval side broadcast, corpus never shuffled before the rank") {
    // the DELIBERATE nested-loop: a bounded eval set broadcasts and each
    // corpus row computes |eval| dots map-side (linear in corpus bytes,
    // no corpus shuffle) — the floor then prunes pairs before the only
    // exchange, the per-eval rank window
    val p = plan(graft.ops.Similarity.decontamReport(spark, sf001))
    assert(p.contains("BroadcastNestedLoopJoin"), s"eval side not broadcast:\n${p.take(2000)}")
    val exchanges = p.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("Reused") && !l.contains("Broadcast"))
    assert(exchanges == 1,
      s"expected exactly the rank-window exchange, got $exchanges:\n$p")
    assert("hashpartitioning\\(eval_id".r.findAllIn(p).nonEmpty,
      s"rank window not keyed by eval_id:\n$p")
  }

  test("t26 star rounds: bounded-memory min + join-back, never a neighbor-set buffer") {
    // the per-iteration scale contract of connected components (r07,
    // VERDICT r06 task 1): each large-star / small-star derives the
    // per-node minimum with a PLAIN min AGGREGATE (8 bytes of state per
    // key) joined back onto the edge relation — a collect_set of the
    // neighborhood holds a whole component's neighbor set in ONE
    // aggregation buffer at the final star's root key (a 10⁹-doc
    // boilerplate family ≈ 8 GB in one buffer; AQE splits skewed
    // partitions, never a single groupBy key). Both the aggregate and
    // the join hash on u, so the edge relation's exchange is reused —
    // ≤3 wide exchanges per star (node key + the dropDuplicates
    // canonicalization), never an Expand/explode of buffered sets.
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
      .selectExpr("least(src, dst) AS lo", "greatest(src, dst) AS hi")
    for ((name, df) <- Seq(
        "largeStar" -> graft.ops.Components.largeStar(edges),
        "smallStar" -> graft.ops.Components.smallStar(edges))) {
      val p = plan(df)
      assert(!p.contains("collect_set") && !p.contains("collect_list"),
        s"$name buffers a neighbor set in aggregation state:\n${p.take(2000)}")
      assert(p.contains("min("), s"$name: no min aggregate:\n${p.take(2000)}")
      val nodeExchanges = "hashpartitioning\\(u".r.findAllIn(p).length
      assert(nodeExchanges >= 1, s"$name: no node-keyed exchange:\n$p")
      val wide = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
      // edge relation by u (reused between aggregate and join where the
      // planner keeps SMJ; AQE may instead broadcast the tiny min side)
      // + the dropDuplicates(lo, hi) canonicalization
      assert(wide <= 3, s"$name: ${wide} wide exchanges (expected ≤3):\n$p")
      assert(p.contains("partial"), s"$name: no map-side partial aggregate:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name: all-pairs join:\n${p.take(2000)}")
    }
  }

  test("t27 LM scoring is a shuffle-free, join-free projection over a pruned scan") {
    // the model rides to executors as a plan reference object — the
    // join-based alternative shuffles ~20 B per corpus TOKEN to
    // reassemble per-doc sums, a corpus-sized exchange at 100 TB
    val docs = graft.ops.Dedup.docs(spark, sf001)
    val model = graft.ops.LangModel.fit(docs)
    val p = plan(graft.ops.LangModel.lmScoreOn(docs, model))
    assert(!p.contains("Exchange"), s"t27 scoring shuffles:\n$p")
    assert(!p.contains("Join"), s"t27 scoring joins:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"t27 scan not pruned to (doc_id, text):\n$p")
    assert(p.contains("lm_score"), s"lm_score expression not in plan:\n$p")
  }

  test("t30 substring coverage: ONE window-keyed exchange, analytic count, no win join") {
    // the window relation is the corpus token stream — it must shuffle
    // exactly ONCE on the window key; the df flag comes from an analytic
    // count over that one exchange, NOT a groupBy+probe-join pair (whose
    // aggregate side would shuffle the window keys a second time —
    // a near-doubling of the dominant shuffle at 100 TB)
    val p = plan(graft.ops.Substring.substringDup(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in t30:\n${p.take(2000)}")
    val winExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(win") && !l.contains("Reused"))
    assert(winExchanges == 1,
      s"expected exactly 1 window-keyed exchange, got $winExchanges:\n$p")
    assert(p.contains("Window ["), s"analytic count operator missing:\n$p")
    val winJoins = p.linesIterator.count(l =>
      l.contains("Join") && l.contains("win#"))
    assert(winJoins == 0, s"join on the window key present:\n$p")
  }

  test("t37 substring strip: one window exchange, no all-pairs join") {
    // same dominant-shuffle contract as t30: the window stream crosses
    // the wire once; the strip adds only the thin flagged-position
    // regroup and the one doc_id token join
    val p = plan(graft.ops.Substring.substringStrip(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in t37:\n${p.take(2000)}")
    val winExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(win") && !l.contains("Reused"))
    assert(winExchanges == 1,
      s"expected exactly 1 window-keyed exchange, got $winExchanges:\n$p")
  }

  test("t31 ppl buckets: corpus never shuffles; thresholds broadcast back") {
    // the only wide edge the corpus feeds is the (lang, q) histogram
    // groupBy (map-side combined to a bounded relation); the cum /
    // threshold windows run over the HISTOGRAM, and the threshold table
    // must come back as a broadcast join — any doc_id-keyed exchange
    // means the corpus itself shuffled
    val p = plan(graft.ops.LangModel.pplBuckets(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in t31:\n${p.take(2000)}")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"corpus shuffled by doc_id:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"threshold table not broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"histogram has no map-side partial:\n$p")
  }

  test("t33 temperature mix: corpus never shuffles; rate table broadcast") {
    // the only wide edge the corpus feeds is the map-side-combined
    // lang-count groupBy; the rate math runs over the <=|langs|-row
    // relation and the rate table must broadcast back — any
    // doc_id-keyed exchange means the corpus itself shuffled
    val p = plan(graft.ops.Sampling.temperatureMix(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in t33:\n${p.take(2000)}")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"corpus shuffled by doc_id:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"rate table not broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"lang count has no map-side partial:\n$p")
  }

  test("t35 sequence texts: no Window, one seq_id exchange for the tiny fixup only") {
    // the corpus crosses the wire once inside the prefix-sum range
    // shuffle (behind the materialization); the visible plan must be
    // the union of pass-through complete pieces and ONE seq_id-keyed
    // exchange over the boundary fragments — a corpus-wide seq_id
    // groupBy or a global Window would be the scale regression
    val p = plan(graft.ops.Packing.sequenceTexts(spark, sf001))
    assert(!p.contains("Window"), s"window in t35 plan:\n${p.take(2000)}")
    val seqEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(seq_id") && !l.contains("Reused"))
    assert(seqEx == 1, s"expected 1 seq_id exchange (fragments only), got $seqEx:\n$p")
    assert(p.contains("Union"), s"complete/fixup union missing:\n$p")
  }

  test("t36 corpus stats: one Expand, one exchange, map-side partial") {
    // CUBE must plan as Expand (map-local x4 replication) + partial
    // aggregate + ONE group-cardinality-bounded exchange — not four
    // separate scans or a corpus-sized shuffle
    val p = plan(graft.ops.TextOps.corpusStats(spark, sf001))
    assert(p.contains("Expand"), s"no Expand in cube plan:\n$p")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
    assert(p.contains("partial_count"), s"no map-side partial:\n$p")
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"cube re-scanned the corpus ($scans scans):\n$p")
  }

  test("t20 funnel plan contains ONE dedup job: no second signature/banding stage") {
    // VERDICT r05 task 2: the driver query persists the dedup verdicts
    // and joins the read-back, so the FUNNEL plan itself must contain no
    // sha256 exact-dedup stage and no minhash signature/banding stage —
    // at 100 TB an inline recompute would double the most expensive job
    // in the pipeline.
    val p = plan(graft.ops.Curation.funnel(spark, sf001))
    assert(!p.contains("sha2"), s"second exact-dedup stage in funnel plan:\n${p.take(2000)}")
    assert(!p.contains("minhash_sig"), s"second signature stage in funnel plan:\n${p.take(2000)}")
    // the verdict side is a plain parquet scan of the staged table
    assert(p.contains("t20_dedup_verdicts"), "funnel does not scan the persisted verdict table")
  }
}
