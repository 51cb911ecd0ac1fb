package graft.ops

import graft.spark.SparkSpec

class PackingSpec extends SparkSpec {

  test("prefix sums equal a driver-side reference; chunk math consistent") {
    val rows = Packing.sequencePack(spark, sf001, seqLen = 1024L).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cum_before"), r.getAs[Long]("seq_id"),
        r.getAs[Long]("seq_offset")))
      .sortBy(_._1)
    assert(rows.length == 500)
    var cum = 0L
    rows.foreach { case (id, n, before, seq, off) =>
      assert(before == cum, s"doc $id: cum_before $before != reference $cum")
      assert(seq == before / 1024L && off == before % 1024L, s"doc $id chunk math")
      cum += n
    }
    assert(cum > 0)
    // the stream spans many sequences (non-vacuous chunking)
    assert(rows.map(_._4).distinct.length > 10)
  }

  // ---- t35 sequence materialization ----

  private val s35 = spark
  import s35.implicits._

  private def toksDf(docs: Seq[(Long, String)]) =
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", s"${Tokenize.Toks} AS tk")
      .selectExpr("doc_id", "tk", "CAST(size(tk) AS BIGINT) AS n_tokens")

  private def seqRows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, String)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

  test("t35: hand-checked sequences across doc boundaries, empty + NULL docs, partial tail") {
    // L = 10; docs of 5 / 35 / 0 / null / 7 tokens -> 47 tokens -> seqs
    // 0..4 (the null-text doc contributes zero tokens, not an executor
    // NPE — review finding, r06)
    val d1 = (1 to 5).map(i => s"a$i").mkString(" ")
    val d2 = (1 to 35).map(i => s"b$i").mkString(" ")
    val d4 = (1 to 7).map(i => s"d$i").mkString(" ")
    val planted = Seq((1L, d1), (2L, d2), (3L, ""), (4L, d4))
      .toDF("doc_id", "text")
      .unionByName(Seq(Tuple1(5L)).toDF("doc_id")
        .selectExpr("doc_id", "CAST(NULL AS STRING) AS text"))
    val got = seqRows(Packing.sequenceTextsOn(
      Packing.tokensOf(planted), seqLen = 10L))
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(got(0L) == ((10L, ((1 to 5).map(i => s"a$i") ++ (1 to 5).map(i => s"b$i")).mkString(" "))))
    assert(got(1L) == ((10L, (6 to 15).map(i => s"b$i").mkString(" "))))
    assert(got(2L) == ((10L, (16 to 25).map(i => s"b$i").mkString(" "))))
    assert(got(3L) == ((10L, (26 to 35).map(i => s"b$i").mkString(" "))))
    assert(got(4L) == ((7L, (1 to 7).map(i => s"d$i").mkString(" "))))
  }

  test("t35: sequences spanning MANY partitions reassemble (all-fixup regime)") {
    // 64 one-token docs over >=8 range partitions with L = 10: every
    // partition holds fewer tokens than one sequence, so every sequence
    // is stitched from multiple boundary pieces
    val docs = (1 to 64).map(i => (i.toLong, f"w$i%02d"))
    val got = seqRows(Packing.sequenceTextsOn(toksDf(docs), seqLen = 10L))
    assert(got.keySet == (0L to 6L).toSet)
    for (s <- 0L to 6L) {
      val expect = docs.map(_._2).slice((s * 10).toInt, math.min(64, (s + 1) * 10).toInt)
      assert(got(s) == ((expect.size.toLong, expect.mkString(" "))), s"seq $s")
    }
  }

  test("t35: global identity on real data — concatenated sequences ARE the token stream") {
    val got = Packing.sequenceTexts(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    val last = got.map(_._1).max
    got.foreach { case (s, n, t) =>
      assert((n == 1024L) == (s != last), s"seq $s has $n tokens")
      assert(t.split(" ").length.toLong == n, s"seq $s token count vs text")
    }
    val stream = got.map(_._3).mkString(" ")
    val docsStream = spark.read.parquet(s"$sf001/documents.parquet")
      .selectExpr("doc_id", s"array_join(${Tokenize.Toks}, ' ') AS j")
      .orderBy("doc_id").collect().map(_.getString(1)).filter(_.nonEmpty).mkString(" ")
    assert(stream == docsStream, "sequence concatenation lost/reordered tokens")
  }

  test("two-phase prefix sum is deterministic across runs") {
    def run() = Packing.sequencePack(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(run() == run())
  }

  test("prefix sums survive a downstream narrow coalesce (the Verify write shape)") {
    // regression: TaskContext.getPartitionId() is the TASK id — under
    // coalesce(1) many RDD partitions share one task and the offsets
    // reset at every partition boundary; mapPartitionsWithIndex is
    // immune. Verify writes with coalesce(1), so this is the exact
    // shape the driver executes.
    val rows = Packing.sequencePack(spark, sf001).coalesce(1).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cum_before"))).sortBy(_._1)
    var cum = 0L
    rows.foreach { case (id, n, before) =>
      assert(before == cum, s"doc $id: cum_before $before != $cum under coalesce")
      cum += n
    }
  }

  test("plan has no Window operator — the scale-killer it exists to avoid") {
    val p = Packing.sequencePack(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"single-partition window in plan:\n${p.take(2000)}")
  }

  test("staging mode (graft.staging.dir) produces identical packing") {
    val base = Packing.sequencePack(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-staging").toString
    withConf(Staging.ConfKey -> dir) {
      val staged = Packing.sequencePack(spark, sf001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(staged == base)
      // the staging table was actually written
      assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("t22_pack_input")))
    }
  }

  test("cross-sequence boundaries: doc spanning 3+ sequences next to a zero-token doc") {
    // VERDICT r05 task 7: the oracle covers this numerically; this named
    // case makes the boundary intent survive a refactor. seqLen = 10:
    //   doc 1 (5 tokens)  starts at 0   -> seq 0, offset 0
    //   doc 2 (35 tokens) starts at 5   -> seq 0, offset 5; its tokens
    //     span sequences 0,1,2,3 (ends at 40) — >= 3 sequence crossings
    //   doc 3 (0 tokens)  starts at 40  -> seq 4, offset 0 (the empty doc
    //     advances nothing and lands exactly on the next doc's position)
    //   doc 4 (7 tokens)  starts at 40  -> seq 4, offset 0 (same slot)
    val s = spark
    import s.implicits._
    val df = Seq((1L, 5L), (2L, 35L), (3L, 0L), (4L, 7L))
      .toDF("doc_id", "n_tokens")
    val got = Packing.sequencePackOn(df, seqLen = 10L).collect()
      .map(r => (r.getLong(0), (r.getAs[Long]("cum_before"),
        r.getAs[Long]("seq_id"), r.getAs[Long]("seq_offset")))).toMap
    assert(got == Map(
      1L -> ((0L, 0L, 0L)),
      2L -> ((5L, 0L, 5L)),
      3L -> ((40L, 4L, 0L)),
      4L -> ((40L, 4L, 0L))))
    // doc 2 genuinely crosses >= 3 sequence boundaries at seqLen 10
    assert((5L + 35L - 1) / 10L - 5L / 10L >= 3)
  }
}
