package graft.ops

import graft.spark.SparkSpec

/** Connected components (t26): the alternating large-star/small-star
  * clustering is checked against hand-labeled graphs, a worst-case path
  * graph (many rounds), an independent driver-side union-find on the
  * real sf0.001 dup graph, and the durable-staging mode.
  */
class ComponentsSpec extends SparkSpec {

  private val s = spark
  import s.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("planted graph: chain + pair + triangle; self-loops drop out") {
    val labels = cc(Seq(
      (1L, 2L), (3L, 2L),          // chain 1-2-3 (one edge reversed)
      (5L, 6L), (6L, 5L),          // duplicate pair both directions
      (7L, 8L), (8L, 9L), (9L, 7L), // triangle
      (4L, 4L)))                   // self-loop only: node 4 not a member
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("path graph (worst case for round count) converges and labels to the min") {
    val n = 64L
    val labels = cc((0L until n - 1).map(i => (i, i + 1)))
    assert(labels.size == n)
    assert(labels.values.forall(_ == 0L))
  }

  test("star ops preserve connectivity on a random graph (vs driver union-find)") {
    // Deterministic pseudo-random sparse graph over 200 nodes.
    val edges = (0 until 300).map { i =>
      val a = (i * 2654435761L) % 200
      val b = (i * 40503L + 7) % 200
      (a.min(b), a.max(b))
    }.filter { case (a, b) => a != b }
    val expected = unionFind(edges)
    assert(cc(edges) == expected)
  }

  test("empty edge set yields empty labeling") {
    assert(cc(Seq.empty) == Map.empty)
  }

  test("mega-star: a 10^5-node hub component clusters with bounded per-key state") {
    // VERDICT r06 task 1 'done' case: one component vastly larger than
    // the rest, with shuffle partitions small so the hub key's whole
    // neighborhood lands in one task. The r06 collect_set formulation
    // buffered all 10^5 neighbors in ONE aggregation buffer here; the
    // min + join-back stars stream it. (10^5 longs is survivable either
    // way — this pins the SHAPE; PlanSpec pins the absence of the
    // set-buffering aggregate that made 10^9 an OOM.)
    val n = 100000L
    withConf("spark.sql.shuffle.partitions" -> "4") {
      val star = spark.range(1L, n)
        .selectExpr("CAST(0 AS BIGINT) AS src", "id AS dst")
      val rest = Seq((n + 5L, n + 6L)).toDF("src", "dst")
      val labels = Components.connectedComponents(star.unionByName(rest))
      val r = labels.selectExpr(
        "count(*) AS total",
        "sum(CASE WHEN component = 0 THEN 1 ELSE 0 END) AS in_hub",
        s"sum(CASE WHEN component = ${n + 5L} THEN 1 ELSE 0 END) AS in_pair").head()
      assert(r.getLong(0) == n + 2, s"expected ${n + 2} labeled nodes, got ${r.getLong(0)}")
      assert(r.getLong(1) == n, s"expected $n hub members, got ${r.getLong(1)}")
      assert(r.getLong(2) == 2L, s"expected 2 pair members, got ${r.getLong(2)}")
    }
  }

  test("t26 on sf0.001 matches a driver-side union-find over the same edges") {
    withConf(HashFamily.ConfKey -> HashFamily.Xx64.name) {
      val edges = Components.dupEdges(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(edges.nonEmpty, "sf0.001 should contain dup pairs")
      val expected = unionFind(edges)
      val sizes = expected.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val got = Components.dupComponents(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected.map { case (id, c) => (id, c, sizes(c)) }.toSet)
      // at least one component must be transitive (size > 2) for the test
      // to mean anything beyond pair echo
      assert(got.exists(_._3 > 2), "expected a transitive cluster at sf0.001")
    }
  }

  test("durable staging mode produces identical components") {
    val dir = java.nio.file.Files.createTempDirectory("cc_staging").toString
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val plain = cc(edges)
    withConf(Staging.ConfKey -> dir)(assert(cc(edges) == plain))
  }

  test("mergeComponents == clustering the union from scratch (random split)") {
    val edges = (0 until 240).map { i =>
      val a = (i * 2654435761L) % 160
      val b = (i * 48271L + 11) % 160
      (a.min(b), a.max(b))
    }.filter { case (a, b) => a != b }
    val (half1, half2) = edges.partition { case (a, b) => (a + b) % 2 == 0 }
    val standing = Components.connectedComponents(half1.toDF("src", "dst"))
    val merged = Components.mergeComponents(standing, half2.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == cc(edges))
  }

  test("mergeComponents treats self-loop-only nodes like a scratch recompute (dropped)") {
    val prev = Components.connectedComponents(Seq((1L, 2L)).toDF("src", "dst"))
    val merged = Components.mergeComponents(
      prev, Seq((4L, 4L), (2L, 3L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("re-converging a star forest takes fewer rounds than clustering raw edges") {
    // worst-case path graph from scratch vs the same graph presented as
    // its converged forest plus one bridging edge — the ingest shape
    val path = (0L until 63L).map(i => (i, i + 1))
    val (labels, scratchRounds) = Components.ccWithRounds(
      path.toDF("src", "dst"))
    val (mergedLabels, mergeRounds) = Components.mergeWithRounds(
      labels, Seq((63L, 64L)).toDF("src", "dst"))
    val m = mergedLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == 65 && m.values.forall(_ == 0L))
    assert(mergeRounds <= 2,
      s"star-forest merge took $mergeRounds rounds (expected ≤2)")
    assert(mergeRounds < scratchRounds,
      s"merge ($mergeRounds) not cheaper than scratch ($scratchRounds)")
  }

  test("t29 incremental components == t26 full recompute on sf0.001") {
    withConf(HashFamily.ConfKey -> HashFamily.Xx64.name) {
      val full = Components.dupComponents(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val inc = Components.incrementalComponents(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(inc == full)
      // the split must be non-trivial for the equality to mean anything:
      // some clusters must span the batch/corpus boundary
      assert(full.exists { case (id, c, _) => id % 4 == 0 && c % 4 != 0 },
        "no cluster spans the batch/corpus split at sf0.001")
    }
  }

  test("t28 keeper is the best-quality member, not the min id; singletons keep themselves") {
    // Use sf0.001 but assert the semantics independently: recompute the
    // expected keepers from t26's own components + a driver-side quality
    // rank over the raw text.
    withConf(HashFamily.ConfKey -> HashFamily.Xx64.name) {
      val docs = Dedup.docs(spark, sf001)
        .selectExpr("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val stop = TextOps.Stop("en").toSet
      def quality(text: String): (Double, Long) = {
        val toks = text.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty)
        val hits = toks.count(stop.contains)
        val n = text.split("[ \t\n\f\r]+").count(_.nonEmpty).toLong
        val ratio = BigDecimal(hits.toDouble / math.max(n, 1L))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (ratio, n)
      }
      val comps = Components.dupComponents(spark, sf001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expectedKeepers = comps.groupBy(_._2).map { case (c, members) =>
        c -> members.keys.maxBy { id =>
          val (r, n) = quality(docs(id)); (r, n, -id)
        }
      }
      val got = Components.clusterKeepers(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(got.length == docs.size, "verdict must cover the whole corpus")
      got.foreach { case (id, comp, csize, isKeeper) =>
        comps.get(id) match {
          case Some(c) =>
            assert(comp == c, s"doc $id component mismatch")
            assert(isKeeper == (expectedKeepers(c) == id),
              s"doc $id keeper verdict wrong (expected keeper ${expectedKeepers(c)} for comp $c)")
          case None =>
            assert(comp == id && csize == 1L && isKeeper,
              s"singleton $id must keep itself")
        }
      }
      // the selection must differ from plain min-id keeping somewhere,
      // or the quality rank is dead weight
      assert(expectedKeepers.exists { case (c, k) => k != c },
        "every keeper equals the min-id root — quality rank never mattered at sf0.001")
    }
  }

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
