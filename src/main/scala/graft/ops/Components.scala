package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t26 — CONNECTED COMPONENTS over the duplicate-pair graph: the
  * clustering step that turns a pair list (t6 near-dup pairs, t1 exact
  * groups) into transitive duplicate CLUSTERS. The pairwise operators
  * answer "are a and b duplicates?"; a curation pipeline also needs
  * "which documents form ONE group?" — near-duplication is transitive
  * in practice (boilerplate families, mirror chains a–b–c where a–c
  * never shares a band), and keep-one-per-cluster decisions need the
  * cluster, not the pairs.
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
  * published shuffle-friendly CC algorithm. Each operation is one
  * groupBy-node shuffle that rewires edges toward the component
  * minimum; the alternation converges in O(log² n) rounds (in practice
  * 2–4 on dup graphs, whose components are near-cliques) to a star
  * forest where every node points directly at its component's minimum
  * id. Contrast with naive label propagation (O(diameter) rounds — a
  * 10⁶-long mirror chain needs 10⁶ shuffles) and with driver-side
  * union-find (the edge list at 100 TB does not fit one machine).
  *
  * Scale shape per iteration: each star is a min-per-node aggregate
  * (CONSTANT aggregation state) joined back to the oriented edge
  * relation to emit the rewired edges — the edge relation (2×8 B/row)
  * is orders of magnitude smaller than the corpus, and it SHRINKS
  * toward one row per non-root node as stars form. The join, not a
  * per-node `collect_set`, is the load-bearing choice (r07): the
  * final star concentrates a whole component's neighbor set onto its
  * root key, and a collect_set buffer holds that set in ONE
  * aggregation buffer — a 10⁹-doc boilerplate family is an ~8 GB
  * single-key buffer and an OOM that neither AQE (which splits skewed
  * partitions, never one groupBy key) nor spill (aggregation state is
  * per-key, not per-partition) can save. min + join streams the same
  * rewiring with bounded memory at ANY component size: the min
  * aggregate state is 8 bytes per key, and the sort-merge join spills
  * gracefully. Cost: the edge relation crosses the wire for the
  * aggregate and the join — but both exchanges hash the same key, so
  * ReuseExchange ships it once. Edges are staged between iterations
  * ([[Staging.materialize]]: plan truncation — iterative joins
  * otherwise grow the logical plan exponentially — and durable parquet
  * staging under `graft.staging.dir`). Convergence is detected by a
  * (count, hash-XOR) fingerprint — one 1-row aggregate per iteration,
  * the driver never sees the edges themselves. A skewed
  * super-component still lands its full edge list in the root's reduce
  * partition in the FINAL star — linear rows, not quadratic, and
  * streamed rather than buffered.
  *
  * The t26 driver query builds edges from the t6 verified pair relation
  * (est_jaccard ≥ 0.5 under the session's [[HashFamily]]) plus the exact
  * sha256 dup groups of t1, then reports every node's component root
  * and component size. The DuckDB oracle reuses t6's pair CTEs verbatim
  * ([[Dedup.MinhashPairCtes]]) and closes them transitively with a
  * recursive min-label walk — an independent algorithm (reachability
  * closure) arriving at the same clusters.
  */
object Components {

  /** Safety bound on star iterations; the algorithm provably converges
    * in O(log² n) — hitting this bound indicates a bug, so it throws
    * rather than returning a half-converged clustering.
    */
  val MaxIter = 40

  /** Canonical undirected dup-edge list (src < dst) for a corpus: the t6
    * near-dup pairs ∪ the t1 exact-dup (keeper, member) edges.
    */
  def dupEdges(spark: SparkSession, sfDir: String): DataFrame =
    dupEdgesOf(Dedup.docs(spark, sfDir))

  def dupEdgesOf(docsDf: DataFrame): DataFrame =
    withExactEdges(docsDf, Dedup.minhashLshOn(docsDf, th = 0.5))

  /** [[dupEdgesOf]] with the near-dup half computed from an
    * ALREADY-MATERIALIZED signature relation of `docsDf` — so a caller
    * holding a staged signature table (t29) pays zero extra signature
    * passes for the edge list.
    */
  private[graft] def dupEdgesFromSigs(docsDf: DataFrame,
      sigDf: DataFrame): DataFrame =
    withExactEdges(docsDf, Dedup.minhashLshOnSigs(sigDf, th = 0.5))

  private def withExactEdges(docsDf: DataFrame,
      nearPairs: DataFrame): DataFrame = {
    val near = nearPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val groups = docsDf
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    val exact = docsDf
      .join(groups, sha2(col("text"), 256) === col("h"))
      .where(col("doc_id") =!= col("keep_id"))
      .select(col("keep_id").as("src"), col("doc_id").as("dst"))
    near.unionByName(exact)
  }

  /** Connected components of an undirected edge list `(src, dst)`:
    * returns one row per node appearing in any edge, labeled with the
    * minimum node id of its component. Self-loops are dropped; edge
    * direction and duplicates don't matter.
    */
  def connectedComponents(edges0: DataFrame): DataFrame =
    ccWithRounds(edges0)._1

  /** [[connectedComponents]] plus the number of star rounds executed —
    * exposed so the incremental-merge spec can PIN the claim that
    * re-converging a star forest takes fewer rounds than clustering the
    * raw edge list from scratch.
    */
  private[graft] def ccWithRounds(edges0: DataFrame): (DataFrame, Int) = {
    val canonical = edges0
      .selectExpr("least(src, dst) AS lo", "greatest(src, dst) AS hi")
      .where(col("lo") =!= col("hi"))
      .dropDuplicates("lo", "hi")

    var edges = Staging.materialize(canonical, "cc_edges")
    // Node universe from the STAGED relation — deriving it from
    // `canonical` would re-execute the whole upstream edge pipeline
    // (LSH banding, pair expansion, sha joins) at every action and keep
    // that subtree in the plan.
    val nodes = edges.selectExpr("lo AS id")
      .unionByName(edges.selectExpr("hi AS id")).distinct()
    var fp = fingerprint(edges)
    var converged = false
    var it = 0
    while (!converged) {
      it += 1
      if (it > MaxIter)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $MaxIter star rounds")
      val next = Staging.materialize(smallStar(largeStar(edges)), s"cc_iter$it")
      val nfp = fingerprint(next)
      converged = nfp == fp
      edges = next
      fp = nfp
    }
    // Converged star forest: every non-root node appears exactly once as
    // `hi`, pointing at its component root `lo`; roots never appear as
    // `hi`. (min() is belt-and-braces for the theoretical final round
    // where both star ops are already no-ops.)
    val comp = edges.groupBy(col("hi").as("id")).agg(min("lo").as("component"))
    val labels = nodes.join(comp, Seq("id"), "left")
      .selectExpr("id", "coalesce(component, id) AS component")
    (labels, it)
  }

  /** Incremental clustering: fold NEW edges into a standing labeling
    * without re-clustering from raw pairs. The standing labeling is by
    * construction a STAR FOREST (one (component → id) edge per clustered
    * doc), so the star rounds re-converge in 1–2 iterations — new edges
    * either bridge existing stars (one relabel round) or extend them.
    * At 100 TB this is the ingest-time shape: the persisted
    * `dup_components` table is the forest, the new batch's t17 pairs are
    * the edges, and the corpus pair list is never rebuilt (ICEBERG.md
    * §5c). Standing singletons (id == component, no members) survive via
    * the node union.
    */
  def mergeComponents(prevLabels: DataFrame, newEdges: DataFrame): DataFrame =
    mergeWithRounds(prevLabels, newEdges)._1

  private[graft] def mergeWithRounds(prevLabels0: DataFrame,
      newEdges0: DataFrame): (DataFrame, Int) = {
    // prevLabels is consumed twice (forest + node universe); stage it so
    // its lineage (a full CC run in t29) executes once. Self-loops are
    // dropped up front so the node universe matches connectedComponents'
    // (which never labels a self-loop-only node) and merge == scratch
    // recompute holds for ANY edge source.
    val prevLabels = Staging.materialize(prevLabels0, "cc_prev")
    val newEdges = newEdges0.selectExpr("src", "dst")
      .where(col("src") =!= col("dst"))
    val forest = prevLabels
      .where(col("id") =!= col("component"))
      .selectExpr("component AS src", "id AS dst")
    val (merged, rounds) = ccWithRounds(forest.unionByName(newEdges))
    val allIds = prevLabels.select("id")
      .unionByName(newEdges.selectExpr("src AS id"))
      .unionByName(newEdges.selectExpr("dst AS id"))
      .distinct()
    val labels = allIds.join(merged, Seq("id"), "left")
      .selectExpr("id", "coalesce(component, id) AS component")
    (labels, rounds)
  }

  /** Attach component sizes: (id, component) → (doc_id, component,
    * csize). The label relation is consumed twice (size aggregate +
    * join), so it is staged first — its lineage is a full CC run.
    */
  private def withSizes(labels0: DataFrame): DataFrame = {
    val labels = Staging.materialize(labels0, "cc_labels")
    val sizes = labels.groupBy("component")
      .agg(count(lit(1)).cast("long").as("csize"))
    labels.join(sizes, Seq("component"))
      .select(col("id").as("doc_id"), col("component"), col("csize"))
  }

  /** Large-star: for every node u, connect each STRICTLY LARGER neighbor
    * to m = min(Γ(u) ∪ {u}). BOUNDED-MEMORY form (r07): m comes from a
    * plain `min` aggregate over the symmetrized edge relation (constant
    * per-key state — never a neighbor-set buffer) and the rewired edges
    * are emitted by joining m back onto the same relation. Both the
    * aggregate and the join hash on u, so ReuseExchange ships the edge
    * relation across the wire once. Emitted edges are canonical
    * (lo < hi) because v > u ≥ m.
    */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    val adj = edges.selectExpr("lo AS u", "hi AS v")
      .unionAll(edges.selectExpr("hi AS u", "lo AS v"))
    val mins = adj.groupBy("u")
      .agg(min(col("v")).as("mn"))
      .selectExpr("u", "least(mn, u) AS m")
    adj.join(mins, Seq("u"))
      .where(col("v") > col("u"))
      .selectExpr("m AS lo", "v AS hi")
    // NB no dropDuplicates here (r07): largeStar output feeds ONLY
    // smallStar within a round, whose min aggregate is duplicate-blind
    // and whose own dropDuplicates canonicalizes the round's output —
    // the intermediate dedup was a full extra exchange per round. An
    // un-deduped hop stays linear: (m, v) can repeat at most once per
    // original adjacency row. Output is canonical (lo < hi) because
    // v > u >= m, and never a self-loop.
  }

  /** Small-star: orient each edge toward its larger endpoint u, then
    * connect u and all its smaller neighbors to their minimum
    * m = min(N(u)). Same bounded-memory min + join-back shape as
    * [[largeStar]]; the (m, u) self edge comes straight off the
    * aggregate (m < u always — N(u) holds only smaller neighbors).
    * Input and output are canonical (lo < hi): every emitted
    * v ∈ N(u) ∪ {u} with v ≠ m satisfies v > m.
    */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    val adj = edges.selectExpr("hi AS u", "lo AS v")
    val mins = adj.groupBy("u").agg(min(col("v")).as("m"))
    // The (m, u) self edge is emitted from the JOIN OUTPUT (explode of
    // [v, u], deduped below) rather than a second branch off `mins` —
    // a union with `mins.selectExpr("m", "u")` plans a SECOND
    // Exchange+HashAggregate over the adjacency relation (the physical
    // ReuseExchange rule does not deduplicate it from the join's build
    // side), i.e. the edge relation aggregated twice per round (r07).
    // Every u has >= 1 adjacency row, so the explode emits each (m, u)
    // at least once; v = m rows and duplicate (m, u) copies fall to the
    // round's dropDuplicates. u is never m (N(u) holds only smaller
    // neighbors), so the filter keeps exactly N(u) ∪ {u} minus m.
    adj.join(mins, Seq("u"))
      .selectExpr("m", "explode(array(v, u)) AS hi")
      .where(col("hi") =!= col("m"))
      .selectExpr("m AS lo", "hi")
      .dropDuplicates("lo", "hi")
  }

  /** Cheap order-independent edge-set fingerprint: (row count, XOR of
    * per-edge hashes) — one scalar row per iteration, never the edges.
    * XOR (not sum): the edge set is distinct, so XOR is collision-safe
    * to the same degree, and it cannot overflow under ANSI arithmetic.
    */
  private def fingerprint(edges: DataFrame): (Long, Long) = {
    val r = edges
      .agg(count(lit(1)), bit_xor(xxhash64(col("lo"), col("hi"))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** t26: dup-graph components with sizes — (doc_id, component, csize),
    * one row per document that participates in at least one dup pair.
    */
  def dupComponents(spark: SparkSession, sfDir: String): DataFrame =
    withSizes(connectedComponents(dupEdges(spark, sfDir)))

  /** t28 — CLUSTER-AWARE KEEPER SELECTION: the decision step that makes
    * t26's clusters actionable. Plain dedup keeps the MIN-doc_id member
    * of each cluster (t13); a curation pipeline prefers the BEST member —
    * the mirror/boilerplate variant with the highest quality signal.
    * Keeper per component = argmax by (stopword_ratio, n_words) with
    * doc_id ASC as the final tie-break (round-4 ratios tie often, so the
    * tie-break is load-bearing); output is a FULL-CORPUS verdict
    * (doc_id, component, csize, is_keeper) — singletons are their own
    * keepers.
    *
    * Scale shape: quality features are a per-row projection computed
    * for dup-graph MEMBERS only — the member join runs before the
    * tokenizer, so the projection is dup-graph-sized, never
    * corpus-sized (r07; a production run joins the PERSISTED t3
    * feature table instead of recomputing — same contract as t20's
    * verdict join); the keeper
    * argmax is ONE groupBy(component) with a map-side-combinable max_by
    * over the dup-graph-sized labeled relation (narrow: 3×8 B + a
    * double); the corpus-wide verdict is one doc_id equi-join against
    * that small relation (AQE broadcasts it when it fits). Nothing
    * corpus-sized shuffles except the narrow (doc_id, quality) stream.
    */
  def clusterKeepers(spark: SparkSession, sfDir: String): DataFrame = {
    val docsDf = Dedup.docs(spark, sfDir)
    // Consumed twice (keeper argmax + the corpus verdict join).
    val comps = Staging.materialize(dupComponents(spark, sfDir), "t28_comps")
    // Quality is computed for DUP-GRAPH MEMBERS ONLY (r07): the member
    // join runs FIRST, so the tokenizing projection touches |dup graph|
    // rows, not |corpus| — the argmax needs no quality signal for
    // singletons, and at 100 TB the dup graph is orders of magnitude
    // smaller than the corpus (the previous shape tokenized every
    // document and threw the non-members away in the join). toks/lt
    // factored into their own projection (see TextOps.LowerToks):
    // inlined, the ratio re-ran the tokenizing split 3× per row.
    // ... and ONE tokenizing split per member row: size(lt) ==
    // size(toks) (lowercasing never touches the whitespace class), so
    // the lower-cased array serves both the hit count and the word
    // count.
    val keepers = comps.select(col("doc_id"), col("component"))
      .join(docsDf.select(col("doc_id"), col("text")), Seq("doc_id"))
      .selectExpr("component", "doc_id", s"${TextOps.LowerToks} AS lt")
      .selectExpr("component", "doc_id",
        s"round(${TextOps.hitsOn("en")} / greatest(size(lt), 1), 4) AS q_ratio",
        "CAST(size(lt) AS BIGINT) AS n_words")
      .groupBy("component")
      .agg(max_by(
        col("doc_id"),
        struct(col("q_ratio"), col("n_words"), (-col("doc_id")).as("nid"))
      ).as("keeper_id"))
    docsDf.select(col("doc_id"))
      .join(comps.join(keepers, Seq("component")), Seq("doc_id"), "left")
      .selectExpr(
        "doc_id",
        "coalesce(component, doc_id) AS component",
        "coalesce(csize, CAST(1 AS BIGINT)) AS csize",
        "(keeper_id IS NULL OR doc_id = keeper_id) AS is_keeper")
  }

  /** t29 — INCREMENTAL components: the ingest-time shape of t26. The
    * standing corpus (doc_id % 4 ≠ 0, the t17 split convention) is
    * clustered ONCE into a star forest; the new batch then contributes
    * only (a) its t17 near-dup pairs — batch bands BROADCAST into a
    * map-side probe of the corpus band table, the corpus pair list is
    * never rebuilt — and (b) its exact-dup links: batch shas probed
    * against the standing sha→keeper table (D10's first-seen upsert
    * shape), brand-new shas starred within the batch. [[mergeComponents]]
    * folds those edges into the forest in 1–2 star rounds.
    *
    * Per-sha-group connectivity is preserved exactly (corpus members ride
    * the standing star, batch members link the standing keeper or the
    * within-batch hub — which itself links the keeper when both exist),
    * and the t17 pair set equals t6's batch-involved pairs, so the merged
    * labeling is IDENTICAL to t26's full recompute — the oracle is t26's
    * verbatim, and that identity is the point: an ingest never re-reads
    * or re-pairs the corpus yet lands on the same clusters.
    */
  def incrementalComponents(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Dedup.docs(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = d.filter(col("doc_id") % 4 =!= 0)
    val batch = d.filter(col("doc_id") % 4 === 0)
    // The corpus signature relation feeds BOTH the standing clustering's
    // near-dup edges and the incremental band probe — staged ONCE (r07:
    // each path previously staged its own copy, i.e. a second full
    // corpus tokenize+shingle+hash pass per run; in production both read
    // the same persisted signature table, ICEBERG.md §5).
    val corpusSig = Staging.materialize(
      Dedup.minhashSignatures(corpus), "t29_corpus_sig")
    val batchSig = Staging.materialize(
      Dedup.minhashSignatures(batch), "t29_batch_sig")
    // Standing state — persisted tables in production (ICEBERG.md §5c),
    // recomputed here because the sandbox keeps no state between runs.
    val standing = connectedComponents(dupEdgesFromSigs(corpus, corpusSig))
    val shaKeeper = corpus
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    // New edges: the batch's near-dup pairs (t17 broadcast probe) …
    val near = Dedup.minhashIncrementalOnSigs(batchSig, corpusSig, th = 0.5)
      .select(col("new_id").as("src"), col("dup_of").as("dst"))
    // … plus its exact-dup links against the standing sha table and
    // within itself.
    // Consumed three times (keeper probe + within-batch group + join).
    val bh = Staging.materialize(
      batch.select(col("doc_id"), sha2(col("text"), 256).as("h")), "t29_bh")
    val exactToCorpus = bh.join(shaKeeper, Seq("h"))
      .select(col("keep_id").as("src"), col("doc_id").as("dst"))
    val exactWithinBatch = bh
      .join(bh.groupBy("h").agg(min(col("doc_id")).as("bkeep")), Seq("h"))
      .where(col("doc_id") =!= col("bkeep"))
      .select(col("bkeep").as("src"), col("doc_id").as("dst"))
    withSizes(mergeComponents(standing,
      near.unionByName(exactToCorpus).unionByName(exactWithinBatch)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t26_dup_components" -> ((s, d) => dupComponents(s, d)),
    "t28_cluster_keepers" -> ((s, d) => clusterKeepers(s, d)),
    "t29_incremental_components" -> ((s, d) => incrementalComponents(s, d))
  )

  /** Shared DuckDB CTE chain labeling every dup-graph node with its
    * component (min reachable id) and the component size: t6's pair CTEs
    * verbatim + exact-dup edges, symmetrized, closed by a recursive
    * min-label reachability walk — an independent algorithm from the
    * star rounds. Factored so t26 and t28 consume the identical closure.
    */
  private val ComponentLabCtes: String =
    s"""${Dedup.MinhashPairCtes},
       |exg AS (
       |  SELECT sha256(text) AS h, min(doc_id) AS keep_id
       |  FROM documents GROUP BY sha256(text)),
       |exact_e AS (
       |  SELECT g.keep_id AS id_a, d.doc_id AS id_b
       |  FROM documents d JOIN exg g ON sha256(d.text) = g.h
       |  WHERE d.doc_id <> g.keep_id),
       |edges AS (
       |  SELECT id_a, id_b FROM pairs50
       |  UNION
       |  SELECT id_a, id_b FROM exact_e),
       |sym AS (
       |  SELECT id_a AS u, id_b AS v FROM edges
       |  UNION
       |  SELECT id_b AS u, id_a AS v FROM edges),
       |walk(id, comp) AS (
       |  SELECT u, u FROM sym
       |  UNION
       |  SELECT s.v, w.comp FROM walk w JOIN sym s ON s.u = w.id),
       |lab AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
       |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
       |       FROM lab GROUP BY component)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Transitive closure of the SAME edge set by a different algorithm:
    // recursive min-label reachability (see ComponentLabCtes).
    "t26_dup_components" ->
      s"""WITH RECURSIVE $ComponentLabCtes
         |SELECT lab.id AS doc_id, CAST(lab.component AS BIGINT) AS component, sz.csize
         |FROM lab JOIN sz ON lab.component = sz.component""".stripMargin,
    // The incremental path must land on EXACTLY the full recompute's
    // clusters — its oracle IS t26's (that identity is the operator's
    // contract; a separate mirror would just hide drift).
    "t29_incremental_components" ->
      s"""WITH RECURSIVE $ComponentLabCtes
         |SELECT lab.id AS doc_id, CAST(lab.component AS BIGINT) AS component, sz.csize
         |FROM lab JOIN sz ON lab.component = sz.component""".stripMargin,
    // Keeper argmax re-derived with a window over the same closure; the
    // quality fragments are TextOps' t3 mirror text verbatim.
    "t28_cluster_keepers" ->
      s"""WITH RECURSIVE $ComponentLabCtes,
         |q AS (
         |  SELECT doc_id,
         |         round(${TextOps.dHits("en")} / greatest(len(${TextOps.dToks}), 1), 4) AS q_ratio,
         |         CAST(len(${TextOps.dToks}) AS BIGINT) AS n_words
         |  FROM documents),
         |rk AS (
         |  SELECT lab.id, lab.component,
         |         row_number() OVER (PARTITION BY lab.component
         |                            ORDER BY q.q_ratio DESC, q.n_words DESC, lab.id) AS rn
         |  FROM lab JOIN q ON q.doc_id = lab.id),
         |k AS (SELECT component, id AS keeper_id FROM rk WHERE rn = 1)
         |SELECT d.doc_id,
         |       CAST(coalesce(lab.component, d.doc_id) AS BIGINT) AS component,
         |       coalesce(sz.csize, CAST(1 AS BIGINT)) AS csize,
         |       (k.keeper_id IS NULL OR d.doc_id = k.keeper_id) AS is_keeper
         |FROM documents d
         |LEFT JOIN lab ON lab.id = d.doc_id
         |LEFT JOIN sz ON sz.component = lab.component
         |LEFT JOIN k ON k.component = lab.component""".stripMargin
  )
}
