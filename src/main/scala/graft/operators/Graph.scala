package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Link-graph operators (SURVEY.md §2 A3/J3/S2, §7.3 M4): the reference
  * crawls the web into a page/edge graph (Rcrawler `NetworkData=TRUE`,
  * hi-csa-db.Rmd:111-119) and consumes per-page IN/OUT degrees plus a
  * bounded-depth BFS frontier (MaxDepth). Here the graph derives from
  * the harness star schema: region→nation→{customer, supplier} edges
  * with namespaced string node ids.
  *
  * Scale notes:
  *  - degrees: one groupBy per direction on the edge list — partial
  *    aggregation makes this linear; the join back to nodes is a shuffle
  *    on node id.
  *  - BFS (the crawler's frontier loop, J3): driver-side iteration of
  *    DataFrame ops — per level one join + anti-join, with
  *    `localCheckpoint` cutting the lineage so plan size stays constant
  *    in depth (SURVEY §4.2). Frontiers shuffle on node id only.
  *  - label propagation: same iterative pattern; min() is exact, so the
  *    oracle mirrors the iterations as unrolled CTEs.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  private val MaxDepth = 3

  // ---------------- graph construction (shared) ----------------

  /** Directed edges: region → nation → customer | supplier. */
  def edges(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir).select(
      concat(lit("R"), col("n_regionkey")).as("src"),
      concat(lit("N"), col("n_nationkey")).as("dst"))
    val c = Tables.customer(s, dir).select(
      concat(lit("N"), col("c_nationkey")).as("src"),
      concat(lit("C"), col("c_custkey")).as("dst"))
    val p = Tables.supplier(s, dir).select(
      concat(lit("N"), col("s_nationkey")).as("src"),
      concat(lit("S"), col("s_suppkey")).as("dst"))
    n.unionByName(c).unionByName(p)
  }

  private val duckEdgesCte =
    """edges AS (
      |  SELECT 'R' || n_regionkey AS src, 'N' || n_nationkey AS dst FROM nation
      |  UNION ALL
      |  SELECT 'N' || c_nationkey, 'C' || c_custkey FROM customer
      |  UNION ALL
      |  SELECT 'N' || s_nationkey, 'S' || s_suppkey FROM supplier)""".stripMargin

  // ----------------------------------------------------------------
  // A3 — per-node in/out degrees (the crawler INDEX OUT/IN columns)
  // ----------------------------------------------------------------

  private def gDegrees: Q = (s, dir) => {
    val e = edges(s, dir)
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_degree"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  private val gDegreesSql =
    s"""WITH $duckEdgesCte,
       |o AS (SELECT src AS node, count(*) AS out_degree FROM edges GROUP BY src),
       |i AS (SELECT dst AS node, count(*) AS in_degree FROM edges GROUP BY dst)
       |SELECT coalesce(o.node, i.node) AS node,
       |       coalesce(out_degree, 0) AS out_degree,
       |       coalesce(in_degree, 0) AS in_degree
       |FROM o FULL OUTER JOIN i ON o.node = i.node""".stripMargin

  // ----------------------------------------------------------------
  // J3/S2 — bounded-depth BFS (the crawler frontier loop)
  // ----------------------------------------------------------------

  /** Per-round materialization for the iterative operators:
    * `localCheckpoint` (executor-local blocks — fast, the right choice
    * at local[n]) or, with `reliable = true`, a real `checkpoint` to
    * the session's checkpoint dir. On a cluster localCheckpoint blocks
    * die with their executor and kill the job; a production run sets
    * `sparkContext.setCheckpointDir(...)` and passes reliable=true. */
  private def materialize(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint() else df.localCheckpoint()

  /** Generic level-synchronous BFS: per level, expand the frontier
    * through the edge list, drop already-visited nodes with a left-anti
    * join, checkpoint to keep the plan flat. Returns (node, depth) with
    * depth = first (minimal) level reached. `reliable` selects
    * fault-tolerant checkpoints (see [[materialize]]). */
  def bfs(edgeDf: DataFrame, seeds: DataFrame, maxDepth: Int,
      reliable: Boolean = false): DataFrame = {
    var visited = seeds.select(col("node"), lit(0).as("depth"))
    var frontier = seeds.select(col("node"))
    var d = 1
    while (d <= maxDepth) {
      val next = materialize(
        edgeDf.join(frontier, edgeDf("src") === frontier("node"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti"),
        reliable)
      visited = visited.unionByName(next.withColumn("depth", lit(d)))
      frontier = next
      d += 1
    }
    visited
  }

  private def gBfs: Q = (s, dir) => {
    import s.implicits._
    val seeds = Seq("R0").toDF("node")
    bfs(edges(s, dir), seeds, MaxDepth)
      .select(col("node"), col("depth").cast("long").as("depth"))
  }

  private val gBfsSql =
    s"""WITH RECURSIVE $duckEdgesCte,
       |walk(node, depth) AS (
       |  SELECT 'R0', 0
       |  UNION ALL
       |  SELECT e.dst, w.depth + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.depth < $MaxDepth)
       |SELECT node, min(depth) AS depth FROM walk GROUP BY node""".stripMargin

  // ----------------------------------------------------------------
  // S2 — the crawler proper: BFS over a page-link graph → INDEX
  // ----------------------------------------------------------------

  /** Synthetic page→link graph: each document links to the addresses
    * hashed from its first 8 tokens — the deterministic stand-in for
    * href extraction (Rcrawler's anchor XPath pattern,
    * hi-csa-db.Rmd:115). Addresses land in [0, 2·n_docs): ids below
    * n_docs are INTERNAL pages (crawlable), the rest are EXTERNAL
    * targets (off-site hrefs) — reproducing the reference INDEX's
    * internal-vs-external link split (NetwExtLinks=TRUE,
    * hi-csa-db.Rmd:111-119; BASELINE.md's 12,686/2,423 nrcs counts). */
  private def pageLinks(s: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val docs = Tables.documents(s, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.crossJoin(broadcast(n))
      .select(col("doc_id").as("src"), col("n_docs"),
        explode(expr(
          s"""array_distinct(transform(slice(${Dedup.toksExpr}, 1, 8),
             |  t -> pmod(graft_polyhash(t), 2 * n_docs)))""".stripMargin)).as("dst"))
      .select(col("src"), col("dst"), (col("dst") < col("n_docs")).as("is_internal"))
  }

  // NB: the classification (`dst < n_docs`) lives in its own CTE with a
  // scalar subquery — referencing the carried n_docs column inside the
  // unnest subquery trips a DuckDB internal binder error under WITH
  // RECURSIVE, and subqueries are not allowed inside lambdas.
  private val duckPageLinksCte =
    s"""n AS (SELECT count(*) AS n_docs FROM documents),
       |rawlinks AS (
       |  SELECT doc_id AS src, unnest(list_distinct(
       |    list_transform(${Dedup.duckToks}[1:8],
       |      t -> ${graft.functions.PortableHash.duckPolyHash("t")} % (2 * n_docs)))) AS dst
       |  FROM documents CROSS JOIN n),
       |links AS (SELECT src, dst, dst < (SELECT n_docs FROM n) AS is_internal
       |          FROM rawlinks)""".stripMargin

  /** The crawler run (Rcrawler semantics, hi-csa-db.Rmd:111-119):
    * BFS from page 0 to MaxDepth over the INTERNAL link graph, emitting
    * the INDEX shape — page id, Level, OUT/IN degree, and the
    * internal/external out-link split (the reference INDEX's
    * Id/Level/OUT/IN/Internal/External columns). Driver-side frontier
    * loop; per level one join + anti-join, lineage cut by
    * localCheckpoint. */
  private def s2Crawl: Q = (s, dir) => {
    import s.implicits._
    val links = pageLinks(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val internal = links.filter(col("is_internal"))
    val seeds = Seq(0L).toDF("node")
    val visited = bfs(internal, seeds, 2)
    val outDeg = links.groupBy(col("src").as("node")).agg(
      count(lit(1)).as("out_degree"),
      sum(when(col("is_internal"), 1L).otherwise(0L)).as("n_internal"),
      sum(when(!col("is_internal"), 1L).otherwise(0L)).as("n_external"))
    val inDeg = internal.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_degree"))
    visited.join(outDeg, Seq("node"), "left")
      .join(inDeg, Seq("node"), "left")
      .select(col("node").as("page_id"), col("depth").cast("long").as("level"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("n_internal"), lit(0L)).as("n_internal"),
        coalesce(col("n_external"), lit(0L)).as("n_external"))
  }

  // ----------------------------------------------------------------
  // S5 — politeness-aware frontier scheduling
  // ----------------------------------------------------------------

  /** Per-domain fetch delay (robots.txt crawl-delay stand-in). */
  private val CrawlDelayMs = 500L
  /** Synthetic domain count — pages map to domains by id (the
    * deterministic stand-in for hostname extraction). */
  private val CrawlDomains = 16L

  /** `s5_crawl_schedule` — the frontier SCHEDULER a polite crawler
    * runs between BFS waves (Rcrawler's RequestsDelay knob,
    * hi-csa-db.Rmd:111-119, made explicit): pages are assigned
    * per-domain fetch slots — highest in-degree first (crawl
    * authoritative pages early), one fetch per domain per wave — and
    * each slot's start time honors the domain's crawl delay.
    * `wave = slot` also IS the round-robin interleaving: the global
    * fetch order cycles across domains, so no host sees bursts while
    * idle hosts wait.
    *
    * Scale shape: one narrow aggregate for in-degrees, one window
    * PARTITIONED BY DOMAIN (parallelism = live domains, the natural
    * politeness unit — per-domain schedules are independent by
    * definition, so this is the maximal safe parallelism, and a
    * 100 TB frontier has millions of domains, not 16). No global
    * sort: the per-domain slot is the only ordering the schedule
    * needs. */
  private def s5CrawlSchedule: Q = (s, dir) => {
    val links = pageLinks(s, dir)
    val inDeg = links.filter(col("is_internal"))
      .groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_degree"))
    val pages = Tables.documents(s, dir)
      .select(col("doc_id").as("node"),
        pmod(col("doc_id"), lit(CrawlDomains)).as("domain"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("domain"))
      .orderBy(col("in_degree").desc, col("page_id").asc)
    pages.join(inDeg, Seq("node"), "left")
      .select(col("node").as("page_id"), col("domain"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .withColumn("slot", row_number().over(w).cast("long"))
      .withColumn("scheduled_ms", (col("slot") - 1L) * CrawlDelayMs)
  }

  private val s5CrawlScheduleSql =
    s"""WITH $duckPageLinksCte,
       |ind AS (SELECT dst AS node, count(*) AS in_degree
       |        FROM links WHERE is_internal GROUP BY dst),
       |pages AS (SELECT doc_id AS node, doc_id % $CrawlDomains AS domain
       |          FROM documents)
       |SELECT node AS page_id, domain,
       |       CAST(coalesce(in_degree, 0) AS BIGINT) AS in_degree,
       |       CAST(row_number() OVER (PARTITION BY domain
       |         ORDER BY coalesce(in_degree, 0) DESC, node) AS BIGINT) AS slot,
       |       CAST((row_number() OVER (PARTITION BY domain
       |         ORDER BY coalesce(in_degree, 0) DESC, node) - 1)
       |         * $CrawlDelayMs AS BIGINT) AS scheduled_ms
       |FROM pages LEFT JOIN ind USING (node)""".stripMargin

  private val s2CrawlSql =
    s"""WITH RECURSIVE $duckPageLinksCte,
       |walk(node, depth) AS (
       |  SELECT 0::BIGINT, 0
       |  UNION ALL
       |  SELECT l.dst, w.depth + 1
       |  FROM walk w JOIN (SELECT * FROM links WHERE is_internal) l ON l.src = w.node
       |  WHERE w.depth < 2),
       |visited AS (SELECT node, min(depth) AS depth FROM walk GROUP BY node),
       |deg AS (SELECT src AS node, count(*) AS out_degree,
       |               count(*) FILTER (is_internal) AS n_internal,
       |               count(*) FILTER (NOT is_internal) AS n_external
       |        FROM links GROUP BY src),
       |indeg AS (SELECT dst AS node, count(*) AS in_degree
       |          FROM links WHERE is_internal GROUP BY dst)
       |SELECT v.node AS page_id, v.depth AS level,
       |       coalesce(deg.out_degree, 0) AS out_degree,
       |       coalesce(indeg.in_degree, 0) AS in_degree,
       |       coalesce(deg.n_internal, 0) AS n_internal,
       |       coalesce(deg.n_external, 0) AS n_external
       |FROM visited v
       |LEFT JOIN deg ON v.node = deg.node
       |LEFT JOIN indeg ON v.node = indeg.node""".stripMargin

  // ----------------------------------------------------------------
  // Label-propagation connected components (iterative min-label)
  // ----------------------------------------------------------------

  /** Min-label propagation to FIXPOINT over the undirected view:
    * label(v) ← min(label(v), min over neighbours), iterated until a
    * round changes zero labels (one cheap count per round on the
    * checkpointed frame). A fixed round count is diameter-dependent —
    * correct on this graph, silently wrong on a larger-diameter
    * component at 100× scale. At the fixpoint label(v) = min node id of
    * v's component, so the oracle is the transitive-closure min, not an
    * unrolled iteration. */
  def labelPropagate(undirected: DataFrame, reliable: Boolean = false): DataFrame = {
    // materialize the edge list ONCE: every round joins against it, so
    // an expensive caller lineage would otherwise re-execute per round
    // (the facade passes arbitrary user frames here). Pre-partition it
    // by the join key first — checkpoint preserves the partitioning,
    // so every round's edge-side exchange disappears (guide §2.4:
    // establish a partitioning once and reuse it; labels come out of
    // each round's groupBy(node) already partitioned on their key).
    // One up-front shuffle buys rounds-many of them.
    val und = materialize(undirected.repartition(col("src")), reliable)
    var labels = materialize(
      und.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")), reliable)
    var changed = 1L
    while (changed > 0) {
      // One round = neighbour messages (join) ∪ self messages (union),
      // then ONE groupBy carrying both the new min and the old label
      // (each node gets exactly one self-tagged message) — 2 shuffles
      // per round vs the previous 3 (neighbour-min groupBy + outer
      // join back to labels). The checkpoint is LAZY: the convergence
      // count is the action that materializes it, saving the eager
      // checkpoint's extra job per round. (`reliable` keeps the eager
      // cluster-safe checkpoint — correctness over round latency.)
      val msgs = und.join(labels, und("src") === labels("node"))
        .select(col("dst").as("node"), col("label"), lit(false).as("self"))
        .unionByName(labels.select(col("node"), col("label"), lit(true).as("self")))
      val next = msgs.groupBy("node").agg(
        min(col("label")).as("label"),
        min(when(col("self"), col("label"))).as("old_label"))
      val mat = if (reliable) next.checkpoint() else next.localCheckpoint(false)
      // null old_label = a node first reached this round (possible only
      // on non-symmetrized caller input) — count it as changed so the
      // loop can't terminate before its label propagates onward
      changed = mat.filter(col("label") =!= col("old_label")
        || col("old_label").isNull).count()
      labels = mat.select(col("node"), col("label"))
    }
    labels
  }

  private def gCcLabelprop: Q = (s, dir) => {
    val e = edges(s, dir)
    // labelPropagate checkpoints the edge list itself — no persist here
    labelPropagate(e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))))
  }

  // ----------------------------------------------------------------
  // Connected components in O(log n) rounds: alternating star contraction
  // ----------------------------------------------------------------

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * contraction (the MapReduce CC algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * literature). This is the 100 TB form of [[labelPropagate]]: the
    * edge set contracts to per-component stars in O(log n) rounds
    * REGARDLESS OF DIAMETER (a 10⁶-hop chain means 10⁶ label-propagation
    * rounds, ~20 here). Works on any orderable node type; labels =
    * per-component MINIMUM node id, identical to labelPropagate's
    * fixpoint.
    *
    * The edge set is kept as canonical (larger, smaller) pairs, so the
    * out-neighbours of u are exactly its smaller neighbours and
    * m(u) = min(u, N(u)) = min(u, out-neighbours of u). One round is
    * then:
    *  - large-star: every (v, u) hangs v on m(u);
    *  - small-star over that: every v hangs its out-neighbours and
    *    itself on the smallest of its out-neighbours.
    * Both come out canonical again, with no symmetrized copy.
    *
    * The loop stops on the first round whose output is a STAR FOREST:
    * no node has two out-edges and no edge target has an out-edge.
    * That test is exact: a star forest maps to itself under both
    * steps (each leaf's m is its centre, each centre's m is itself),
    * and only a star forest does, so the loop ends on the same edge set
    * as a run-until-unchanged loop, one round earlier and with no
    * comparison against the previous round. Each leaf's single out-edge
    * then names its component minimum, so the labels are read off the
    * edge set directly; centres and self-loop-only nodes have no
    * out-edge and label themselves.
    *
    * `reliable` selects fault-tolerant checkpoints as in [[bfs]]. */
  def starContractComponents(undirected: DataFrame,
      reliable: Boolean = false): DataFrame = {
    // canonical (larger, smaller) undirected pair set, self-loops dropped
    var e = materializeLazy(
      undirected.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct(), reliable)
    var star = false
    while (!star) {
      // large-star: m(u) over u's out-edges; u without one is its own m
      val mL = e.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      val large = e.join(mL, e("dst") === mL("u"), "left")
        .select(col("src"), coalesce(col("m"), col("dst")).as("dst"))
      // small-star: duplicate large rows are harmless to the min and
      // are deduped by the final distinct
      val mS = large.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      val small = large.join(mS, large("src") === mS("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(mS.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // lazy checkpoint: the star test below is its materializing action
      e = materializeLazy(small, reliable)
      star = isStarForest(e)
    }
    undirected.select(col("src").as("node")).distinct()
      .join(e, col("node") === e("src"), "left")
      .select(col("node"), coalesce(col("dst"), col("node")).as("label"))
  }

  /** True when the canonical edge set `e` is a star forest: every node
    * has at most one out-edge, and a node with an out-edge is never a
    * target. One aggregate over per-node (out-degree, is-target) pairs,
    * read with `isEmpty`, which stops at the first violating row. */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("src").as("node"), lit(1L).as("out"), lit(false).as("in"))
      .unionByName(e.select(col("dst").as("node"), lit(0L).as("out"), lit(true).as("in")))
      .groupBy("node").agg(sum(col("out")).as("out"), max(col("in")).as("in"))
      .filter(col("out") > 1 || (col("out") === 1 && col("in")))
      .isEmpty

  private def gCcStar: Q = (s, dir) => {
    val e = edges(s, dir)
    starContractComponents(
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))))
  }

  /** Oracle: fixpoint labels = per-component min node id, via recursive
    * transitive closure (UNION dedups, so the recursion terminates). */
  private val gCcLabelpropSql =
    s"""WITH RECURSIVE $duckEdgesCte,
       |und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |reach(node, peer) AS (
       |  SELECT DISTINCT src, src FROM und
       |  UNION
       |  SELECT r.node, u.dst FROM reach r JOIN und u ON u.src = r.peer)
       |SELECT node, min(peer) AS label FROM reach GROUP BY node""".stripMargin

  // ----------------------------------------------------------------
  // PageRank over the page-link graph (fixed-iteration)
  // ----------------------------------------------------------------

  private val PrIters = 3
  private val Damping = 0.85

  /** PageRank on the crawler's INTERNAL page-link graph — the ranking
    * a reference user would compute over the crawl INDEX. Simplified
    * formulation (unnormalized, pr₀ = 1, no dangling-mass
    * redistribution — the common "iterate pr = 0.15 + 0.85·Σ in/out"
    * form), run a FIXED `PrIters` iterations so the oracle can unroll
    * the same rounds as CTEs. All arithmetic is double adds/divides in
    * both engines; only the final round(6) output absorbs the
    * summation-order difference.
    *
    * Scale shape: per iteration one broadcast-sized join on out-degree,
    * one shuffle join pr↔links on src, one groupBy(dst) with map-side
    * partial sums — contributions shuffle as (id, double) pairs. The
    * link list is persisted once and reused by all rounds. */
  /** Generic fixed-iteration PageRank: `links(src, dst)`, `nodes(node)`
    * (must cover every src/dst), returns (node, pr) unrounded. The
    * caller persists `links` if its lineage is expensive — every round
    * joins it twice. */
  def pageRank(links: DataFrame, nodes: DataFrame, iters: Int = PrIters,
      damping: Double = Damping): DataFrame = {
    val outDeg = links.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    var pr = nodes.withColumn("pr", lit(1.0))
    for (_ <- 1 to iters) {
      val contribs = links
        .join(outDeg, "src")
        .join(pr.select(col("node").as("src"), col("pr")), "src")
        .select(col("dst").as("node"), (col("pr") / col("out_deg")).as("c"))
      pr = nodes
        .join(contribs.groupBy("node").agg(sum(col("c")).as("in_sum")), Seq("node"), "left")
        .select(col("node"),
          (lit(1 - damping) + lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("pr"))
    }
    pr
  }

  /** PERSONALIZED PageRank — seed-restarted (Haveliwala 2002): the
    * teleport mass lands on the SEED pages instead of uniformly, so
    * scores measure proximity-weighted authority relative to the
    * crawl roots — the frontier-prioritization signal one step past
    * [[s5CrawlSchedule]]'s raw in-degree: schedule high-PPR uncrawled
    * pages first and the crawler spends its budget near the roots it
    * cares about (the Level/IN columns' purpose in the reference's
    * Rcrawler INDEX, hi-csa-db.Rmd:111-119, made quantitative).
    * `nodes` carries a `seed` restart-weight column (typically 1/|S|
    * on the roots, 0 elsewhere); update pr = (1−d)·seed + d·Σ in/out.
    * Teleport mass never reaches pages unreachable from the seeds, so
    * they score EXACTLY 0 — the frontier-ordering law the spec pins.
    * Same fixed-iteration discipline and per-round scale shape as
    * [[pageRank]]; the oracle unrolls identical rounds. */
  def personalizedPageRank(links: DataFrame, nodes: DataFrame,
      iters: Int = PrIters, damping: Double = Damping): DataFrame = {
    val outDeg = links.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    var pr = nodes.select(col("node"), col("seed").cast("double").as("pr"))
    for (_ <- 1 to iters) {
      val contribs = links
        .join(outDeg, "src")
        .join(pr.select(col("node").as("src"), col("pr")), "src")
        .select(col("dst").as("node"), (col("pr") / col("out_deg")).as("c"))
      pr = nodes
        .join(contribs.groupBy("node").agg(sum(col("c")).as("in_sum")), Seq("node"), "left")
        .select(col("node"),
          (lit(1 - damping) * col("seed")
            + lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("pr"))
    }
    pr
  }

  /** `g_ppr` — personalized PageRank from the crawl root (page 0, the
    * same seed [[s2Crawl]] walks from). */
  private def gPpr: Q = (s, dir) => {
    val links = pageLinks(s, dir).filter(col("is_internal"))
      .select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = Tables.documents(s, dir).select(col("doc_id").as("node"),
      when(col("doc_id") === 0L, lit(1.0)).otherwise(lit(0.0)).as("seed"))
    personalizedPageRank(links, nodes)
      .select(col("node").as("page_id"), round(col("pr"), 6).as("ppr"))
  }

  /** Oracle: [[gPagerankSql]]'s unrolled rounds with the teleport term
    * seeded at page 0. */
  private val gPprSql = {
    val rounds = (1 to PrIters).map { k =>
      s"""p$k AS (
         |  SELECT n.node, 0.15 * n.seed + 0.85 * coalesce(s.in_sum, 0) AS pr, n.seed
         |  FROM p${k - 1} n LEFT JOIN (
         |    SELECT il.dst AS node, sum(p.pr / o.out_deg) AS in_sum
         |    FROM il JOIN odeg o ON il.src = o.src
         |            JOIN p${k - 1} p ON il.src = p.node
         |    GROUP BY il.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckPageLinksCte,
       |il AS (SELECT src, dst FROM links WHERE is_internal),
       |odeg AS (SELECT src, count(*) AS out_deg FROM il GROUP BY src),
       |p0 AS (SELECT doc_id AS node,
       |         CASE WHEN doc_id = 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS pr,
       |         CASE WHEN doc_id = 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS seed
       |       FROM documents),
       |$rounds
       |SELECT node AS page_id, round(pr, 6) AS ppr FROM p$PrIters""".stripMargin
  }

  private def gPagerank: Q = (s, dir) => {
    val links = pageLinks(s, dir).filter(col("is_internal"))
      .select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = Tables.documents(s, dir).select(col("doc_id").as("node"))
    pageRank(links, nodes)
      .select(col("node").as("page_id"), round(col("pr"), 6).as("pagerank"))
  }

  /** Oracle: the same `PrIters` rounds unrolled as CTEs p1..pN. */
  private val gPagerankSql = {
    val rounds = (1 to PrIters).map { k =>
      s"""p$k AS (
         |  SELECT n.node, 0.15 + 0.85 * coalesce(s.in_sum, 0) AS pr
         |  FROM p${k - 1} n LEFT JOIN (
         |    SELECT il.dst AS node, sum(p.pr / o.out_deg) AS in_sum
         |    FROM il JOIN odeg o ON il.src = o.src
         |            JOIN p${k - 1} p ON il.src = p.node
         |    GROUP BY il.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckPageLinksCte,
       |il AS (SELECT src, dst FROM links WHERE is_internal),
       |odeg AS (SELECT src, count(*) AS out_deg FROM il GROUP BY src),
       |p0 AS (SELECT doc_id AS node, 1.0::DOUBLE AS pr FROM documents),
       |$rounds
       |SELECT node AS page_id, round(pr, 6) AS pagerank FROM p$PrIters""".stripMargin
  }

  // ----------------------------------------------------------------
  // HITS hubs & authorities (fixed-iteration, exact integer form)
  // ----------------------------------------------------------------

  /** Full (authority, hub) update rounds [[gHits]] runs — and the
    * oracle unrolls. */
  private[graft] val HitsIters = 2

  /** Fixed-iteration HITS: `links(src, dst)`, `nodes(node)` covering
    * every src/dst, returns (node, authority, hub) UNNORMALIZED as
    * exact BIGINTs. Each round: a(v) = Σ_{u→v} h(u) then h(u) =
    * Σ_{u→v} a(v) (Kleinberg's mutual-reinforcement update). The
    * per-round L1 normalization of textbook HITS only rescales — the
    * RANKING each round is identical — and dropping it keeps every
    * value an integer sum of integers, which IEEE doubles and both
    * engines' BIGINTs compute EXACTLY in any aggregation order: the
    * whole fixpoint is oracle-checkable with no rounding tolerance.
    * The façade exposes the unit-normalized view on top (one division
    * by the final max — a single exact op, Spark-side spec-pinned).
    * Magnitudes grow ~(Σdeg²)^iters; at 2 full rounds a graph needs
    * ≳10⁶-degree hubs to threaten the 2⁶³ bound — production depths
    * switch the accumulator to double (sums stay exact until 2⁵³).
    *
    * Scale shape (same as [[pageRank]]): per half-round one shuffle
    * join score↔links on the matching endpoint and one groupBy with
    * map-side partial sums — the shuffle carries (id, long) pairs;
    * the link list is persisted by the caller and reused by all
    * rounds. */
  def hits(links: DataFrame, nodes: DataFrame, iters: Int = HitsIters,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.NONE): DataFrame = {
    // every half-round re-reads the link frame; `storage` follows the
    // façade cache contract — one-shot callers keep the default NONE
    // (nothing leaks into a long-lived session), the harness binding
    // passes MEMORY_AND_DISK and clears per query
    val l = if (storage == org.apache.spark.storage.StorageLevel.NONE) links
      else links.persist(storage)
    var hub = nodes.withColumn("hub", lit(1L))
    var auth = nodes.withColumn("auth", lit(1L))
    for (_ <- 1 to iters) {
      auth = nodes
        .join(l.join(hub.select(col("node").as("src"), col("hub")), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("s")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("auth"))
      hub = nodes
        .join(l.join(auth.select(col("node").as("dst"), col("auth")), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("auth")).as("s")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("hub"))
    }
    auth.join(hub, Seq("node"))
  }

  /** PRODUCTION-depth HITS: double accumulators (no 2⁶³ growth bound),
    * unit-max normalization after every full round (scores stay in
    * [0, 1] at ANY depth — the standard power-iteration discipline, so
    * magnitudes cannot overflow where [[hits]]'s exact-integer form
    * eventually would), and FINGERPRINT convergence instead of a fixed
    * round count: the loop stops when the `roundTo`-dp-rounded score
    * set repeats (count + two independent hash-xor set invariants
    * riding one aggregate job — the star-CC discipline at
    * [[connectedComponentsStar]]). Each round is lineage-cut
    * ([[materializeLazy]]) so depth-k plans stay O(1), and exceeding
    * `maxIters` THROWS rather than returning silently unconverged
    * scores (the [[sssp]] safety-valve contract). Returns
    * `(node, auth, hub)` with unit max.
    *
    * [[hits]] remains the oracle-exact fixed-depth form (its integer
    * arithmetic is bit-checkable cross-engine); this is the form a
    * 100 TB crawl graph actually runs to a fixpoint. */
  def hitsConverged(links: DataFrame, nodes: DataFrame, maxIters: Int = 50,
      roundTo: Int = 9, reliable: Boolean = false): DataFrame = {
    def fp(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(
        count(lit(1)).as("n"),
        coalesce(expr(s"bit_xor(xxhash64(node, round(auth, $roundTo), round(hub, $roundTo)))"),
          lit(0L)).as("fp1"),
        coalesce(expr(s"bit_xor(cast(hash(node, round(auth, $roundTo), round(hub, $roundTo)) as bigint))"),
          lit(0L)).as("fp2"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var scores = materializeLazy(
      nodes.select(col("node")).withColumn("auth", lit(1.0)).withColumn("hub", lit(1.0)),
      reliable)
    var prev = fp(scores)
    var done = false
    var round = 0
    while (!done && round < maxIters) {
      val authRaw = nodes
        .join(links.join(scores.select(col("node").as("src"), col("hub")), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("s")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0.0)).as("auth"))
      val hubRaw = nodes
        .join(links.join(authRaw.select(col("node").as("dst"), col("auth")), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("auth")).as("s")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0.0)).as("hub"))
      val joined = materializeLazy(authRaw.join(hubRaw, Seq("node")), reliable)
      // per-round maxima: a 1-row collect (materializes the checkpoint)
      val m = joined.agg(max(col("auth")).as("ma"), max(col("hub")).as("mh")).collect()(0)
      val ma = if (m.isNullAt(0)) 0.0 else m.getDouble(0)
      val mh = if (m.isNullAt(1)) 0.0 else m.getDouble(1)
      val norm = materializeLazy(joined.select(col("node"),
        (if (ma == 0.0) lit(0.0) else col("auth") / ma).as("auth"),
        (if (mh == 0.0) lit(0.0) else col("hub") / mh).as("hub")), reliable)
      val cur = fp(norm)
      done = cur == prev
      prev = cur
      scores = norm
      round += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"hitsConverged did not reach a ${roundTo}-dp fixpoint within $maxIters " +
          "rounds — raise maxIters or loosen roundTo")
    scores
  }

  /** HITS over the crawler's internal page-link graph — the other
    * classic link-analysis ranking next to [[gPagerank]] (hub pages
    * that POINT at good content vs authority pages pointed AT). */
  private def gHits: Q = (s, dir) => {
    val links = pageLinks(s, dir).filter(col("is_internal"))
      .select(col("src"), col("dst"))
    val nodes = Tables.documents(s, dir).select(col("doc_id").as("node"))
    hits(links, nodes, HitsIters,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .select(col("node").as("page_id"), col("auth").as("authority"), col("hub"))
  }

  /** Oracle: the same full rounds unrolled — a$k from h$(k-1), h$k from
    * a$k; all-BIGINT, so equality is exact. */
  private val gHitsSql = {
    val rounds = (1 to HitsIters).map { k =>
      s"""a$k AS MATERIALIZED (
         |  SELECT n.node, coalesce(s.s, 0) AS auth
         |  FROM nodes n LEFT JOIN (
         |    SELECT il.dst AS node, CAST(sum(h.hub) AS BIGINT) AS s
         |    FROM il JOIN h${k - 1} h ON il.src = h.node
         |    GROUP BY il.dst) s ON n.node = s.node),
         |h$k AS MATERIALIZED (
         |  SELECT n.node, coalesce(s.s, 0) AS hub
         |  FROM nodes n LEFT JOIN (
         |    SELECT il.src AS node, CAST(sum(a.auth) AS BIGINT) AS s
         |    FROM il JOIN a$k a ON il.dst = a.node
         |    GROUP BY il.src) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckPageLinksCte,
       |il AS (SELECT src, dst FROM links WHERE is_internal),
       |nodes AS (SELECT doc_id AS node FROM documents),
       |h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes),
       |$rounds
       |SELECT a.node AS page_id, a.auth AS authority, h.hub
       |FROM a$HitsIters a JOIN h$HitsIters h ON a.node = h.node""".stripMargin
  }

  // ----------------------------------------------------------------
  // Triangle counting (canonical-order join, each triangle once)
  // ----------------------------------------------------------------

  /** Per-node triangle participation over the undirected INTERNAL
    * page-link graph — the clustering-structure primitive (community
    * detection, spam-farm detection on a crawl graph), via
    * DEGREE-ORDERED edge orientation (the classic MapReduce triangle
    * trick, r5 — implemented, not just named): every undirected edge
    * orients from its lower-(degree, id) endpoint to the higher, wedges
    * enumerate per ORIENTED source, and a wedge (u→v, u→w) closes iff
    * the oriented edge v→w exists. Each triangle is found exactly once
    * (at its minimum-rank corner), and — the scale point — wedge
    * fan-out per node is C(oriented-outdeg, 2) with oriented outdeg
    * bounded by O(√m) on any graph: a celebrity page with 10⁷
    * neighbors contributes NO wedges from itself (all its edges point
    * INTO it), where id-ordering would explode on whichever hub had a
    * small id. The per-node counts are identical to the id-ordered
    * enumeration, so the DuckDB oracle keeps the simple a<b<c form.
    * Output: nodes in ≥1 triangle with their counts. */
  private def gTriangles: Q = (s, dir) => {
    val und = pageLinks(s, dir).filter(col("is_internal"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient: u = lower (degree, id) endpoint, w = higher; carry w's
    // rank for the wedge ordering
    val oriented = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(struct(col("da").as("d"), col("a").as("v"))
            < struct(col("db").as("d"), col("b").as("v")), col("a"))
          .otherwise(col("b")).as("u"),
        when(struct(col("da").as("d"), col("a").as("v"))
            < struct(col("db").as("d"), col("b").as("v")), col("b"))
          .otherwise(col("a")).as("w"),
        when(struct(col("da").as("d"), col("a").as("v"))
            < struct(col("db").as("d"), col("b").as("v")),
          struct(col("db").as("d"), col("b").as("v")))
          .otherwise(struct(col("da").as("d"), col("a").as("v"))).as("rw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tris = oriented.as("x")
      .join(oriented.as("y"), col("x.u") === col("y.u") && col("x.rw") < col("y.rw"))
      .join(oriented.as("z"),
        col("z.u") === col("x.w") && col("z.w") === col("y.w"))
      .select(col("x.u").as("c1"), col("x.w").as("c2"), col("y.w").as("c3"))
    tris.select(explode(array(col("c1"), col("c2"), col("c3"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  // NB: `src <> dst` pushed down into the unnest-derived links CTE
  // trips the same DuckDB internal binder error the pageLinks comment
  // documents; the MATERIALIZED barrier keeps the filter above the
  // unnest, and the self-loop drop happens on the projected (a, b).
  private val gTrianglesSql =
    s"""WITH $duckPageLinksCte,
       |und0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM links WHERE is_internal),
       |und AS (SELECT a, b FROM und0 WHERE a <> b),
       |tris AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |         FROM und e1
       |         JOIN und e2 ON e1.b = e2.a
       |         JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b)
       |SELECT node, count(*) AS n_triangles
       |FROM (SELECT unnest([x, y, z]) AS node FROM tris)
       |GROUP BY node""".stripMargin

  // ----------------------------------------------------------------
  // k-core decomposition (iterative peeling)
  // ----------------------------------------------------------------

  private val CoreK = 3
  // rounds the ORACLE unrolls; peeling converges in ≤ this many rounds
  // at the verified scales (extra unrolled rounds are idempotent —
  // once no node drops, every later round is the identity), and the
  // Spark side iterates to the true fixpoint regardless.
  private val KcoreUnrollRounds = 10

  /** Lazy variant of [[materialize]] for the convergence-checked
    * loops: `localCheckpoint(false)` defers block creation to the
    * round's own count/fingerprint action, so each round runs ONE job
    * instead of checkpoint-then-count (labelPropagate's discipline).
    * The reliable path stays an eager `checkpoint()` — Spark offers no
    * lazy fault-tolerant form. */
  private def materializeLazy(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint() else df.localCheckpoint(false)

  /** k-core of a symmetric edge list — iterative peeling: drop every
    * node with degree < k (and its edges), recompute degrees, repeat
    * until no node drops. The remaining subgraph is the k-core: the
    * densely-connected backbone (link-farm / community detection on a
    * crawl graph; the "degeneracy ordering" primitive). Runs to the
    * TRUE fixpoint with no round cap — peeling strictly removes edges
    * every non-converged round, so termination is guaranteed within
    * ≤ node-count rounds (a long path with k=2 peels only its two
    * endpoints per round — a fixed cap would silently return a
    * non-core there). Each round is one degree aggregate + two
    * semi-join-shaped prunes, lazily checkpointed so the round's own
    * convergence count materializes it (one job per round, same as
    * [[labelPropagate]]). Parallel edges are deduplicated and
    * self-loops dropped up front so real-world edge lists cannot
    * inflate degrees (A↔B twice is one neighbor, not a 2-core; a
    * self-loop is not a neighbor and must not buy its node core
    * membership) — both documented preconditions enforced here, not
    * left to the caller. Returns the surviving nodes with their
    * in-core degree. */
  def kcore(und: DataFrame, k: Int, reliable: Boolean = false): DataFrame = {
    var edges = materializeLazy(
      und.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct(), reliable)
    var nEdges = edges.count()
    var converged = false
    while (!converged) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
      val pruned = edges
        .join(keep.select(col("node").as("src")), Seq("src"))
        .join(keep.select(col("node").as("dst")), Seq("dst"))
        .select(col("src"), col("dst"))
      val next = materializeLazy(pruned, reliable)
      val c = next.count()
      converged = c == nEdges
      edges = next
      nEdges = c
    }
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** Harness binding: 3-core of the undirected internal page-link
    * graph (self-loops dropped, edges symmetrized; kcore dedups). */
  private def gKcore: Q = (s, dir) => {
    val links = pageLinks(s, dir)
      .filter(col("is_internal") && col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val und = links
      .unionByName(links.select(col("dst").as("src"), col("src").as("dst")))
    kcore(und, CoreK)
  }

  // Unrolled peeling rounds: rN = edges of round N's subgraph. EVERY
  // round CTE is MATERIALIZED: each rN is referenced twice (the degree
  // filter and the next prune), so letting DuckDB inline CTEs would
  // double the expression tree per round — 2^rounds re-evaluations of
  // the polyhash link derivation (measured: the un-materialized form
  // never finished; materialized it is sub-second). Same binder-quirk
  // placement rules as the triangle oracle.
  private val gKcoreSql = {
    val rounds = (1 to KcoreUnrollRounds).map { i =>
      s"""k${i - 1} AS MATERIALIZED (SELECT src FROM r${i - 1} GROUP BY src HAVING count(*) >= $CoreK),
         |r$i AS MATERIALIZED (SELECT e.src, e.dst FROM r${i - 1} e
         |        JOIN k${i - 1} a ON e.src = a.src
         |        JOIN k${i - 1} b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckPageLinksCte,
       |und0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM links WHERE is_internal),
       |r0 AS MATERIALIZED (
       |       SELECT a AS src, b AS dst FROM und0 WHERE a <> b
       |       UNION ALL
       |       SELECT b, a FROM und0 WHERE a <> b),
       |$rounds
       |SELECT src AS node, count(*) AS core_degree
       |FROM r$KcoreUnrollRounds GROUP BY src
       |UNION ALL
       |-- convergence sentinel: the Spark side iterates to the true
       |-- fixpoint while this oracle unrolls a fixed depth; if the last
       |-- two unrolled rounds still differ the unroll depth was too
       |-- shallow for this fixture — poison the result so the gate
       |-- failure names the depth assumption, not a parity bug
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
       |WHERE (SELECT count(*) FROM r$KcoreUnrollRounds)
       |   <> (SELECT count(*) FROM r${KcoreUnrollRounds - 1})""".stripMargin
  }

  // ----------------------------------------------------------------
  // Weighted single-source shortest paths (Bellman-Ford relaxation)
  // ----------------------------------------------------------------

  // rounds the ORACLE unrolls; relaxation reaches its fixpoint within
  // this many rounds at the verified scales (extra rounds idempotent),
  // while the Spark side iterates to the true fixpoint.
  private val SsspUnrollRounds = 16

  /** Weighted SSSP by FRONTIER-DELTA Bellman-Ford rounds: each round
    * relaxes only the edges leaving nodes whose distance IMPROVED last
    * round (the delta frontier), min-merges the candidates into the
    * distance table through one full-outer join, and converges when no
    * node improves — BFS's weighted generalization (cheapest crawl
    * path, latency-weighted reachability). Same synchronous-round
    * fixpoint as full relaxation (a distance can only improve via a
    * neighbor that itself improved), but the per-round join carries
    * edges ⋈ FRONTIER instead of edges ⋈ all-reached — the frontier
    * collapses as distances settle, so late rounds touch a shrinking
    * sliver of the graph instead of re-relaxing every settled node
    * (the r6 sweep's cost driver). Weights must be NON-NEGATIVE:
    * relaxation is then monotone non-increasing and bounded below, so
    * the fixpoint is reached within ≤ node-count rounds; `maxRounds`
    * is a safety valve against a negative cycle (where no fixpoint
    * exists) and exceeding it THROWS rather than returning silently
    * stale distances. Unreached nodes are absent (same contract as
    * [[bfs]]). One job per round: the merged frame is lazily
    * checkpointed and the frontier count materializes it — convergence
    * IS the count hitting zero, no fingerprint needed (an exact
    * improved-flag replaces the probabilistic hash-xor comparison). */
  def sssp(edges: DataFrame, seeds: DataFrame, maxRounds: Int = 10000,
      reliable: Boolean = false): DataFrame = {
    val e = materialize(edges.select(col("src"), col("dst"), col("w")), reliable)
    // distinct: duplicate seed rows would survive every full_outer
    // merge round verbatim (the pre-frontier-delta code collapsed them
    // in its per-round groupBy) and break the one-row-per-node contract
    var dist = materializeLazy(
      seeds.select(col("node")).distinct().withColumn("dist", lit(0L)), reliable)
    var delta = dist
    var deltaCount = delta.count()
    var round = 0
    while (deltaCount > 0 && round < maxRounds) {
      val cand = e.join(delta, e("src") === delta("node"))
        .select(e("dst").as("node"), (col("dist") + col("w")).as("cand"))
        .groupBy("node").agg(min("cand").as("cand"))
      val improved = coalesce(
        col("dist").isNull || col("cand") < col("dist"), lit(false))
      val merged = materializeLazy(
        dist.join(cand, Seq("node"), "full_outer")
          .select(col("node"),
            when(improved, col("cand")).otherwise(col("dist")).as("dist"),
            improved.as("improved")),
        reliable)
      delta = merged.filter(col("improved")).select(col("node"), col("dist"))
      deltaCount = delta.count()
      dist = merged.select(col("node"), col("dist"))
      round += 1
    }
    if (deltaCount > 0)
      throw new IllegalStateException(
        s"sssp did not converge within $maxRounds rounds — negative-weight " +
          "cycle, or raise maxRounds for an extremely deep graph")
    dist
  }

  /** Deterministic per-edge weight for the harness graph: 1–5 from the
    * endpoints (the stand-in for fetch latency / link cost). */
  private def weighted(links: DataFrame): DataFrame =
    links.withColumn("w", pmod(col("src") * 31 + col("dst"), lit(5)) + 1)

  /** Harness binding: cheapest-path distances from page 0 over the
    * weighted internal link graph. */
  private def gSssp: Q = (s, dir) => {
    import s.implicits._
    val links = weighted(
      pageLinks(s, dir)
        .filter(col("is_internal") && col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct())
    sssp(links, Seq(0L).toDF("node")).select(col("node"), col("dist"))
  }

  // Same MATERIALIZED-per-round rule as the k-core oracle: each dN is
  // referenced twice, inlining would double the tree per round.
  private val gSsspSql = {
    val rounds = (1 to SsspUnrollRounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst, d${i - 1}.dist + e.w FROM e JOIN d${i - 1} ON e.src = d${i - 1}.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckPageLinksCte,
       |e AS MATERIALIZED (
       |  SELECT src, dst, (src * 31 + dst) % 5 + 1 AS w
       |  FROM (SELECT DISTINCT src, dst FROM links WHERE is_internal AND src <> dst)),
       |d0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
       |$rounds
       |SELECT node, dist FROM d$SsspUnrollRounds
       |UNION ALL
       |-- convergence sentinel (same rationale as the k-core oracle):
       |-- poison the result if the last two unrolled rounds differ —
       |-- row counts alone can't certify SSSP convergence (a distance
       |-- can improve without the row count moving), so compare sets
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
       |WHERE EXISTS (SELECT * FROM d$SsspUnrollRounds
       |              EXCEPT SELECT * FROM d${SsspUnrollRounds - 1})""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "g_triangles" -> gTriangles,
    "g_degrees" -> gDegrees,
    "g_bfs" -> gBfs,
    "g_cc_labelprop" -> gCcLabelprop,
    "g_cc_star" -> gCcStar,
    "g_kcore" -> gKcore,
    "g_sssp" -> gSssp,
    "g_pagerank" -> gPagerank,
    "g_ppr" -> gPpr,
    "g_hits" -> gHits,
    "s2_crawl" -> s2Crawl,
    "s5_crawl_schedule" -> s5CrawlSchedule)

  // g_cc_star shares the labelprop oracle: both compute the
  // per-component minimum label, by different algorithms
  val oracles: Map[String, String] = Map(
    "g_triangles" -> gTrianglesSql,
    "g_degrees" -> gDegreesSql,
    "g_bfs" -> gBfsSql,
    "g_cc_labelprop" -> gCcLabelpropSql,
    "g_cc_star" -> gCcLabelpropSql,
    "g_kcore" -> gKcoreSql,
    "g_sssp" -> gSsspSql,
    "g_pagerank" -> gPagerankSql,
    "g_ppr" -> gPprSql,
    "g_hits" -> gHitsSql,
    "s2_crawl" -> s2CrawlSql,
    "s5_crawl_schedule" -> s5CrawlScheduleSql)
}
