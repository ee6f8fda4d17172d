package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph-shape analytics over relational co-occurrence — triangle /
  * wedge census of the co-purchase graph. Connected components
  * (DedupOps.e_dedup_cc) covers reachability; this covers local
  * density, the other graph statistic a data-curation pipeline
  * actually computes (e.g. community sanity checks on an entity graph
  * before collapsing it).
  *
  * Algorithm: the degree-ordered edge orientation of Suri &
  * Vassilvitskii ("Counting Triangles and the Curse of the Last
  * Reducer", WWW 2011). Orient every undirected edge from its
  * lower-(degree, id) endpoint to its higher one; every triangle then
  * has exactly ONE wedge whose center out-edges both leave the
  * lowest-ranked vertex, so `paths ⋈ oriented-edges` counts each
  * triangle once. The orientation bounds out-degree by O(√m) on ANY
  * degree distribution — on a skewed graph the naive "join on the
  * lower vertex id" plan dies on the hub vertex (the titular last
  * reducer), while the degree-ordered plan's per-key fan-out stays
  * balanced. That is the 100 TB design: two hash-partitioned
  * equi-joins, no broadcast of the edge set, skew bounded by
  * construction (plus AQE skew-split as the backstop).
  *
  * Edge derivation: parts co-occurring in an order (distinct pairs).
  * Pair generation is quadratic in basket size — bounded here (TPC-H
  * baskets ≤ 7 lines); a heavy-tailed basket corpus would cap or
  * sample per basket before pairing. The deterministic quarter-part
  * sample (l_partkey % 4 = 0) bounds the FIXTURE cost — the algorithm
  * itself never materializes more than O(m^1.5) path rows.
  */
object GraphOps {
  type Q = (SparkSession, String) => DataFrame

  /** Largest basket that contributes pairs. Pair generation is
    * quadratic in basket size, so ONE heavy-tailed basket can emit
    * more pairs than the rest of the corpus combined — the round-9
    * skew sweep caught exactly that: a Zipfian fixture holding ~10% of
    * lineitem under one orderkey turns the within-basket self-join
    * into ~10¹² rows and a never-finishing straggler. Dropping
    * degenerate mega-baskets is the standard co-occurrence-mining
    * guard (they carry no pairwise signal — every part "co-occurs"
    * with every other); TPC-H baskets hold ≤ 7 items, so the cap is
    * inert on the uniform fixtures and the oracle result is unchanged.
    */
  val MaxBasket = 30L

  /** Undirected distinct edges (u < v) between parts sharing an order. */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val items = lineitem
      .where(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      .distinct()
    val bounded = items.join(
      items.groupBy("k").agg(count(lit(1)).as("bs"))
        .where(col("bs") <= MaxBasket)
        .select("k"),
      Seq("k"), "left_semi")
    bounded.as("a").join(bounded.as("b"),
        col("a.k") === col("b.k") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .distinct()
  }

  /** One-row census: vertices, edges, wedges, triangles — all exact
    * integers (the wedge count uses d(d-1)/2 which is always even
    * before the halving, so integer division is exact).
    */
  def triangleStats(rawEdges: DataFrame): DataFrame =
    // The edge set is referenced five times (degree×2, orientation,
    // census). Without materialization Catalyst re-derives the WHOLE
    // edge pipeline per reference — measured 36 parquet scans /
    // 74 shuffles on the registered query. Eager localCheckpoint (the
    // same idiom as the CC loop in DedupOps) computes it once;
    // downstream plans read the cached partitions with zero rescans.
    // Cleanup is the ContextCleaner's: once the returned frame's RDDs
    // are unreferenced, the checkpointed blocks are GC-evicted.
    triangleStatsOn(rawEdges.localCheckpoint(true))

  /** [[triangleStats]] over an ALREADY-materialized edge frame (a
    * checkpoint/persisted handle) — the registered query rides the
    * per-(app, dataset) edge memo and must not re-checkpoint it on
    * every pass.
    */
  private def triangleStatsOn(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // rank = (degree, id); orient low → high. Both endpoint degrees
    // arrive by joining the degree table twice (shuffle on node).
    val withDeg = edges
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint(true)
    // wedge at the lowest-ranked vertex a: a→b, b→c; closing it with
    // the (unique) oriented edge a→c counts each triangle exactly once
    val paths = oriented.select(col("src").as("a"), col("dst").as("b"))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
    val triCount = paths
      .join(oriented.select(col("src").as("a"), col("dst").as("c")),
        Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    val vw = deg.agg(count(lit(1)).as("n_vertices"),
      (sum(col("d") * (col("d") - 1)) / 2).cast("long").as("n_wedges"))
    val ne = edges.agg(count(lit(1)).as("n_edges"))
    vw.crossJoin(ne).crossJoin(triCount)
      .select("n_vertices", "n_edges", "n_wedges", "n_triangles")
  }

  /** The co-purchase edge set materialized once per (app, dataset) —
    * shared by e_triangles and e_pagerank. The derivation (distinct
    * items → basket-cap semi-join → within-basket self-join →
    * distinct) is the expensive half of both queries and was re-run
    * per reference: every e_triangles pass re-derived it into a fresh
    * localCheckpoint, and e_pagerank's cold deg/dir persists derived
    * it twice. One eager checkpoint (edge rows are two longs) serves
    * them all; CacheRegistry-managed like domain.linkEdges.
    */
  private def coEdges(spark: SparkSession, dir: String): DataFrame =
    graft.engine.CacheRegistry.memo("graph.coEdges", dir)({
        coPurchaseEdges(Tables.load(spark, dir, "lineitem"))
          .localCheckpoint(true)
      })(graft.engine.CacheRegistry.freeFrame)

  private val trianglesQ: Q = (spark, dir) =>
    triangleStatsOn(coEdges(spark, dir))

  /** PageRank damping factor and fixed iteration count — fixed so the
    * oracle can replay the exact computation as a CTE chain.
    */
  val PrDamping = 0.85
  val PrIters = 3

  /** PageRank over the undirected co-purchase graph (each edge walks
    * both ways), `PrIters` synchronous iterations.
    *
    * Determinism contract (the engine-vs-oracle hash must survive any
    * partitioning): each edge's contribution r/deg is one IEEE double
    * division (identical in any engine); the per-node accumulation —
    * the only order-sensitive step — sums those contributions as
    * DECIMAL(28,16) (associative, so Spark's map-side combine and
    * DuckDB's single-threaded sum agree bit-for-bit); the damping
    * update is double arithmetic on that exact sum, rounded to 12 dp
    * per iteration so representation noise cannot compound across
    * rounds.
    *
    * 100 TB shape: one shuffle per iteration (contributions hash-
    * partitioned on dst) + the rank join on src — the standard
    * Pregel-style plan. The multiply-referenced frames (dir: once per
    * iteration; deg: the per-edge divisor each iteration) are
    * DISK_ONLY persists, NOT localCheckpoints: the spill rehearsal
    * caught the checkpointed form dying with UNABLE_TO_ACQUIRE_MEMORY
    * at the 768 MB cap — (local)checkpoint blocks are the data's ONLY
    * copy, so the storage manager cannot evict them, and enough pinned
    * blocks starve execution memory outright (spilling sorts need
    * execution pages too). Evictable persisted blocks degrade to
    * recompute instead. The rank chain is single-reference per
    * iteration, so it needs no cut at all — one job pipelines all
    * iterations. No node is dangling by construction (every vertex of
    * an undirected edge has degree ≥ 1).
    */
  def pageRank(rawEdges: DataFrame, iters: Int = PrIters,
      damping: Double = PrDamping): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.storage.StorageLevel
    val dir0 = rawEdges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(rawEdges.select(col("v").as("src"), col("u").as("dst")))
    val deg = dir0.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.DISK_ONLY)
    // fold outdeg INTO the persisted edge frame once: outdeg is
    // iteration-invariant, so joining deg inside the loop pays one
    // extra join per iteration for nothing (r14 — e_pagerank_dangling
    // was the bench's #2 heaviest before this)
    val dir = dir0.join(deg.hint("shuffle_hash"), Seq("src"))
      .persist(StorageLevel.DISK_ONLY)
    // |V| is one driver long — the bounded-collect class (seed means,
    // top-1 merge rows), not a data-sized collect; the action also
    // materializes both persists.
    val n = deg.count()
    val base = (1.0 - damping) / n
    var rank = deg.select(col("src").as("node"), lit(1.0 / n).as("r"))
    for (_ <- 1 to iters) {
      val contrib = dir
        .join(rank.select(col("node").as("src"), col("r"))
          .hint("shuffle_hash"), Seq("src"))
        .select(col("dst"),
          (col("r") / col("outdeg")).cast(DecimalType(28, 16)).as("c"))
      rank = contrib.groupBy(col("dst").as("node"))
        .agg(round(lit(base) +
          lit(damping) * sum(col("c")).cast("double"), 12).as("r"))
    }
    // pr IS the 12-dp iterate — no second rounding: re-rounding an
    // already-rounded value hits an exact .5 tie with probability
    // ~10^-(Δdp) per node (measured: 1 node in 500 at 12→10 dp), and
    // Spark (HALF_UP on the shortest repr) and DuckDB (binary round)
    // break those ties differently.
    rank.select(col("node"), col("r").as("pr"))
      .orderBy(col("pr").desc, col("node"))
  }

  private val pageRankQ: Q = (spark, dir) =>
    pageRank(coEdges(spark, dir))

  /** DIRECTED PageRank — the crawl-link-graph composition (extract
    * links from the synthesized pages, rank pages by incoming link
    * mass). Same determinism contract as [[pageRank]]; the directed
    * form additionally LEFT-joins the node set each iteration so a
    * zero-INdegree page settles at the base rank instead of silently
    * vanishing from the frame. Contract: every node must have
    * outdeg ≥ 1 (no dangling-mass redistribution) — true of the
    * extracted fixture graph by construction (1 + doc_id % 4 outlinks
    * per page) and of any frontier that only ranks CRAWLED pages.
    */
  def pageRankDirected(edges: DataFrame, iters: Int = PrIters,
      damping: Double = PrDamping): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.storage.StorageLevel
    val dir0 = edges.select(col("src"), col("dst"))
    val deg = dir0.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.DISK_ONLY)
    // outdeg folded into the persisted edge frame (see pageRank)
    val dir = dir0.join(deg.hint("shuffle_hash"), Seq("src"))
      .persist(StorageLevel.DISK_ONLY)
    val n = deg.count()
    val base = (1.0 - damping) / n
    var rank = deg.select(col("src").as("node"), lit(1.0 / n).as("r"))
    for (_ <- 1 to iters) {
      val sums = dir
        .join(rank.select(col("node").as("src"), col("r"))
          .hint("shuffle_hash"), Seq("src"))
        .select(col("dst"),
          (col("r") / col("outdeg")).cast(DecimalType(28, 16)).as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("sm"))
      rank = deg.select(col("src").as("node"))
        .join(sums.hint("shuffle_hash"), Seq("node"), "left_outer")
        .select(col("node"), round(lit(base) + lit(damping) *
          coalesce(col("sm").cast("double"), lit(0.0)), 12).as("r"))
    }
    rank.select(col("node"), col("r").as("pr"))
      .orderBy(col("pr").desc, col("node"))
  }

  private val pageRankLinksQ: Q = (spark, dir) =>
    pageRankDirected(DomainOps.linkEdges(spark, dir)
      .select(col("src_doc").as("src"), col("dst_doc").as("dst")))

  /** Directed PageRank over the FULL node set (src ∪ dst) with
    * DANGLING-MASS redistribution — the classic formulation
    * (Brin & Page 1998; the "dangling node" treatment of Page et al.'s
    * tech report): a real link graph ranks uncrawled link TARGETS too
    * (that is how a frontier prioritizes what to fetch next), and
    * every such node is dangling (outdeg 0). Its rank mass
    * redistributes uniformly each iteration:
    *
    *   r'(v) = (1−d)/n + d·(Σ_{u→v} r(u)/outdeg(u) + D/n),
    *   D = Σ_{dangling u} r(u)
    *
    * Determinism contract (the [[pageRank]] discipline): per-edge
    * division is one IEEE double op; BOTH order-sensitive sums — the
    * per-node contribution sum AND the dangling mass D — accumulate as
    * DECIMAL(28,16); the update is double arithmetic in one pinned
    * order (contrib + D/n, then ×d, then +base), rounded to 12 dp per
    * iteration. D is a 1-row aggregate cross-joined in (the
    * 1-row-aggregate crossJoin class), never a driver collect.
    *
    * 100 TB shape: the per-iteration cost adds one anti-join (rank vs
    * outdeg keys, both already partitioned) and a 1-row aggregate to
    * [[pageRankDirected]]'s plan — the contribution shuffle still
    * dominates.
    */
  def pageRankDangling(edges: DataFrame, iters: Int = PrIters,
      damping: Double = PrDamping): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.storage.StorageLevel
    val dec = DecimalType(28, 16)
    val dir0 = edges.select(col("src"), col("dst"))
    val deg = dir0.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.DISK_ONLY)
    // outdeg folded into the persisted edge frame (see pageRank)
    val dir = dir0.join(deg.hint("shuffle_hash"), Seq("src"))
      .persist(StorageLevel.DISK_ONLY)
    // node set read from the PERSISTED dir frame, not dir0: dir is
    // dir0 inner-joined on deg's complete src key set (row-for-row
    // identical plus outdeg), so the node set is the same — and a cold
    // build derives the input edge pipeline once less (r17)
    val nodes = dir.select(col("src").as("node"))
      .unionAll(dir.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.DISK_ONLY)
    // the DANGLING SET is iteration-invariant too: mark it once on the
    // persisted node frame instead of anti-joining rank vs deg every
    // iteration
    val nodesMarked = nodes
      .join(deg.select(col("src").as("node"), lit(true).as("has_out"))
        .hint("shuffle_hash"),
        Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("has_out"), lit(false)).as("has_out"))
      .persist(StorageLevel.DISK_ONLY)
    val n = nodes.count()
    val base = (1.0 - damping) / n
    var rank = nodesMarked.select(col("node"), col("has_out"),
      lit(1.0 / n).as("r"))
    // superseded iterates' checkpoint blocks are freed as soon as the
    // next iterate materializes (the CorpusOps/DedupOps loop
    // discipline) — only the LAST checkpoint, which the returned plan
    // reads, stays pinned: O(1) checkpoint residency instead of
    // O(iters) for the app lifetime
    var prevCp: DataFrame = null
    for (i <- 1 to iters) {
      // Each update reads the previous rank TWICE (contribution sums
      // AND the dangling-mass aggregate), so without a cut the logical
      // plan doubles per iteration (~2^iters analysis blow-up —
      // pageRankDirected's single-reference chain is linear and needs
      // none). Eager localCheckpoint per iteration truncates lineage
      // (the connectedMinLabels discipline); DISK_ONLY keeps the
      // non-evictable checkpoint blocks OUT of execution memory — the
      // spill-rehearsal lesson that retired memory-level checkpoints
      // from pageRank — and the rank frame is node-sized (~24 B/node),
      // not edge-sized, so the disk footprint is the small side of the
      // graph. The cut on the LAST iteration is skipped: the final
      // iterate flows straight into the caller's plan.
      val rcur =
        if (i == 1) rank
        else rank.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      if (prevCp != null && (rcur ne prevCp)) {
        // rcur is durably materialized from prevCp's blocks — release them
        graft.engine.CacheRegistry.freeFrame(prevCp)
      }
      if (rcur ne rank) prevCp = rcur
      val sums = dir
        .join(rcur.select(col("node").as("src"), col("r"))
          .hint("shuffle_hash"), Seq("src"))
        .select(col("dst"), (col("r") / col("outdeg")).cast(dec).as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("sm"))
      // dangling mass: rank held by nodes with NO out-edges — one
      // decimal-accumulated 1-row aggregate off the precomputed mark
      val dang = rcur.where(!col("has_out"))
        .agg(coalesce(sum(col("r").cast(dec)),
          lit(0).cast(dec)).as("dm"))
      rank = nodesMarked
        .join(sums.hint("shuffle_hash"), Seq("node"), "left_outer")
        .crossJoin(dang)
        .select(col("node"), col("has_out"),
          round(lit(base) + lit(damping) *
            (coalesce(col("sm").cast("double"), lit(0.0)) +
              col("dm").cast("double") / lit(n.toDouble)), 12).as("r"))
    }
    rank.select(col("node"), col("r").as("pr"))
      .orderBy(col("pr").desc, col("node"))
  }

  /** Gate fixture with GENUINE dangling nodes: only pages with
    * doc_id % 3 ≠ 0 are "crawled" (contribute out-edges); link targets
    * with doc_id % 3 = 0 appear only as destinations — dangling, yet
    * ranked.
    */
  /** The dangling-mass walk over the CRAWLED link subgraph, built once
    * per (app, dataset) — the rank table two declared queries share:
    * e_pagerank_dangling declares the walk itself and
    * e_pipeline_frontier re-ranks the SAME walk's output (that reuse
    * is the point of ranking uncrawled targets). The walk is an
    * offline batch artifact exactly like the CC label table
    * (dedup.cc), the LSH component labels (dedup.lshcc) and the GD
    * weight trajectory (quality model): iterative, deterministic,
    * node-sized — so it is memoized the same way and eviction frees
    * the checkpoint (a rebuild re-walks to the identical 12-dp
    * iterates). Only the frontier COMPOSITION rides the memo:
    * e_pagerank_dangling keeps declaring (and its plan-audit row keeps
    * pinning) the walk itself, so the walk's physical shape stays a
    * gated fact and its bench row keeps measuring the real iteration
    * cost. NOTE for the bench reading: the frontier's use is
    * memoization, not a plan optimization — its warm passes read the
    * materialized rank table, as warm passes of e_dedup_cc read the
    * label table.
    */
  private[graft] def danglingWalk(spark: SparkSession, dir: String): DataFrame =
    graft.engine.CacheRegistry.memo("graph.danglingWalk", dir)({
        pageRankDangling(DomainOps.linkEdges(spark, dir)
          .where(pmod(col("src_doc"), lit(3L)) =!= 0)
          .select(col("src_doc").as("src"), col("dst_doc").as("dst")))
          .localCheckpoint(true)
      })(graft.engine.CacheRegistry.freeFrame)

  private val pageRankDanglingQ: Q = (spark, dir) =>
    pageRankDangling(DomainOps.linkEdges(spark, dir)
      .where(pmod(col("src_doc"), lit(3L)) =!= 0)
      .select(col("src_doc").as("src"), col("dst_doc").as("dst")))

  /** Fetch-queue slots per domain in the frontier composition. */
  val FrontierCap = 3

  /** THE CRAWL-SCHEDULER COMPOSITION — what a frontier actually does
    * with the pieces this library provides, in one plan: take the
    * links extracted from CRAWLED pages (src % 3 ≠ 0 — the crawled
    * subset of the link fixture), keep the UNCRAWLED targets (the
    * fetch candidates) with their inlink counts, drop targets the
    * site's robots.txt disallows (RFC 9309 — parsed from the real
    * fixture text), PRIORITIZE by the dangling-mass PageRank of the
    * full link graph (exactly what [[pageRankDangling]] ranks
    * uncrawled targets FOR), and admit the top-[[FrontierCap]] per
    * domain (politeness budget). Output: the ranked fetch queue.
    *
    * 100 TB shape: candidates aggregate on dst (one shuffle of narrow
    * edge rows); robots rules are a |domains|-row broadcast; the rank
    * join is narrow (node, pr); the per-domain cap is a bounded window
    * over fetch candidates. The walk itself is [[pageRankDangling]]'s
    * plan, reused.
    */
  def frontierSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = DomainOps.linkEdges(spark, dir)
      .where(pmod(col("src_doc"), lit(3L)) =!= 0)
      .select(col("src_doc").as("src"), col("dst_doc").as("dst"))
    val pr = danglingWalk(spark, dir)
    val cand = edges.where(pmod(col("dst"), lit(3L)) === 0)
      .groupBy(col("dst").as("doc_id"))
      .agg(count(lit(1)).as("n_inlinks"))
    val frontier = cand.select(col("doc_id"),
      pmod(col("doc_id"), lit(20L)).as("h"),
      when(pmod(col("doc_id"), lit(4L)) === 0,
        concat(lit("/private/p"), col("doc_id")))
        .when(pmod(col("doc_id"), lit(4L)) === 1,
          concat(lit("/doc/open"), col("doc_id")))
        .otherwise(concat(lit("/doc/d"), col("doc_id"))).as("path"),
      col("n_inlinks"))
    val doms = frontier.select("h").distinct()
    val rules = DomainOps.parseRobots(
      doms.withColumn("robots_txt", DomainOps.synthRobotsTxt(col("h"))))
    val allowed = DomainOps.robotsFilter(frontier, rules)
      .where(col("allowed"))
    val w = Window.partitionBy("h").orderBy(col("pr").desc, col("doc_id"))
    allowed
      .join(pr.select(col("node").as("doc_id"), col("pr"))
        .hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("fetch_rank", row_number().over(w))
      .where(col("fetch_rank") <= FrontierCap)
      .select(col("doc_id"), concat(lit("site"), col("h")).as("domain"),
        col("path"), col("n_inlinks"), col("pr"), col("fetch_rank"))
      .orderBy("domain", "fetch_rank")
  }

  private val frontierQ: Q = (spark, dir) => frontierSchedule(spark, dir)

  val queries: Map[String, Q] = Map(
    "e_triangles" -> trianglesQ,
    "e_pagerank" -> pageRankQ,
    "e_pagerank_links" -> pageRankLinksQ,
    "e_pagerank_dangling" -> pageRankDanglingQ,
    "e_pipeline_frontier" -> frontierQ,
  )

  /** The oracle counts triangles WITHOUT the orientation machinery
    * (plain u<v<w closure) — the degree-ordered plan must be invisible
    * in the result.
    */
  /** The co-purchase edge derivation as DuckDB CTEs — shared by the
    * triangle and PageRank oracles so both replay [[coPurchaseEdges]]
    * from one definition.
    */
  private def edgeCtes: String =
    s"""items0 AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_partkey % 4 = 0
       |),
       |ok AS (
       |  SELECT l_orderkey FROM items0 GROUP BY l_orderkey
       |  HAVING count(*) <= $MaxBasket
       |),
       |items AS (
       |  SELECT i.l_orderkey, i.l_partkey FROM items0 i JOIN ok USING (l_orderkey)
       |),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |)""".stripMargin

  /** DuckDB replay of [[pageRank]]: the same fixed-iteration chain —
    * per-edge double division, DECIMAL(28,16) accumulation, double
    * damping update rounded to 12 dp — one CTE pair per iteration.
    * The damping constants are spelled as the same expressions the
    * Spark side evaluates ((1.0 - d) is NOT the literal 0.15 in IEEE
    * arithmetic) so both engines run identical double ops.
    */
  private def pageRankOracle: String = {
    val iters = (1 to PrIters).map { k =>
      s"""r$k AS (
         |  SELECT dir.dst AS node,
         |    round((CAST(1.0 AS DOUBLE) - CAST($PrDamping AS DOUBLE))
         |        / (SELECT c FROM n)
         |      + CAST($PrDamping AS DOUBLE) *
         |        CAST(sum(CAST(p.r / deg.outdeg AS DECIMAL(28,16)))
         |          AS DOUBLE), 12) AS r
         |  FROM dir JOIN r${k - 1} p ON dir.src = p.node
         |  JOIN deg ON dir.src = deg.src
         |  GROUP BY dir.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |dir AS (
       |  SELECT u AS src, v AS dst FROM edges
       |  UNION ALL SELECT v, u FROM edges
       |),
       |deg AS (SELECT src, count(*) AS outdeg FROM dir GROUP BY src),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM deg),
       |r0 AS (
       |  SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT c FROM n) AS r
       |  FROM deg
       |),
       |$iters
       |SELECT node, r AS pr FROM r$PrIters
       |ORDER BY pr DESC, node""".stripMargin
  }

  /** DuckDB replay of [[pageRankDirected]] over the extracted link
    * graph: the arithmetic edge CTEs ([[DomainOps.linkEdgeCtes]] — the
    * extraction must round-trip them, proven by e_link_extract) + the
    * same per-iteration chain with the LEFT-joined node frame.
    */
  private def pageRankLinksOracle: String = {
    val iters = (1 to PrIters).map { k =>
      s"""r$k AS (
         |  SELECT nd.node,
         |    round((CAST(1.0 AS DOUBLE) - CAST($PrDamping AS DOUBLE))
         |        / (SELECT c FROM n)
         |      + CAST($PrDamping AS DOUBLE) *
         |        coalesce(CAST(s.sm AS DOUBLE), CAST(0.0 AS DOUBLE)), 12)
         |      AS r
         |  FROM nodes nd LEFT JOIN (
         |    SELECT dir.dst, sum(CAST(p.r / deg.outdeg AS DECIMAL(28,16)))
         |      AS sm
         |    FROM dir JOIN r${k - 1} p ON dir.src = p.node
         |    JOIN deg ON dir.src = deg.src
         |    GROUP BY dir.dst) s ON s.dst = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${DomainOps.linkEdgeCtes},
       |dir AS (SELECT src_doc AS src, dst_doc AS dst FROM edges),
       |deg AS (SELECT src, count(*) AS outdeg FROM dir GROUP BY src),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM deg),
       |nodes AS (SELECT src AS node FROM deg),
       |r0 AS (
       |  SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT c FROM n) AS r
       |  FROM deg
       |),
       |$iters
       |SELECT node, r AS pr FROM r$PrIters
       |ORDER BY pr DESC, node""".stripMargin
  }

  /** DuckDB replay of [[pageRankDangling]] on the crawled-subset link
    * graph: the arithmetic edge CTEs filtered to crawled sources, the
    * src ∪ dst node set, and per iteration one (dangling-mass, rank)
    * CTE pair — the SAME decimal accumulations and the same pinned
    * double order (contrib + D/n, ×d, +base, round 12).
    */
  private def pageRankDanglingOracle: String =
    s"""WITH $danglingWalkCtes
       |SELECT node, r AS pr FROM r$PrIters
       |ORDER BY pr DESC, node""".stripMargin

  /** The dangling-walk replay as a reusable WITH body (edge arithmetic
    * → crawled-subset dir → deg/nodes/n/r0 → per-iteration CTE pairs,
    * ending in r[[PrIters]]) — shared by the e_pagerank_dangling
    * oracle and the frontier-scheduler composition.
    */
  private[graft] def danglingWalkCtes: String = {
    val iters = (1 to PrIters).map { k =>
      s"""d$k AS (
         |  SELECT coalesce(sum(CAST(p.r AS DECIMAL(28,16))),
         |    CAST(0 AS DECIMAL(28,16))) AS dm
         |  FROM r${k - 1} p LEFT JOIN deg ON deg.src = p.node
         |  WHERE deg.src IS NULL
         |), r$k AS (
         |  SELECT nd.node,
         |    round((CAST(1.0 AS DOUBLE) - CAST($PrDamping AS DOUBLE))
         |        / (SELECT c FROM n)
         |      + CAST($PrDamping AS DOUBLE) *
         |        (coalesce(CAST(s.sm AS DOUBLE), CAST(0.0 AS DOUBLE))
         |          + CAST(d.dm AS DOUBLE) / (SELECT c FROM n)), 12) AS r
         |  FROM nodes nd CROSS JOIN d$k d LEFT JOIN (
         |    SELECT dir.dst, sum(CAST(p.r / deg.outdeg AS DECIMAL(28,16)))
         |      AS sm
         |    FROM dir JOIN r${k - 1} p ON dir.src = p.node
         |    JOIN deg ON dir.src = deg.src
         |    GROUP BY dir.dst) s ON s.dst = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""${DomainOps.linkEdgeCtes},
       |dir AS (SELECT src_doc AS src, dst_doc AS dst FROM edges
       |        WHERE src_doc % 3 <> 0),
       |deg AS (SELECT src, count(*) AS outdeg FROM dir GROUP BY src),
       |nodes AS (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM dir UNION ALL SELECT dst FROM dir)),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nodes),
       |r0 AS (
       |  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT c FROM n) AS r
       |  FROM nodes
       |),
       |$iters""".stripMargin
  }

  /** Frontier replay: the dangling-walk CTEs, then candidates /
    * robots rules / longest-match decision / rank join / per-domain
    * cap — the rules stated arithmetically (the e_robots_filter
    * oracle's discipline) and the walk reused verbatim.
    */
  private def frontierOracle: String =
    s"""WITH $danglingWalkCtes,
       |cand AS (
       |  SELECT dst AS doc_id, count(*)::BIGINT AS n_inlinks
       |  FROM dir WHERE dst % 3 = 0 GROUP BY dst
       |), urls AS (
       |  SELECT doc_id, doc_id % 20 AS h,
       |    CASE doc_id % 4
       |      WHEN 0 THEN '/private/p' || doc_id
       |      WHEN 1 THEN '/doc/open' || doc_id
       |      ELSE '/doc/d' || doc_id END AS path,
       |    n_inlinks
       |  FROM cand
       |), doms AS (SELECT DISTINCT h FROM urls),
       |rules AS (
       |  SELECT h, FALSE AS allow, '/private/' AS rpath FROM doms
       |  UNION ALL SELECT h, FALSE, '/doc/' FROM doms WHERE h % 3 = 0
       |  UNION ALL SELECT h, TRUE, '/doc/open' FROM doms WHERE h % 3 = 0
       |), matched AS (
       |  SELECT u.doc_id, r.allow, length(r.rpath) AS l
       |  FROM urls u JOIN rules r
       |    ON r.h = u.h AND starts_with(u.path, r.rpath)
       |), best AS (
       |  SELECT doc_id, allow FROM (
       |    SELECT doc_id, allow, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY l DESC, allow DESC) AS brn FROM matched)
       |  WHERE brn = 1
       |), ranked AS (
       |  SELECT u.doc_id, u.h, u.path, u.n_inlinks, r.r AS pr,
       |    row_number() OVER (PARTITION BY u.h
       |      ORDER BY r.r DESC, u.doc_id) AS fetch_rank
       |  FROM urls u
       |  JOIN r$PrIters r ON r.node = u.doc_id
       |  LEFT JOIN best b USING (doc_id)
       |  WHERE coalesce(b.allow, TRUE)
       |)
       |SELECT doc_id, 'site' || h AS domain, path, n_inlinks, pr,
       |  CAST(fetch_rank AS INT) AS fetch_rank
       |FROM ranked WHERE fetch_rank <= $FrontierCap
       |ORDER BY domain, fetch_rank""".stripMargin

  val oracles: Map[String, String] = Map(
    "e_pagerank" -> pageRankOracle,
    "e_pagerank_links" -> pageRankLinksOracle,
    "e_pagerank_dangling" -> pageRankDanglingOracle,
    "e_pipeline_frontier" -> frontierOracle,
    "e_triangles" ->
      s"""WITH $edgeCtes,
        |deg AS (
        |  SELECT x AS node, count(*) AS d
        |  FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY x
        |),
        |tri AS (
        |  SELECT count(*) AS t
        |  FROM edges e1
        |  JOIN edges e2 ON e1.v = e2.u
        |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        |)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vertices,
        |       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
        |       (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg)
        |         AS n_wedges,
        |       (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles""".stripMargin,
  )
}
