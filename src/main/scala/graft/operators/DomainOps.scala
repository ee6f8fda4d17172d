package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Domain-level corpus curation — the per-source moves web-scale
  * training-data pipelines apply before any document-level work
  * (C4's blocklist pass, RefinedWeb/Dolma per-domain caps and
  * duplication audits), keyed on the fixture's `source` column.
  *
  * Scale shapes:
  *  - the CAP never sorts a domain's documents globally: the bounded
  *    [[graft.functions.TopK]] aggregator carries at most `cap` rows
  *    per domain through partial aggregation, so a hot domain with
  *    10⁹ docs still ships `cap` rows to its reducer (the
  *    e_topk_per_key mechanism — its window twin is proven identical
  *    by the shared oracle there);
  *  - the REPORT rides the proven md5-minhash near-dup machinery
  *    (one flag semi-join) plus one |domains|-bounded rollup.
  */
object DomainOps {
  type Q = (SparkSession, String) => DataFrame

  /** Cap on documents kept per domain (the gate parameter). */
  val DomainCap = 10

  /** Blocked domains — a C4-style manual blocklist. The fixture's
    * source vocabulary is fixed (src0..src19 at every SF), so the
    * list is a stable constant on the gate.
    */
  val Blocklist = Seq("src3", "src7", "src13")

  /** Per-domain document cap: keep the `cap` highest-priority docs of
    * each domain, priority = (n_chars DESC, doc_id ASC) — the
    * keep-longest discipline at domain granularity. Bounded typed
    * aggregation, not a window: no domain is ever fully sorted and
    * only `cap` rows per domain cross the shuffle.
    */
  def domainCap(docs: DataFrame, cap: Int = DomainCap): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.{Scored, TopK}
    docs.select(col("source"), col("doc_id"), col("n_chars"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, id, nc) => Scored(nc.toDouble, id) }
      .agg(TopK.aggregator(cap).toColumn.name("top"))
      .flatMap { case (src, top) =>
        top.zipWithIndex.map { case (s, i) =>
          (src, s.id, s.score.toLong, i + 1) } }
      .toDF("source", "doc_id", "n_chars", "keep_rank")
  }

  /** Per-domain curation report: document count, near-duplicate count
    * (docs the proven md5-minhash LSH dedup would drop — the
    * e_dedup_minhash_md5 machinery, so the whole report replays in
    * the oracle), duplication rate, blocklist verdict, and the
    * resulting keep budget (0 for blocked domains, survivors
    * otherwise). |domains| rows out at any corpus size.
    */
  def domainReport(docs: DataFrame): DataFrame = {
    // LEFT-JOIN the duplicate-id set directly (the oracle's own CTE
    // shape): a doc is a dup iff its id is in the set, so the old
    // docs ⟕ (docs ▷ dups) formulation — a SECOND full docs pass plus
    // a SortMergeJoin LeftAnti — collapses to one join against the
    // same dups frame. kept-is-null ≡ dup-is-not-null row for row.
    // Broadcast pinned deliberately (guide §3.1): the dup-id set is a
    // small fraction of the corpus — strictly smaller than the
    // SURVIVOR set the previous shape broadcast — and the estimate
    // coming out of the distinct aggregate is too pessimistic for the
    // planner to pick it on its own (it chose a SortMergeJoin that
    // re-exchanged and sorted the full docs side).
    val dup = broadcast(DedupOps.minhashMd5Dups(docs)
      .select(col("doc_id"), lit(1).as("dup")))
    val blocked = col("source").isin(Blocklist: _*)
    docs.join(dup, Seq("doc_id"), "left_outer")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup").isNotNull, 1L).otherwise(0L)).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        blocked.as("blocked"),
        when(blocked, 0L).otherwise(col("n_docs") - col("n_dup"))
          .as("n_kept"))
  }

  // ---------------------------------------------------------------
  // URL canonicalization + URL-level dedup
  // ---------------------------------------------------------------

  /** Deterministic RAW-URL synthesis per doc (the synthHtml/PNG
    * discipline): docs 2g and 2g+1 carry the SAME logical URL in two
    * different raw forms — the even twin shouts (upper-case scheme and
    * host, explicit default port, `www.` prefix, trailing slash,
    * unsorted query params, a fragment), the odd twin is already
    * tidy — so a correct canonicalizer collapses each pair to one
    * canonical URL and a broken one leaves 2× the URLs in the crawl
    * frontier.
    */
  private[graft] def synthUrl(docId: Column): Column = {
    val gid = floor(docId / 2).cast("long")
    val host = concat(lit("site"), pmod(gid, lit(20L)))
    val a = pmod(gid, lit(10L))
    when(pmod(docId, lit(2L)) === 0L,
      concat(lit("HTTPS://WWW."), upper(host),
        lit(".Example.COM:443/Articles/"), gid,
        lit("/?z=26&b=2&a="), a, lit("#top")))
      .otherwise(concat(lit("https://"), host,
        lit(".example.com/Articles/"), gid,
        lit("?a="), a, lit("&z=26&b=2")))
  }

  /** Canonicalize a URL column — the normalization every URL-keyed
    * frontier/dedup runs before hashing (scheme and host lowercased,
    * `www.` dropped, default port dropped, trailing path slash
    * dropped, query params SORTED, fragment dropped). One native
    * single-parse codegen kernel ([[graft.functions.UrlExprs.UrlCanon]]);
    * the original parse_url chain re-parsed the URL five times per row
    * through the interpreted ParseUrlEvaluator and is kept below as
    * [[urlCanonicalizeParsed]] — UrlCanonSpec pins byte-equality
    * between the two. Per-row map work, zero shuffle.
    */
  def urlCanonicalize(url: Column): Column =
    graft.functions.UrlExprs.urlCanon(url)

  /** The original parse_url/regex formulation — the kernel's
    * executable semantics spec (exercised only by UrlCanonSpec).
    */
  private[graft] def urlCanonicalizeParsed(url: Column): Column = {
    val proto = lower(parse_url(url, lit("PROTOCOL")))
    val host = regexp_replace(lower(parse_url(url, lit("HOST"))),
      "^www\\.", "")
    // parse_url's HOST drops every port; a NON-default port is part of
    // the resource identity and must survive — recover it from
    // AUTHORITY and drop it only when it is the scheme's default
    val port = regexp_extract(parse_url(url, lit("AUTHORITY")),
      ":(\\d+)$", 1)
    val isDefault = (proto === "http" && port === "80") ||
      (proto === "https" && port === "443")
    val portPart = when(port === "" || isDefault, lit(""))
      .otherwise(concat(lit(":"), port))
    val path = regexp_replace(parse_url(url, lit("PATH")), "/$", "")
    val query = parse_url(url, lit("QUERY"))
    val sortedQ = array_join(array_sort(split(query, "&")), "&")
    concat(proto, lit("://"), host, portPart, path,
      when(query.isNull || query === "", lit(""))
        .otherwise(concat(lit("?"), sortedQ)))
  }

  /** Gate form: synthesize each doc's raw URL, canonicalize, and rank
    * within each canonical URL (first-seen keeps, the URL-dedup vote).
    * Every pair of twins must collapse: url_rank 2 on every odd twin,
    * 1 everywhere else.
    */
  private val urlCanonQ: Q = (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        urlCanonicalize(synthUrl(col("doc_id"))).as("canon_url"))
      .withColumn("url_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("canon_url").orderBy("doc_id")))
      .orderBy("doc_id")

  /** THE crawl→curate composition, one Catalyst plan end-to-end: the
    * crawl payload arrives as HTML (synthesized real pages —
    * [[CorpusOps.synthHtml]]) with a raw URL per doc ([[synthUrl]]);
    * the pipeline extracts the main text ([[CorpusOps.htmlExtract]]),
    * drops URL-level duplicates on the canonical key (first-seen),
    * gates on quality computed from the EXTRACTED text (the
    * e_pipeline_e2e thresholds: ≥ 100 chars, alpha-ratio ≥ 0.8),
    * drops blocklisted domains, and reports per-domain survivors.
    * Every stage is individually oracle-proven; this row proves they
    * COMPOSE — and because extraction round-trips (the e_html_extract
    * contract), the oracle runs the downstream chain directly on the
    * original text with no HTML machinery.
    */
  private val crawlPipelineQ: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val extracted = docs.select(col("doc_id"), col("source"),
      CorpusOps.htmlExtract(
        CorpusOps.synthHtml(col("text"), col("doc_id"))).as("text"),
      urlCanonicalize(synthUrl(col("doc_id"))).as("canon_url"))
    val urlKept = extracted
      .withColumn("url_rank", row_number().over(
        Window.partitionBy("canon_url").orderBy("doc_id")))
      .where(col("url_rank") === 1)
    val alphaRatio =
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
        greatest(length(col("text")).cast("double"), lit(1.0))
    urlKept
      .where(length(col("text")) >= 100 && alphaRatio >= 0.8)
      .where(!col("source").isin(Blocklist: _*))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"))
      .orderBy("source")
  }

  /** The crawl pipeline with the TRAINED quality model as its gate —
    * the FineWeb-Edu/DCLM move that motivates [[QualityModelOps]]: the
    * fixed heuristic thresholds of [[crawlPipelineQ]] are replaced by
    * the model score (frozen weights from the full GD trajectory,
    * the e_stream_quality_model serve discipline) at the classifier's
    * 0.5 decision boundary. Everything else — HTML extraction,
    * canonical-URL first-seen dedup, the domain blocklist, the
    * per-domain rollup — is the same one Catalyst plan; the model gate
    * is one codegen'd polynomial over the EXTRACTED text, zero extra
    * shuffle. The oracle replays the full training trajectory
    * (e_quality_train's proven CTE chain) and feeds its final weights
    * into the same gate expression.
    */
  private val crawlPipelineModelQ: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val w = QualityModelOps.trainedWeights(spark, dir)
    val extracted = docs.select(col("doc_id"), col("source"),
      CorpusOps.htmlExtract(
        CorpusOps.synthHtml(col("text"), col("doc_id"))).as("text"),
      urlCanonicalize(synthUrl(col("doc_id"))).as("canon_url"))
    val urlKept = extracted
      .withColumn("url_rank", row_number().over(
        Window.partitionBy("canon_url").orderBy("doc_id")))
      .where(col("url_rank") === 1)
    urlKept
      .where(QualityModelOps.scoreOn(col("text"), w) >= 0.5)
      .where(!col("source").isin(Blocklist: _*))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"))
      .orderBy("source")
  }

  private val domainCapQ: Q = (spark, dir) =>
    domainCap(Tables.load(spark, dir, "documents"))
      .orderBy("source", "keep_rank")

  private val domainReportQ: Q = (spark, dir) =>
    domainReport(Tables.load(spark, dir, "documents"))
      .orderBy("source")

  // ---------------------------------------------------------------
  // Link extraction — the crawl-frontier / link-graph step
  // ---------------------------------------------------------------

  /** Deterministic LINKED page per doc: [[CorpusOps.synthHtml]] with an
    * in-body anchor block injected before the footer — 1 + doc_id % 4
    * anchors, anchor j a ROOT-RELATIVE href to doc (doc_id + 13·j)
    * mod n carrying unsorted params and a fragment (so extraction must
    * resolve AND canonicalize, not just regex). The nav block's "/" and
    * "/about" links stay in the page — an extractor that can't scope to
    * in-corpus links drags them into the graph.
    */
  private[graft] def synthLinkedPage(text: Column, docId: Column,
      n: Long): Column = {
    val nLinks = (pmod(docId, lit(4L)) + 1).cast("int")
    val anchors = transform(sequence(lit(1), nLinks), j =>
      concat(lit("<a class=\"r\" href=\"/doc/"),
        pmod(docId + lit(13L) * j, lit(n)),
        lit("?b=2&a=1#r"), j, lit("\">ref "), j, lit("</a>")))
    // literal (non-regex) replace: splice the anchors ahead of the footer
    org.apache.spark.sql.functions.replace(
      CorpusOps.synthHtml(text, docId), lit("<footer>"),
      concat(array_join(anchors, " "), lit("<footer>")))
  }

  /** Extract every `<a href>` from an HTML column, resolve root-relative
    * hrefs against the page's own URL (absolute hrefs pass through,
    * other relative forms are out of scope and dropped), and
    * canonicalize with [[urlCanonicalize]] — the step that turns crawl
    * payloads into a URL frontier and a link graph. Pure codegen'd
    * per-row work: regexp_extract_all + explode + parse_url; zero
    * shuffle, scan-speed at 100 TB.
    */
  def linkExtract(pages: DataFrame, htmlCol: String = "html",
      baseCol: String = "base_url"): DataFrame = {
    val hrefs = regexp_extract_all(col(htmlCol),
      lit("<a\\s[^>]*href=\"([^\"]*)\""), lit(1))
    val origin = concat(lower(parse_url(col(baseCol), lit("PROTOCOL"))),
      lit("://"), lower(parse_url(col(baseCol), lit("HOST"))))
    // origin is computed BELOW the explode — once per page, not once
    // per link row (Catalyst does not push projections through a
    // Generate, so the two parse_url calls stay at page granularity
    // instead of being inlined into every per-href filter/projection)
    pages.withColumn("origin", origin)
      .withColumn("href", explode(hrefs))
      .withColumn("resolved",
        when(col("href").startsWith("/"), concat(col("origin"), col("href")))
          .when(col("href").contains("://"), col("href"))
          .otherwise(lit(null)))
      .where(col("resolved").isNotNull)
      .drop("origin")
      .withColumn("link_url", urlCanonicalize(col("resolved")))
  }

  /** The in-corpus link graph as (src, dst) doc edges — shared by the
    * e_link_extract gate and the directed-PageRank composition
    * ([[GraphOps]]'s e_pagerank_links). The modulus n is one bounded
    * driver scalar (the pageRank |V| discipline).
    */
  private[graft] def linkEdgesWithUrl(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val n = docs.count()
    val pages = docs.select(col("doc_id"),
      concat(lit("https://site"), pmod(col("doc_id"), lit(7L)),
        lit(".example.org/page/"), col("doc_id")).as("base_url"),
      synthLinkedPage(col("text"), col("doc_id"), n).as("html"))
    // nullif-guarded extraction: a downstream predicate on dst_doc can
    // merge with (and reorder against) the scope filter, so the cast
    // must be NULL-safe on out-of-corpus links (ANSI cast of '' throws).
    // dst_doc reads the PRE-canonicalization `resolved` form:
    // canonicalization never touches the path segment the regex keys on
    // (host has no '/', query/fragment follow the path), so the first
    // "/doc/<digits>" match is identical in both strings — and keying
    // the filter on `resolved` keeps the inferred IS NOT NULL predicate
    // from inlining the canonicalization kernel into the scan filter
    // (it used to run the full parse_url chain once in the filter and
    // again in the projection).
    linkExtract(pages)
      .withColumn("dst_doc",
        nullif(regexp_extract(col("resolved"), "/doc/([0-9]+)", 1),
          lit("")).cast("long"))
      .where(col("dst_doc").isNotNull)
      .select(col("doc_id").as("src_doc"), col("dst_doc"), col("link_url"))
  }

  private val linkExtractQ: Q = (spark, dir) =>
    linkEdgesWithUrl(spark, dir).orderBy("src_doc", "dst_doc")

  /** The (src_doc, dst_doc) edge set MATERIALIZED once per
    * (app, dataset) — the graph lanes' shared input. The three graph
    * consumers (e_pagerank_links, e_pagerank_dangling,
    * e_pipeline_frontier) each referenced [[linkEdgesWithUrl]] several
    * times per plan (the walk's deg/dir/nodes persists on a cold
    * build, the frontier's candidate and robots-domain branches on
    * EVERY pass), and Catalyst re-derives the whole synthesize→
    * extract→resolve chain per reference (r17 before-plan:
    * e_pipeline_frontier carried 26 parquet scans). The edge list
    * itself is tiny (≈2.5 rows/page of two longs), so one stored frame
    * buys every later reference at in-memory cost (a rebuild
    * re-extracts deterministically). e_link_extract does NOT ride this memo: its
    * declared output carries link_url and its pinned plan shape is
    * the extraction chain itself.
    */
  private[graft] def linkEdges(spark: SparkSession, dir: String): DataFrame =
    graft.engine.CacheRegistry.frame("domain.linkEdges", dir)(
      linkEdgesWithUrl(spark, dir).select("src_doc", "dst_doc"))

  // ---------------------------------------------------------------
  // robots.txt politeness filtering (RFC 9309)
  // ---------------------------------------------------------------

  /** Deterministic robots.txt TEXT per domain h (the synthHtml/WARC
    * discipline — build the real artifact, parse it with the real
    * parser): a `googlebot` group that disallows everything (must be
    * IGNORED — we are the `*` agent), then the `*` group with
    * `Disallow: /private/` everywhere, `Disallow: /doc/` +
    * `Allow: /doc/open` on h % 3 = 0 domains (the longest-match +
    * allow-wins probe), and an EMPTY `Disallow:` on h % 5 = 0 domains
    * (RFC: empty pattern = no restriction — a naive parser that turns
    * it into "block everything with prefix ''" fails the gate).
    * Field names are deliberately MIXED-CASE (`user-agent`, `DISALLOW`,
    * `allow`) — RFC 9309 §2.1 field names are case-insensitive, and a
    * parser matching them case-sensitively fails OPEN on real robots
    * files, so the fixture exercises the hazard on the gate itself.
    */
  private[graft] def synthRobotsTxt(h: Column): Column = concat(
    lit("user-agent: googlebot\nDISALLOW: /\n\n"),
    lit("User-Agent: *\nDisallow: /private/\n"),
    when(pmod(h, lit(3L)) === 0,
      lit("DISALLOW: /doc/\nallow: /doc/open\n")).otherwise(lit("")),
    when(pmod(h, lit(5L)) === 0, lit("disallow:\n")).otherwise(lit("")))

  /** Parse robots.txt text RELATIONALLY: posexplode the lines, scope
    * each rule to its user-agent group with a running `last(agent)`
    * window, keep the `*` group's non-empty Allow/Disallow patterns.
    * Field names match CASE-INSENSITIVELY (RFC 9309 §2.1: "the field
    * type is case-insensitive") — `disallow:`/`ALLOW:`/`User-Agent:`
    * all parse; a case-sensitive parser drops rules and fails OPEN
    * (crawls what the site disallowed). Returns (domainCol, allow,
    * path, l) — one tiny frame (|domains| × ≤4 rules) meant to be
    * aggregated per domain and broadcast.
    */
  def parseRobots(robots: DataFrame, domainCol: String = "h",
      txtCol: String = "robots_txt"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = robots.select(col(domainCol),
      posexplode(split(col(txtCol), "\n")).as(Seq("pos", "line")))
    val w = Window.partitionBy(domainCol).orderBy("pos")
    lines
      .withColumn("ua", when(col("line").rlike("(?i)^user-agent:"),
        trim(regexp_extract(col("line"), "(?i)^user-agent:\\s*(.*)$", 1))))
      .withColumn("grp", last(col("ua"), ignoreNulls = true).over(w))
      .where(col("grp") === "*" &&
        col("line").rlike("(?i)^(allow|disallow):"))
      .select(col(domainCol),
        col("line").rlike("(?i)^allow:").as("allow"),
        trim(regexp_extract(col("line"),
          "(?i)^(?:allow|disallow):\\s*(.*)$", 1)).as("path"))
      .where(col("path") =!= "") // RFC 9309: empty pattern = no rule
      .withColumn("l", length(col("path")))
  }

  /** Decide allowed/blocked for a URL-path frontier against parsed
    * rules — RFC 9309 longest-match, Allow wins ties, no match allows.
    * The rules aggregate to ONE array per domain (|domains| rows,
    * broadcast) and the decision is a codegen'd fold over ≤k rules per
    * frontier row: zero shuffle on the frontier at any scale.
    */
  def robotsFilter(frontier: DataFrame, rules: DataFrame,
      domainCol: String = "h", pathCol: String = "path"): DataFrame = {
    val ruleArr = rules.groupBy(domainCol)
      .agg(sort_array(collect_list(
        struct(col("l"), col("allow"), col("path")))).as("rules"))
    val init = struct(lit(-1).cast("int").as("l"),
      lit(true).as("allow"), lit("").as("path"))
    val best = aggregate(
      coalesce(col("rules"),
        array().cast("array<struct<l:int,allow:boolean,path:string>>")),
      init,
      (acc, r) => when(
        col(pathCol).startsWith(r.getField("path")) &&
          (r.getField("l") > acc.getField("l") ||
            (r.getField("l") === acc.getField("l") &&
              r.getField("allow"))), r).otherwise(acc))
    frontier.join(broadcast(ruleArr), Seq(domainCol), "left_outer")
      .withColumn("allowed", best.getField("allow"))
      .drop("rules")
  }

  private val robotsQ: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val doms = docs.select(pmod(col("doc_id"), lit(20L)).as("h")).distinct()
    val rules = parseRobots(
      doms.withColumn("robots_txt", synthRobotsTxt(col("h"))))
    val frontier = docs.select(col("doc_id"),
      pmod(col("doc_id"), lit(20L)).as("h"),
      when(pmod(col("doc_id"), lit(4L)) === 0,
        concat(lit("/private/p"), col("doc_id")))
        .when(pmod(col("doc_id"), lit(4L)) === 1,
          concat(lit("/doc/open"), col("doc_id")))
        .otherwise(concat(lit("/doc/d"), col("doc_id"))).as("path"))
    robotsFilter(frontier, rules)
      .select(col("doc_id"), concat(lit("site"), col("h")).as("domain"),
        col("path"), col("allowed"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "e_domain_cap" -> domainCapQ,
    "e_domain_report" -> domainReportQ,
    "e_url_canon" -> urlCanonQ,
    "e_pipeline_crawl" -> crawlPipelineQ,
    "e_pipeline_crawl_model" -> crawlPipelineModelQ,
    "e_link_extract" -> linkExtractQ,
    "e_robots_filter" -> robotsQ,
  )

  /** Shared link-graph arithmetic CTEs: anchor j exists iff
    * j ≤ 1 + doc_id % 4, dst = (doc_id + 13·j) mod |docs| — the oracle
    * needs no HTML/URL machinery because synthesis is arithmetic and
    * extraction must round-trip it.
    */
  private[graft] def linkEdgeCtes: String =
    """ln AS (SELECT count(*) AS c FROM documents),
      |edges AS (
      |  SELECT d.doc_id AS src_doc,
      |    (d.doc_id + 13 * j.j) % (SELECT c FROM ln) AS dst_doc
      |  FROM documents d, (VALUES (1), (2), (3), (4)) j(j)
      |  WHERE j.j <= 1 + d.doc_id % 4
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the oracle states the RULES as arithmetic (parsing must recover
    // them — googlebot group ignored, empty Disallow dropped) and the
    // RFC 9309 decision as a longest-match window (l DESC, allow DESC)
    "e_robots_filter" ->
      """WITH doms AS (SELECT DISTINCT doc_id % 20 AS h FROM documents),
        |rules AS (
        |  SELECT h, FALSE AS allow, '/private/' AS path FROM doms
        |  UNION ALL SELECT h, FALSE, '/doc/' FROM doms WHERE h % 3 = 0
        |  UNION ALL SELECT h, TRUE, '/doc/open' FROM doms WHERE h % 3 = 0
        |), urls AS (
        |  SELECT doc_id, doc_id % 20 AS h,
        |    CASE doc_id % 4
        |      WHEN 0 THEN '/private/p' || doc_id
        |      WHEN 1 THEN '/doc/open' || doc_id
        |      ELSE '/doc/d' || doc_id END AS path
        |  FROM documents
        |), matched AS (
        |  SELECT u.doc_id, r.allow, length(r.path) AS l
        |  FROM urls u JOIN rules r
        |    ON r.h = u.h AND starts_with(u.path, r.path)
        |), best AS (
        |  SELECT doc_id, allow FROM (
        |    SELECT doc_id, allow, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY l DESC, allow DESC) AS rn FROM matched)
        |  WHERE rn = 1
        |)
        |SELECT u.doc_id, 'site' || u.h AS domain, u.path,
        |  coalesce(b.allow, TRUE) AS allowed
        |FROM urls u LEFT JOIN best b USING (doc_id)
        |ORDER BY u.doc_id""".stripMargin,
    "e_link_extract" ->
      s"""WITH $linkEdgeCtes
         |SELECT src_doc, dst_doc,
         |  'https://site' || (src_doc % 7) || '.example.org/doc/' ||
         |    dst_doc || '?a=1&b=2' AS link_url
         |FROM edges ORDER BY src_doc, dst_doc""".stripMargin,
    // the canonical form reconstructed by pure doc_id arithmetic (the
    // synthesis is arithmetic, so the oracle needs no URL machinery),
    // then the same first-seen rank over it — twins must collapse
    "e_url_canon" ->
      """WITH canon AS (
        |  SELECT doc_id,
        |    'https://site' || ((doc_id // 2) % 20) ||
        |    '.example.com/Articles/' || (doc_id // 2) ||
        |    '?a=' || ((doc_id // 2) % 10) || '&b=2&z=26' AS canon_url
        |  FROM documents
        |)
        |SELECT doc_id, canon_url, CAST(rn AS INT) AS url_rank FROM (
        |  SELECT doc_id, canon_url,
        |    row_number() OVER (PARTITION BY canon_url ORDER BY doc_id)
        |      AS rn
        |  FROM canon) t ORDER BY doc_id""".stripMargin,
    // the composed chain on the ORIGINAL text (extraction round-trips
    // by the e_html_extract contract): canonical-URL first-seen dedup,
    // the quality thresholds, the blocklist, the per-domain rollup
    "e_pipeline_crawl" ->
      s"""WITH canon AS (
        |  SELECT doc_id, source, text,
        |    'https://site' || ((doc_id // 2) % 20) ||
        |    '.example.com/Articles/' || (doc_id // 2) ||
        |    '?a=' || ((doc_id // 2) % 10) || '&b=2&z=26' AS canon_url
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text,
        |      row_number() OVER (PARTITION BY canon_url ORDER BY doc_id)
        |        AS rn
        |    FROM canon) t WHERE rn = 1
        |), gated AS (
        |  SELECT source, text FROM kept
        |  WHERE length(text) >= 100 AND
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |      AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0)
        |      >= 0.8
        |    AND source NOT IN (${Blocklist.map(s => s"'$s'").mkString(", ")})
        |)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(length(text))::BIGINT AS total_chars
        |FROM gated GROUP BY source ORDER BY source""".stripMargin,
    // the model-gated composition: the FULL training-trajectory replay
    // (e_quality_train's proven CTE chain) produces the frozen weights,
    // which gate the SAME canon-dedup → blocklist → rollup chain at the
    // 0.5 decision boundary — the oracle trains the model too
    "e_pipeline_crawl_model" ->
      s"""WITH ${QualityModelOps.featCte},
        |${QualityModelOps.iterCtes},
        |canon AS (
        |  SELECT doc_id, source, text,
        |    'https://site' || ((doc_id // 2) % 20) ||
        |    '.example.com/Articles/' || (doc_id // 2) ||
        |    '?a=' || ((doc_id // 2) % 10) || '&b=2&z=26' AS canon_url
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text,
        |      row_number() OVER (PARTITION BY canon_url ORDER BY doc_id)
        |        AS rn
        |    FROM canon) t WHERE rn = 1
        |), gated AS (
        |  SELECT k.source, k.text
        |  FROM kept k JOIN f ON f.doc_id = k.doc_id
        |  CROSS JOIN w${QualityModelOps.Iters} w
        |  WHERE w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3
        |        >= CAST(0.5 AS DOUBLE)
        |    AND k.source NOT IN (${Blocklist.map(s => s"'$s'").mkString(", ")})
        |)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(length(text))::BIGINT AS total_chars
        |FROM gated GROUP BY source ORDER BY source""".stripMargin,
    // the window formulation IS the cap's semantics (row_number over
    // the same total priority order); the engine's bounded aggregator
    // must reproduce it exactly
    "e_domain_cap" ->
      s"""SELECT source, doc_id, n_chars, CAST(rn AS INT) AS keep_rank
         |FROM (
         |  SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM documents
         |) t WHERE rn <= $DomainCap
         |ORDER BY source, keep_rank""".stripMargin,
    // dup flags replayed through the full verified-pair chain the
    // minhash-md5 dedup oracle proves; one rollup + the blocklist CASE
    "e_domain_report" -> {
      val inList = Blocklist.map(s => s"'$s'").mkString(", ")
      s"""WITH ${DedupOps.minhashMd5DupsCtes},
         |rep AS (
         |  SELECT d.source, count(*)::BIGINT AS n_docs,
         |    sum(CASE WHEN dups.doc_id IS NULL THEN 0 ELSE 1 END)::BIGINT
         |      AS n_dup
         |  FROM documents d LEFT JOIN dups USING (doc_id)
         |  GROUP BY d.source
         |)
         |SELECT source, n_docs, n_dup,
         |  round(n_dup::DOUBLE / n_docs, 6) AS dup_rate,
         |  source IN ($inList) AS blocked,
         |  CASE WHEN source IN ($inList) THEN 0
         |       ELSE n_docs - n_dup END AS n_kept
         |FROM rep ORDER BY source""".stripMargin
    },
  )
}
