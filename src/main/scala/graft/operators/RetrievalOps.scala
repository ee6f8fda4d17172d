package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Lexical top-k retrieval over a PERSISTED inverted index — the BM25
  * counterpart to the ANN family ([[SimilarityOps]]), and the tool a
  * training-data pipeline reaches for in contamination audits and
  * targeted corpus probes ("which documents score highest for this
  * query?").
  *
  * Index shape (the e_ann_ivf_persisted discipline: build is a batch
  * job, probes only read): postings are a BUCKETED-by-term managed
  * table `(term, doc_id, tf, dl)`; the document frequencies live in a
  * vocab-sized VERSIONED sidecar table `(term, df)` (separate because
  * an append changes df for existing terms — see
  * [[appendToBm25Index]]); N docs / T total tokens / the measured
  * maxima the exact-arithmetic guard needs are index metadata. A
  * probe filters the postings scan to the query's terms (bucket
  * pruning on the IN — only matching buckets are read), broadcasts
  * the probed sidecar rows and the tiny query-term frame, scores
  * map-side, and bounds the per-query top-k through
  * [[graft.functions.TopKAggregator]] so the final shuffle carries at
  * most k rows per query, never the match set. At 100 TB: probe cost
  * is proportional to the probed terms' posting lists, not the corpus.
  *
  * Scoring is BM25 (k1 = 1.2, b = 0.75) with one deliberate change:
  * the idf is the RATIONAL surrogate (N − df + ½)/(df + ½) — the
  * argument of the classic log-idf rather than its logarithm. Per
  * term this is a monotone transform (rank-equivalent), it never goes
  * negative on df > N/2 terms (a known BM25 wart), and — the reason
  * it's here — it keeps the whole score a ratio of two INTEGERS, so
  * both engines compute bit-identical doubles with one division
  * (the e_dsir_select no-transcendental discipline):
  *
  *   score(t,d) = ((2N−2df+1) · 22T · tf) /
  *                ((2df+1) · (10T·tf + 3T + 9·dl·N))
  *
  * which is idf · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with
  * avgdl = T/N and every fraction cleared (×10T top and bottom).
  * Every intermediate is guarded below 2⁵³ against the MEASURED
  * corpus maxima ([[requireExactLane]] — fails loudly before any
  * write); beyond that the score moves to DECIMAL(38,0).
  */
object RetrievalOps {
  type Q = (SparkSession, String) => DataFrame

  /** A built index: the bucketed postings tables (base + one per
    * committed append, all `(term, doc_id, tf, dl)` with the same
    * bucket spec), the document-frequency sidecar `(term, df)`
    * (|vocab| rows — the small table every real incremental inverted
    * index keeps SEPARATE from postings, because appending documents
    * changes df for existing terms and a denormalized df would force
    * a full postings rewrite), and the two corpus constants. The
    * sidecar name is VERSIONED: an append writes a new sidecar and
    * bumps the pointer, never overwriting a table a concurrent probe
    * may be reading (the AtomicPublish manifest discipline in
    * miniature). Postings are versioned the same way — each append is
    * its OWN table `<base>_b<ver>` (the Delta "commits add files, the
    * log names them" shape), which is what makes a replayed append
    * detectable and exactly-once (see [[appendToBm25Index]]); a
    * long-lived daily index would periodically compact the batch
    * tables back into the base (one rewrite, amortized).
    */
  final case class Bm25Index(table: String, postingTables: Seq[String],
      statsTable: String,
      nDocs: Long, totalTokens: Long, maxTf: Long, maxDl: Long)

  /** Build counter — observable by the reuse spec: repeated probes
    * must hit the persisted table, not rebuild it.
    */
  private[graft] val indexBuilds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  val Bm25K = 3

  /** Fixed two-term probe queries for the gate row (terms drawn from
    * the fixture vocabulary, present at every SF).
    */
  val DefaultQueries: Seq[(Int, String, String)] = Seq(
    (1, "table", "scan"), (2, "query", "join"), (3, "stream", "window"),
    (4, "vector", "data"), (5, "fast", "merge"))

  /** N-term probe queries (3–4 terms) for the e_bm25_multi gate row —
    * the arbitrary-arity surface a real user calls; the fixed-arity
    * [[DefaultQueries]] stay as the 2-term regression anchor.
    */
  val MultiQueries: Seq[(Int, Seq[String])] = Seq(
    (1, Seq("table", "scan", "data")),
    (2, Seq("query", "join", "fast", "merge")),
    (3, Seq("stream", "window", "batch")),
    (4, Seq("vector", "hash", "sort", "group")),
    (5, Seq("row", "column", "key")))

  /** Canonical (query_id, term, term_pos) rows: terms are DEDUPED and
    * SORTED, positions 1..n in sorted order. This single definition
    * fixes the score-summation order for BOTH engines — the N-term
    * total is a sequential left fold over term_pos, so identical
    * positions ⇒ bit-identical double sums (adding a missing term's
    * 0.0 anywhere is an exact identity, so the oracle's fixed-arity
    * pivot sum equals the engine's fold over only-matched terms).
    */
  private[graft] def canonTerms(qs: Seq[(Int, Seq[String])])
      : Seq[(Int, String, Int)] =
    qs.flatMap { case (id, ts) =>
      ts.distinct.sorted.zipWithIndex.map { case (t, i) => (id, t, i + 1) }
    }

  /** THE tokenization of the index — build and append MUST tokenize
    * identically (the append ≡ rebuild oracle equivalence rests on
    * it), so both paths call this one definition. Returns the
    * per-(term, doc) tf frame and the per-doc dl frame, both off one
    * shared token projection.
    */
  private def tokStats(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("term"))
    (toks.groupBy("term", "doc_id").agg(count(lit(1)).as("tf")),
      toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
  }

  /** Loud exact-arithmetic guard: every integer the score forms must
    * stay below 2^53 so the ONE double division is bit-identical in
    * both engines (and never silently wraps a Long). Bounds use the
    * MEASURED maxima, not a proxy on T alone:
    *   num ≤ (2N−1) · 22T · maxTf
    *   den ≤ (2N+1) · (10T·maxTf + 3T + 9·maxDl·N)
    */
  private[graft] def requireExactLane(n: Long, t: Long, maxTf: Long,
      maxDl: Long): Unit = {
    val cap = BigInt(1) << 53
    val numMax = (BigInt(2) * n - 1) * (BigInt(22) * t) * maxTf
    val denMax = (BigInt(2) * n + 1) *
      (BigInt(10) * t * maxTf + BigInt(3) * t + BigInt(9) * maxDl * n)
    require(numMax < cap && denMax < cap,
      s"BM25 exact-integer scoring exceeds 2^53 (n=$n, t=$t, " +
        s"maxTf=$maxTf, maxDl=$maxDl) — switch the score to DECIMAL(38,0)")
  }

  /** Build the persisted postings index for a document frame. One
    * tokenize pass (tf/dl persisted so the postings write, the sidecar
    * write, and the stats probe share it instead of re-tokenizing
    * three times), one bucketed postings write, one |vocab|-row
    * sidecar write.
    */
  def buildBm25IndexFor(docs: DataFrame, tblPrefix: String,
      buckets: Int = 8): Bm25Index = {
    indexBuilds.incrementAndGet()
    val (tf0, dl0) = tokStats(docs)
    val tf = tf0.persist(); val dl = dl0.persist()
    try {
      val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("t"),
        coalesce(max("dl"), lit(0L)).as("mdl")).head()
      val (n, t, maxDl) = (stats.getLong(0), stats.getLong(1),
        stats.getLong(2))
      val maxTf = tf.agg(coalesce(max("tf"), lit(0L))).head().getLong(0)
      // guard BEFORE any write — a failed build must leave nothing
      requireExactLane(n, t, maxTf, maxDl)
      val postings = tf.join(dl, "doc_id")
        .select("term", "doc_id", "tf", "dl")
      graft.sources.Bucketing.saveBucketed(postings, tblPrefix, "term",
        buckets)
      tf.groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${tblPrefix}_stats_v1")
      // a REBUILD resets the append epoch: a stale marker from a prior
      // index under the same prefix must not make a first append on
      // the fresh index look like a replay
      java.nio.file.Files.deleteIfExists(
        epochMarker(docs.sparkSession, tblPrefix))
      Bm25Index(tblPrefix, Seq(tblPrefix), s"${tblPrefix}_stats_v1",
        n, t, maxTf, maxDl)
    } finally { tf.unpersist(); dl.unpersist() }
  }

  /** Build (or fetch) the full-corpus index for a dataset. Same
    * staleness contract as the IVF index cache: the dataset dir is
    * immutable within an application.
    */
  def buildBm25Index(spark: SparkSession, dir: String,
      buckets: Int = 8): Bm25Index =
    memoIndex(spark, dir, s"idx_$buckets")(
      buildBm25IndexFor(Tables.load(spark, dir, "documents"), _, buckets))

  /** The memo of a dataset's managed-table index, one per lane (the
    * lane names every build parameter): tables and epoch markers live
    * under `graft_bm25_<lane>_<dir hash>`, dropped before the build (a
    * rebuild starts from a clean prefix) and at eviction.
    */
  private def memoIndex(spark: SparkSession, dir: String, lane: String)(
      build: String => Bm25Index): Bm25Index = {
    val prefix = s"graft_bm25_${lane}_${Integer.toHexString(dir.hashCode)}"
    graft.engine.CacheRegistry.memo("retrieval.bm25", dir, lane)({
      graft.sources.Bucketing.dropManaged(spark, prefix)
      build(prefix)
    })(_ => graft.sources.Bucketing.dropManaged(spark, prefix))
  }

  /** INCREMENTAL APPEND — the index-maintenance half of the lexical
    * family (the [[SimilarityOps]] appendToIvfIndex /
    * [[DedupOps]] e_dedup_incr discipline): new documents land as an
    * APPEND of bucketed posting files (same bucket spec ⇒ bucket
    * pruning and co-location keep holding), the |vocab|-row df sidecar
    * is re-derived by a tiny merge aggregation written to a NEW
    * version, and the corpus constants advance. Cost is O(batch
    * postings + vocab) — the existing posting files are never read or
    * rewritten, which is the property that makes a 100 TB index
    * maintainable by a daily crawl append.
    */
  /** How many superseded df sidecars an append leaves behind (the
    * AtomicPublish keep-N retention discipline): the CURRENT one plus
    * `SidecarRetain - 1` predecessors survive; older versions are
    * dropped, so a daily append does not accrete vocab-sized tables
    * forever. A reader pinned to a retained version is undisturbed.
    */
  val SidecarRetain = 2

  /** Epoch marker recording the last COMMITTED append of an index
    * prefix — batch id, sidecar version, and the post-append corpus
    * constants (everything a replayed caller needs to reconstruct the
    * committed Bm25Index without touching data). Lives next to the
    * managed tables under the session warehouse; committed with the
    * AtomicPublish tmp-write + atomic-rename protocol.
    */
  private[graft] def epochMarker(spark: SparkSession,
      table: String): java.nio.file.Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val dir = Option(new java.net.URI(wh).getPath).getOrElse(wh)
    java.nio.file.Paths.get(dir).resolve(s"_graft_bm25_$table.epoch.json")
  }

  /** (lastBatch, statsVer, n, t, maxTf, maxDl, postingTables). The
    * table list is stored EXPLICITLY (not derived from the version
    * counter) so compaction — which collapses many tables into one —
    * composes with the replay guard.
    */
  private def readEpoch(p: java.nio.file.Path)
      : Option[(Long, Int, Long, Long, Long, Long, Seq[String])] = {
    if (!java.nio.file.Files.exists(p)) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      def f(k: String) = (s""""$k"\\s*:\\s*(-?\\d+)""").r
        .findFirstMatchIn(txt).map(_.group(1).toLong)
      val tbls = """"tables"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(txt)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
          .stripSuffix("\"")).filter(_.nonEmpty).toSeq)
      for (b <- f("lastBatch"); v <- f("ver"); n <- f("n"); t <- f("t");
           mtf <- f("maxTf"); mdl <- f("maxDl"); tb <- tbls)
        yield (b, v.toInt, n, t, mtf, mdl, tb)
    }
  }

  /** Commit an epoch marker atomically (tmp write + rename). */
  private def writeEpoch(marker: java.nio.file.Path, lastBatch: Long,
      ver: Int, n: Long, t: Long, maxTf: Long, maxDl: Long,
      tables: Seq[String]): Unit = {
    val tblsJson = tables.map(t => s""""$t"""").mkString(",")
    val tmp = marker.resolveSibling(marker.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      (s"""{"lastBatch":$lastBatch,"ver":$ver,"n":$n,"t":$t,""" +
        s""""maxTf":$maxTf,"maxDl":$maxDl,"tables":[$tblsJson]}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, marker,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** EXACTLY-ONCE failure/visibility contract (the publishStreamBatch
    * protocol applied to index maintenance), in write order:
    *  1. REPLAY GUARD: a `batchId` at or below the committed epoch's
    *     lastBatch means this append fully committed before (the
    *     caller crashed between commit and recording the returned
    *     index) — reconstruct the committed index from the marker and
    *     touch nothing. batchId = -1 opts out (single-shot callers).
    *  2. batch stats + the exact-lane guard run BEFORE any write — a
    *     batch that would overflow the integer score leaves the index
    *     untouched (no half-committed append to retry into).
    *  3. batch postings land in their OWN versioned bucketed table
    *     `<base>_b<ver>` with mode OVERWRITE — a torn or duplicated
    *     retry replaces its own debris, never duplicates rows, and
    *     the existing posting tables are never read or rewritten
    *     (append cost stays O(batch postings + vocab)).
    *  4. the merged df sidecar lands at _v<ver>, also OVERWRITE. It
    *     merges from the CALLER's sidecar version, so a retry
    *     re-merges from the same v(N) — never double-counts.
    *  5. the epoch marker's atomic rename is the COMMIT POINT: until
    *     it lands, a probe through any committed Bm25Index value sees
    *     no trace of the batch (its tables are named by no index
    *     value); after it, the replay guard makes retries no-ops.
    *  6. retention GC tracks its floor: each append drops exactly the
    *     one sidecar version falling out of the window — O(1) catalog
    *     calls per append, not O(appends).
    * Probes hold a Bm25Index VALUE and read exactly the tables it
    * names — full snapshot isolation (the in-place bucketed-append
    * design this replaces had bounded staleness mid-append).
    */
  def appendToBm25Index(idx: Bm25Index, newDocs: DataFrame,
      buckets: Int = 8, batchId: Long = -1L): Bm25Index = {
    val spark = newDocs.sparkSession
    val marker = epochMarker(spark, idx.table)
    val committed = readEpoch(marker)
    if (batchId >= 0 && committed.exists(batchId <= _._1)) {
      // replayed append: reconstruct the committed index, change nothing
      val (_, ver, n, t, mtf, mdl, tbls) = committed.get
      val base = idx.statsTable.substring(0, idx.statsTable.lastIndexOf("_v"))
      return Bm25Index(idx.table, tbls, s"${base}_v$ver", n, t, mtf, mdl)
    }
    val (tf0, dl0) = tokStats(newDocs)
    val tf = tf0.persist(); val dl = dl0.persist()
    try {
      val stats = dl.agg(count(lit(1)).as("n"),
        coalesce(sum("dl"), lit(0L)).as("t"),
        coalesce(max("dl"), lit(0L)).as("mdl")).head()
      val n = idx.nDocs + stats.getLong(0)
      val t = idx.totalTokens + stats.getLong(1)
      val maxDl = math.max(idx.maxDl, stats.getLong(2))
      val maxTf = math.max(idx.maxTf,
        tf.agg(coalesce(max("tf"), lit(0L))).head().getLong(0))
      requireExactLane(n, t, maxTf, maxDl)       // before any write
      val base = idx.statsTable.substring(0, idx.statsTable.lastIndexOf("_v"))
      val ver = idx.statsTable.substring(
        idx.statsTable.lastIndexOf("_v") + 2).toInt + 1
      val nextStats = s"${base}_v$ver"
      val batchTable = s"${idx.table}_b$ver"
      graft.sources.Bucketing.saveBucketed(
        tf.join(dl, "doc_id").select("term", "doc_id", "tf", "dl"),
        batchTable, "term", buckets)
      // df merge: old sidecar + batch term-doc counts, one hash agg
      // over ~2·|vocab| rows; versioned write (readers of _vN are
      // undisturbed)
      tf.groupBy("term").agg(count(lit(1)).as("df"))
        .unionByName(spark.table(idx.statsTable))
        .groupBy("term").agg(sum("df").as("df"))
        .write.mode("overwrite").format("parquet").saveAsTable(nextStats)
      if (batchId >= 0) {
        writeEpoch(marker, batchId, ver, n, t, maxTf, maxDl,
          idx.postingTables :+ batchTable)
      }
      // floor-tracked GC: exactly the one version leaving the window
      val expired = ver - SidecarRetain
      if (expired >= 1) spark.sql(s"DROP TABLE IF EXISTS ${base}_v$expired")
      Bm25Index(idx.table, idx.postingTables :+ batchTable, nextStats,
        n, t, maxTf, maxDl)
    } finally { tf.unpersist(); dl.unpersist() }
  }

  /** COMPACTION — the maintenance op the versioned-append layout
    * calls for: fold the base + every committed batch posting table
    * into ONE fresh bucketed table, so probe plans stop unioning N
    * scans and the whole index is again a single co-located bucket
    * layout. One distributed rewrite of the postings, amortized over
    * all the appends it absorbs; the df sidecar is untouched (it
    * already IS the merged view) and the corpus constants carry over.
    * The append epoch resets with the new table name — a later append
    * starts a fresh batch sequence against the compacted base.
    * Contract: run at a quiescent point (no concurrent appends); the
    * absorbed tables are dropped AFTER the new base commits, so a
    * probe through the RETURNED value is complete and a reader still
    * pinned to the pre-compaction value must re-resolve first (the
    * AtomicPublish retention-window discipline, window = 0 here).
    */
  def compactBm25Index(spark: SparkSession, idx: Bm25Index,
      buckets: Int = 8): Bm25Index = {
    if (idx.postingTables.size == 1) return idx
    val ver = idx.statsTable.substring(
      idx.statsTable.lastIndexOf("_v") + 2).toInt
    val newBase = s"${idx.table}_c$ver"
    graft.sources.Bucketing.saveBucketed(
      idx.postingTables.map(spark.table).reduce(_ unionByName _),
      newBase, "term", buckets)
    // exactly-once must survive maintenance: the OLD prefix's epoch
    // marker still gates replayed appends (batchId <= lastBatch — the
    // crash-retry case), and its reconstruction path names the table
    // list verbatim. Rewrite it to name the compacted table, lastBatch
    // and corpus constants preserved, BEFORE the absorbed tables drop —
    // a replayed append after compaction then reconstructs a
    // Bm25Index over tables that exist (the compactLshIndex protocol).
    val oldMarker = epochMarker(spark, idx.table)
    readEpoch(oldMarker).foreach { case (b, v, n, t, mtf, mdl, _) =>
      writeEpoch(oldMarker, b, v, n, t, mtf, mdl, Seq(newBase))
    }
    // fresh epoch for the compacted prefix; absorbed tables drop last
    java.nio.file.Files.deleteIfExists(epochMarker(spark, newBase))
    idx.postingTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Bm25Index(newBase, Seq(newBase), idx.statsTable,
      idx.nDocs, idx.totalTokens, idx.maxTf, idx.maxDl)
  }

  /** Top-k docs per query by BM25 over the persisted index. Probe-only:
    * no tokenization of the corpus happens here.
    */
  def bm25TopK(spark: SparkSession, dir: String,
      queries: Seq[(Int, String, String)] = DefaultQueries,
      k: Int = Bm25K): DataFrame =
    bm25TopKOver(spark, buildBm25Index(spark, dir), queries, k)

  /** Two-term convenience wrapper over the N-term scorer (the original
    * fixed-arity surface; e_bm25_topk/e_bm25_incr anchor on it).
    */
  def bm25TopKOver(spark: SparkSession, idx: Bm25Index,
      queries: Seq[(Int, String, String)] = DefaultQueries,
      k: Int = Bm25K): DataFrame =
    bm25TopKOverN(spark, idx,
      queries.map { case (id, a, b) => (id, Seq(a, b)) }, k)

  /** N-TERM BM25 top-k — arbitrary query-term sets (terms are a SET:
    * deduped, sorted; see [[canonTerms]]). Determinism of the per-doc
    * total: each term's score is one double division of exact
    * integers, collected per (query, doc) and summed by a SEQUENTIAL
    * LEFT FOLD in sorted-term order — a fixed association order both
    * engines replay exactly (a plain SUM would add doubles in
    * partition order). The fold runs over ≤ |query| elements per
    * (query, doc) after the aggregation — bounded driver-free state.
    */
  def bm25TopKOverN(spark: SparkSession, idx: Bm25Index,
      queries: Seq[(Int, Seq[String])], k: Int = Bm25K): DataFrame = {
    import spark.implicits._
    import graft.functions.{Scored, TopK}
    val n = idx.nDocs
    val t = idx.totalTokens
    val qdf = canonTerms(queries).toDF("query_id", "term", "term_pos")
    val terms = queries.flatMap(_._2).distinct
    // IN on the bucket column → bucket pruning: only the probed terms'
    // buckets are read from EACH posting table (base + committed
    // batches scan independently, each pruned); df rides in from the
    // sidecar on a broadcast of the probed terms' rows only
    val post = idx.postingTables.map(spark.table).reduce(_ unionByName _)
      .where(col("term").isin(terms: _*))
      .join(broadcast(spark.table(idx.statsTable)
        .where(col("term").isin(terms: _*))), "term")
    // exact integer numerator/denominator (both < 2^53 — see guard),
    // then ONE double division: bit-identical in Spark and DuckDB
    val num = (lit(2L * n) - col("df") * 2L + 1L) * lit(22L * t) * col("tf")
    val den = (col("df") * 2L + 1L) *
      (lit(10L * t) * col("tf") + lit(3L * t) + col("dl") * lit(9L * n))
    val scored = post.join(broadcast(qdf), "term")
      .select(col("query_id"), col("doc_id"), col("term_pos"),
        (num.cast("double") / den.cast("double")).as("sc"))
    // per-(query, doc) total: sort the matched (term_pos, sc) pairs,
    // fold left — the fixed-order N-term sum (term_pos is unique per
    // (query, doc), so the sort is total)
    val totals = scored.groupBy("query_id", "doc_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("term_pos"), col("sc")))),
        lit(0.0), (acc, x) => acc + x.getField("sc")).as("total"))
    // bounded top-k per query (the knnJoin shape): partial aggregation
    // carries <= k rows per query through the shuffle; ties break
    // (score DESC, doc_id ASC) like the oracle's row_number
    totals.select(col("query_id"), col("doc_id"), col("total"))
      .as[(Int, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, d, s) => Scored(s, d) }
      .agg(TopK.aggregator(k).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (s, i) => (qid, s.id, s.score, i + 1) } }
      .toDF("query_id", "doc_id", "score", "rank")
      .select(col("query_id"), col("doc_id"),
        round(col("score"), 6).as("score_r"), col("rank"))
      .orderBy("query_id", "rank")
  }

  private val bm25TopkQ: Q = (spark, dir) => bm25TopK(spark, dir)

  private val bm25MultiQ: Q = (spark, dir) =>
    bm25TopKOverN(spark, buildBm25Index(spark, dir), MultiQueries)

  /** Gate row: build the index WITHOUT the doc_id % 10 == 0 documents
    * (a deterministic split: every 10th document arrives "later"),
    * append them through [[appendToBm25Index]], probe. The oracle is
    * the full-corpus BM25 replay VERBATIM — an appended index must be
    * indistinguishable from a from-scratch build.
    */
  private val bm25IncrQ: Q = (spark, dir) => {
    val idx = memoIndex(spark, dir, "incr") { p =>
      val docs = Tables.load(spark, dir, "documents")
      val base = buildBm25IndexFor(docs.where(col("doc_id") % 10 =!= 0), p)
      // batchId = 0: the gate exercises the exactly-once epoch path
      appendToBm25Index(base, docs.where(col("doc_id") % 10 === 0),
        batchId = 0L)
    }
    bm25TopKOver(spark, idx)
  }

  /** Gate row: build-without-tenth, append the tenth (epoch path),
    * COMPACT, probe. A compacted index must be indistinguishable from
    * a from-scratch full build — the oracle is the full-corpus replay
    * VERBATIM (the e_bm25_incr contract extended through compaction).
    */
  private val bm25CompactQ: Q = (spark, dir) => {
    val idx = memoIndex(spark, dir, "cpt") { p =>
      val docs = Tables.load(spark, dir, "documents")
      val base = buildBm25IndexFor(docs.where(col("doc_id") % 10 =!= 0), p)
      compactBm25Index(spark,
        appendToBm25Index(base, docs.where(col("doc_id") % 10 === 0),
          batchId = 0L))
    }
    bm25TopKOver(spark, idx)
  }

  /** Retrieval-quality EVALUATION — the measurement loop every
    * retrieval deployment runs against a labeled set: per query, gold
    * relevance is SET-BASED (a document is relevant iff it contains
    * BOTH query terms — boolean-AND gold, independent of the scoring
    * function being graded), and the BM25 ranking at depth
    * [[HybridDepth]] is graded with recall@k, precision@k, and MRR.
    * The metric arithmetic is rank-integer + one division each (the
    * no-transcendental discipline — nDCG's log2 is deliberately
    * traded for MRR, which carries the same top-heaviness signal
    * exactly). Scale shape: gold marking is one map-side distinct-term
    * explode + a broadcast join of the query terms; metrics aggregate
    * ≤ |gold| + k rows per query.
    */
  private val retrievalEvalQ: Q = (spark, dir) => {
    import spark.implicits._
    val k = HybridDepth
    val qdf = DefaultQueries
      .flatMap { case (id, a, b) => Seq((id, a), (id, b)) }
      .toDF("query_id", "term")
    // distinct terms per doc, broadcast-joined to the query terms; a
    // doc is gold for q iff it matches BOTH of q's (distinct) terms
    val docTerms = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), " "))).as("term"))
    val gold = docTerms.join(broadcast(qdf), "term")
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("nt"))
      .where(col("nt") === 2)
      .select("query_id", "doc_id")
    val ranked = bm25TopK(spark, dir, DefaultQueries, k = k)
      .select("query_id", "doc_id", "rank")
    gold.join(ranked, Seq("query_id", "doc_id"), "left_outer")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_gold"),
        count(col("rank")).as("n_hits"),
        min(col("rank")).as("first_hit"))
      .select(col("query_id"), col("n_gold"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_gold"), 6)
          .as(s"recall_at_$k"),
        round(col("n_hits").cast("double") / lit(k), 6)
          .as(s"precision_at_$k"),
        when(col("first_hit").isNull, lit(0.0))
          .otherwise(round(lit(1.0) / col("first_hit"), 6)).as("mrr"))
      .orderBy("query_id")
  }

  /** Fusion depth per retriever, output depth, and the RRF constant
    * (Cormack et al. SIGIR'09 use 60; it is the de-facto standard).
    */
  val HybridDepth = 10
  val HybridK = 5
  val RrfC = 60

  /** HYBRID retrieval — reciprocal-rank fusion of the lexical (BM25)
    * and dense (cosine ANN) retrievers, the standard 2-retriever
    * hybrid-search composition: each query q (1..5) pairs its BM25
    * term query with an example embedding (vec_id = q), takes the
    * top-[[HybridDepth]] list from each retriever, and fuses by
    * RRF(d) = Σ_r 1/(C + rank_r(d)) over the lists containing d.
    * "Docs lexically matching the terms OR semantically near the
    * example" — contamination audits and targeted corpus probes run
    * exactly this.
    *
    * Determinism: each reciprocal term is one double division of
    * exact integers and the two-term sum is written in fixed order
    * (the BM25 total's discipline), so both engines produce identical
    * doubles; ties break by doc_id. Scale shape: both inputs are
    * already bounded top-k pipelines (index probe + broadcast k-NN
    * with the TopK aggregator); fusion joins two ≤(queries·depth)
    * frames — driver-trivial at any corpus size.
    */
  def hybridRetrieval(spark: SparkSession, dir: String): DataFrame =
    hybridOver(spark, dir,
      SimilarityOps.knnJoin(Tables.load(spark, dir, "embeddings"),
        k = HybridDepth,
        queryIds = Some(DefaultQueries.map(_._1.toLong))))

  /** [[hybridRetrieval]] with the dense retriever riding the PERSISTED
    * IVF index ([[SimilarityOps.probeIvfMany]]) — at 100 TB both
    * retrievers are now index probes: BM25 reads only the query terms'
    * posting buckets, the ANN side reads only the probed cells. The
    * brute-force form stays as the recall-truth twin.
    */
  def hybridRetrievalIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val index = SimilarityOps.loadIvfIndex(spark,
      SimilarityOps.persistedIndexPath(spark, dir))
    hybridOver(spark, dir,
      SimilarityOps.probeIvfMany(index,
        emb.where(col("vec_id").isin(DefaultQueries.map(_._1.toLong): _*))
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        nprobe = 4, k = HybridDepth))
  }

  private def hybridOver(spark: SparkSession, dir: String,
      annTopk: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25TopK(spark, dir, DefaultQueries, k = HybridDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val ann = annTopk
      .select(col("q_id").cast("int").as("query_id"),
        col("vec_id").as("doc_id"), col("nn_rank").as("ann_rank"))
    val fused = lex.join(ann, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("ann_rank"), lit(0)).as("ann_rank"))
      .withColumn("rrf",
        when(col("lex_rank") > 0,
          lit(1.0) / (lit(RrfC) + col("lex_rank")).cast("double"))
          .otherwise(lit(0.0)) +
        when(col("ann_rank") > 0,
          lit(1.0) / (lit(RrfC) + col("ann_rank")).cast("double"))
          .otherwise(lit(0.0)))
    // the window runs on <= queries*2*depth fused rows — bounded
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("fused_rank", row_number().over(w))
      .where(col("fused_rank") <= HybridK)
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("ann_rank"), round(col("rrf"), 6).as("rrf_r"),
        col("fused_rank"))
      .orderBy("query_id", "fused_rank")
  }

  private val hybridQ: Q = (spark, dir) => hybridRetrieval(spark, dir)

  private val hybridIvfQ: Q = (spark, dir) => hybridRetrievalIvf(spark, dir)

  // ------------------------------------------------------------------
  // MMR diversified reranking
  // ------------------------------------------------------------------

  /** MMR parameters: candidate depth n, selections k, relevance weight
    * λ. λ and (1−λ) are BOTH pinned as literals (0.7 / 0.3): computing
    * 1.0 − 0.7 in IEEE gives 0.30000000000000004, and the two engines
    * must multiply by the SAME double.
    */
  val MmrN = 8
  val MmrK = 4
  val MmrLambda = 0.7
  val MmrOneMinus = 0.3
  private[graft] val MmrQueryIds: Seq[Long] = Seq(1L, 2L, 3L, 4L, 5L)

  private def round6(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Maximal-marginal-relevance reranking (Carbonell & Goldstein,
    * SIGIR'98) — the diversity move a RAG pipeline runs on its
    * retrieved candidates: greedily pick k of the top-n, each step
    * maximizing λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), so
    * near-duplicate passages don't crowd the context window.
    *
    * Shape at 100 TB: the expensive part is the candidate top-n —
    * the ALREADY-BOUNDED [[SimilarityOps.knnJoin]] pipeline (or the
    * persisted-index bulk probe for big query sets); the greedy loop
    * is inherently sequential in k but runs on ≤ n candidates PER
    * QUERY — a per-group computation distributed across queries
    * (flatMapGroups over ≤ |queries|·n rows), never a driver loop and
    * never an unbounded state. Determinism: rel comes 6-dp rounded
    * from the proven knnJoin replay; pairwise sims round the same
    * cosine to 6 dp; the selection compares fixed-order doubles with
    * doc_id tie-breaks.
    */
  /** Candidate top-n rows (q_id, vec_id, cos_sim, nn_rank) with their
    * vectors re-attached: the candidate frame is ≤ |q|·n rows —
    * broadcast it into the embeddings scan, never the reverse. Shared
    * by the MMR reranker and the hard-negative miner, whichever lane
    * produced the candidates.
    */
  private def attachVectors(emb: DataFrame, cands: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, Long, Double, Int, Seq[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb
      .join(broadcast(cands), "vec_id")
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("nn_rank"),
        col("embedding").cast("array<double>").as("v"))
      .as[(Long, Long, Double, Int, Seq[Double])]
  }

  /** RECALL-TRUTH candidate lane: the exact brute-force
    * [[SimilarityOps.knnJoin]] scan — every corpus vector scored per
    * query. Correct at any index state, O(corpus × queries): the
    * measuring stick, not the production plan.
    */
  private def candidatesWithVectors(emb: DataFrame, queryIds: Seq[Long],
      n: Int): org.apache.spark.sql.Dataset[(Long, Long, Double, Int, Seq[Double])] =
    attachVectors(emb,
      SimilarityOps.knnJoin(emb, k = n, queryIds = Some(queryIds)))

  /** PRODUCTION candidate lane: the persisted-index bulk probe
    * ([[SimilarityOps.probeIvfMany]]) — one pruned cell scan (nprobe/
    * nlist of the index bytes), broadcast queries, bounded per-query
    * top-k. At 100 TB candidate generation IS the retrieval cost;
    * this lane scales with the probed cells, never the corpus.
    */
  private def candidatesIvf(spark: SparkSession, dir: String,
      queryIds: Seq[Long], n: Int)
      : org.apache.spark.sql.Dataset[(Long, Long, Double, Int, Seq[Double])] = {
    val emb = Tables.load(spark, dir, "embeddings")
    val index = SimilarityOps.loadIvfIndex(spark,
      SimilarityOps.persistedIndexPath(spark, dir))
    attachVectors(emb,
      SimilarityOps.probeIvfMany(index,
        emb.where(col("vec_id").isin(queryIds: _*))
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        nprobe = 4, k = n))
  }

  def mmrRerank(emb: DataFrame, queryIds: Seq[Long] = MmrQueryIds,
      n: Int = MmrN, k: Int = MmrK): DataFrame =
    mmrGreedy(candidatesWithVectors(emb, queryIds, n), k)

  /** [[mmrRerank]] riding the persisted IVF index for its candidates —
    * the production composition (pruned probe → greedy rerank). The
    * brute-force form stays registered as the recall-truth twin.
    */
  def mmrRerankIvf(spark: SparkSession, dir: String,
      queryIds: Seq[Long] = MmrQueryIds, n: Int = MmrN,
      k: Int = MmrK): DataFrame =
    mmrGreedy(candidatesIvf(spark, dir, queryIds, n), k)

  private def mmrGreedy(
      cands: org.apache.spark.sql.Dataset[(Long, Long, Double, Int, Seq[Double])],
      k: Int): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray.sortBy(_._4) // nn_rank order = (rel desc, id)
        val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
        val remaining = scala.collection.mutable.ArrayBuffer(cs: _*)
        (1 to math.min(k, cs.length)).map { t =>
          val scored = remaining.map { c =>
            val maxsim =
              if (selected.isEmpty) 0.0
              else selected.map(s =>
                round6(graft.functions.VectorOps.cosineSeq(c._5, s._2))).max
            (MmrLambda * c._3 - MmrOneMinus * maxsim, c)
          }
          val best = scored.reduceLeft { (a, b) =>
            if (b._1 > a._1 || (b._1 == a._1 && b._2._2 < a._2._2)) b else a
          }
          selected += ((best._2._2, best._2._5))
          remaining -= best._2
          (qid, t, best._2._2, best._2._3, best._1)
        }
      }
      .toDF("query_id", "mmr_rank", "doc_id", "rel", "mmr_score")
      .orderBy("query_id", "mmr_rank")
  }

  private val mmrQ: Q = (spark, dir) =>
    mmrRerank(Tables.load(spark, dir, "embeddings"))

  private val mmrIvfQ: Q = (spark, dir) => mmrRerankIvf(spark, dir)

  /** Hard-negative mining parameters: candidate depth, negatives kept
    * per query, and the false-negative ceiling (a candidate MORE
    * similar than this to the positive is presumed an unlabeled
    * positive and skipped — the DPR/contrastive-training hygiene rule).
    */
  val HnDepth = 8
  val HnK = 3
  val HnFalseNegSim = 0.9

  /** Mine (query, positive, hard-negative) triples for contrastive
    * training: per query the top-1 neighbor is the positive, and the
    * hard negatives are the NEXT candidates in rank order whose
    * similarity to the positive stays ≤ [[HnFalseNegSim]] (near-dups
    * of the positive are false negatives, not hard ones). Same bounded
    * per-group shape as [[mmrRerank]]: the knnJoin top-n pipeline plus
    * a ≤ n-row per-query loop, distributed across queries.
    */
  def hardNegatives(emb: DataFrame, queryIds: Seq[Long] = MmrQueryIds,
      n: Int = HnDepth, k: Int = HnK): DataFrame =
    hardNegGreedy(candidatesWithVectors(emb, queryIds, n), k)

  /** [[hardNegatives]] riding the persisted IVF index for its
    * candidates — same pruned-probe production shape as
    * [[mmrRerankIvf]].
    */
  def hardNegativesIvf(spark: SparkSession, dir: String,
      queryIds: Seq[Long] = MmrQueryIds, n: Int = HnDepth,
      k: Int = HnK): DataFrame =
    hardNegGreedy(candidatesIvf(spark, dir, queryIds, n), k)

  private def hardNegGreedy(
      cands: org.apache.spark.sql.Dataset[(Long, Long, Double, Int, Seq[Double])],
      k: Int): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray.sortBy(_._4)
        if (cs.isEmpty) Iterator.empty
        else {
          val pos = cs.head
          cs.tail.iterator
            .map(c => (c, round6(
              graft.functions.VectorOps.cosineSeq(c._5, pos._5))))
            .filter(_._2 <= HnFalseNegSim)
            .take(k)
            .zipWithIndex
            .map { case ((c, simPos), i) =>
              (qid, pos._2, c._2, i + 1, c._3, simPos) }
        }
      }
      .toDF("query_id", "pos_doc", "neg_doc", "neg_rank", "sim_to_query",
        "sim_to_pos")
      .orderBy("query_id", "neg_rank")
  }

  private val hardNegQ: Q = (spark, dir) =>
    hardNegatives(Tables.load(spark, dir, "embeddings"))

  private val hardNegIvfQ: Q = (spark, dir) => hardNegativesIvf(spark, dir)

  val queries: Map[String, Q] = Map(
    "e_retrieval_mmr" -> mmrQ,
    "e_retrieval_mmr_ivf" -> mmrIvfQ,
    "e_hard_negatives" -> hardNegQ,
    "e_hard_negatives_ivf" -> hardNegIvfQ,
    "e_bm25_topk" -> bm25TopkQ,
    "e_bm25_multi" -> bm25MultiQ,
    "e_bm25_incr" -> bm25IncrQ,
    "e_bm25_compact" -> bm25CompactQ,
    "e_hybrid_retrieval" -> hybridQ,
    "e_hybrid_retrieval_ivf" -> hybridIvfQ,
    "e_retrieval_eval" -> retrievalEvalQ,
  )

  /** DuckDB replay of [[mmrRerank]]: the candidate CTE is the proven
    * e_knn_join replay at depth [[MmrN]]; then one (maxsim, pool,
    * selection, cumulative-selected) CTE quartet per greedy step, every
    * expression the same fixed-order double arithmetic (λ/1−λ pinned as
    * the literals 0.7/0.3 on both sides).
    */
  /** Brute-force candidate CTE prefix (the proven e_knn_join replay at
    * depth `n`) ending in `cand(q_id, vec_id, cos_sim, v, nn_rank)` —
    * the shape both greedy-oracle builders consume.
    */
  private def bruteCandCtes(n: Int): String = {
    val qids = MmrQueryIds.mkString(", ")
    s"""q AS (
       |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id IN ($qids)
       |), scored AS (
       |  SELECT q.q_id, e.vec_id,
       |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
       |      AS cos_sim,
       |    e.embedding::DOUBLE[] AS v
       |  FROM embeddings e, q WHERE e.vec_id <> q.q_id
       |), cand AS (
       |  SELECT q_id, vec_id, cos_sim, v, nn_rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, vec_id) AS nn_rank FROM scored)
       |  WHERE nn_rank <= $n
       |)""".stripMargin
  }

  /** IVF candidate CTE prefix: the SAME proven quantizer + bulk-probe
    * replay as e_ann_bulk ([[SimilarityOps.ivfBulkCandSql]]) restricted
    * to the MMR query ids, vectors re-attached for the pairwise sims.
    */
  private def ivfCandCtes(n: Int): String = {
    val qids = MmrQueryIds.mkString(", ")
    s"""cand AS (
       |  SELECT t.q_id, t.vec_id, t.cos_sim,
       |    e.embedding::DOUBLE[] AS v, t.nn_rank
       |  FROM (${SimilarityOps.ivfBulkCandSql(s"vec_id IN ($qids)", n)}) t
       |  JOIN embeddings e ON e.vec_id = t.vec_id
       |)""".stripMargin
  }

  private def mmrOracle: String = mmrOracleWith(bruteCandCtes(MmrN))

  private def mmrOracleIvf: String = mmrOracleWith(ivfCandCtes(MmrN))

  private def mmrOracleWith(candCtes: String): String = {
    val steps = (2 to MmrK).map { t =>
      s"""ms$t AS (
         |  SELECT c.q_id, c.vec_id,
         |    max(round(list_cosine_similarity(c.v, s.v), 6)) AS maxsim
         |  FROM cand c JOIN selall${t - 1} s ON s.q_id = c.q_id
         |  WHERE NOT EXISTS (SELECT 1 FROM selall${t - 1} x
         |                    WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
         |  GROUP BY c.q_id, c.vec_id
         |), pool$t AS (
         |  SELECT c.q_id, c.vec_id, c.cos_sim, c.v,
         |    CAST($MmrLambda AS DOUBLE) * c.cos_sim
         |      - CAST($MmrOneMinus AS DOUBLE) * m.maxsim AS mmr_score
         |  FROM cand c JOIN ms$t m ON m.q_id = c.q_id AND m.vec_id = c.vec_id
         |), sel$t AS (
         |  SELECT q_id, vec_id, $t AS mmr_rank, cos_sim, v, mmr_score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY mmr_score DESC, vec_id) AS rn FROM pool$t)
         |  WHERE rn = 1
         |), selall$t AS (
         |  SELECT q_id, vec_id, v FROM selall${t - 1}
         |  UNION ALL SELECT q_id, vec_id, v FROM sel$t
         |)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to MmrK).map(t =>
      s"SELECT q_id AS query_id, mmr_rank, vec_id AS doc_id, " +
        s"cos_sim AS rel, mmr_score FROM sel$t").mkString("\nUNION ALL\n")
    s"""WITH $candCtes, sel1 AS (
       |  SELECT q_id, vec_id, 1 AS mmr_rank, cos_sim, v,
       |    CAST($MmrLambda AS DOUBLE) * cos_sim
       |      - CAST($MmrOneMinus AS DOUBLE) * CAST(0.0 AS DOUBLE) AS mmr_score
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY CAST($MmrLambda AS DOUBLE) * cos_sim DESC, vec_id) AS rn
       |    FROM cand) WHERE rn = 1
       |), selall1 AS (SELECT q_id, vec_id, v FROM sel1),
       |$steps
       |SELECT * FROM (
       |$unions
       |) ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** DuckDB replay of [[hardNegatives]]: the knnJoin candidate replay
    * keeping nn_rank, the rank-1 positive, then the rank-ordered
    * negatives under the false-negative ceiling.
    */
  private def hardNegOracle: String =
    hardNegOracleWith(bruteCandCtes(HnDepth))

  private def hardNegOracleIvf: String =
    hardNegOracleWith(ivfCandCtes(HnDepth))

  private def hardNegOracleWith(candCtes: String): String = {
    s"""WITH $candCtes, pos AS (
       |  SELECT q_id, vec_id AS pos_doc, v AS pv FROM cand WHERE nn_rank = 1
       |), negs AS (
       |  SELECT c.q_id, p.pos_doc, c.vec_id AS neg_doc,
       |    c.cos_sim AS sim_to_query,
       |    round(list_cosine_similarity(c.v, p.pv), 6) AS sim_to_pos,
       |    c.nn_rank
       |  FROM cand c JOIN pos p ON p.q_id = c.q_id
       |  WHERE c.nn_rank >= 2
       |    AND round(list_cosine_similarity(c.v, p.pv), 6)
       |        <= CAST($HnFalseNegSim AS DOUBLE)
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY nn_rank) AS neg_rank FROM negs
       |)
       |SELECT q_id AS query_id, pos_doc, neg_doc,
       |  CAST(neg_rank AS INT) AS neg_rank, sim_to_query, sim_to_pos
       |FROM ranked WHERE neg_rank <= $HnK
       |ORDER BY query_id, neg_rank""".stripMargin
  }

  /** The 2-term default queries in N-term form — ONE canonical term
    * ordering ([[canonTerms]]) feeds the engine's qdf and every
    * oracle's VALUES, so the fold order is pinned once.
    */
  private def defaultAsN: Seq[(Int, Seq[String])] =
    DefaultQueries.map { case (id, a, b) => (id, Seq(a, b)) }

  /** WITH-body prefix computing BM25 totals per (query, doc) — shared
    * by the top-k, multi, and hybrid-fusion oracles, so all replay the
    * ONE scoring definition. The per-doc total is a fixed-arity pivot
    * sum in term_pos order; adding a missing position's 0.0 is an
    * exact IEEE identity, so this equals the engine's sequential fold
    * over only-matched terms bit for bit. Ends with `tot(query_id,
    * doc_id, total)`.
    */
  private def bm25TotalsCtes(qs: Seq[(Int, Seq[String])]): String = {
    val qValues = canonTerms(qs)
      .map { case (id, t, p) => s"($id, '$t', $p)" }.mkString(", ")
    val arity = qs.map(_._2.distinct.size).max
    val pivotSum = (1 to arity).map(p =>
      s"coalesce(max(CASE WHEN term_pos = $p THEN sc END), 0.0)")
      .mkString(" +\n    ")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
       |  FROM documents
       |), dl AS (
       |  SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id
       |), stats AS (
       |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS t FROM dl
       |), tf AS (
       |  SELECT term, doc_id, count(*)::BIGINT AS tf
       |  FROM toks GROUP BY term, doc_id
       |), dfx AS (
       |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
       |), q(query_id, term, term_pos) AS (
       |  VALUES $qValues
       |), scored AS (
       |  SELECT q.query_id, tf.doc_id, q.term_pos,
       |    CAST((2*s.n - 2*dfx.df + 1) * (22*s.t) * tf.tf AS DOUBLE) /
       |    CAST((2*dfx.df + 1) * (10*s.t*tf.tf + 3*s.t + 9*dl.dl*s.n)
       |      AS DOUBLE) AS sc
       |  FROM q JOIN tf USING (term) JOIN dfx USING (term)
       |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
       |), tot AS (
       |  SELECT query_id, doc_id,
       |    $pivotSum AS total
       |  FROM scored GROUP BY query_id, doc_id
       |)""".stripMargin
  }

  /** DuckDB replay: postings statistics from scratch, the identical
    * integer-exact score, the same fixed-order total, the same
    * (total DESC, doc_id) ranking.
    */
  private def bm25OracleFor(qs: Seq[(Int, Seq[String])]): String =
    s"""WITH ${bm25TotalsCtes(qs)}
       |SELECT query_id, doc_id, round(total, 6) AS score_r,
       |  CAST(rank AS INT) AS rank
       |FROM (
       |  SELECT query_id, doc_id, total,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY total DESC, doc_id) AS rank
       |  FROM tot) z
       |WHERE rank <= $Bm25K ORDER BY query_id, rank""".stripMargin

  private def bm25Oracle: String = bm25OracleFor(defaultAsN)

  /** DuckDB replay of the hybrid fusion: the proven BM25 chain at
    * depth [[HybridDepth]], the proven knn cosine replay over the
    * example vectors, and the fixed-order RRF sum.
    */
  private def hybridOracle: String = {
    val qIds = DefaultQueries.map(_._1).mkString(", ")
    hybridOracleWith(
      s"""annq AS (
         |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
         |  FROM embeddings WHERE vec_id IN ($qIds)
         |), anns AS (
         |  SELECT q.q_id, e.vec_id AS doc_id,
         |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec), 6)
         |      AS cos
         |  FROM embeddings e, annq q WHERE e.vec_id <> q.q_id
         |), annr AS (
         |  SELECT q_id::INT AS query_id, doc_id, ann_rank FROM (
         |    SELECT q_id, doc_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos DESC, doc_id) AS ann_rank
         |    FROM anns) z
         |  WHERE ann_rank <= $HybridDepth
         |)""".stripMargin)
  }

  /** The hybrid replay with the dense side riding the e_ann_bulk
    * quantizer+probe replay instead of the exact scan.
    */
  private def hybridOracleIvf: String = {
    val qIds = DefaultQueries.map(_._1).mkString(", ")
    hybridOracleWith(
      s"""annr AS (
         |  SELECT q_id::INT AS query_id, vec_id AS doc_id,
         |    nn_rank AS ann_rank
         |  FROM (${SimilarityOps.ivfBulkCandSql(s"vec_id IN ($qIds)",
              HybridDepth)}) t
         |)""".stripMargin)
  }

  /** Shared fusion replay over an `annr(query_id, doc_id, ann_rank)`
    * CTE prefix — both retriever lanes fuse through the ONE RRF
    * definition.
    */
  private def hybridOracleWith(annrCtes: String): String = {
    s"""WITH ${bm25TotalsCtes(defaultAsN)},
       |lexr AS (
       |  SELECT query_id, doc_id, rank AS lex_rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY total DESC, doc_id) AS rank
       |    FROM tot) z
       |  WHERE rank <= $HybridDepth
       |), $annrCtes, fused AS (
       |  SELECT coalesce(l.query_id, a.query_id) AS query_id,
       |         coalesce(l.doc_id, a.doc_id) AS doc_id,
       |         coalesce(l.lex_rank, 0) AS lex_rank,
       |         coalesce(a.ann_rank, 0) AS ann_rank
       |  FROM lexr l FULL OUTER JOIN annr a
       |    ON l.query_id = a.query_id AND l.doc_id = a.doc_id
       |), rrfed AS (
       |  SELECT query_id, doc_id, lex_rank, ann_rank,
       |    (CASE WHEN lex_rank > 0
       |       THEN 1.0 / CAST($RrfC + lex_rank AS DOUBLE) ELSE 0.0 END) +
       |    (CASE WHEN ann_rank > 0
       |       THEN 1.0 / CAST($RrfC + ann_rank AS DOUBLE) ELSE 0.0 END)
       |      AS rrf
       |  FROM fused
       |)
       |SELECT query_id, doc_id, CAST(lex_rank AS INT) AS lex_rank,
       |  CAST(ann_rank AS INT) AS ann_rank, round(rrf, 6) AS rrf_r,
       |  CAST(frank AS INT) AS fused_rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS frank
       |  FROM rrfed) z
       |WHERE frank <= $HybridK ORDER BY query_id, fused_rank""".stripMargin
  }

  /** Boolean-AND gold + ranking grade, replaying the same BM25 chain
    * at depth [[HybridDepth]].
    */
  private def retrievalEvalOracle: String = {
    val k = HybridDepth
    val qValues = DefaultQueries.flatMap { case (id, a, b) =>
      Seq(s"($id, '$a')", s"($id, '$b')")
    }.mkString(", ")
    s"""WITH ${bm25TotalsCtes(defaultAsN)},
       |ranked AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY total DESC, doc_id) AS rank
       |    FROM tot) z
       |  WHERE rank <= $k
       |), qe(query_id, term) AS (
       |  VALUES $qValues
       |), dterm AS (
       |  SELECT DISTINCT doc_id, term FROM toks
       |), gold AS (
       |  SELECT qe.query_id, dterm.doc_id
       |  FROM qe JOIN dterm USING (term)
       |  GROUP BY qe.query_id, dterm.doc_id
       |  HAVING count(*) = 2
       |)
       |SELECT g.query_id, count(*)::BIGINT AS n_gold,
       |  count(r.rank)::BIGINT AS n_hits,
       |  round(count(r.rank)::DOUBLE / count(*), 6) AS recall_at_$k,
       |  round(count(r.rank)::DOUBLE / $k, 6) AS precision_at_$k,
       |  CASE WHEN min(r.rank) IS NULL THEN 0.0
       |    ELSE round(1.0::DOUBLE / min(r.rank), 6) END AS mrr
       |FROM gold g LEFT JOIN ranked r
       |  ON g.query_id = r.query_id AND g.doc_id = r.doc_id
       |GROUP BY g.query_id ORDER BY g.query_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "e_bm25_topk" -> bm25Oracle,
    // same chain at 3-4 terms: the fixed-arity pivot total equals the
    // engine's sorted-order fold exactly (0.0 additions are identities)
    "e_bm25_multi" -> bm25OracleFor(MultiQueries),
    // an appended index must equal a from-scratch build: the oracle is
    // the full-corpus replay, byte-identical SQL to e_bm25_topk
    "e_bm25_incr" -> bm25Oracle,
    // ... and compaction must preserve that equality exactly
    "e_bm25_compact" -> bm25Oracle,
    "e_hybrid_retrieval" -> hybridOracle,
    "e_hybrid_retrieval_ivf" -> hybridOracleIvf,
    "e_retrieval_eval" -> retrievalEvalOracle,
    "e_retrieval_mmr" -> mmrOracle,
    "e_hard_negatives" -> hardNegOracle,
    // the IVF twins: the SAME greedy replay over the e_ann_bulk
    // quantizer+probe candidate CTEs — production lane and oracle
    // both ride the pruned index
    "e_retrieval_mmr_ivf" -> mmrOracleIvf,
    "e_hard_negatives_ivf" -> hardNegOracleIvf,
  )
}
