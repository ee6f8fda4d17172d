package graft

import org.apache.spark.sql.functions._

import graft.operators.RetrievalOps

/** BM25 retrieval: index reuse (the e_ann_ivf_persisted discipline —
  * probes read the persisted postings, never rebuild), score
  * correctness against a driver-side recomputation, and the
  * exact-integer guard.
  */
class RetrievalSpec extends SparkSpec {

  test("postings index builds once; probes reuse the bucketed table") {
    val before = RetrievalOps.indexBuilds.get()
    val r1 = RetrievalOps.bm25TopK(spark, sf).collect()
    val r2 = RetrievalOps.bm25TopK(spark, sf).collect()
    val after = RetrievalOps.indexBuilds.get()
    // at most ONE build for this dataset across both probes (zero if an
    // earlier suite in this JVM already built it)
    assert(after - before <= 1, s"index rebuilt: ${after - before} builds")
    assert(r1.toSeq == r2.toSeq)
    // the probe plan reads the catalog table (no tokenize-from-scratch:
    // a rebuild would scan the documents parquet instead)
    val idx = RetrievalOps.buildBm25Index(spark, sf)
    val plan = RetrievalOps.bm25TopK(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains(idx.table), s"probe plan does not read the index:\n$plan")
    assert(!plan.contains("documents.parquet"),
      "probe plan re-reads the corpus")
  }

  test("bm25 scores match a driver-side recomputation, ranking included") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1).toSeq)
    val n = docs.length.toLong
    val t = docs.map(_._2.length.toLong).sum
    def score(term: String, toks: Seq[String], df: Long): Double = {
      val tf = toks.count(_ == term).toLong
      if (tf == 0L) 0.0
      else {
        val dl = toks.length.toLong
        val num = (2L * n - 2L * df + 1L) * (22L * t) * tf
        val den = (2L * df + 1L) * (10L * t * tf + 3L * t + 9L * dl * n)
        num.toDouble / den.toDouble
      }
    }
    val dfOf = docs.flatMap(_._2.distinct.map(_ -> 1L))
      .groupBy(_._1).map { case (w, xs) => w -> xs.length.toLong }
    val got = RetrievalOps.bm25TopK(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    RetrievalOps.DefaultQueries.foreach { case (qid, ta, tb) =>
      val want = docs
        .map { case (id, toks) =>
          (id, score(ta, toks, dfOf(ta)) + score(tb, toks, dfOf(tb))) }
        .filter(_._2 > 0.0)
        .sortBy { case (id, s) => (-s, id) }
        .take(RetrievalOps.Bm25K)
      val gotQ = got.filter(_._1 == qid).sortBy(_._4)
      assert(gotQ.map(_._2).toSeq == want.map(_._1).toSeq,
        s"query $qid ranking")
      gotQ.zip(want).foreach { case ((_, _, sr, _), (_, s)) =>
        assert(math.abs(sr - s) < 5e-7, s"query $qid score $sr vs $s")
      }
    }
  }

  test("hybrid fusion: RRF scores recompute from the reported ranks " +
      "and the fused list is rank-consistent") {
    val out = RetrievalOps.hybridRetrieval(spark, sf).collect()
    assert(out.length ==
      RetrievalOps.DefaultQueries.length * RetrievalOps.HybridK)
    out.groupBy(_.getInt(0)).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getInt(5)).toSeq
      assert(sorted.map(_.getInt(5)) == (1 to RetrievalOps.HybridK),
        s"query $q fused ranks not dense")
      val rrfs = sorted.map(_.getDouble(4))
      assert(rrfs == rrfs.sortBy((x: Double) => -x),
        s"query $q rrf not non-increasing: $rrfs")
      sorted.foreach { r =>
        val (lex, ann, rrf) = (r.getInt(2), r.getInt(3), r.getDouble(4))
        assert(lex > 0 || ann > 0, "a fused doc came from neither list")
        assert(lex <= RetrievalOps.HybridDepth &&
          ann <= RetrievalOps.HybridDepth)
        val want = (if (lex > 0) 1.0 / (60.0 + lex) else 0.0) +
          (if (ann > 0) 1.0 / (60.0 + ann) else 0.0)
        assert(math.abs(rrf - want) < 1e-6,
          s"query $q rrf $rrf does not recompute from ranks ($lex, $ann)")
      }
    }
  }

  test("incremental append is indistinguishable from a from-scratch " +
      "build, and appends cost no postings rewrite") {
    val docs = Tables.load(spark, sf, "documents")
    val pre = s"graft_test_incr_${System.nanoTime()}"
    val before = RetrievalOps.indexBuilds.get()
    val base = RetrievalOps.buildBm25IndexFor(
      docs.where(col("doc_id") % 10 =!= 0), pre)
    val baseFiles = spark.table(pre).inputFiles.toSet
    val appended = RetrievalOps.appendToBm25Index(base,
      docs.where(col("doc_id") % 10 === 0))
    // exactly one build (the base); the append went through the
    // append path — the batch landed in its OWN versioned table and
    // every base posting file survived byte-untouched
    assert(RetrievalOps.indexBuilds.get() - before == 1)
    assert(appended.table == base.table)
    assert(appended.statsTable.endsWith("_v2"))
    assert(appended.postingTables == Seq(pre, s"${pre}_b2"))
    assert(spark.table(pre).inputFiles.toSet == baseFiles,
      "append touched the base posting table")
    val full = RetrievalOps.bm25TopK(spark, sf).collect().toSeq
    val incr = RetrievalOps.bm25TopKOver(spark, appended).collect().toSeq
    assert(incr == full, "appended index diverges from full rebuild")
    // corpus constants advanced to the full-corpus values
    val fullIdx = RetrievalOps.buildBm25Index(spark, sf)
    assert(appended.nDocs == fullIdx.nDocs)
    assert(appended.totalTokens == fullIdx.totalTokens)
  }

  test("sidecar retention: a second append drops _v1, keeps the " +
      "retained window, and probes stay exact") {
    val docs = Tables.load(spark, sf, "documents")
    val pre = s"graft_test_gc_${System.nanoTime()}"
    val base = RetrievalOps.buildBm25IndexFor(
      docs.where(col("doc_id") % 3 === 0), pre)
    val a1 = RetrievalOps.appendToBm25Index(base,
      docs.where(col("doc_id") % 3 === 1))
    assert(spark.catalog.tableExists(s"${pre}_stats_v1"),
      "keep-2 must retain the previous version after one append")
    val a2 = RetrievalOps.appendToBm25Index(a1,
      docs.where(col("doc_id") % 3 === 2))
    assert(!spark.catalog.tableExists(s"${pre}_stats_v1"),
      "v1 outlived the retention window")
    assert(spark.catalog.tableExists(s"${pre}_stats_v2") &&
      spark.catalog.tableExists(s"${pre}_stats_v3"))
    val full = RetrievalOps.bm25TopK(spark, sf).collect().toSeq
    assert(RetrievalOps.bm25TopKOver(spark, a2).collect().toSeq == full,
      "twice-appended index diverges from full rebuild")
  }

  test("a replayed append (crash after commit, before the caller " +
      "recorded the returned index) is detected and skipped") {
    val docs = Tables.load(spark, sf, "documents")
    val pre = s"graft_test_replay_${System.nanoTime()}"
    val base = RetrievalOps.buildBm25IndexFor(
      docs.where(col("doc_id") % 10 =!= 0), pre)
    val first = RetrievalOps.appendToBm25Index(base,
      docs.where(col("doc_id") % 10 === 0), batchId = 7L)
    val batchFiles = spark.table(s"${pre}_b2").inputFiles.toSet
    val probe1 = RetrievalOps.bm25TopKOver(spark, first).collect().toSeq
    // the caller crashed and retries FROM ITS STALE BASE VALUE with
    // the same batchId: the epoch marker names the committed batch, so
    // the retry must reconstruct the committed index and write nothing
    val retried = RetrievalOps.appendToBm25Index(base,
      docs.where(col("doc_id") % 10 === 0), batchId = 7L)
    assert(retried == first, "replayed append diverged from the commit")
    assert(spark.table(s"${pre}_b2").inputFiles.toSet == batchFiles,
      "replayed append rewrote the batch table")
    assert(RetrievalOps.bm25TopKOver(spark, retried).collect().toSeq
      == probe1)
    // a LATER batch still appends normally
    val next = RetrievalOps.appendToBm25Index(first,
      docs.where(col("doc_id") % 10 === 0), batchId = 8L)
    assert(next.postingTables == Seq(pre, s"${pre}_b2", s"${pre}_b3"))
    // ... and a rebuild resets the epoch (a fresh index must not treat
    // its first append as a replay of the old index's)
    val rebuilt = RetrievalOps.buildBm25IndexFor(
      docs.where(col("doc_id") % 10 =!= 0), pre)
    val again = RetrievalOps.appendToBm25Index(rebuilt,
      docs.where(col("doc_id") % 10 === 0), batchId = 0L)
    assert(again.postingTables == Seq(pre, s"${pre}_b2"))
  }

  test("compaction folds the batch tables into one base, preserves " +
      "answers exactly, and appends keep working afterwards") {
    val docs = Tables.load(spark, sf, "documents")
    val pre = s"graft_test_cpt_${System.nanoTime()}"
    val base = RetrievalOps.buildBm25IndexFor(
      docs.where(col("doc_id") % 3 === 0), pre)
    val a1 = RetrievalOps.appendToBm25Index(base,
      docs.where(col("doc_id") % 3 === 1), batchId = 0L)
    val a2 = RetrievalOps.appendToBm25Index(a1,
      docs.where(col("doc_id") % 3 === 2), batchId = 1L)
    assert(a2.postingTables.size == 3)
    val before = RetrievalOps.bm25TopKOver(spark, a2).collect().toSeq
    val compacted = RetrievalOps.compactBm25Index(spark, a2)
    assert(compacted.postingTables == Seq(compacted.table),
      "compaction must leave exactly one posting table")
    assert(compacted.statsTable == a2.statsTable,
      "compaction must not touch the df sidecar")
    assert(RetrievalOps.bm25TopKOver(spark, compacted).collect().toSeq
      == before, "compaction changed the answers")
    // absorbed tables are gone; the full-build equality still holds
    a2.postingTables.foreach(t => assert(!spark.catalog.tableExists(t),
      s"absorbed table $t survived compaction"))
    assert(before == RetrievalOps.bm25TopK(spark, sf).collect().toSeq)
    // the epoch reset: a fresh append against the compacted base works
    // and starts a new batch table under the NEW name
    val a3 = RetrievalOps.appendToBm25Index(compacted,
      docs.where(col("doc_id") % 3 === 0), batchId = 0L)
    assert(a3.postingTables.head == compacted.table &&
      a3.postingTables.size == 2 &&
      a3.postingTables(1).startsWith(compacted.table))
    // ... and its replay reconstructs the committed table list
    val a3replay = RetrievalOps.appendToBm25Index(compacted,
      docs.where(col("doc_id") % 3 === 0), batchId = 0L)
    assert(a3replay == a3)
  }

  test("a pre-compaction append replay arriving AFTER compaction " +
      "reconstructs a probe-able index — the old marker follows the " +
      "compacted table") {
    val docs = Tables.load(spark, sf, "documents")
    val pre = s"graft_test_cptrpl_${System.nanoTime()}"
    val base = RetrievalOps.buildBm25IndexFor(
      docs.where(col("doc_id") % 3 === 0), pre)
    val a1 = RetrievalOps.appendToBm25Index(base,
      docs.where(col("doc_id") % 3 === 1), batchId = 0L)
    val a2 = RetrievalOps.appendToBm25Index(a1,
      docs.where(col("doc_id") % 3 === 2), batchId = 1L)
    val before = RetrievalOps.bm25TopKOver(spark, a2).collect().toSeq
    val compacted = RetrievalOps.compactBm25Index(spark, a2)
    // the exact crash-retry case the guard exists for: the caller's
    // stale base value + the committed batchId, arriving after the
    // maintenance window dropped the per-batch tables
    val replayed = RetrievalOps.appendToBm25Index(a1,
      docs.where(col("doc_id") % 3 === 2), batchId = 1L)
    assert(replayed.postingTables == Seq(compacted.table),
      "replay must reconstruct over the compacted posting table")
    assert(RetrievalOps.bm25TopKOver(spark, replayed).collect().toSeq
      == before, "post-compaction replay probe diverged")
  }

  test("n-term scoring: the 2-term path is the n=2 case, and " +
      "multi-term queries rank by the folded total") {
    val idx = RetrievalOps.buildBm25Index(spark, sf)
    val two = RetrievalOps.bm25TopKOver(spark, idx).collect().toSeq
    val twoAsN = RetrievalOps.bm25TopKOverN(spark, idx,
      RetrievalOps.DefaultQueries.map { case (id, a, b) => (id, Seq(a, b)) })
      .collect().toSeq
    assert(two == twoAsN)
    // duplicate terms collapse (terms are a set): {scan, table, scan}
    // scores identically to {scan, table}
    val dup = RetrievalOps.bm25TopKOverN(spark, idx,
      Seq((1, Seq("scan", "table", "scan")))).collect().toSeq
    val set = RetrievalOps.bm25TopKOverN(spark, idx,
      Seq((1, Seq("table", "scan")))).collect().toSeq
    assert(dup == set)
    // 3-term output exists for every query and ranks are dense
    val multi = RetrievalOps.bm25TopKOverN(spark, idx,
      RetrievalOps.MultiQueries).collect()
    RetrievalOps.MultiQueries.foreach { case (qid, _) =>
      assert(multi.count(_.getInt(0) == qid) == RetrievalOps.Bm25K)
    }
  }

  test("the exact-lane guard bounds the real score products, not a " +
      "token-count proxy") {
    // just inside: products below 2^53 pass
    RetrievalOps.requireExactLane(n = 1000L, t = 100000L,
      maxTf = 10L, maxDl = 200L)
    // a corpus whose T passes the OLD 2^32 proxy but whose num product
    // (2N-1)*22T*maxTf overflows 2^53 must be rejected loudly
    val e = intercept[IllegalArgumentException] {
      RetrievalOps.requireExactLane(n = 1L << 31, t = 1L << 31,
        maxTf = 1L, maxDl = 1000L)
    }
    assert(e.getMessage.contains("2^53"))
  }

  test("retrieval eval metrics are internally consistent and recompute " +
      "from gold membership") {
    val out = SparkEntry.queries("e_retrieval_eval")(spark, sf).collect()
    assert(out.nonEmpty)
    // driver-side gold: docs containing BOTH terms of the query
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase
        .split(" ", -1).toSet)
    out.foreach { r =>
      val (qid, nGold, nHits) = (r.getInt(0), r.getLong(1), r.getLong(2))
      val (recall, prec, mrr) =
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      val (_, ta, tb) = RetrievalOps.DefaultQueries.find(_._1 == qid).get
      val wantGold = docs.count { case (_, ts) => ts(ta) && ts(tb) }.toLong
      assert(nGold == wantGold, s"query $qid gold size")
      assert(nHits <= math.min(nGold, RetrievalOps.HybridDepth.toLong))
      assert(math.abs(recall - nHits.toDouble / nGold) < 1e-6)
      assert(math.abs(prec - nHits.toDouble / RetrievalOps.HybridDepth) < 1e-6)
      if (nHits == 0) assert(mrr == 0.0) else assert(mrr > 0.0 && mrr <= 1.0)
    }
  }

  test("every query term scores positively (rational idf never goes " +
      "negative, unlike log idf on df > N/2)") {
    // 'a' and 'the' are stopword-frequent in the fixture; classic BM25
    // idf would be negative there — the rational surrogate stays > 0
    val idx = RetrievalOps.buildBm25Index(spark, sf)
    val out = RetrievalOps.bm25TopK(spark, sf,
      queries = Seq((1, "the", "a")), k = 3).collect()
    assert(out.length == 3)
    assert(out.forall(_.getDouble(2) > 0.0))
    assert(idx.nDocs > 0 && idx.totalTokens > 0)
  }

  test("the index memo keys on the bucket count, and eviction drops " +
      "the index tables") {
    def numBuckets(table: String): String =
      spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
        .find(_.getString(0) == "Num Buckets").map(_.getString(1).trim)
        .getOrElse("none")
    val idx8 = RetrievalOps.buildBm25Index(spark, sf)
    val idx4 = RetrievalOps.buildBm25Index(spark, sf, buckets = 4)
    assert(idx4.table != idx8.table,
      "a 4-bucket request returned the 8-bucket index")
    assert(numBuckets(idx4.table) == "4" && numBuckets(idx8.table) == "8")
    graft.engine.CacheRegistry.evictAll()
    val left = (idx8.postingTables ++ idx4.postingTables :+ idx8.statsTable)
      .filter(spark.catalog.tableExists)
    assert(left.isEmpty, s"evicted index tables survive: $left")
  }
}
