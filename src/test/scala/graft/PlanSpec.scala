package graft

/** Plan-quality regression tests: the physical-plan properties the
  * 100 TB story depends on, asserted so a refactor can't silently lose
  * them. String checks run against executedPlan (AQE initial plan —
  * stable for these shapes).
  */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("equality filters push into the parquet scan") {
    val p = plan("r_filter_eq_date")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_orderdate"),
      s"expected o_orderdate pushdown in:\n$p")
  }

  test("projection prunes the scan schema") {
    val p = plan("r_soql_proj")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"),
      s"expected 2-column ReadSchema in:\n$p")
  }

  test("keyset pagination pushes the row-value predicate into the scan") {
    val p = plan("r_page_keyset")
    // the disjunctive expansion reaches the parquet reader: both the
    // strict bound on the first key and the tie-break branch push down
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(c_acctbal"),
      s"expected c_acctbal keyset bound pushed to the scan in:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "keyset page must fuse sort+limit (no global sort, no offset)")
  }

  test("global top-k fuses to TakeOrderedAndProject (no global sort)") {
    val p = plan("e_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"),
      "top-k must not range-shuffle for a global sort")
  }

  test("dimension join broadcasts the small side") {
    val p = plan("e_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("key-filtered join pushes the key to both scans") {
    val p = plan("r_inner_join")
    assert("EqualTo\\(o_orderkey,7\\)".r.findAllIn(p).nonEmpty)
    assert("EqualTo\\(l_orderkey,7\\)".r.findAllIn(p).nonEmpty)
  }

  test("group-by aggregations are partial+final (map-side combine)") {
    val p = plan("e_agg_group")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"expected two-phase hash aggregation in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("windows shuffle exactly once on their partition key plus the final sort") {
    val p = plan("e_window_rank")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"window query should have ≤2 exchanges, got $exchanges:\n$p")
  }

  test("semi/anti joins carry no right-side payload columns") {
    assert(plan("e_join_semi").contains("LeftSemi"))
    assert(plan("e_join_anti").contains("LeftAnti"))
  }

  test("LSH band pairing has no window sort and no bucket self-join") {
    // bandPairs = one groupBy with a bounded collector + in-bucket
    // explode: a regression back to the window-count + equi-self-join
    // formulation would show WindowExec (and one more exchange pair)
    val p = plan("e_dedup_minhash")
    assert(!p.contains("Window"),
      s"bandPairs must not use a window for the bucket cap:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      "bounded bucket collection should run on the object-hash-agg path")
  }

  test("simhash aggregate stays within 23 packed buffers") {
    // 64 separate SUMs pushed the aggregate out of codegen; the packed
    // formulation carries 22 packed sums + 1 count through the exchange.
    // e_dedup_simhash reads the aggregate as a frame stored at build
    // time, so audit the plan of the aggregate it stages
    val p = graft.operators.DedupOps.simhashAgg(Tables.load(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("b63"), "per-bit aggregate columns must not reappear")
    // count sums per HashAggregate LINE, not across the whole string
    val maxSumsPerAgg = p.linesIterator
      .filter(_.contains("partial_sum"))
      .map(l => "partial_sum".r.findAllIn(l).size)
      .maxOption.getOrElse(0)
    assert(maxSumsPerAgg > 0 && maxSumsPerAgg <= 23,
      s"the packed simhash aggregate must carry ≤23 sums, saw $maxSumsPerAgg")
  }

  test("unpivot runs as a zero-shuffle Expand") {
    val p = plan("e_unpivot")
    assert(p.contains("Expand"), s"unpivot should lower to Expand:\n$p")
    // only the final presentation sort may exchange
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"unpivot itself must not shuffle, got $exchanges:\n$p")
  }

  test("statistical aggregates are partial+final like sums") {
    val p = plan("e_stats_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"second-moment aggs must map-side combine:\n$p")
  }

  test("decontamination broadcasts the eval shingle set") {
    // the corpus-side explode must meet the eval shingles through a
    // broadcast hash join — a sort-merge join here would shuffle the
    // whole exploded corpus on shingle hash
    val p = plan("e_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the eval-shingle join to broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("selective dim join qualifies for runtime bloom-filter pruning") {
    // At fixture scale the injection guards (10 GB application-side
    // scan, broadcastable dim) keep the filter out, so simulate scale:
    // force a shuffle join and drop the scan-size threshold, then
    // assert InjectRuntimeFilter rewrites the fact side — proving the
    // query SHAPE (equi-join, selective creation side) qualifies. On a
    // real 100 TB fact table the defaults trip the same rewrite.
    val c = spark.conf
    val scanKey =
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val savedBroadcast = c.get("spark.sql.autoBroadcastJoinThreshold")
    val savedScan = c.get(scanKey)
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set(scanKey, "0")
      val p = SparkEntry.queries("e_join_bloom")(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"expected a runtime bloom filter on the fact side in:\n$p")
    } finally {
      c.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      c.set(scanKey, savedScan)
    }
  }

  test("char diversity is one codegen'd scan — no shuffle, one byte pass") {
    val p = plan("e_char_diversity")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row score must not shuffle:\n$p")
    assert(p.toLowerCase.contains("lettercounts"),
      s"expected the LetterCounts expression (not 26 translate passes) in:\n$p")
    assert(!p.contains("translate("),
      "the 26-pass translate formulation must not come back")
  }

  test("lm score scan carries no inferred HOF filter (the explode trap)") {
    val p = plan("e_lm_score")
    assert(!p.contains("PushedFilters: [IsNotNull"),
      s"no inferred filter may reach the documents scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("tpch q3: filters reach all three scans, top-10 fuses, no cartesian") {
    val p = plan("e_tpch_q3")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter must push into the customer scan:\n$p")
    assert("LessThan\\(o_orderdate".r.findAllIn(p).nonEmpty &&
      "GreaterThan\\(l_shipdate".r.findAllIn(p).nonEmpty,
      "date filters must push into the orders/lineitem scans")
    assert(!p.contains("CartesianProduct"))
  }

  test("tpch q5: the three dims broadcast, facts hash-join") {
    val p = plan("e_tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"supplier/nation/region must broadcast in:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("fused pipelines stay within their exchange budgets") {
    // the "one Catalyst plan" claims, pinned as shuffle-count ceilings:
    // a refactor that materializes a stage or loses co-partitioning
    // shows up here as an extra Exchange
    def exchanges(q: String): Int =
      "Exchange".r.findAllIn(plan(q)).size
    assert(exchanges("e_pipeline_e2e") <= 4,
      "dedup shuffle + lang agg + final sort only")
    assert(exchanges("e_pipeline_mix_pack") <= 6,
      "mixture window + join + (lang,shard) agg + final sort only")
    // decontamination legitimately re-keys: shingle join, overlap agg,
    // eval-size agg, contaminated-distinct, anti join, dedup window,
    // final sort — 8 exchanges, each on a different key
    assert(exchanges("e_quality_gate") <= 8,
      "a 9th exchange means a stage stopped fusing")
  }

  test("rebalance_topk keeps <=cap rows per stratum through partial aggregation") {
    // the 100 TB form of per-stratum selection: a typed TopK Aggregator
    // on the object-hash-agg path, partial on the map side — the
    // shuffle carries cap·|strata| rows. A regression to the window
    // formulation would sort whole strata and show WindowExec.
    val p = plan("e_rebalance_topk")
    assert(p.contains("ObjectHashAggregate"),
      s"expected the typed-Aggregator object-hash path in:\n$p")
    assert(p.contains("partial_topkaggregator"),
      "TopK must combine map-side (partial aggregation)")
    assert(!p.contains("Window"),
      s"bounded selection must not window-sort strata:\n$p")
  }

  test("mixture_topk selects quotas through partial aggregation, no window") {
    val p = plan("e_mixture_sample_topk")
    assert(p.contains("ObjectHashAggregate"),
      s"expected the typed-Aggregator object-hash path in:\n$p")
    assert(p.contains("partial_quotaminkaggregator"),
      "QuotaMinK must combine map-side (partial aggregation)")
    assert(!p.contains("Window"),
      s"bounded quota selection must not window-sort strata:\n$p")
  }

  test("tfidf per-doc top-3 plans as WindowGroupLimit, not a full sort") {
    // rank<=k over a window is rewritten to WindowGroupLimit: each
    // partition keeps k rows per doc before the window sort — without
    // it every (doc,term) group is fully sorted just to take 3
    val p = plan("e_tfidf")
    assert(p.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit for the rank<=3 filter in:\n$p")
  }

  test("decontamination predicate never inlines the shingle HOF into a filter") {
    // the r6 trap: any filter over the derived feat array gets
    // pushed/collapsed through the staged projections and re-tokenizes
    // per shingle position (O(tokens²)/row). evalContains is a scalar
    // closure over raw text, so no Filter in its plan may contain a
    // HOF transform — if one appears, the array formulation crept back.
    val docs = Tables.load(spark, sf, "documents")
    val sets = graft.operators.DedupOps.evalShingleSets(docs)
    val plan = docs
      .where(graft.operators.DedupOps.evalContains(
        org.apache.spark.sql.functions.col("text"), sets))
      .queryExecution.executedPlan.toString
    val filterLines = plan.linesIterator.filter(_.contains("Filter"))
    assert(filterLines.forall(!_.contains("transform(")),
      s"shingle HOF re-inlined into a filter:\n$plan")
  }

  test("correlated subqueries decorrelate to joins, never nested loops") {
    // EXISTS/IN → LeftSemi, NOT EXISTS/NOT IN → LeftAnti, correlated
    // scalar agg → aggregate + equi-join. None may survive as a
    // nested-loop or cartesian plan: at 100 TB a nested-loop subquery
    // is a full fact-table rescan per outer row.
    for (q <- Seq("e_tpch_q4", "e_tpch_q17", "e_tpch_q21", "e_tpch_q22",
        "e_subq_in")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      // Q21's <>-correlated EXISTS legitimately broadcasts a nested
      // loop over the tiny per-order build side? No — the equality on
      // l_orderkey dominates, so even there a hash join must carry it.
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q decorrelated to a nested loop:\n$p")
      assert(p.contains("Join") || p.contains("Semi") || p.contains("Anti"),
        s"$q shows no join after decorrelation:\n$p")
    }
    // the predicate forms land as semi/anti hash joins specifically
    assert(plan("e_subq_in").contains("LeftSemi") &&
      plan("e_subq_in").contains("LeftAnti"))
    assert(plan("e_tpch_q4").contains("LeftSemi"))
    assert(plan("e_tpch_q21").contains("LeftAnti"))
    assert(plan("e_tpch_q22").contains("LeftAnti"))
  }

  test("IVF probe scans the cached assignment table, not raw parquet") {
    val df = graft.operators.SimilarityOps
      .probeIvf(graft.operators.SimilarityOps.buildIvfIndex(spark, sf),
        Seq.fill(64)(0.1), nprobe = 4, k = 10)
    val p = df.queryExecution.executedPlan.toString
    // the stored assignment frame is a checkpoint: an existing-RDD scan
    assert(p.contains("Scan ExistingRDD") && !p.contains("FileScan"),
      s"probe must read the persisted index, not rebuild it:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "probe top-k must not global-sort")
  }
}
