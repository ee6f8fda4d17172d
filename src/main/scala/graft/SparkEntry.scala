package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.QueryRegistry
import graft.functions.{ScalarOps, TextOps}
import graft.multimodal.MultimodalOps
import graft.operators.{AsOfOps, CdcOps, CorpusOps, DedupOps, DomainOps, EventAnalytics, FuzzyJoinOps, GraphOps, LayoutOps, PrepOps, QualityModelOps, ReferenceOps, RelationalOps, RetrievalOps, SetJoinOps, SimilarityOps, SkewOps, SubqueryOps}
import graft.streaming.StreamingOps

/** Driver contract — see /root/repo/SURVEY.md §2.3/§7.
  *
  * Every implemented operator is a named query here; those with a
  * DuckDB-expressible equivalent also appear in [[oracleSql]] and are
  * hash-checked by the driver at sf0.01 (SURVEY §5).
  */
object SparkEntry {

  /** Flagship query on sf0.001 — the end-to-end training-data pipeline
    * (exact dedup → quality gate → per-language stats, one Catalyst
    * plan); driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    TextOps.queries("e_pipeline_e2e")(spark, "/root/testdata/sf0.001")

  private def baseQueries: Map[String, (SparkSession, String) => DataFrame] =
    ReferenceOps.queries ++ RelationalOps.queries ++ ScalarOps.queries ++
      DedupOps.queries ++ SimilarityOps.queries ++ TextOps.queries ++
      MultimodalOps.queries ++ StreamingOps.queries ++ SkewOps.queries ++
      AsOfOps.queries ++ PrepOps.queries ++ EventAnalytics.queries ++
      LayoutOps.queries ++ FuzzyJoinOps.queries ++ CorpusOps.queries ++
      CdcOps.queries ++ GraphOps.queries ++ SetJoinOps.queries ++
      SubqueryOps.queries ++ RetrievalOps.queries ++ DomainOps.queries ++
      graft.sources.AtomicPublish.queries ++ graft.sources.WarcOps.queries ++
      QualityModelOps.queries

  /** Plan shapes pinned ON THE DRIVER GATE: audit a fixed set of
    * queries whose physical form the 100 TB story depends on and emit
    * the operator counts as data — the oracle is a VALUES literal, so a
    * planner regression (a lost broadcast, an extra shuffle, a window
    * where a bounded aggregate should be) turns a driver-green row red.
    * Counts verified scale-stable (identical at sf0.001/0.01/0.1 —
    * broadcasts are explicit hints, not stats decisions).
    */
  private val planAuditTargets = Seq("e_ann_bulk", "e_ann_bulk_filtered",
    "e_ann_bulk_pq",
    "e_ann_filtered",
    "e_ann_ivf_persisted",
    "e_badwords",
    "e_bm25_topk", "e_bucketed_join", "e_collapse_repeats",
    "e_link_extract", "e_quality_infer", "e_retrieval_mmr",
    "e_retrieval_mmr_ivf", "e_hard_negatives_ivf",
    "e_hybrid_retrieval_ivf", "e_pipeline_full",
    "e_robots_filter", "e_warc_parse", "e_warc_parse_gz",
    "e_pipeline_crawl_model", "e_pipeline_tokenize_pack",
    "e_dedup_exact", "e_dedup_paragraph",
    "e_dedup_spans", "e_dedup_spans_h", "e_dedup_substring",
    "e_dedup_substring_h", "e_dedup_simhash_md5",
    "e_fuzzy_join", "e_heavy_hitters", "e_jaccard_join",
    "e_join_broadcast", "e_knn_classify", "e_merge_upsert",
    "e_multimodal_dedup",
    "e_pagerank", "e_pagerank_links", "e_pagerank_dangling",
    "e_partition_prune", "e_pii_redact",
    // e_quality_train's result frame is driver-local BY DESIGN (d+1
    // decimals per GD iteration reach the driver, never rows): the
    // all-zero-scan pin records that the 100 TB contract holds
    "e_quality_train",
    "e_stream_ingest_ivf",
    "e_tfidf",
    "e_topk", "e_tpch_q1", "e_tpch_q18", "e_tpch_q21", "e_tpch_q3",
    "e_tpch_q8", "e_triangles",
    "e_window_running",
    "r_jdbc_two_backends", "r_soql_proj")

  // The audit compiles every pinned plan (a driver-side analysis
  // loop whose cost grows with the PIN COUNT, not with data — the r10
  // watch item). Plans are a pure function of (session, dataset dir)
  // within an application, so memoize the counted rows per (app, dir):
  // bench's repeated passes and r_catalog's schema walk pay the 20
  // compilations once (the dedupCc/publishRoot discipline).

  // The pagerank walks persist their edge/degree/node frames; Spark's
  // CacheManager substitutes a materialized persist into ANY later
  // plan with the same logical fragment, so their audited shape
  // depends on whether the walk already ran in this session (first
  // build: raw scans + build shuffles visible; steady state:
  // InMemoryRelation reuse). Pin the STEADY state — the one every
  // repeated invocation sees — by materializing once before auditing.
  private val preMaterialize =
    Set("e_pagerank", "e_pagerank_links", "e_pagerank_dangling")

  private def planAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.engine.CacheRegistry.memo("plan.audit", dir)(
        planAuditTargets.map { name =>
          if (preMaterialize(name))
            baseQueries(name)(spark, dir)
              .write.format("noop").mode("overwrite").save()
          val r = graft.engine.PlanAudit.audit(baseQueries(name)(spark, dir))
          (name, r.shuffles, r.broadcasts, r.windows, r.scans.size,
            r.partitionPrunedScans)
        })(_ => ())
      .toDF("query_name", "n_shuffles", "n_broadcasts", "n_windows", "n_scans",
        "n_pruned")
      .orderBy("query_name")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ Map(
      "r_catalog" -> ((s: SparkSession, d: String) =>
        QueryRegistry.describe(s, d, baseQueries)),
      "e_plan_audit" -> (planAudit(_, _)))

  /** DuckDB-equivalent SQL per oracle-checked query. Column names and
    * aliases match the Spark side exactly (driver sorts columns by name
    * before hashing).
    */
  def oracleSql: Map[String, String] =
    ReferenceOps.oracles ++ RelationalOps.oracles ++ ScalarOps.oracles ++
      DedupOps.oracles ++ SimilarityOps.oracles ++ TextOps.oracles ++
      MultimodalOps.oracles ++ StreamingOps.oracles ++ SkewOps.oracles ++
      AsOfOps.oracles ++ PrepOps.oracles ++ EventAnalytics.oracles ++
      LayoutOps.oracles ++ FuzzyJoinOps.oracles ++ CorpusOps.oracles ++
      CdcOps.oracles ++ GraphOps.oracles ++ SetJoinOps.oracles ++
      SubqueryOps.oracles ++ RetrievalOps.oracles ++ DomainOps.oracles ++
      graft.sources.AtomicPublish.oracles ++ graft.sources.WarcOps.oracles ++
      QualityModelOps.oracles ++ Map(
    // r_catalog pins the registered-query contract (name, arity,
    // field list) as a VALUES literal. REGENERATE this block whenever a
    // query is added or its schema changes — the driver's hash check
    // fails loudly if it drifts.
    // The plan-shape contract (see planAudit above): expected operator
    // counts per audited query, pinned as a VALUES literal.
    "e_plan_audit" ->
      """SELECT * FROM (VALUES
        |('e_ann_bulk', 2, 1, 0, 2, 1),
        |('e_ann_bulk_filtered', 2, 1, 0, 2, 1),
        |('e_ann_bulk_pq', 2, 1, 0, 2, 1),
        |('e_ann_filtered', 0, 0, 0, 1, 1),
        |('e_ann_ivf_persisted', 0, 0, 0, 1, 1),
        |('e_badwords', 1, 0, 0, 1, 0),
        |('e_bm25_topk', 3, 2, 0, 2, 0),
        |('e_bucketed_join', 2, 0, 0, 2, 0),
        |('e_collapse_repeats', 1, 0, 0, 1, 0),
        |('e_dedup_exact', 2, 0, 1, 1, 0),
        |('e_dedup_paragraph', 3, 0, 1, 1, 0),
        |('e_dedup_simhash_md5', 8, 4, 0, 4, 0),
        |('e_dedup_spans', 3, 1, 3, 2, 0),
        |('e_dedup_spans_h', 3, 1, 3, 2, 0),
        |('e_dedup_substring', 4, 0, 4, 2, 0),
        |('e_dedup_substring_h', 4, 0, 4, 2, 0),
        |('e_fuzzy_join', 3, 3, 0, 5, 0),
        |('e_hard_negatives_ivf', 3, 2, 0, 3, 1),
        |('e_heavy_hitters', 3, 1, 0, 2, 0),
        |('e_hybrid_retrieval_ivf', 7, 3, 1, 4, 1),
        |('e_jaccard_join', 5, 3, 6, 0, 0),
        |('e_join_broadcast', 1, 1, 0, 2, 0),
        |('e_knn_classify', 4, 2, 1, 3, 1),
        |('e_link_extract', 1, 0, 0, 1, 0),
        |('e_merge_upsert', 1, 1, 0, 3, 0),
        |('e_multimodal_dedup', 5, 2, 0, 0, 0),
        |('e_pagerank', 4, 0, 0, 0, 0),
        |('e_pagerank_dangling', 4, 1, 0, 0, 0),
        |('e_pagerank_links', 4, 0, 0, 0, 0),
        |('e_partition_prune', 2, 0, 0, 1, 1),
        |('e_pii_redact', 1, 0, 0, 1, 0),
        |('e_pipeline_crawl_model', 3, 0, 1, 1, 0),
        |('e_pipeline_full', 4, 1, 2, 1, 0),
        |('e_pipeline_tokenize_pack', 1, 0, 0, 1, 0),
        |('e_quality_infer', 1, 0, 0, 1, 0),
        |('e_quality_train', 1, 0, 0, 0, 0),
        |('e_retrieval_mmr', 3, 2, 0, 3, 0),
        |('e_retrieval_mmr_ivf', 3, 2, 0, 3, 1),
        |('e_robots_filter', 2, 1, 1, 2, 0),
        |('e_stream_ingest_ivf', 0, 0, 0, 1, 1),
        |('e_tfidf', 5, 1, 1, 2, 0),
        |('e_topk', 0, 0, 0, 1, 0),
        |('e_tpch_q1', 2, 0, 0, 1, 0),
        |('e_tpch_q18', 1, 1, 0, 2, 0),
        |('e_tpch_q21', 2, 4, 0, 5, 0),
        |('e_tpch_q3', 1, 2, 0, 3, 0),
        |('e_tpch_q8', 2, 7, 0, 8, 0),
        |('e_triangles', 8, 2, 0, 0, 0),
        |('e_warc_parse', 2, 0, 0, 1, 0),
        |('e_warc_parse_gz', 2, 0, 0, 1, 0),
        |('e_window_running', 2, 0, 1, 1, 0),
        |('r_jdbc_two_backends', 2, 2, 0, 1, 0),
        |('r_soql_proj', 1, 0, 0, 1, 0)
        |) AS t(query_name, n_shuffles, n_broadcasts, n_windows, n_scans, n_pruned)
        |ORDER BY query_name""".stripMargin,
    "r_catalog" ->
      """SELECT * FROM (VALUES
        |('e_agg_approx', 4, 'l_returnflag:string,exact_parts:bigint,approx_parts:bigint,rel_err:double'),
        |('e_agg_cube', 4, 'rf:string,ls:string,cnt:bigint,sum_qty:double'),
        |('e_agg_distinct', 2, 'l_returnflag:string,n_parts:bigint'),
        |('e_agg_group', 7, 'l_returnflag:string,l_linestatus:string,sum_qty:double,sum_base_price:double,sum_disc_price:double,avg_qty:double,cnt:bigint'),
        |('e_agg_rollup', 4, 'rf:string,ls:string,cnt:bigint,sum_qty:double'),
        |('e_ann_bulk', 4, 'q_id:bigint,vec_id:bigint,cos_sim:double,nn_rank:int'),
        |('e_ann_bulk_filtered', 4, 'q_id:bigint,vec_id:bigint,cos_sim:double,nn_rank:int'),
        |('e_ann_bulk_pq', 4, 'q_id:bigint,vec_id:bigint,adc_micro:bigint,nn_rank:int'),
        |('e_ann_filtered', 3, 'vec_id:bigint,label:int,cos_sim:double'),
        |('e_ann_ivf', 2, 'vec_id:bigint,cos_sim:double'),
        |('e_ann_ivf_persisted', 2, 'vec_id:bigint,cos_sim:double'),
        |('e_ann_ivfpq', 3, 'vec_id:bigint,adc_micro:bigint,cos_sim:double'),
        |('e_ann_ivfpq_persisted', 3, 'vec_id:bigint,adc_micro:bigint,cos_sim:double'),
        |('e_ann_pq', 3, 'vec_id:bigint,adc_micro:bigint,cos_sim:double'),
        |('e_ann_recall', 3, 'k:int,n_hits:bigint,recall_at_k:double'),
        |('e_ann_recall_pq', 3, 'k:int,n_hits:bigint,recall_at_k:double'),
        |('e_ann_recall_pq_bulk', 3, 'k:int,n_hits:bigint,mean_recall_at_k:double'),
        |('e_ann_recall_pq_structured', 3, 'k:int,n_hits:bigint,recall_at_k:double'),
        |('e_anomaly_zscore', 4, 'event_id:bigint,event_type:string,value:double,z:double'),
        |('e_argmax', 3, 'c_nationkey:int,best_acctbal:double,best_custkey:bigint'),
        |('e_array_funcs', 3, 'vec_id:bigint,dim:bigint,vec_sum:double'),
        |('e_asof_join', 5, 'user_id:bigint,ts:timestamp,event_id:bigint,view_value:double,view_ts:timestamp'),
        |('e_badwords', 3, 'doc_id:bigint,n_hits:bigint,first_phrase:string'),
        |('e_bitmask', 3, 'lang:string,mask:bigint,n_slots:int'),
        |('e_bm25_compact', 4, 'query_id:int,doc_id:bigint,score_r:double,rank:int'),
        |('e_bm25_incr', 4, 'query_id:int,doc_id:bigint,score_r:double,rank:int'),
        |('e_bm25_multi', 4, 'query_id:int,doc_id:bigint,score_r:double,rank:int'),
        |('e_bm25_topk', 4, 'query_id:int,doc_id:bigint,score_r:double,rank:int'),
        |('e_bpe_apply', 4, 'doc_id:bigint,n_before:bigint,n_after:bigint,seq_fp:string'),
        |('e_bpe_pairs', 3, 'pair:string,cnt:bigint,pair_rank:int'),
        |('e_bpe_vocab', 4, 'merge_rank:int,tok_a:string,tok_b:string,cnt:bigint'),
        |('e_bucketed_join', 3, 'o_orderpriority:string,n_items:bigint,sum_price:double'),
        |('e_char_diversity', 3, 'doc_id:bigint,n_letters:bigint,gini:double'),
        |('e_chunk', 4, 'doc_id:bigint,chunk_idx:int,n_chunk_tokens:bigint,chunk_fp:string'),
        |('e_cohort_retention', 3, 'cohort_week:timestamp,week_offset:bigint,n_active:bigint'),
        |('e_collapse_repeats', 4, 'doc_id:bigint,n_before:bigint,n_after:bigint,collapsed_fp:string'),
        |('e_compact', 4, 'lang:string,n_docs:bigint,sum_chars:bigint,fp:bigint'),
        |('e_corr_matrix', 3, 'x:string,y:string,r:double'),
        |('e_date_funcs', 5, 'o_orderkey:bigint,yr:bigint,mo:bigint,month_start:timestamp,days_since:bigint'),
        |('e_dau_churn', 4, 'day:timestamp,n_new:bigint,n_retained:bigint,n_churned:bigint'),
        |('e_decontaminate', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_decontaminate_report', 5, 'eval_id:bigint,n_grams:bigint,best_doc:bigint,n_common:bigint,max_containment:double'),
        |('e_dedup_cc', 2, 'id:bigint,label:bigint'),
        |('e_dedup_cluster_stats', 3, 'cluster_size:bigint,n_clusters:bigint,n_docs:bigint'),
        |('e_dedup_embedding', 2, 'vec_id:bigint,label:int'),
        |('e_dedup_exact', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_dedup_incr', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_dedup_incr_minhash', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_dedup_keep_longest', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_dedup_minhash', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_dedup_minhash_cc', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_dedup_minhash_md5', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_dedup_ngram', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_dedup_ngram_md5', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_dedup_paragraph', 5, 'doc_id:bigint,n_paras:bigint,n_removed:bigint,removed_frac:double,kept_fp:string'),
        |('e_dedup_simhash', 2, 'doc_id:bigint,simhash:bigint'),
        |('e_dedup_simhash_md5', 2, 'doc_id:bigint,simhash:bigint'),
        |('e_dedup_spans', 4, 'doc_id:bigint,n_spans:bigint,dup_chars:bigint,dup_frac:double'),
        |('e_dedup_spans_h', 4, 'doc_id:bigint,n_spans:bigint,dup_chars:bigint,dup_frac:double'),
        |('e_dedup_substring', 5, 'doc_id:bigint,n_chars:bigint,n_removed:bigint,removed_frac:double,kept_fp:string'),
        |('e_dedup_substring_h', 5, 'doc_id:bigint,n_chars:bigint,n_removed:bigint,removed_frac:double,kept_fp:string'),
        |('e_domain_cap', 4, 'source:string,doc_id:bigint,n_chars:bigint,keep_rank:int'),
        |('e_domain_report', 6, 'source:string,n_docs:bigint,n_dup:bigint,dup_rate:double,blocked:boolean,n_kept:bigint'),
        |('e_dsir_select', 3, 'lang:string,n_sel:bigint,avg_score:double'),
        |('e_embedding_centroids', 3, 'label:int,n_vecs:bigint,centroid_norm:double'),
        |('e_embedding_quantize', 4, 'vec_id:bigint,scale_r:double,q_checksum:bigint,q_max:bigint'),
        |('e_fingerprint', 2, 'doc_id:bigint,md5_fp:string'),
        |('e_fingerprint_rolling', 2, 'doc_id:bigint,roll_fp:bigint'),
        |('e_funnel', 3, 'stage:int,step:string,n_users:bigint'),
        |('e_fuzzy_join', 3, 'doc_a:bigint,doc_b:bigint,dist:int'),
        |('e_gap_fill', 4, 'event_type:string,hr:timestamp,cnt:bigint,sum_value:double'),
        |('e_group_concat', 3, 'lang:string,sources:string,n_sources:bigint'),
        |('e_grouping_sets', 4, 'rf:string,ls:string,cnt:bigint,sum_qty:double'),
        |('e_hard_negatives', 6, 'query_id:bigint,pos_doc:bigint,neg_doc:bigint,neg_rank:int,sim_to_query:double,sim_to_pos:double'),
        |('e_hard_negatives_ivf', 6, 'query_id:bigint,pos_doc:bigint,neg_doc:bigint,neg_rank:int,sim_to_query:double,sim_to_pos:double'),
        |('e_heavy_hitters', 3, 'term:string,exact_cnt:bigint,cms_est:bigint'),
        |('e_histogram', 2, 'bucket:bigint,cnt:bigint'),
        |('e_html_extract', 3, 'doc_id:bigint,n_paragraphs:bigint,extracted_md5:string'),
        |('e_hybrid_retrieval', 6, 'query_id:int,doc_id:bigint,lex_rank:int,ann_rank:int,rrf_r:double,fused_rank:int'),
        |('e_hybrid_retrieval_ivf', 6, 'query_id:int,doc_id:bigint,lex_rank:int,ann_rank:int,rrf_r:double,fused_rank:int'),
        |('e_jaccard_join', 3, 'id_a:bigint,id_b:bigint,jacc:double'),
        |('e_join_anti', 2, 'c_custkey:bigint,c_name:string'),
        |('e_join_bloom', 3, 'l_returnflag:string,n_items:bigint,revenue:double'),
        |('e_join_broadcast', 3, 'n_nationkey:int,n_name:string,r_name:string'),
        |('e_join_full', 3, 'custkey:bigint,has_cust:int,n_orders:bigint'),
        |('e_join_outer', 3, 'c_custkey:bigint,c_name:string,n_orders:bigint'),
        |('e_join_semi', 2, 'c_custkey:bigint,c_name:string'),
        |('e_json_funcs', 4, 'event_id:bigint,event_type:string,k_str:string,k_num:bigint'),
        |('e_k_anonymity', 5, 'lang:string,len_bucket:bigint,published:boolean,n_docs:bigint,sum_chars:bigint'),
        |('e_kmv_distinct', 4, 'l_returnflag:string,exact_parts:bigint,kmv_parts:bigint,rel_err:double'),
        |('e_kmv_distinct_md5', 4, 'l_returnflag:string,exact_parts:bigint,kmv_parts:bigint,rel_err:double'),
        |('e_kmv_setops', 5, 'exact_union:bigint,exact_inter:bigint,est_union:bigint,est_inter:bigint,jacc_est:double'),
        |('e_knn_classify', 3, 'q_id:bigint,pred_label:int,n_votes:bigint'),
        |('e_knn_join', 4, 'q_id:bigint,vec_id:bigint,cos_sim:double,nn_rank:int'),
        |('e_lang_confusion', 3, 'lang:string,pred_lang:string,n_docs:bigint'),
        |('e_lang_id', 6, 'doc_id:bigint,score_en:bigint,score_de:bigint,score_es:bigint,score_fr:bigint,pred_lang:string'),
        |('e_length_quantiles', 4, 'lang:string,p25:bigint,p50:bigint,p90:bigint'),
        |('e_link_extract', 3, 'src_doc:bigint,dst_doc:bigint,link_url:string'),
        |('e_lm_score', 3, 'doc_id:bigint,n_bigrams:bigint,lm_score:double'),
        |('e_mad', 4, 'event_type:string,n:bigint,median:double,mad:double'),
        |('e_markov', 4, 'from_type:string,to_type:string,cnt:bigint,p:double'),
        |('e_math_funcs', 6, 'l_orderkey:bigint,l_linenumber:int,price_r:double,disc_dev:double,qty_floor:bigint,pk_mod:bigint'),
        |('e_median_hist', 3, 'event_type:string,n:bigint,median_hist:double'),
        |('e_merge_upsert', 4, 'o_orderkey:bigint,o_orderstatus:string,o_totalprice:double,row_src:string'),
        |('e_minhash_recall', 3, 'n_exact:bigint,n_found:bigint,recall:double'),
        |('e_minmax_norm', 3, 'event_id:bigint,event_type:string,v_norm:double'),
        |('e_mixture_sample', 3, 'doc_id:bigint,lang:string,mix_rank:int'),
        |('e_mixture_sample_topk', 3, 'doc_id:bigint,lang:string,mix_rank:int'),
        |('e_multimodal_decode', 6, 'doc_id:bigint,media_type:string,n_bytes:bigint,width:int,height:int,n_frames:int'),
        |('e_multimodal_dedup', 2, 'doc_id:bigint,dhash:bigint'),
        |('e_multimodal_features', 9, 'doc_id:bigint,f0:bigint,f1:bigint,f2:bigint,f3:bigint,f4:bigint,f5:bigint,f6:bigint,f7:bigint'),
        |('e_multimodal_frames', 3, 'doc_id:bigint,frame_idx:int,frame_hash:bigint'),
        |('e_multimodal_meta', 3, 'doc_id:bigint,n_bytes:bigint,sha:string'),
        |('e_multimodal_png', 3, 'doc_id:bigint,png_w:int,png_h:int'),
        |('e_multimodal_resize', 5, 'doc_id:bigint,width:int,height:int,out_w:int,out_h:int'),
        |('e_normalize', 3, 'doc_id:bigint,n_chars_norm:bigint,norm_fp:string'),
        |('e_null_ordering', 2, 'o_orderkey:bigint,prio_opt:string'),
        |('e_pack_sequences', 4, 'lang:string,bin:bigint,n_docs:bigint,sum_tokens:bigint'),
        |('e_pagerank', 2, 'node:bigint,pr:double'),
        |('e_pagerank_dangling', 2, 'node:bigint,pr:double'),
        |('e_pagerank_links', 2, 'node:bigint,pr:double'),
        |('e_partition_prune', 3, 'event_type:string,cnt:bigint,sum_value:double'),
        |('e_pii_redact', 4, 'doc_id:bigint,n_emails:bigint,n_phones:bigint,red_fp:string'),
        |('e_pipeline_crawl', 3, 'source:string,n_docs:bigint,total_chars:bigint'),
        |('e_pipeline_crawl_model', 3, 'source:string,n_docs:bigint,total_chars:bigint'),
        |('e_pipeline_frontier', 6, 'doc_id:bigint,domain:string,path:string,n_inlinks:bigint,pr:double,fetch_rank:int'),
        |('e_pipeline_full', 4, 'domain:string,bin:bigint,n_docs:bigint,sum_tokens:bigint'),
        |('e_pipeline_full_neardup', 4, 'domain:string,bin:bigint,n_docs:bigint,sum_tokens:bigint'),
        |('e_pipeline_tokenize_pack', 4, 'lang:string,bin:bigint,n_docs:bigint,sum_tokens:bigint'),
        |('e_pipeline_warc', 3, 'domain:string,n_docs:bigint,total_chars:bigint'),
        |('e_pipeline_e2e', 4, 'lang:string,n_docs:bigint,avg_chars:double,total_tokens:bigint'),
        |('e_pipeline_mix_pack', 4, 'lang:string,shard:bigint,n_chunks:bigint,sum_tokens:bigint'),
        |('e_pivot', 6, 'day:timestamp,click:bigint,view:bigint,signup:bigint,purchase:bigint,error:bigint'),
        |('e_profile', 5, 'column_name:string,n_nulls:bigint,n_distinct:bigint,min_len:bigint,max_len:bigint'),
        |('e_publish_diff', 3, 'diff_kind:string,n_rows:bigint,key_fp:bigint'),
        |('e_publish_roundtrip', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_quality_gate', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_quality_infer', 4, 'doc_id:bigint,score:double,pred:int,label:int'),
        |('e_quality_score', 5, 'doc_id:bigint,n_tokens:bigint,stopword_ratio:double,alpha_ratio:double,mean_token_len:double'),
        |('e_quality_train', 5, 'iter:int,w0:double,w1:double,w2:double,w3:double'),
        |('e_quantile_sketch', 3, 'event_type:string,n:bigint,within_bound:boolean'),
        |('e_quantiles_interp', 3, 'lang:string,p50_interp:double,p90_interp:double'),
        |('e_range_join', 2, 'event_id:bigint,n_recent_clicks:bigint'),
        |('e_rebalance', 4, 'lang:string,n_total:bigint,n_kept:bigint,sum_chars:bigint'),
        |('e_rebalance_topk', 4, 'lang:string,n_total:bigint,n_kept:bigint,sum_chars:bigint'),
        |('e_regex_funcs', 4, 'p_partkey:bigint,first_word:string,n_vowels:bigint,len_novowels:bigint'),
        |('e_repetition', 3, 'doc_id:bigint,rep_bigram:double,rep_token:double'),
        |('e_robots_filter', 4, 'doc_id:bigint,domain:string,path:string,allowed:boolean'),
        |('e_retrieval_eval', 6, 'query_id:int,n_gold:bigint,n_hits:bigint,recall_at_10:double,precision_at_10:double,mrr:double'),
        |('e_retrieval_mmr', 5, 'query_id:bigint,mmr_rank:int,doc_id:bigint,rel:double,mmr_score:double'),
        |('e_retrieval_mmr_ivf', 5, 'query_id:bigint,mmr_rank:int,doc_id:bigint,rel:double,mmr_score:double'),
        |('e_rolling_7d', 4, 'event_type:string,day:timestamp,n_7d:bigint,v_7d:double'),
        |('e_sample_stratified', 3, 'lang:string,n_sampled:bigint,avg_chars:double'),
        |('e_sample_weighted', 3, 'lang:string,n_kept:bigint,sum_chars:bigint'),
        |('e_scd2', 5, 'user_id:bigint,event_type:string,valid_from:timestamp,valid_to:timestamp,n_in_run:bigint'),
        |('e_semdedup', 3, 'vec_id:bigint,cell:int,kept:boolean'),
        |('e_sessionize', 4, 'user_id:bigint,event_id:bigint,ts:timestamp,session_seq:bigint'),
        |('e_set_except', 1, 'nationkey:int'),
        |('e_set_intersect', 1, 'nationkey:int'),
        |('e_set_ops_all', 3, 'op:string,l_linenumber:int,n:bigint'),
        |('e_set_union', 1, 'name:string'),
        |('e_share_of_total', 3, 'c_nationkey:int,revenue:double,share:double'),
        |('e_shuffle_shard', 4, 'shard:bigint,n_docs:bigint,sum_chars:bigint,fp:bigint'),
        |('e_similarity_topk', 2, 'vec_id:bigint,cos_sim:double'),
        |('e_skew_salted', 3, 'c_nationkey:int,n_orders:bigint,revenue:double'),
        |('e_sliding_batch', 4, 'win_start:timestamp,event_type:string,cnt:bigint,sum_value:double'),
        |('e_snapshot_diff', 3, 'diff_kind:string,n_rows:bigint,key_fp:bigint'),
        |('e_split_leakfree', 4, 'split:string,n_docs:bigint,n_clusters:bigint,n_naive_leaky:bigint'),
        |('e_stats_agg', 5, 'l_returnflag:string,sd_price:double,var_qty:double,corr_qp:double,cov_qp:double'),
        |('e_str_funcs', 5, 'p_partkey:bigint,upper_name:string,name_prefix:string,brand_type:string,name_len:bigint'),
        |('e_stream_dedup_replay', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_stream_ingest_compact', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_stream_ingest_dedup', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_stream_ingest_ivf', 2, 'vec_id:bigint,cos_sim:double'),
        |('e_stream_join_capped', 3, 'user_id:bigint,n_pairs:bigint,sum_gap_us:bigint'),
        |('e_stream_join_replay', 3, 'user_id:bigint,n_pairs:bigint,sum_gap_us:bigint'),
        |('e_stream_pipeline_full', 4, 'domain:string,bin:bigint,n_docs:bigint,sum_tokens:bigint'),
        |('e_stream_pipeline_neardup', 4, 'domain:string,bin:bigint,n_docs:bigint,sum_tokens:bigint'),
        |('e_stream_publish', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_stream_quality_model', 4, 'doc_id:bigint,score:double,pred:int,label:int'),
        |('e_stream_quality_replay', 4, 'doc_id:bigint,lang:string,source:string,n_chars:bigint'),
        |('e_stream_session', 4, 'user_id:bigint,session_start:timestamp,n_events:bigint,sum_value:double'),
        |('e_stream_session_replay', 4, 'user_id:bigint,session_start:timestamp,n_events:bigint,sum_value:double'),
        |('e_stream_sliding_replay', 4, 'win_start:timestamp,event_type:string,cnt:bigint,sum_value:double'),
        |('e_stream_static_replay', 3, 'c_mktsegment:string,n_events:bigint,sum_value:double'),
        |('e_stream_tumbling_replay', 4, 'hour_start:timestamp,event_type:string,cnt:bigint,sum_value:double'),
        |('e_stream_upsert_replay', 4, 'o_custkey:bigint,last_orderkey:bigint,last_price:double,n_upserts:bigint'),
        |('e_subq_in', 2, 'o_orderpriority:string,n_orders:bigint'),
        |('e_text_stats', 4, 'lang:string,n_docs:bigint,avg_chars:double,n_sources:bigint'),
        |('e_tfidf', 6, 'doc_id:bigint,term:string,tf:bigint,df:bigint,score:double,term_rank:int'),
        |('e_token_budget', 3, 'lang:string,n_sel:bigint,chars_sel:bigint'),
        |('e_token_count', 4, 'doc_id:bigint,ws_tokens:bigint,re_tokens:bigint,chars_per_token:double'),
        |('e_top_terms', 4, 'lang:string,term:string,cnt:bigint,term_rank:int'),
        |('e_topk', 3, 'l_orderkey:bigint,l_linenumber:int,l_extendedprice:double'),
        |('e_topk_per_key', 3, 'o_custkey:bigint,o_orderkey:bigint,o_totalprice:double'),
        |('e_tpch_q1', 10, 'l_returnflag:string,l_linestatus:string,sum_qty:double,sum_base_price:double,sum_disc_price:double,sum_charge:double,avg_qty:double,avg_price:double,avg_disc:double,count_order:bigint'),
        |('e_tpch_q10', 5, 'c_custkey:bigint,c_name:string,revenue:double,c_acctbal:double,n_name:string'),
        |('e_tpch_q11', 2, 'ps_partkey:bigint,part_value:double'),
        |('e_tpch_q12', 3, 'l_linestatus:string,high_line_count:bigint,low_line_count:bigint'),
        |('e_tpch_q13', 2, 'c_count:bigint,custdist:bigint'),
        |('e_tpch_q14', 3, 'promo_pct:double,promo_rev:double,total_rev:double'),
        |('e_tpch_q15', 3, 's_suppkey:bigint,s_name:string,total_revenue:double'),
        |('e_tpch_q16', 4, 'p_brand:string,p_type:string,p_size:int,supplier_cnt:bigint'),
        |('e_tpch_q17', 2, 'sum_small_rev:double,n_small:bigint'),
        |('e_tpch_q18', 4, 'o_orderkey:bigint,o_custkey:bigint,o_totalprice:double,total_qty:double'),
        |('e_tpch_q19', 2, 'revenue:double,n_items:bigint'),
        |('e_tpch_q2', 5, 's_acctbal:double,s_name:string,n_name:string,p_partkey:bigint,p_name:string'),
        |('e_tpch_q20', 2, 's_name:string,s_acctbal:double'),
        |('e_tpch_q21', 2, 's_name:string,numwait:bigint'),
        |('e_tpch_q22', 3, 'cntrycode:int,numcust:bigint,totacctbal:double'),
        |('e_tpch_q3', 3, 'l_orderkey:bigint,revenue:double,o_orderdate:timestamp_ntz'),
        |('e_tpch_q4', 2, 'o_orderpriority:string,order_count:bigint'),
        |('e_tpch_q5', 2, 'n_name:string,revenue:double'),
        |('e_tpch_q6', 2, 'revenue:double,n_items:bigint'),
        |('e_tpch_q7', 4, 'supp_nation:string,cust_nation:string,l_year:bigint,revenue:double'),
        |('e_tpch_q8', 2, 'o_year:bigint,mkt_share:double'),
        |('e_tpch_q9', 3, 'nation:string,o_year:bigint,sum_profit:double'),
        |('e_triangles', 4, 'n_vertices:bigint,n_edges:bigint,n_wedges:bigint,n_triangles:bigint'),
        |('e_tumbling_batch', 4, 'hour_start:timestamp,event_type:string,cnt:bigint,sum_value:double'),
        |('e_unpivot', 4, 'l_orderkey:bigint,l_linenumber:int,metric:string,value:double'),
        |('e_url_canon', 3, 'doc_id:bigint,canon_url:string,url_rank:int'),
        |('e_warc_parse', 4, 'doc_id:bigint,http_status:int,n_warc_headers:bigint,extracted_md5:string'),
        |('e_warc_parse_gz', 4, 'doc_id:bigint,http_status:int,n_warc_headers:bigint,extracted_md5:string'),
        |('e_window_lag', 6, 'o_custkey:bigint,o_orderkey:bigint,o_totalprice:double,prev_price:double,next_price:double,quartile:int'),
        |('e_window_pct', 5, 'o_custkey:bigint,o_orderkey:bigint,o_totalprice:double,pct_rank:double,cume:double'),
        |('e_window_range', 5, 'o_custkey:bigint,o_orderkey:bigint,o_totalprice:double,n_nearby:bigint,cheapest_key:bigint'),
        |('e_window_rank', 4, 'o_custkey:bigint,o_orderkey:bigint,o_totalprice:double,rn:int'),
        |('e_window_running', 3, 'o_custkey:bigint,o_orderkey:bigint,running_total:double'),
        |('e_zorder', 2, 'o_orderkey:bigint,zval:bigint'),
        |('r_config_boot', 3, 'o_orderkey:bigint,o_custkey:bigint,o_totalprice:double'),
        |('r_desc_table', 3, 'col_name:string,data_type:string,nullable:boolean'),
        |('r_dynamic_proj', 1, 'c_name:string'),
        |('r_ffi_route', 3, 'country:string,year:bigint,value:bigint'),
        |('r_filter_eq_date', 6, 'o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string'),
        |('r_fk_lookup', 11, 'l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz'),
        |('r_inner_join', 12, 'o_orderkey:bigint,l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz'),
        |('r_jdbc_agg', 4, 'n_regionkey:int,n_nations:bigint,max_key:int,min_key:int'),
        |('r_jdbc_join', 4, 'n_nationkey:int,n_name:string,n_suppliers:bigint,sum_acctbal:double'),
        |('r_jdbc_scan', 3, 'n_nationkey:int,n_name:string,n_regionkey:int'),
        |('r_jdbc_two_backends', 4, 'r_regionkey:int,r_name:string,n_customers:bigint,sum_acctbal:double'),
        |('r_page_keyset', 5, 'c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string'),
        |('r_page_sort', 5, 'c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string'),
        |('r_pgwire_agg', 4, 'n_regionkey:int,n_nations:bigint,max_key:int,min_key:int'),
        |('r_pgwire_join', 4, 'n_nationkey:int,n_name:string,n_suppliers:bigint,sum_acctbal:double'),
        |('r_pgwire_scan', 3, 'n_nationkey:int,n_name:string,n_regionkey:int'),
        |('r_point_lookup', 5, 'c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string'),
        |('r_scan_all', 2, 'r_regionkey:int,r_name:string'),
        |('r_soql_proj', 2, 'c_custkey:bigint,c_name:string'),
        |('r_soql_pushdown', 4, 'id:string,accountnumber:string,name:string,annualrevenue:double'),
        |('r_sql_template', 3, 'o_orderkey:bigint,o_custkey:bigint,o_totalprice:double')
        |) AS t(query_name, n_columns, fields)
        |ORDER BY query_name""".stripMargin
  )
}
