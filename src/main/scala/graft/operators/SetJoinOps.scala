package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextShingles => TS}

/** EXACT set-similarity self-join (Jaccard ≥ τ over word-shingle sets)
  * via AllPairs/PPJoin prefix filtering (Bayardo/Ma/Srikant WWW 2007;
  * Xiao et al. WWW 2008) — the sound counterpart to the MinHash-LSH
  * family in DedupOps: LSH trades recall for speed probabilistically;
  * this join is guaranteed complete, so it is what a pipeline runs
  * when a dedup decision must be exact (legal takedowns, eval-set
  * contamination audits) and what LSH recall is measured against.
  *
  * Prefix principle: order every set by one GLOBAL canonical order and
  * keep only each set's first |X| − ⌈τ·|X|⌉ + 1 elements (its
  * "prefix"); any pair with J ≥ τ must share a prefix element, so the
  * candidate set is an equi-join on prefix tokens instead of all
  * pairs. The canonical order is ascending (document frequency, hash)
  * — rare shingles land in prefixes, so each join key's posting list
  * is short by construction; that df-ascending choice, not the
  * pigeonhole itself, is what keeps the candidate count near-linear.
  *
  * Exactness discipline: τ is carried as the RATIONAL 4/5 and every
  * threshold is integer arithmetic — ⌈τ·n⌉ computed as
  * (4n + 4) div 5, the length filter as 4·|A| ≤ 5·|B|, the final
  * verify as 5·|A∩B| ≥ 4·|A∪B|. A floating ⌈0.8·n⌉ is off by one
  * whenever 0.8·n is an exact integer (0.8·35 = 28.000…004 → ceil 29
  * — a one-too-short prefix silently DROPS true pairs; soundness bugs
  * of that kind are invisible to spot checks, which is why the oracle
  * is a brute-force all-pairs scan with no prefix machinery at all).
  *
  * 100 TB shape: one shuffle on shingle hash for df, one per-doc
  * window for ranking, one equi-join on (rare) prefix tokens, verify
  * only on candidates with both docs' feature arrays riding the join.
  * No broadcast of the corpus, no all-pairs stage anywhere.
  */
object SetJoinOps {
  type Q = (SparkSession, String) => DataFrame

  /** τ = TauNum/TauDen, kept rational for exact integer thresholds. */
  val TauNum = 4L
  val TauDen = 5L

  /** All pairs (id_a < id_b) with Jaccard(shingles_a, shingles_b) ≥
    * τ over `feats(doc_id, feat: array<long>)` of DISTINCT elements,
    * plus the exact similarity.
    */
  def jaccardJoin(feats: DataFrame): DataFrame = {
    val ex = feats.select(col("doc_id"), explode(col("feat")).as("h"))
    // global document frequency per shingle (the canonical-order key)
    // as a WINDOW over the h-partition rather than aggregate+join-back:
    // one shuffle on h, one on doc_id — the exploded table is never
    // rebuilt for a probe side
    val wDoc = Window.partitionBy("doc_id")
    val ranked = ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .withColumn("rnk",
        row_number().over(wDoc.orderBy(col("df"), col("h"))))
      .withColumn("sz", count(lit(1)).over(wDoc))
    // prefix length |X| − ⌈τ|X|⌉ + 1, ceil in exact integer arithmetic:
    // SQL `div` is true long floor-division — Column.divide would round
    // through double and only stay exact below 2^52
    val alpha = expr(s"(sz * $TauNum + ${TauDen - 1}) div $TauDen")
    val prefix = ranked
      .where(col("rnk") <= col("sz") - alpha + 1)
      .select(col("doc_id"), col("h"), col("sz"))
    // candidates share a prefix token; the length filter (τ·|A| ≤ |B|
    // for |A| ≤ |B|) prunes size-mismatched pairs before verification
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.sz"), col("b.sz")) * TauDen >=
            greatest(col("a.sz"), col("b.sz")) * TauNum)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // exact verify on candidates only — integer cross-multiplied
    val fa = feats.select(col("doc_id").as("id_a"), col("feat").as("feat_a"))
    val fb = feats.select(col("doc_id").as("id_b"), col("feat").as("feat_b"))
    val inter = size(array_intersect(col("feat_a"), col("feat_b"))).cast("long")
    val union = size(array_union(col("feat_a"), col("feat_b"))).cast("long")
    cands.join(fa, Seq("id_a")).join(fb, Seq("id_b"))
      .withColumn("inter", inter).withColumn("un", union)
      .where(col("inter") * TauDen >= col("un") * TauNum)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("un"), 4).as("jacc"))
      .orderBy("id_a", "id_b")
  }

  /** Word-3-shingle md5-derived hash sets — the same oracle-replayable
    * feature family the minhash md5 twin uses, so DuckDB rebuilds the
    * identical sets for the brute-force check.
    */
  def shingleFeats(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      graft.functions.Md5Shingles.md5WordShingles(col("text"), 3)
        .as("feat"))
    .where(size(col("feat")) > 0)

  /** The feature table feeds THREE plan branches (df counting and both
    * verify sides); without a cache boundary Catalyst re-evaluates the
    * interpreted HOF shingle transform per branch (BASELINE.md's trap
    * list; measured 14.6 s → ~1 s at sf0.1). One persisted frame per
    * (session, dir), the same memo pattern as DedupOps' staged feats.
    */
  private[operators] def stagedFeats(spark: SparkSession, dir: String): DataFrame =
    graft.engine.CacheRegistry.memo("setjoin.staged", dir)(
      shingleFeats(Tables.load(spark, dir, "documents")).persist())(
      _.unpersist(blocking = false))

  private val jaccardJoinQ: Q = (spark, dir) =>
    jaccardJoin(stagedFeats(spark, dir))

  val queries: Map[String, Q] = Map(
    "e_jaccard_join" -> jaccardJoinQ,
  )

  /** Brute-force oracle: every pair, no prefix/length machinery — the
    * candidate generation must be invisible in the result.
    */
  val oracles: Map[String, String] = Map(
    "e_jaccard_join" ->
      s"""WITH toked AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
         |  FROM documents
         |), feats0 AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      list_transform(generate_series(1, len(toks) - 2),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
         |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS feat
         |  FROM toked
         |), feats AS (
         |  SELECT doc_id, feat FROM feats0 WHERE len(feat) > 0
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.feat, b.feat)) AS inter,
         |    len(a.feat) + len(b.feat)
         |      - len(list_intersect(a.feat, b.feat)) AS un
         |  FROM feats a JOIN feats b ON a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / un, 4) AS jacc
         |FROM pairs WHERE inter * $TauDen >= un * $TauNum
         |ORDER BY id_a, id_b""".stripMargin,
  )
}
