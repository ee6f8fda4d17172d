package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Model-based quality filtering — the FineWeb-Edu / DCLM move: instead
  * of fixed heuristic thresholds, TRAIN a model on labeled examples and
  * score the whole corpus with it. Here the model is a linear
  * least-squares classifier over cheap text features, trained by
  * full-batch gradient descent INSIDE Spark; the trained weights then
  * score every document in one codegen'd scan.
  *
  * Determinism contract (the [[GraphOps.pageRank]] discipline): each
  * per-row gradient term is pure IEEE double arithmetic in a fixed
  * association order (identical in any engine); the only
  * order-sensitive step — the gradient sum across rows — accumulates
  * as DECIMAL(28,16) (associative, partition-independent); the weight
  * update is double arithmetic on that exact sum, rounded to 12 dp per
  * iteration so representation noise cannot compound. Feature scaling
  * divides by POWERS OF TWO (exact in binary floating point), and the
  * inference score is emitted UNROUNDED — both engines evaluate the
  * same fixed-order polynomial over identical operands.
  *
  * 100 TB shape: one aggregation job per GD iteration — partial
  * gradient sums combine map-side (d+1 decimals per partition cross
  * the wire, NOT rows), the driver holds d+1 doubles; inference is a
  * zero-shuffle scan. This is exactly how a production quality
  * classifier trains over a corpus too big to sample down.
  */
object QualityModelOps {
  type Q = (SparkSession, String) => DataFrame

  /** GD iterations. Fixture-measured: loss 0.58 → 0.12, label accuracy
    * ~0.94 at this depth (see QualityModelSpec, which pins monotone
    * loss descent).
    */
  val Iters = 6

  /** Stopword list for the stop-ratio feature (shared with the oracle
    * via [[sqlStopList]]).
    */
  val Stops: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "on")

  private def sqlStopList: String = Stops.map(s => s"'$s'").mkString(", ")

  /** Labeled feature frame: x0 = 1 (bias), x1 = tokens/128,
    * x2 = stop-tokens/16, x3 = alpha-chars/512 (all exact power-of-two
    * scalings of integer counts), y = 1 iff n_chars ≥ 256 — the
    * "trusted labels" a real pipeline gets from human rating or an LLM
    * judge; here a held-out column so the gate can replay it.
    */
  def features(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs.select(
      col("doc_id"),
      lit(1.0).as("x0"),
      (size(toks).cast("double") / lit(128.0)).as("x1"),
      (size(filter(toks, t => t.isin(Stops: _*))).cast("double") /
        lit(16.0)).as("x2"),
      (length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
        lit(512.0)).as("x3"),
      when(col("n_chars") >= 256, lit(1.0)).otherwise(lit(0.0)).as("y"))
  }

  private def predCol(w: Array[Double]): Column =
    lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3")

  private def round12(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Train by full-batch GD (lr = 0.5, the ×2 loss-gradient factor
    * folded in: wⱼ ← round(wⱼ − Gⱼ/n, 12) with Gⱼ = Σ (pred−y)·xⱼ).
    * Returns the per-iteration weight trajectory (Iters rows — the
    * convergence evidence IS the result) plus the per-iteration
    * weights for [[infer]].
    */
  def train(feats: DataFrame): Seq[(Int, Array[Double])] = {
    val n = feats.count().toDouble
    var w = Array(0.0, 0.0, 0.0, 0.0)
    (1 to Iters).map { t =>
      val err = predCol(w) - col("y")
      // one bounded driver collect per iteration: d+1 decimal sums
      val g = feats.agg(
        sum((err * col("x0")).cast(DecimalType(28, 16))),
        sum((err * col("x1")).cast(DecimalType(28, 16))),
        sum((err * col("x2")).cast(DecimalType(28, 16))),
        sum((err * col("x3")).cast(DecimalType(28, 16)))).head()
      w = Array.tabulate(4)(j =>
        round12(w(j) - g.getDecimal(j).doubleValue() / n))
      (t, w)
    }
  }

  // Training runs Iters aggregation jobs — memoize the trajectory per
  // (app, dataset) so the train/infer gate rows, bench warm passes,
  // and downstream compositions (e_pipeline_crawl_model) pay it once
  // (the bpeOf / persistedIndexPath discipline).
  private def trajectoryOf(spark: SparkSession, dir: String)
      : Seq[(Int, Array[Double])] =
    graft.engine.CacheRegistry.memo("quality.traj", dir)(
      train(features(Tables.load(spark, dir, "documents"))))(_ => ())

  /** FROZEN final weights for a dataset — the serve-side contract
    * (e_stream_quality_model's discipline): train once, score
    * everywhere.
    */
  def trainedWeights(spark: SparkSession, dir: String): Array[Double] =
    trajectoryOf(spark, dir).last._2

  private val trainQ: Q = (spark, dir) => {
    import spark.implicits._
    trajectoryOf(spark, dir)
      .map { case (t, w) => (t, w(0), w(1), w(2), w(3)) }
      .toDF("iter", "w0", "w1", "w2", "w3")
      .orderBy("iter")
  }

  /** Score a documents frame (batch OR streaming — pure column ops)
    * with frozen weights: the production serve shape. One codegen'd
    * projection, zero shuffle.
    */
  def score(docs: DataFrame, w: Array[Double]): DataFrame =
    features(docs).select(
      col("doc_id"),
      predCol(w).as("score"),
      when(predCol(w) >= 0.5, lit(1)).otherwise(lit(0)).as("pred"),
      col("y").cast("int").as("label"))

  /** Model score over a bare TEXT column with frozen weights — the
    * composition surface: lets any pipeline stage (e.g. the crawl
    * pipeline's quality gate) score its current text without routing
    * through the documents-frame shape. Same fixed-order polynomial
    * as [[score]]: one codegen'd expression, zero shuffle.
    */
  def scoreOn(text: Column, w: Array[Double]): Column = {
    val toks = split(text, " ")
    val x1 = size(toks).cast("double") / lit(128.0)
    val x2 = size(filter(toks, t => t.isin(Stops: _*))).cast("double") /
      lit(16.0)
    val x3 = length(regexp_replace(text, "[^a-z]", "")).cast("double") /
      lit(512.0)
    lit(w(0)) + lit(w(1)) * x1 + lit(w(2)) * x2 + lit(w(3)) * x3
  }

  private val inferQ: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    score(docs, trainedWeights(spark, dir)).orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "e_quality_train" -> trainQ,
    "e_quality_infer" -> inferQ)

  // ------------------------------------------------------------------
  // DuckDB replay: the full GD trajectory as a CTE chain — one
  // (gradient, weights) CTE pair per iteration, every expression the
  // same fixed-order double arithmetic as the Spark side.
  // ------------------------------------------------------------------

  private[graft] def featCte: String =
    s"""f AS (
       |  SELECT doc_id,
       |    CAST(1.0 AS DOUBLE) AS x0,
       |    len(string_split(text, ' '))::DOUBLE / CAST(128.0 AS DOUBLE) AS x1,
       |    len(list_filter(string_split(text, ' '),
       |        t -> t IN ($sqlStopList)))::DOUBLE / CAST(16.0 AS DOUBLE) AS x2,
       |    length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
       |      / CAST(512.0 AS DOUBLE) AS x3,
       |    CASE WHEN n_chars >= 256 THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(0.0 AS DOUBLE) END AS y
       |  FROM documents
       |), nn AS (SELECT count(*)::DOUBLE AS n FROM f),
       |w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
       |              CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3)""".stripMargin

  private[graft] def iterCtes: String =
    (1 to Iters).map { t =>
      val pw = s"w${t - 1}"
      val err = s"(w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 - f.y)"
      s"""g$t AS (
         |  SELECT
         |    sum(CAST($err * f.x0 AS DECIMAL(28,16))) AS g0,
         |    sum(CAST($err * f.x1 AS DECIMAL(28,16))) AS g1,
         |    sum(CAST($err * f.x2 AS DECIMAL(28,16))) AS g2,
         |    sum(CAST($err * f.x3 AS DECIMAL(28,16))) AS g3
         |  FROM f, $pw w
         |), w$t AS (
         |  SELECT round(w.w0 - CAST(g.g0 AS DOUBLE) / nn.n, 12) AS w0,
         |         round(w.w1 - CAST(g.g1 AS DOUBLE) / nn.n, 12) AS w1,
         |         round(w.w2 - CAST(g.g2 AS DOUBLE) / nn.n, 12) AS w2,
         |         round(w.w3 - CAST(g.g3 AS DOUBLE) / nn.n, 12) AS w3
         |  FROM $pw w, g$t g, nn
         |)""".stripMargin
    }.mkString(",\n")

  private def trainOracle: String = {
    val rows = (1 to Iters)
      .map(t => s"SELECT $t AS iter, w0, w1, w2, w3 FROM w$t")
      .mkString("\nUNION ALL\n")
    s"""WITH $featCte,
       |$iterCtes
       |SELECT * FROM (
       |$rows
       |) ORDER BY iter""".stripMargin
  }

  private def inferOracle: String =
    s"""WITH $featCte,
       |$iterCtes
       |SELECT f.doc_id,
       |  w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 AS score,
       |  CASE WHEN w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3
       |            >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END AS pred,
       |  y::INT AS label
       |FROM f, w$Iters w
       |ORDER BY f.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "e_quality_train" -> trainOracle,
    "e_quality_infer" -> inferOracle)
}
