package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.TextShingles

/** Behavioral / event-stream analytics over the `events` fixture — the
  * operator family a product-analytics user of the reference would run
  * (the reference ships raw SQL to pg/mysql, `/root/reference/index.js:
  * 230-252`; these are the classic event-SQL patterns expressed as
  * Catalyst plans).
  *
  * Scale notes (100 TB): every query here is one shuffle on `user_id`
  * (sessionize, funnel, SCD2, cohort) or one on a low-cardinality group
  * key; window functions reuse the single user_id exchange for all
  * chained frames; the funnel's per-step joins share the user_id
  * partitioning so AQE plans them without extra exchanges; the z-score
  * join broadcasts a 5-row stats dim. No O(n²), no driver loops.
  */
object EventAnalytics {
  type Q = (SparkSession, String) => DataFrame

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")

  /** Deterministic event order within a user: ts then event_id. */
  private val byUser =
    Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))

  // ---------------------------------------------------------------- //
  // e_sessionize: per-EVENT session assignment (gaps >= 30 min start a
  // new session). e_stream_session aggregates per session; this keeps
  // event grain — the form you need to attribute individual events to
  // sessions before a downstream join. One exchange: both windows
  // (lag + running sum) share the user_id partitioning.
  // ---------------------------------------------------------------- //
  private val sessionize: Q = (spark, dir) => {
    val brk = when(
      col("ts") >= lag(col("ts"), 1).over(byUser) + expr("INTERVAL 30 MINUTES"),
      1L).otherwise(0L)
    events(spark, dir)
      .withColumn("brk", brk)
      .withColumn("session_seq",
        sum(col("brk")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("event_id"), col("ts"), col("session_seq"))
      .orderBy("user_id", "ts", "event_id")
  }

  // ---------------------------------------------------------------- //
  // e_funnel: strict-order funnel view -> click -> purchase. Step n
  // counts users whose first step-n event happens strictly after their
  // qualifying step-(n-1) time. Implemented as chained per-user min
  // aggregations; all three aggregates and both joins hash on user_id,
  // so the whole funnel is one exchange per step input with no
  // repartitioning between steps.
  // ---------------------------------------------------------------- //
  private val funnel: Q = (spark, dir) => {
    val ev = events(spark, dir)
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val c = ev.where(col("event_type") === "click")
      .join(v, "user_id").where(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    def stage(n: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(n).as("stage"), lit(name).as("step"), col("n_users"))
    stage(1, "view", v).unionAll(stage(2, "click", c))
      .unionAll(stage(3, "purchase", p))
      .orderBy("stage")
  }

  // ---------------------------------------------------------------- //
  // e_cohort_retention: users cohorted by the week of their first
  // event; n_active = distinct users of cohort w active in week w+k.
  // Two shuffles total (user_id for first-seen, then the tiny
  // (cohort, offset) group); the cohort dim joins back broadcast.
  // ---------------------------------------------------------------- //
  private val cohortRetention: Q = (spark, dir) => {
    val ev = events(spark, dir)
    val firstSeen = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    ev.join(broadcast(firstSeen), "user_id")
      .select(col("user_id"), col("cohort_week"),
        floor(datediff(date_trunc("week", col("ts")).cast("date"),
          col("cohort_week").cast("date")) / 7).as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  // ---------------------------------------------------------------- //
  // e_anomaly_zscore: per-type z-score outliers. Mean/variance are
  // computed from DECIMAL sums (exact under any partitioning — the
  // same determinism discipline as e_embedding_centroids), then the
  // z arithmetic is a fixed double expression shape both engines
  // evaluate identically. The 5-row stats dim broadcasts back.
  // ---------------------------------------------------------------- //
  /** Per-type mean/variance from DECIMAL-exact sums — the stats
    * snapshot both the batch query and the streaming gate score
    * against.
    */
  def typeStats(ev: DataFrame): DataFrame = {
    val mean = col("s1").cast("double") / col("n").cast("double")
    val varS = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / col("n").cast("double")) /
      (col("n").cast("double") - lit(1.0))
    ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(28, 10))).as("s1"),
        sum((col("value") * col("value")).cast(DecimalType(38, 12))).as("s2"))
      .select(col("event_type"), mean.as("mean"), varS.as("var_s"))
  }

  /** Score rows against a stats snapshot and keep |z| ≥ tau. The stats
    * side is static and broadcast, so the SAME transform runs over a
    * batch frame and a stream (stream–static join, stateless) — the
    * deploy pattern for anomaly detection: stats from the batch job,
    * scoring on the live stream.
    */
  def scoreZ(ev: DataFrame, stats: DataFrame, tau: Double = 2.5): DataFrame =
    ev.join(broadcast(stats), "event_type")
      .withColumn("z",
        round((col("value") - col("mean")) / sqrt(col("var_s")), 3))
      .where(abs(col("z")) >= tau)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))

  private val anomalyZscore: Q = (spark, dir) => {
    val ev = events(spark, dir)
    scoreZ(ev, typeStats(ev)).orderBy("event_id")
  }

  // ---------------------------------------------------------------- //
  // e_grouping_sets: non-hierarchical grouping sets ((rf), (ls)) —
  // the one multi-group shape rollup/cube cannot express. Same
  // Expand-based single-pass plan as rollup: one scan, one shuffle.
  // ---------------------------------------------------------------- //
  private val groupingSets: Q = (spark, dir) => {
    val li = Tables.load(spark, dir, "lineitem")
    li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("cnt"), col("sum_qty"))
      .orderBy("rf", "ls")
  }

  // ---------------------------------------------------------------- //
  // e_scd2: gaps-and-islands — collapse each user's consecutive runs
  // of the same event_type into SCD2-style validity rows (valid_to =
  // next run's start, NULL while current). All three windows share
  // the user_id exchange; the run groupBy re-uses it too.
  // ---------------------------------------------------------------- //
  private val scd2: Q = (spark, dir) => {
    val chg = when(lag(col("event_type"), 1).over(byUser).isNull ||
      lag(col("event_type"), 1).over(byUser) =!= col("event_type"), 1L)
      .otherwise(0L)
    val runs = events(spark, dir)
      .withColumn("run_id", sum(chg).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id", "event_type")
      .agg(min("ts").as("valid_from"), count(lit(1)).as("n_in_run"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy("user_id").orderBy(col("run_id"))))
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("n_in_run"))
      .orderBy("user_id", "valid_from")
  }

  // ---------------------------------------------------------------- //
  // e_shuffle_shard: deterministic global shuffle into 64 training
  // shards — shard = md5-60bit(doc_id) % 64, the cross-engine hash the
  // md5 dedup twins already replay. Audit output: per-shard doc count,
  // char mass, and an order-free checksum (sum of hashes mod p).
  // Content-hash sharding is how a 100 TB corpus is split into
  // training files with no coordinator state.
  // ---------------------------------------------------------------- //
  private val shuffleShard: Q = (spark, dir) => {
    val p = 1000000007L
    val h = TextShingles.md5Hash60(col("doc_id").cast("string"))
    Tables.load(spark, dir, "documents")
      .select(pmod(h, lit(64L)).as("shard"), col("n_chars"),
        pmod(h, lit(p)).as("hp"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        pmod(sum(col("hp")), lit(p)).as("fp"))
      .orderBy("shard")
  }

  // ---------------------------------------------------------------- //
  // e_dau_churn: day-over-day active-user accounting. Per (user, day)
  // grain with lag/lead over one user_id exchange; new = no activity
  // the previous day, retained = active both days, churned(d) = active
  // d-1 but not d (attributed to d, counted only for days that exist
  // in the data — the day dim is tiny and joins broadcast).
  // ---------------------------------------------------------------- //
  private val dauChurn: Q = (spark, dir) => {
    val daily = events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val flags = daily
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("next_day", lead(col("day"), 1).over(w))
    val oneDay = expr("INTERVAL 1 DAY")
    val act = flags.groupBy("day").agg(
      sum(when(col("prev_day").isNull ||
        col("prev_day") =!= col("day") - oneDay, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev_day") === col("day") - oneDay, 1L).otherwise(0L))
        .as("n_retained"))
    val dayDim = daily.select("day").distinct()
    val churn = flags
      .where(col("next_day").isNull || col("next_day") =!= col("day") + oneDay)
      .select((col("day") + oneDay).as("day"))
      .join(broadcast(dayDim), "day")
      .groupBy("day").agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("day"), "left")
      .select(col("day"), col("n_new"), col("n_retained"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("day")
  }

  // ---------------------------------------------------------------- //
  // e_rolling_7d: per-type daily series with a trailing 7-day rolling
  // count and value sum. Daily pre-aggregation first (map-side combine
  // collapses the event grain), then the rolling frame runs over the
  // tiny (type, day) series — partitioned by event_type, so no global
  // ordering exists anywhere. Fixture days are contiguous per type,
  // which makes ROWS BETWEEN 6 PRECEDING the exact trailing week (the
  // gap-fill operator is the general-calendar companion).
  // ---------------------------------------------------------------- //
  private val rolling7d: Q = (spark, dir) => {
    val daily = events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_day"),
        sum(col("value").cast(DecimalType(18, 6))).as("v_day"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, Window.currentRow)
    daily
      .select(col("event_type"), col("day"),
        sum(col("n_day")).over(w).as("n_7d"),
        round(sum(col("v_day")).over(w), 2).cast("double").as("v_7d"))
      .orderBy("event_type", "day")
  }

  // ---------------------------------------------------------------- //
  // e_mad: robust outlier stats — per-type lower median and median
  // absolute deviation by rank-pick (two window passes over the same
  // event_type exchange; the 5-row median dim broadcasts back for the
  // deviation pass). Both statistics are actual data values, so the
  // output is exact with no rounding rule at all — more robust than
  // the z-score pair when the value distribution is heavy-tailed.
  // Scale caveat (same as e_length_quantiles): rank-pick windows over a
  // LOW-cardinality stratum serialize each stratum into one task; at
  // 100 TB per stratum the exact path is a value-histogram + binary
  // search (two full scans, no per-stratum sort) or a t-digest sketch —
  // the window form is right when strata are many or bounded.
  // ---------------------------------------------------------------- //
  /** GK-sketch accuracy for [[quantileSketch]] (rank error ≤ n/200). */
  private val QsAccuracy = 200

  /** Mergeable quantile SKETCH with its error bound pinned ON the gate
    * (the e_ann_recall discipline: the guarantee is a column, not a
    * comment). `percentile_approx` is Spark's Greenwald–Khanna sketch —
    * the one-pass mergeable summary that answers any quantile over
    * 100 TB with rank error ≤ n/accuracy and O(accuracy·log n) state
    * per group, where the exact median (e_mad's window form) needs a
    * full per-group sort. The estimate itself is engine-specific, so
    * the gate audits the GUARANTEE: the estimate's value-rank interval
    * [#(< est)+1, #(≤ est)] must intersect the target rank ± the bound
    * — a regression in the sketch (or a silently changed accuracy
    * knob) turns the row red without the oracle needing to reproduce
    * sketch internals.
    */
  private val quantileSketch: Q = (spark, dir) => {
    val ev = events(spark, dir).select(col("event_type"), col("value"))
    val est = ev.groupBy("event_type")
      .agg(percentile_approx(col("value"), lit(0.5), lit(QsAccuracy))
        .as("approx_med"),
        count(lit(1)).as("n"))
    ev.join(broadcast(est), "event_type")
      .groupBy("event_type")
      .agg(
        sum(when(col("value") < col("approx_med"), 1L).otherwise(0L))
          .as("lt"),
        sum(when(col("value") <= col("approx_med"), 1L).otherwise(0L))
          .as("le"),
        max("n").as("n"))
      .select(col("event_type"), col("n"), {
        val target = floor((col("n") - 1) / lit(2.0)).cast("long") + 1
        val bound = floor((col("n") + lit(QsAccuracy - 1)) /
          lit(QsAccuracy.toDouble)).cast("long") + 1
        ((col("lt") + 1 <= target + bound) &&
          (col("le") >= target - bound)).as("within_bound")
      })
      .orderBy("event_type")
  }

  private val mad: Q = (spark, dir) => {
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val byV = Window.partitionBy("event_type")
        .orderBy(col(valueCol), col("event_id"))
      val whole = Window.partitionBy("event_type")
      df.withColumn("rn", row_number().over(byV).cast("long"))
        .withColumn("n", count(lit(1)).over(whole))
        .groupBy("event_type")
        .agg(max(when(col("rn") ===
            floor((col("n") - 1) / lit(2.0)).cast("long") + 1,
          col(valueCol))).as(out), max("n").as(s"${out}_n"))
    }
    val ev = events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    val med = lowerMedian(ev, "value", "median")
    val dev = ev.join(broadcast(med.select("event_type", "median")), "event_type")
      .select(col("event_type"), col("event_id"),
        abs(col("value") - col("median")).as("adev"))
    lowerMedian(dev, "adev", "mad")
      .join(med, "event_type")
      .select(col("event_type"), col("median_n").as("n"),
        col("median"), col("mad"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- //
  // e_median_hist: the 100 TB exact-median path the e_mad caveat
  // names — histogram + in-bucket refinement, fully declarative:
  // (1) bucket every value (codegen'd floor, 1024 bins), (2) per-type
  // cumulative histogram over ≤1024 tiny rows picks the bucket holding
  // the median rank, (3) rank-pick WITHIN that one bucket (~n/1024
  // rows per stratum — no per-stratum full sort anywhere). Bucketing
  // is monotone in value, so bucket-local rank + cumulative-before
  // equals global rank exactly; the result is the same lower median
  // e_mad computes, asserted equal in EventAnalyticsSpec.
  // ---------------------------------------------------------------- //
  private val medianHist: Q = (spark, dir) => {
    val nb = 1024
    val ev = events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    val binned = ev.withColumn("bucket",
      least(floor(col("value") * lit(nb.toDouble) / lit(1000.0)),
        lit((nb - 1).toLong)).cast("long"))
    val wb = Window.partitionBy("event_type").orderBy("bucket")
    val cum = binned.groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("c"))
      .withColumn("cb", coalesce(sum(col("c")).over(
        wb.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("event_type")))
    val k = floor((col("n") - 1) / lit(2.0)).cast("long") + 1
    val target = cum.where(col("cb") < k && k <= col("cb") + col("c"))
      .select(col("event_type"), col("bucket"), col("cb"), k.as("k"), col("n"))
    binned.join(target, Seq("event_type", "bucket"))
      .withColumn("rn", row_number().over(Window.partitionBy("event_type")
        .orderBy("value", "event_id")))
      .where(col("rn") === col("k") - col("cb"))
      .select(col("event_type"), col("n"), col("value").as("median_hist"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- //
  // e_markov: event-type transition counts + conditional probabilities
  // — the first-order behavior model (what follows a click?). lead()
  // reuses the per-user exchange; the (from, to) matrix is
  // |types|² ≈ 25 rows, and the per-from normalization windows over
  // that tiny frame, not the event stream.
  // ---------------------------------------------------------------- //
  private val markov: Q = (spark, dir) => {
    val pairs = events(spark, dir)
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val wFrom = Window.partitionBy("from_type")
    pairs
      .withColumn("p", round(col("cnt").cast("double") /
        sum(col("cnt")).over(wFrom).cast("double"), 6))
      .orderBy("from_type", "to_type")
  }

  val queries: Map[String, Q] = Map(
    "e_dau_churn" -> dauChurn,
    "e_quantile_sketch" -> quantileSketch,
    "e_mad" -> mad,
    "e_markov" -> markov,
    "e_median_hist" -> medianHist,
    "e_rolling_7d" -> rolling7d,
    "e_sessionize" -> sessionize,
    "e_funnel" -> funnel,
    "e_cohort_retention" -> cohortRetention,
    "e_anomaly_zscore" -> anomalyZscore,
    "e_grouping_sets" -> groupingSets,
    "e_scd2" -> scd2,
    "e_shuffle_shard" -> shuffleShard,
  )

  val oracles: Map[String, String] = Map(
    "e_markov" ->
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events
        |), cnts AS (
        |  SELECT from_type, to_type, count(*) AS cnt
        |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, cnt,
        |  round(CAST(cnt AS DOUBLE) /
        |    CAST(sum(cnt) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM cnts ORDER BY from_type, to_type""".stripMargin,
    "e_median_hist" ->
      """WITH binned AS (
        |  SELECT event_type, event_id, value,
        |    CAST(least(floor(value * 1024.0 / 1000.0), 1023) AS BIGINT) AS bucket
        |  FROM events
        |), cum AS (
        |  SELECT event_type, bucket, c,
        |    coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM (SELECT event_type, bucket, count(*) AS c
        |        FROM binned GROUP BY 1, 2)
        |), target AS (
        |  SELECT event_type, bucket, cb,
        |    CAST(floor((n - 1) / 2.0) AS BIGINT) + 1 AS k, n
        |  FROM cum
        |  WHERE cb < CAST(floor((n - 1) / 2.0) AS BIGINT) + 1
        |    AND CAST(floor((n - 1) / 2.0) AS BIGINT) + 1 <= cb + c
        |), ranked AS (
        |  SELECT b.event_type, b.value, t.cb, t.k, t.n,
        |    row_number() OVER (PARTITION BY b.event_type
        |      ORDER BY b.value, b.event_id) AS rn
        |  FROM binned b JOIN target t
        |    ON b.event_type = t.event_type AND b.bucket = t.bucket
        |)
        |SELECT event_type, n::BIGINT AS n, value AS median_hist
        |FROM ranked WHERE rn = k - cb
        |ORDER BY event_type""".stripMargin,
    // the oracle pins the CONTRACT: every group's sketch estimate must
    // sit inside its rank bound (within_bound TRUE for all groups)
    "e_quantile_sketch" ->
      """SELECT event_type, count(*)::BIGINT AS n, TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e_mad" ->
      """WITH ranked AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events
        |), med AS (
        |  SELECT event_type, max(n)::BIGINT AS n,
        |    max(CASE WHEN rn = CAST(floor((n - 1) / 2.0) AS BIGINT) + 1
        |        THEN value END) AS median
        |  FROM ranked GROUP BY event_type
        |), dev AS (
        |  SELECT e.event_type, e.event_id, abs(e.value - m.median) AS adev
        |  FROM events e JOIN med m USING (event_type)
        |), ranked2 AS (
        |  SELECT event_type, adev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev
        |), madt AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = CAST(floor((n - 1) / 2.0) AS BIGINT) + 1
        |        THEN adev END) AS mad
        |  FROM ranked2 GROUP BY event_type
        |)
        |SELECT m.event_type, m.n, m.median, d.mad
        |FROM med m JOIN madt d USING (event_type)
        |ORDER BY m.event_type""".stripMargin,
    "e_rolling_7d" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    count(*) AS n_day,
        |    sum(CAST(value AS DECIMAL(18,6))) AS v_day
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, day,
        |  (sum(n_day) OVER w)::BIGINT AS n_7d,
        |  CAST(round(sum(v_day) OVER w, 2) AS DOUBLE) AS v_7d
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "e_dau_churn" ->
      """WITH daily AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
        |), f AS (
        |  SELECT user_id, day,
        |    LAG(day) OVER w AS prev_day, LEAD(day) OVER w AS next_day
        |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |), act AS (
        |  SELECT day,
        |    sum(CASE WHEN prev_day IS NULL OR prev_day <> day - INTERVAL 1 DAY
        |        THEN 1 ELSE 0 END)::BIGINT AS n_new,
        |    sum(CASE WHEN prev_day = day - INTERVAL 1 DAY
        |        THEN 1 ELSE 0 END)::BIGINT AS n_retained
        |  FROM f GROUP BY day
        |), churn AS (
        |  SELECT c.day, count(*)::BIGINT AS n_churned FROM (
        |    SELECT f.day + INTERVAL 1 DAY AS day FROM f
        |    WHERE next_day IS NULL OR next_day <> f.day + INTERVAL 1 DAY
        |  ) c JOIN (SELECT DISTINCT day FROM daily) dd USING (day)
        |  GROUP BY c.day
        |)
        |SELECT a.day, a.n_new, a.n_retained,
        |  coalesce(c.n_churned, 0)::BIGINT AS n_churned
        |FROM act a LEFT JOIN churn c USING (day)
        |ORDER BY a.day""".stripMargin,
    "e_sessionize" ->
      """SELECT user_id, event_id, ts,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN ts >= LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events) g
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "e_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
        |  WHERE e.event_type = 'click' GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
        |)
        |SELECT * FROM (
        |  SELECT 1 AS stage, 'view' AS step, count(*)::BIGINT AS n_users FROM v
        |  UNION ALL
        |  SELECT 2, 'click', count(*)::BIGINT FROM c
        |  UNION ALL
        |  SELECT 3, 'purchase', count(*)::BIGINT FROM p
        |) ORDER BY stage""".stripMargin,
    "e_cohort_retention" ->
      """WITH first_seen AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY user_id
        |)
        |SELECT f.cohort_week, CAST(floor(
        |    date_diff('day', f.cohort_week::DATE,
        |      date_trunc('week', e.ts)::DATE) / 7) AS BIGINT) AS week_offset,
        |  count(DISTINCT e.user_id)::BIGINT AS n_active
        |FROM events e JOIN first_seen f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    // Decimal sums make mean/var exact and partition-order-free; the z
    // expression then matches Spark's double arithmetic shape exactly:
    // (s2 - s1*s1/n)/(n-1), z = (v-mean)/sqrt(var), round 3.
    "e_anomaly_zscore" ->
      """WITH stats AS (
        |  SELECT event_type, count(*)::DOUBLE AS n,
        |    sum(CAST(value AS DECIMAL(28,10)))::DOUBLE AS s1,
        |    sum(CAST(value * value AS DECIMAL(38,12)))::DOUBLE AS s2
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1.0)), 3) AS z
        |FROM events e JOIN stats s ON e.event_type = s.event_type
        |WHERE abs(round((e.value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1.0)), 3)) >= 2.5
        |ORDER BY e.event_id""".stripMargin,
    "e_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*)::BIGINT AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rf, ls""".stripMargin,
    "e_scd2" ->
      """WITH marked AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN LAG(event_type) OVER w IS NULL
        |      OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), runs AS (
        |  SELECT user_id, event_type,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id,
        |    ts
        |  FROM marked
        |), grouped AS (
        |  SELECT user_id, run_id, event_type,
        |    min(ts) AS valid_from, count(*)::BIGINT AS n_in_run
        |  FROM runs GROUP BY user_id, run_id, event_type
        |)
        |SELECT user_id, event_type, valid_from,
        |  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
        |  n_in_run
        |FROM grouped ORDER BY user_id, valid_from""".stripMargin,
    "e_shuffle_shard" ->
      """WITH h AS (
        |  SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv,
        |    n_chars
        |  FROM documents
        |)
        |SELECT hv % 64 AS shard, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  (sum(hv % 1000000007) % 1000000007)::BIGINT AS fp
        |FROM h GROUP BY 1 ORDER BY shard""".stripMargin,
  )
}
