package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** As-of (point-in-time) join — for each left row, the latest right row
  * with the same key and right.ts <= left.ts. The reference has nothing
  * like it; time-series/feature-store pipelines need it constantly.
  *
  * Composed from built-ins per the custom-operator preference order
  * (SURVEY §4: compose > custom Expression > custom plan): tag both
  * sides, union, and take the last non-null right-payload struct over a
  * (key) window ordered by (ts, side). That is ONE shuffle on the key
  * plus one sort — the same cost as a sort-merge join — and survives
  * any scale; a 100 TB as-of join has no cheaper lower bound. No custom
  * Catalyst node needed.
  */
object AsOfOps {
  type Q = (SparkSession, String) => DataFrame

  /** Left as-of join. Right columns (minus key/ts) are appended to the
    * left schema, null when no right row precedes the left row. Caller
    * guarantees left/right column names are disjoint apart from `key`.
    * `tolerance` (seconds, optional) voids matches older than
    * left.ts - tolerance.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      tolerance: Option[Long] = None): DataFrame = {
    val rPay = right.columns.toSeq.filterNot(c => c == key || c == rightTs)
    val lPay = left.columns.toSeq.filterNot(_ == key)

    val rSide = right.select(
      col(key), col(rightTs).cast("timestamp").as("_ts"), lit(0).as("_is_left"),
      struct(col(rightTs).cast("timestamp").as("_rts") +: rPay.map(col): _*).as("_r"))
    val rType = rSide.schema("_r").dataType
    val rAligned = lPay.foldLeft(rSide)((df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType)))

    val lAligned = left.select(
      (col(key) +: col(leftTs).cast("timestamp").as("_ts") +:
        lit(1).as("_is_left") +: lit(null).cast(rType).as("_r") +:
        lPay.map(col)): _*)

    // right rows sort before left rows at equal timestamps, so a right
    // row AT the left timestamp matches (>= semantics, like ASOF JOIN).
    // `_r` as the final key makes ties among right rows at one
    // (key, ts) deterministic — without it, last(_r) returned whichever
    // payload the shuffle happened to order last (r10 self-review; the
    // fixtures have no such ties, but the operator is general)
    val w = Window.partitionBy(key)
      .orderBy(col("_ts"), col("_is_left"), col("_r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matchedRaw = last(col("_r"), ignoreNulls = true).over(w)
    val matched = tolerance match {
      case Some(sec) => when(
        matchedRaw.getField("_rts") >=
          (col("_ts") - expr(s"INTERVAL $sec SECONDS")), matchedRaw)
      case None => matchedRaw
    }

    lAligned.unionByName(rAligned.select(lAligned.columns.toIndexedSeq.map(col): _*))
      .withColumn("_m", matched)
      .where(col("_is_left") === 1)
      .select((col(key) +: lPay.map(col)) ++
        rPay.map(c => col("_m").getField(c).as(c)) :+
        col("_m").getField("_rts").as("matched_ts"): _*)
  }

  /** Each click joined to the user's most recent prior view —
    * oracle-checked against DuckDB's native ASOF LEFT JOIN.
    */
  private val asofQuery: Q = (spark, dir) => {
    val events = Tables.load(spark, dir, "events")
    val clicks = events.where(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val views = events.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("value").as("view_value"))
    asofJoin(clicks, views, "user_id", "ts", "view_ts")
      .withColumnRenamed("matched_ts", "view_ts")
      .orderBy("event_id")
  }

  /** Bucketed RANGE (interval) join — the scale-safe form of a non-equi
    * temporal join. Naively, "left rows matched to right rows within a
    * time window" is a nested-loop/cartesian plan (no equi key for the
    * shuffle). Bucketing restores one: quantize time into buckets the
    * size of the window, replicate each right row to its own and the
    * NEXT bucket (2× one side, bounded), equi-join on (key, bucket),
    * then refine with the exact range predicate. Every lookback window
    * of a left row in bucket b lies inside buckets {b-1, b}, so the
    * replication is lossless; each right row matches via exactly one
    * replica, so no dedup is needed. This is the standard interval-join
    * decomposition (Flink's interval join and Databricks' range-join
    * optimization use the same bucketing), expressed with built-ins.
    */
  def rangeJoinBucketed(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, windowSec: Long): DataFrame = {
    val winUs = windowSec * 1000000L
    val l = left.withColumn("_lus", unix_micros(col(leftTs)))
      .withColumn("_bkt", floor(col("_lus") / winUs))
    val r = right.withColumn("_rus", unix_micros(col(rightTs)))
      .withColumn("_bkt",
        explode(array(floor(col("_rus") / winUs), floor(col("_rus") / winUs) + 1)))
      .drop(rightTs)
    l.join(r,
        l(key) === r(key) && l("_bkt") === r("_bkt") &&
          col("_rus") >= col("_lus") - winUs && col("_rus") < col("_lus"),
        "left_outer")
      .drop(r(key))
  }

  /** Per-error count of same-user clicks in the preceding 5 minutes —
    * the bucketed range join, aggregated. One shuffle on (user,
    * bucket); the oracle states the same semantics as a correlated
    * non-equi LEFT JOIN, which DuckDB can afford at fixture scale.
    */
  private val rangeJoinQuery: Q = (spark, dir) => {
    val events = Tables.load(spark, dir, "events")
    val errors = events.where(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
    rangeJoinBucketed(errors, clicks, "user_id", "ts", "c_ts", 300L)
      .groupBy("event_id")
      .agg(count(col("_rus")).as("n_recent_clicks"))
      .orderBy("event_id")
  }

  val queries: Map[String, Q] = Map(
    "e_asof_join" -> asofQuery,
    "e_range_join" -> rangeJoinQuery,
  )

  val oracles: Map[String, String] = Map(
    "e_asof_join" ->
      """SELECT l.user_id, l.ts, l.event_id, r.view_value, r.vts AS view_ts
        |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id AS ru, ts AS vts, value AS view_value
        |                FROM events WHERE event_type = 'view') r
        |ON l.user_id = r.ru AND l.ts >= r.vts
        |ORDER BY l.event_id""".stripMargin,
    "e_range_join" ->
      """SELECT e.event_id, count(c.c_us) AS n_recent_clicks
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS e_us FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT user_id AS cu, epoch_us(ts) AS c_us FROM events
        |           WHERE event_type = 'click') c
        |ON c.cu = e.user_id
        |  AND c.c_us >= e.e_us - 300000000 AND c.c_us < e.e_us
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,
  )
}
