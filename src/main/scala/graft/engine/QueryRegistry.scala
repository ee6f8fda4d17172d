package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Parameter validation — the engine-side analog of the reference's
  * examiner (/root/reference/lib/examiner.js:36-80,162-196): named
  * parameters must be alphanumeric-ish or UUID and must not contain SQL
  * comments. In Spark we additionally validate identifiers against the
  * live catalog/schema instead of trusting a regex — identifiers are
  * never spliced into SQL text, they select through the DataFrame API.
  */
object Validate {
  private val AlphaNum = "^[A-Za-z0-9_. -]+$".r
  private val Uuid =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$".r

  def value(s: String): Either[String, String] =
    if (s == null || s.isEmpty) Left("Parameter is required!")
    else if (s.contains("--")) Left("SQL comments not allowed")
    else if (AlphaNum.matches(s) || Uuid.matches(s)) Right(s)
    else Left(s"Invalid parameter value: $s")

  /** A table identifier is valid iff it names a known fixture table. */
  def table(s: String): Either[String, String] =
    value(s).flatMap(v =>
      if (Tables.names.contains(v)) Right(v) else Left(s"Unknown table: $v"))

  /** A column identifier is valid iff the relation's schema contains it. */
  def column(df: DataFrame, s: String): Either[String, String] =
    value(s).flatMap(v =>
      if (df.columns.contains(v)) Right(v) else Left(s"Unknown column: $v"))
}

/** A named parameterized query — the Spark-native unit matching the
  * reference's config-declared queries (/root/reference/config.json:19-38,
  * route construction index.js:264-325). `build` closes over bound
  * parameter values; schema introspection (the reference's examineQuery,
  * examiner.js:139-160) is Catalyst's analyzed `df.schema` — exact, not
  * regex-inferred.
  */
final case class NamedQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Set for config-declared queries ([[ConfigBoot]]): the raw SQL
      * template, so [[Router.dispatch]] can bind `?`/`$var` params at
      * request time — the reference's makeQueryRoute handler closure
      * (index.js:264-325).
      */
    template: Option[String] = None)

object QueryRegistry {

  /** Dynamic projection with dynamic filter — the reference's
    * `getXfromYwhereZisQ`: `select $x from $y where $z = '$q'`
    * (/root/reference/config.json:23). Identifiers go through catalog
    * validation then the DataFrame API; only the *value* is a literal.
    * Injection is impossible by construction: no SQL text is assembled.
    */
  def dynamicProjection(
      spark: SparkSession, dir: String,
      table: String, column: String,
      whereCol: String, whereVal: String): DataFrame = {
    val t = Validate.table(table).fold(e => throw new IllegalArgumentException(e), identity)
    val df = Tables.load(spark, dir, t)
    val x = Validate.column(df, column).fold(e => throw new IllegalArgumentException(e), identity)
    val z = Validate.column(df, whereCol).fold(e => throw new IllegalArgumentException(e), identity)
    Validate.value(whereVal).fold(e => throw new IllegalArgumentException(e), identity)
    df.where(col(z) === lit(whereVal)).select(col(x))
  }

  /** Generic CRUD record list — reference `getRecordList`
    * (/root/reference/index.js:431-492): page default 1, perpage default
    * 20 clamped to [1,1000], single sort column validated, offset =
    * perpage * (page - 1). Spark ≥3.4 has a real Offset operator; at
    * 100 TB offset-pagination is an anti-pattern (keyset pagination via
    * `where key > last` is the scale path — see `recordListAfter`).
    */
  def recordList(
      spark: SparkSession, dir: String, relation: String,
      page: Int = 1, perpage: Int = 20,
      sortBy: Seq[String] = Seq("id")): DataFrame = {
    val t = Validate.table(relation).fold(e => throw new IllegalArgumentException(e), identity)
    val df = Tables.load(spark, dir, t)
    val cols = sortBy.map(s =>
      Validate.column(df, s).fold(e => throw new IllegalArgumentException(e), identity))
    val pp = math.min(math.max(perpage, 1), 1000)
    val p = math.max(page, 1)
    df.orderBy(cols.map(col): _*).offset(pp * (p - 1)).limit(pp)
  }

  /** Keyset pagination — the 100 TB-safe replacement for offset: the scan
    * prunes to `key > last` (pushed to parquet) instead of sorting and
    * discarding `offset` rows.
    */
  def recordListAfter(
      spark: SparkSession, dir: String, relation: String,
      keyCol: String, lastKey: Long, perpage: Int = 20): DataFrame = {
    val t = Validate.table(relation).fold(e => throw new IllegalArgumentException(e), identity)
    val df = Tables.load(spark, dir, t)
    val k = Validate.column(df, keyCol).fold(e => throw new IllegalArgumentException(e), identity)
    val pp = math.min(math.max(perpage, 1), 1000)
    df.where(col(k) > lit(lastKey)).orderBy(col(k)).limit(pp)
  }

  /** Composite keyset pagination: resume strictly after the last
    * (k1, …, kn) tuple seen, i.e. the SQL row-value comparison
    * `(k1, …, kn) > (v1, …, vn)`, expanded to its disjunctive form
    * `k1 > v1 OR (k1 = v1 AND k2 > v2) OR …` — which Catalyst pushes
    * to the parquet scan (Or/And of comparisons are pushable; a LIMIT
    * after a pushed filter never sorts-and-discards like offset does).
    * Key columns must be non-null for the expansion to equal row-value
    * semantics (true for every fixture key).
    */
  def recordListAfterKeys(
      spark: SparkSession, dir: String, relation: String,
      after: Seq[(String, Any)], perpage: Int = 20): DataFrame = {
    require(after.nonEmpty, "keyset pagination needs at least one key column")
    val t = Validate.table(relation).fold(e => throw new IllegalArgumentException(e), identity)
    val df = Tables.load(spark, dir, t)
    val ks = after.map { case (c, v) =>
      (Validate.column(df, c).fold(e => throw new IllegalArgumentException(e), identity), v)
    }
    val pp = math.min(math.max(perpage, 1), 1000)
    val pred = ks.indices.map { i =>
      val eqs = (0 until i).map(j => col(ks(j)._1) === lit(ks(j)._2))
      (eqs :+ (col(ks(i)._1) > lit(ks(i)._2))).reduce(_ && _)
    }.reduce(_ || _)
    df.where(pred).orderBy(ks.map(k => col(k._1)): _*).limit(pp)
  }

  /** Cursor for the NEXT keyset page: the current page's last row
    * projected to the key columns, shaped for `recordListAfterKeys`'s
    * `after` — the client carries this instead of an offset. None when
    * the page is empty (pagination is done).
    */
  def nextPageCursor(page: DataFrame,
      keyCols: Seq[String]): Option[Seq[(String, Any)]] =
    page.select(keyCols.map(col): _*).tail(1).lastOption
      .map(r => keyCols.zipWithIndex.map { case (c, i) => c -> r.get(i) })

  /** Point lookup — reference `getRecord`/`fetchRow`
    * (/root/reference/index.js:494-534): `select * from rel where id = ?`
    * limited to one row.
    */
  def pointLookup(
      spark: SparkSession, dir: String, relation: String,
      keyCol: String, key: Long): DataFrame = {
    val t = Validate.table(relation).fold(e => throw new IllegalArgumentException(e), identity)
    val df = Tables.load(spark, dir, t)
    val k = Validate.column(df, keyCol).fold(e => throw new IllegalArgumentException(e), identity)
    df.where(col(k) === lit(key)).limit(1)
  }

  /** FK-child lookup — reference `getSubRecordList` convention:
    * `select * from <subrel> where <relation>_id = ?`
    * (/root/reference/index.js:536-585). A join protocol executed as a
    * pushed-down filter.
    */
  def subRecordList(
      spark: SparkSession, dir: String, subrel: String,
      fkCol: String, fk: Long, sortBy: Seq[String]): DataFrame = {
    val t = Validate.table(subrel).fold(e => throw new IllegalArgumentException(e), identity)
    val df = Tables.load(spark, dir, t)
    val k = Validate.column(df, fkCol).fold(e => throw new IllegalArgumentException(e), identity)
    val cols = sortBy.map(s =>
      Validate.column(df, s).fold(e => throw new IllegalArgumentException(e), identity))
    df.where(col(k) === lit(fk)).orderBy(cols.map(col): _*)
  }

  /** API catalog — reference `showAPI` (/root/reference/index.js:371-425)
    * lists every route with its inferred output fields. Spark-native:
    * the analyzed schema of each registered query, exact by construction.
    */
  def describe(spark: SparkSession, dir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): DataFrame = {
    import spark.implicits._
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val schema = fn(spark, dir).schema
      (name, schema.fields.length,
        schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))
    }.toDF("query_name", "n_columns", "fields")
  }
}
