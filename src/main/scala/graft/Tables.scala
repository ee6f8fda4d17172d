package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.engine.CacheRegistry

/** Fixture-table loader. The reference federates named backends under one
  * namespace (/root/reference/index.js:52,112 `dbs{}` keyed by db.name);
  * here the namespace is a directory of parquet tables and the "backend"
  * is Spark's parquet source (vectorized scan, predicate pushdown,
  * column pruning — all free from Catalyst).
  *
  * A table's schema is read ONCE per (dir, inference settings) per
  * application — the footer-inference job is memoized ([[schema]]), as
  * the reference builds its query info once at boot (index.js:117-119).
  * The file listing still runs on every load, so rows rewritten in
  * place are seen; a table's files may be rewritten in place only with
  * the same schema.
  */
object Tables {
  /** All tables the driver generates (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // the session confs that change what parquet schema inference returns
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** The table's on-disk schema (before [[normalizeTs]]), inferred from
    * the parquet footers once per (dir, table, inference settings).
    */
  def schema(spark: SparkSession, dir: String, name: String): StructType = {
    require(names.contains(name), s"unknown table: $name")
    CacheRegistry.memo("tables.schema",
      dir +: name +: inferenceConfs.map(k => spark.conf.get(k)): _*)(
      spark.read.parquet(s"$dir/$name.parquet").schema)(_ => ())
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.schema(schema(spark, dir, name))
      .parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** Normalize the fixture's `ts` column to TimestampType regardless of
    * how the generator annotated it — the driver has shipped it as
    * TIMESTAMP(NANOS) (arriving as nanos-since-epoch LONG under
    * spark.sql.legacy.parquet.nanosAsLong=true) and as untagged
    * TIMESTAMP(MICROS) (arriving as TIMESTAMP_NTZ under Spark 4's NTZ
    * inference). Values are UTC wall times and sessions run in UTC, so
    * both conversions are instant-preserving and agree with DuckDB's
    * read of the same file. Works on batch and streaming frames alike.
    */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      // nanos → micros truncation, identical to DuckDB's ns→us cast for
      // positive epochs
      df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    case TimestampNTZType =>
      // naive-UTC → session-UTC instant; cast in a UTC session is exact
      df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** Register every fixture table as a temp view so `spark.sql` queries
    * (parameterized SQL — the Spark-native form of the reference's
    * handlebars templates) can name them directly.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    register(spark, dir, names)

  // each table name as a case-insensitive whole word
  private val namePatterns =
    names.map(n => n -> java.util.regex.Pattern.compile(s"(?i)\\b$n\\b"))

  /** The fixture tables a SQL text names as a whole word — a superset of
    * the tables it reads (a CTE or a string literal may add a harmless
    * extra one).
    */
  private[graft] def namedIn(sqlText: String): Seq[String] =
    namePatterns.collect { case (n, p) if p.matcher(sqlText).find() => n }

  /** Register only the views `sqlText` names: a text reads no table it
    * does not name, so a view left from another dir is never read.
    */
  def registerViewsFor(spark: SparkSession, dir: String, sqlText: String): Unit =
    register(spark, dir, namedIn(sqlText))

  private def register(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
