package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed co-located joins — the pre-shuffle strategy for repeated
  * large⋈large joins at 100 TB: write both sides bucketed by the join
  * key once, and every subsequent join on that key reads co-located
  * buckets with NO Exchange on either side (sort-merge over matching
  * bucket files). This is the batch analog of co-partitioned state.
  */
object Bucketing {

  /** Persist a DataFrame as a bucketed table in the session catalog. */
  def saveBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Drop everything a build left in the session catalog under a table
    * prefix: every table named `prefix` or `prefix_…`, and the epoch
    * markers beside them in the warehouse (`_graft_<kind>_<prefix>…`
    * with their lock and tmp siblings). Memo builds call it before
    * writing, so a rebuild never meets a stale replay guard, and their
    * eviction calls it to release what the build made.
    */
  def dropManaged(spark: SparkSession, prefix: String): Unit = {
    spark.sql("SHOW TABLES").collect()
      .filter(r => !r.getAs[Boolean]("isTemporary"))
      .map(_.getAs[String]("tableName"))
      .filter(t => t == prefix || t.startsWith(prefix + "_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val dir = java.nio.file.Paths.get(
      Option(new java.net.URI(wh).getPath).getOrElse(wh))
    val marker = ("_graft_[a-z0-9]+_" + java.util.regex.Pattern.quote(prefix) +
      "(_[A-Za-z0-9_]*)?\\.epoch\\.json.*").r
    if (java.nio.file.Files.isDirectory(dir)) {
      val ls = java.nio.file.Files.list(dir)
      try ls.filter(p => marker.matches(p.getFileName.toString))
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally ls.close()
    }
  }

  /** Join two bucketed tables on their bucket key. When both sides are
    * bucketed into the same count, the physical plan shows
    * SortMergeJoin with no ShuffleExchange upstream.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
