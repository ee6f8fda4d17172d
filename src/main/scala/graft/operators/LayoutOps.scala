package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Bucketing

/** Storage-layout operators — the two techniques that decide whether a
  * repeated 100 TB query reads the whole corpus or a sliver of it:
  *
  *  - **Bucketed co-located joins** (`e_bucketed_join`): both sides of
  *    a recurring large⋈large join are written bucketed by the join
  *    key ONCE; every subsequent join reads matching bucket files
  *    directly, with NO Exchange on either side. At 100 TB this turns
  *    the dominant cost of a fact⋈fact join (re-shuffling both sides
  *    per run) into a build-once cost, identical in spirit to the
  *    reference's reliance on the RDBMS's persistent btree layout
  *    (`/root/reference/index.js:230-252` delegates joins to pg — the
  *    analog of a pre-organized layout serving repeated queries).
  *  - **Partition-pruned scans** (`e_partition_prune`): the corpus is
  *    laid out `d=<date>/...`; a date-filtered query must read ONE
  *    directory, not 100 TB. The plan's PartitionFilters (pinned on
  *    the driver gate via e_plan_audit's n_pruned column) prove the
  *    filter never touches the other partitions' files.
  *
  * The builds are memoized per (application, dir) — repeated bench
  * passes and the plan audit reuse one layout, exactly as production
  * reuses the table it bucketed/partitioned at ingest time. Staleness
  * contract matches the IVF index ([[SimilarityOps.buildIvfIndex]]):
  * fixture dirs are immutable within an application.
  */
object LayoutOps {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- //
  // Bucketed co-located join
  // ---------------------------------------------------------------- //

  /** Build (or fetch) the bucketed twin tables of lineitem/orders for
    * `dir`, bucketed into the same count on the join key. Table names
    * carry a dir fingerprint and the bucket count so sf0.001/0.01/0.1
    * and every bucketing coexist in one session catalog; eviction
    * drops both tables.
    */
  def bucketedOrderTables(spark: SparkSession, dir: String,
      buckets: Int = 16): (String, String) = {
    val fp = java.lang.Long.toHexString(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        dir.getBytes("UTF-8"),
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        dir.length, 42) & 0xffffffffL)
    val lt = s"b_lineitem_${fp}_$buckets"
    val ot = s"b_orders_${fp}_$buckets"
    graft.engine.CacheRegistry.memo("layout.bucketed", dir, buckets)({
      Bucketing.saveBucketed(
        Tables.load(spark, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice"),
        lt, "l_orderkey", buckets)
      Bucketing.saveBucketed(
        Tables.load(spark, dir, "orders")
          .select("o_orderkey", "o_orderpriority")
          .withColumnRenamed("o_orderkey", "l_orderkey"),
        ot, "l_orderkey", buckets)
      (lt, ot)
    })(_ => Seq(lt, ot).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t")))
  }

  /** Exchange-free fact⋈fact join over the bucketed layout: priority-
    * level item counts and revenue. The merge hint forces SortMergeJoin
    * at every SF (statistics would broadcast the small fixture side and
    * hide the co-location story); with both scans bucketed(16) on
    * l_orderkey the SMJ consumes them in place — the join itself adds
    * NO Exchange; the plan's two shuffles are the downstream groupBy
    * and the final orderBy's range partitioning, pinned via
    * e_plan_audit (n_shuffles=2, n_scans=2: an unbucketed SMJ would
    * show 4, one extra per join side).
    */
  private val bucketedJoin: Q = (spark, dir) => {
    val (lt, ot) = bucketedOrderTables(spark, dir)
    spark.table(lt).hint("merge")
      .join(spark.table(ot), "l_orderkey")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,6)"))
          .cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------- //
  // Partition-pruned scan
  // ---------------------------------------------------------------- //

  /** Write (or fetch) the date-partitioned layout of `events` for
    * `dir`: `<tmp>/d=<yyyy-MM-dd>/part-*.parquet`, one directory per
    * event date — the ingest-time layout every time-series corpus
    * should have.
    */
  def partitionedEventsDir(spark: SparkSession, dir: String): String =
    graft.engine.CacheRegistry.memoDir("layout.partitioned", dir) { out =>
      Tables.load(spark, dir, "events")
        .withColumn("d", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("d").parquet(out)
      out
    }

  /** One-day slice over the partitioned layout: the `d = DATE'...'`
    * predicate is a partition filter, so the scan lists exactly one
    * `d=2024-01-15/` directory — at 100 TB, a 1/30th (or 1/36500th)
    * read instead of a full pass. Pruning is pinned on the driver gate
    * (e_plan_audit n_pruned=1) and the read-one-directory fact is
    * asserted in LayoutSpec.
    */
  private val partitionPrune: Q = (spark, dir) => {
    val part = partitionedEventsDir(spark, dir)
    spark.read.parquet(part)
      .where(col("d") === lit(java.sql.Date.valueOf("2024-01-15")))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- //
  // Small-file compaction
  // ---------------------------------------------------------------- //

  /** Compact a fragmented parquet directory into ~`targetBytes` files,
    * range-clustered on `rangeKey`.
    *
    * Small files are the chronic operational failure of a 100 TB
    * ingest: a streaming or over-parallel writer leaves thousands of
    * KB-scale files per partition, and every later scan pays a task
    * (and a namenode/listing round trip) per file. Compaction rewrites
    * the directory at a chosen file size. Two scale choices:
    *
    *  - target file COUNT is derived from the directory's actual byte
    *    size (one distributed-friendly `FileSystem.listStatus`, no data
    *    read), so the same call works on a 3 MB fixture and a 100 TB
    *    table;
    *  - the rewrite uses `repartitionByRange(rangeKey)` + an
    *    intra-partition sort, NOT `coalesce`/`repartition`: round-robin
    *    compaction destroys clustering, leaving every file's min/max
    *    stats spanning the whole key domain; range compaction keeps
    *    file-level zone maps tight so post-compaction scans still skip
    *    files (asserted file-by-file in LayoutSpec).
    *
    * Returns `(outDir, plannedFiles)`.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      rangeKey: String, targetBytes: Long): (String, Int) = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(path).filter(_.isFile)
      .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir)
      .repartitionByRange(nFiles, col(rangeKey))
      .sortWithinPartitions(rangeKey)
      .write.mode("overwrite").parquet(outDir)
    (outDir, nFiles)
  }

  /** Build (or fetch) the compaction fixture for `dir`: `documents`
    * deliberately shredded into 48 round-robin fragments, then
    * compacted to ~128 KB files clustered on doc_id. Returns
    * (fragmentedDir, compactedDir, plannedFiles).
    */
  def compactedDocsDirs(spark: SparkSession, dir: String): (String, String, Int) =
    graft.engine.CacheRegistry.memoDir("layout.compacted", dir) { root =>
      val frag = s"$root/frag"
      Tables.load(spark, dir, "documents")
        .repartition(48)
        .write.mode("overwrite").parquet(frag)
      val (comp, n) = compact(spark, frag, s"$root/compact", "doc_id", 128L * 1024)
      (frag, comp, n)
    }

  /** Lossless-compaction proof over the compacted layout: per-language
    * doc counts, char totals, and an order-independent content
    * fingerprint (bit_xor of each text's md5-60bit hash — XOR commutes,
    * so the fragment→compact shuffle cannot affect it, and any lost or
    * duplicated row flips it). The oracle computes the identical
    * aggregate from the ORIGINAL table: equality proves the round trip
    * preserved every row byte-for-byte.
    */
  private val compactQuery: Q = (spark, dir) => {
    val (_, comp, _) = compactedDocsDirs(spark, dir)
    spark.read.parquet(comp)
      .withColumn("h", graft.functions.TextShingles.md5Hash60(col("text")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        expr("bit_xor(h)").as("fp"))
      .orderBy("lang")
  }

  val queries: Map[String, Q] = Map(
    "e_bucketed_join" -> bucketedJoin,
    "e_compact" -> compactQuery,
    "e_partition_prune" -> partitionPrune)

  val oracles: Map[String, String] = Map(
    "e_compact" ->
      """SELECT lang, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
        |bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT) AS fp
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "e_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "e_partition_prune" ->
      """SELECT event_type, COUNT(*) AS cnt,
        |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
}
