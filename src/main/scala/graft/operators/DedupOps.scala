package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextShingles => TS, VectorOps}

/** Deduplication family for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (100 TB): every variant avoids O(n²) pair enumeration.
  * Candidate pairs come only from LSH band buckets (one shuffle keyed on
  * (band, bucket-hash)); exact similarity is verified on candidates
  * only. Removal is greedy keep-smallest-id per verified pair —
  * single-pass and deterministic (a full connected-component union would
  * need iterative joins / GraphX; the greedy pass is the standard
  * production compromise).
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame

  /** Exact dedup on text: hash-partition by the dedup key, keep min id.
    * Window(partitionBy text) = one shuffle on hash(text) — the same
    * plan at any scale.
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("text").orderBy("doc_id")
    docs.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  private val dedupExact: Q = (spark, dir) =>
    exactDedup(Tables.load(spark, dir, "documents"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Dedup with the keep-BEST policy (longest text, then lowest
    * doc_id) — the survivor rule a production pipeline wants when
    * duplicates differ in truncation. Unlike [[exactDedup]] the group
    * key must be TRUNCATION-INSENSITIVE, or every group trivially has
    * one length and the policy never fires: key = the first
    * `prefixLen` chars of the canonicalized text (lowercase,
    * alnum+space only, collapsed whitespace — the e_normalize pass),
    * so a truncated copy and its full original share a group and the
    * longer one survives. Same single shuffle on the key.
    */
  def exactDedupKeepLongest(docs: DataFrame, prefixLen: Int = 100): DataFrame = {
    val norm = TS.canonical(col("text"))
    val w = Window.partitionBy("dedup_key")
      .orderBy(col("n_chars").desc, col("doc_id"))
    docs.withColumn("dedup_key", substring(norm, 1, prefixLen))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn", "dedup_key")
  }

  private val dedupKeepLongest: Q = (spark, dir) =>
    exactDedupKeepLongest(Tables.load(spark, dir, "documents"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Incremental dedup against a PERSISTED fingerprint index — the
    * 100 TB operating mode. A real pipeline dedups each day's increment
    * against the historical corpus; re-running [[exactDedup]] over
    * history + increment re-shuffles the whole corpus every day, while
    * this touches only |increment| + an index of 8-byte fingerprints.
    *
    * Mechanics: fingerprint = xxhash64(text); the increment is deduped
    * within itself (keep min doc_id per fingerprint — one shuffle on
    * fp), then LEFT ANTI joined against the index table, and the
    * survivors' fingerprints are APPENDED to the index. The index is a
    * bucketed-by-fp managed table ([[graft.sources.Bucketing]] layout),
    * so at scale the anti join reads co-located index buckets with no
    * exchange on the (large) historical side — only the day's increment
    * shuffles.
    *
    * The survivors are materialized (lineage truncated) BEFORE the
    * index append: the returned plan must keep reading the pre-update
    * snapshot, not see its own fingerprints and anti-join itself away.
    * (In production the same two actions run over one materialized
    * snapshot: write survivors to durable output, then append the
    * index.)
    */
  def dedupIncremental(newDocs: DataFrame, indexTable: String,
      buckets: Int = 8): DataFrame = {
    val spark = newDocs.sparkSession
    val w = Window.partitionBy("fp").orderBy("doc_id")
    val intra = newDocs.withColumn("fp", xxhash64(col("text")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
    // Eager lineage truncation, not cache: appending to the index table
    // below INVALIDATES any cached plan that references the table, so a
    // persist()ed snapshot would silently recompute against the updated
    // index and anti-join itself away. (On a cluster, prefer a reliable
    // checkpoint / durable survivor write over localCheckpoint.)
    val survivors = (
      if (spark.catalog.tableExists(indexTable))
        intra.join(spark.table(indexTable), Seq("fp"), "left_anti")
      else intra).localCheckpoint()
    survivors.select("fp").write.mode("append")
      .bucketBy(buckets, "fp").sortBy("fp")
      .format("parquet").saveAsTable(indexTable)
    survivors.drop("fp")
  }

  /** Gate form: replay the corpus as three "days" through a fresh
    * index — even doc_ids arrive first, odd second (a scale-free split,
    * non-empty at every SF), then the ENTIRE corpus re-arrives under
    * shifted ids. Day 3 must be dropped by the index in full (the
    * fixtures carry no exact-text dups, so it is the leg that proves
    * the anti join removes anything at all): a leak puts shifted ids in
    * the result and fails rows+hash. Survivors = first occurrence of
    * each text in (day, doc_id) arrival order, which is what the
    * oracle's ROW_NUMBER over (doc_id % 2, doc_id) states. The DROP
    * makes the query idempotent across bench passes.
    */
  private val dedupIncr: Q = (spark, dir) => {
    val tbl = s"graft_dedup_idx_${Integer.toHexString(dir.hashCode)}"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val docs = Tables.load(spark, dir, "documents")
    val day1 = dedupIncremental(docs.where(col("doc_id") % 2 === 0), tbl)
    val day2 = dedupIncremental(docs.where(col("doc_id") % 2 === 1), tbl)
    val day3 = dedupIncremental(
      docs.withColumn("doc_id", col("doc_id") + lit(1000000L)), tbl)
    day1.unionByName(day2).unionByName(day3)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Incremental NEAR-DUP dedup against a PERSISTED LSH index — the
    * MinHash analog of [[dedupIncremental]]'s exact-fingerprint path,
    * and the operating mode a daily pretraining ingest actually runs:
    * re-running LSH over history + increment re-shuffles the corpus
    * every day; this touches only |increment| plus the matching index
    * BUCKETS.
    *
    * Index = two bucketed tables (the production LSH-index layout):
    * `bandsTable(band, key, doc_id)` bucketed by key — a new doc's
    * band keys look up co-located buckets with no exchange on the
    * (large) index side — and `featsTable(doc_id, feat)` bucketed by
    * doc_id for the exact-Jaccard verify of candidate pairs. Only
    * SURVIVORS' bands/features are appended (the index stores accepted
    * docs, exactly like the exact-dedup fingerprint index).
    *
    * Batch semantics per increment: (1) within-batch LSH dedup
    * (banded candidates, capped buckets, exact verify, drop larger
    * id — [[minhashMd5Dedup]]'s rule verbatim); (2) a new doc paired
    * with ANY index doc at J ≥ τ is dropped regardless of id order
    * (arrival precedence: the index doc was accepted first).
    * Survivors are localCheckpointed BEFORE the index append (the
    * [[dedupIncremental]] self-invalidation lesson). md5-derived
    * hashes ([[TS.md5Hash60]]) so DuckDB replays the ENTIRE two-day
    * protocol — signatures, banding, caps, cross-index candidates,
    * verifies, appends — on the gate.
    */
  def minhashIncrementalDedup(docs: DataFrame, bandsTable: String,
      featsTable: String, threshold: Double = 0.8,
      buckets: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val f = docs.select(col("doc_id"),
      graft.functions.Md5Shingles.md5WordShingles(col("text"), 3)
        .as("feat")).persist()
    val b = sigBands(f, 16, 7L, 4, 4, TS.bandKeysMd5)
    val withinDups = verifiedPairs(f, bandPairs(b, "doc_id"), threshold)
      .select(col("id_b").as("doc_id"))
    val idxDups =
      if (spark.catalog.tableExists(bandsTable)) {
        val cand = b.select(col("doc_id"), explode(col("bands")).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"),
            col("bk.key").as("key"))
          .join(spark.table(bandsTable)
            .withColumnRenamed("doc_id", "idx_id"), Seq("band", "key"))
          .select("idx_id", "doc_id").distinct()
        cand
          .join(spark.table(featsTable)
            .select(col("doc_id").as("idx_id"), col("feat").as("feat_i")),
            "idx_id")
          .join(f.select(col("doc_id"), col("feat").as("feat_n")), "doc_id")
          .where(TS.jaccard(col("feat_i"), col("feat_n")) >= threshold)
          .select("doc_id").distinct()
      } else docs.select("doc_id").limit(0)
    val dups = withinDups.union(idxDups).distinct()
    val survivors = docs.join(dups, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val survIds = survivors.select("doc_id")
    b.join(survIds, "doc_id")
      .select(col("doc_id"), explode(col("bands")).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"),
        col("doc_id"))
      .write.mode("append").bucketBy(buckets, "key").sortBy("key")
      .format("parquet").saveAsTable(bandsTable)
    f.join(survIds, "doc_id")
      .write.mode("append").bucketBy(buckets, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(featsTable)
    f.unpersist()
    survivors
  }

  // -- exactly-once streaming variant ---------------------------------

  /** Epoch marker of a versioned LSH index prefix: the last committed
    * batch id and the committed band/feature TABLE LISTS
    * (`{"lastBatch":N,"tables_b":[..],"tables_f":[..]}`), committed
    * by atomic rename — the publishStreamBatch/appendToBm25Index
    * commit-point discipline. Tables are listed EXPLICITLY (not
    * derived from batch ids) so [[compactLshIndex]] — which collapses
    * many tables into one while PRESERVING lastBatch — composes with
    * the replay guard: exactly-once must survive maintenance.
    */
  private def lshEpochMarker(spark: SparkSession,
      prefix: String): java.nio.file.Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val dir = Option(new java.net.URI(wh).getPath).getOrElse(wh)
    java.nio.file.Paths.get(dir).resolve(s"_graft_lsh_$prefix.epoch.json")
  }

  final case class LshEpoch(lastBatch: Long, bandTables: Seq[String],
      featTables: Seq[String])

  private def readLshEpoch(p: java.nio.file.Path): LshEpoch = {
    if (!java.nio.file.Files.exists(p)) LshEpoch(-1L, Seq.empty, Seq.empty)
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      val last = """"lastBatch"\s*:\s*(-?\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong).getOrElse(-1L)
      def tbls(k: String) =
        (s""""$k"\\s*:\\s*\\[([^\\]]*)\\]""").r.findFirstMatchIn(txt)
          .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
            .stripSuffix("\"")).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
      LshEpoch(last, tbls("tables_b"), tbls("tables_f"))
    }
  }

  // Per-prefix in-process monitor + OS file lock (the
  // publishStreamBatch writer-lock protocol): the epoch marker update
  // is a read-modify-write, and two writers sharing a prefix could
  // each read the same table lists and silently drop the other's
  // committed batch tables from the marker. java.nio file locks are
  // per-JVM (same-process contention throws
  // OverlappingFileLockException instead of blocking), so same-JVM
  // writers serialize on the monitor and cross-JVM writers on the
  // file lock. Held across the whole dedup+append+commit so the
  // second writer's epoch read sees the first's committed state.
  private val lshPrefixMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withLshLock[T](marker: java.nio.file.Path)(body: => T): T = {
    val monitor = lshPrefixMonitors.computeIfAbsent(
      marker.toAbsolutePath.normalize.toString, _ => new Object)
    monitor.synchronized {
      val lockPath = marker.resolveSibling(
        marker.getFileName.toString + ".lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until the competing commit finishes
        try body finally lock.release()
      } finally ch.close()
    }
  }

  private def writeLshEpoch(p: java.nio.file.Path, e: LshEpoch): Unit = {
    def arr(ts: Seq[String]) = ts.map(t => s""""$t"""").mkString(",")
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      (s"""{"lastBatch":${e.lastBatch},"tables_b":[${arr(e.bandTables)}],""" +
        s""""tables_f":[${arr(e.featTables)}]}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** EXACTLY-ONCE per-batch near-dup dedup against a VERSIONED
    * persisted LSH index — [[minhashIncrementalDedup]] restructured
    * for an at-least-once caller (Structured Streaming's foreachBatch):
    *
    *  1. REPLAY GUARD: a batchId at or below the committed epoch means
    *     this batch's dedup+append fully committed before. Survivors
    *     are RECOVERED, not recomputed: only survivors were ever
    *     appended and every feat row carries the batch_id that
    *     appended it, so batch ⋉ feats[batch_id = this batch] IS the
    *     survivor set (one semi-join, no index mutation). Filtering to
    *     THIS batch's rows — not the union of all committed feats —
    *     keeps the guard correct when doc_ids repeat across batches
    *     (re-crawled docs under an at-least-once upstream): a doc this
    *     batch dropped but an earlier batch indexed must NOT be
    *     republished.
    *  2. within-batch + cross-index dedup, exactly the
    *     [[minhashIncrementalDedup]] protocol (same features, banding,
    *     bucket cap, threshold), against the UNION of committed batch
    *     tables only — an uncommitted predecessor's debris is
    *     invisible because nothing names it.
    *  3. the batch's survivor bands/feats land in their OWN bucketed
    *     tables `<prefix>_b<id>` / `<prefix>_f<id>` with OVERWRITE —
    *     a torn or duplicated retry replaces its own debris; committed
    *     tables are never rewritten (day-N cost stays O(batch +
    *     matching buckets)).
    *  4. the epoch marker's atomic rename is the commit point.
    * Combined with [[graft.sources.AtomicPublish.publishStreamBatch]]
    * downstream (its own batchId guard), a crash at ANY point of
    * dedup → index-append → publish loses no document, publishes no
    * duplicate, and double-indexes nothing (IngestDedupSpec replays
    * every window).
    */
  def minhashDedupBatchVersioned(batch: DataFrame, prefix: String,
      batchId: Long, threshold: Double = 0.8,
      buckets: Int = 8): DataFrame = {
    val spark = batch.sparkSession
    val marker = lshEpochMarker(spark, prefix)
    withLshLock(marker) {
    val epoch = readLshEpoch(marker)
    def unionTbls(tbls: Seq[String]): DataFrame =
      tbls.map(spark.table).reduce(_ unionByName _)
    if (batchId <= epoch.lastBatch) {
      // Replayed batch: recover the committed survivor set, touch
      // nothing. Recovery filters the feature tables to THIS batch's
      // own rows (every feat row carries the batch_id that appended
      // it, preserved through compaction) — a semi-join against ALL
      // committed feats would falsely republish a doc_id this batch
      // dropped but an EARLIER batch indexed (re-crawled doc under an
      // at-least-once upstream), breaking "publishes no duplicate".
      return batch.join(
        unionTbls(epoch.featTables)
          .where(col("batch_id") === batchId).select("doc_id"),
        Seq("doc_id"), "left_semi")
    }
    val f = batch.select(col("doc_id"),
      graft.functions.Md5Shingles.md5WordShingles(col("text"), 3)
        .as("feat")).persist()
    try {
      val b = sigBands(f, 16, 7L, 4, 4, TS.bandKeysMd5)
      val withinDups = verifiedPairs(f, bandPairs(b, "doc_id"), threshold)
        .select(col("id_b").as("doc_id"))
      val idxDups =
        if (epoch.featTables.nonEmpty) {
          val idxBands = unionTbls(epoch.bandTables)
          val idxFeats = unionTbls(epoch.featTables)
          b.select(col("doc_id"), explode(col("bands")).as("bk"))
            .select(col("doc_id"), col("bk.band").as("band"),
              col("bk.key").as("key"))
            .join(idxBands.withColumnRenamed("doc_id", "idx_id"),
              Seq("band", "key"))
            .select("idx_id", "doc_id").distinct()
            .join(idxFeats
              .select(col("doc_id").as("idx_id"), col("feat").as("feat_i")),
              "idx_id")
            .join(f.select(col("doc_id"), col("feat").as("feat_n")), "doc_id")
            .where(TS.jaccard(col("feat_i"), col("feat_n")) >= threshold)
            .select("doc_id").distinct()
        } else batch.select("doc_id").limit(0)
      val dups = withinDups.union(idxDups).distinct()
      val survivors = batch.join(dups, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val survIds = survivors.select("doc_id")
      graft.sources.Bucketing.saveBucketed(
        b.join(survIds, "doc_id")
          .select(col("doc_id"), explode(col("bands")).as("bk"))
          .select(col("bk.band").as("band"), col("bk.key").as("key"),
            col("doc_id")),
        s"${prefix}_b$batchId", "key", buckets)
      graft.sources.Bucketing.saveBucketed(
        f.join(survIds, "doc_id").withColumn("batch_id", lit(batchId)),
        s"${prefix}_f$batchId", "doc_id", buckets)
      writeLshEpoch(marker, LshEpoch(batchId,
        epoch.bandTables :+ s"${prefix}_b$batchId",
        epoch.featTables :+ s"${prefix}_f$batchId"))
      survivors
    } finally f.unpersist()
    }
  }

  /** COMPACTION of a versioned LSH index — the maintenance op a
    * long-lived daily ingest runs: fold the committed per-batch
    * band/feature tables into ONE bucketed pair (one rewrite of the
    * index, amortized over the batches it absorbs), PRESERVING the
    * epoch's lastBatch — exactly-once must survive maintenance, so a
    * stream restart that replays a pre-compaction batch still hits
    * the replay guard and recovers its OWN survivors from the
    * compacted feature table (per-row batch_id provenance survives
    * the fold — identical content, fewer files). Contract: run at
    * a quiescent point (between micro-batches — e.g. from a
    * foreachBatch hook every N batches); absorbed tables drop after
    * the marker commits. Returns the number of tables absorbed.
    */
  def compactLshIndex(spark: SparkSession, prefix: String,
      buckets: Int = 8): Int = {
    val marker = lshEpochMarker(spark, prefix)
    withLshLock(marker) {
    val epoch = readLshEpoch(marker)
    if (epoch.featTables.size <= 1) return 0
    val bc = s"${prefix}_bc${epoch.lastBatch}"
    val fc = s"${prefix}_fc${epoch.lastBatch}"
    graft.sources.Bucketing.saveBucketed(
      epoch.bandTables.map(spark.table).reduce(_ unionByName _),
      bc, "key", buckets)
    graft.sources.Bucketing.saveBucketed(
      epoch.featTables.map(spark.table).reduce(_ unionByName _),
      fc, "doc_id", buckets)
    val absorbed = epoch.bandTables ++ epoch.featTables
    // the marker rename is the commit point: readers resolve either
    // the old table list or the new one, never a mix
    writeLshEpoch(marker, LshEpoch(epoch.lastBatch, Seq(bc), Seq(fc)))
    absorbed.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    absorbed.size
    }
  }

  // Driver-side two-day replay ⇒ constructing the frame runs Spark
  // jobs and index writes — memoize per (app, dataset), drop/recreate
  // the tables inside the build for idempotence (the dedupIncr DROP
  // pattern, hoisted out of the per-pass path). A rebuild replays the
  // two days onto freshly dropped tables, same answer. The sort stays
  // in the query: a stored frame keeps rows, not a row order.

  /** Gate form: even doc_ids arrive as day 1, odd as day 2 (the
    * [[dedupIncr]] split). Day 2 must drop its within-batch near-dups
    * AND everything near-duplicating a day-1 SURVIVOR via the
    * persisted index buckets.
    */
  private val dedupIncrMinhash: Q = (spark, dir) =>
    graft.engine.CacheRegistry.frame("dedup.incrminhash", dir)({
        val h = Integer.toHexString(dir.hashCode)
        val bandsTbl = s"graft_lshidx_b_$h"
        val featsTbl = s"graft_lshidx_f_$h"
        spark.sql(s"DROP TABLE IF EXISTS $bandsTbl")
        spark.sql(s"DROP TABLE IF EXISTS $featsTbl")
        val docs = Tables.load(spark, dir, "documents")
        val s1 = minhashIncrementalDedup(
          docs.where(col("doc_id") % 2 === 0), bandsTbl, featsTbl)
        val s2 = minhashIncrementalDedup(
          docs.where(col("doc_id") % 2 === 1), bandsTbl, featsTbl)
        s1.unionByName(s2).select("doc_id", "lang", "source", "n_chars")
      }).orderBy("doc_id")

  /** MinHash band keys via explode + hash-aggregate: k codegen'd MIN
    * columns over the exploded shingle hashes, instead of k interpreted
    * array folds per row (HOFs don't participate in whole-stage
    * codegen — measured 3× slower even when staged). The exchange this
    * adds carries one row per (doc, shingle) but partial aggregation
    * collapses it to k longs per doc before the shuffle.
    */
  private def sigBands(feats: DataFrame, k: Int, seed: Long,
      bands: Int, rowsPerBand: Int,
      bandKeyFn: (Column, Int, Int) => Column = TS.bandKeys): DataFrame = {
    val params = TS.hashParams(k, seed)
    val g = feats.where(size(col("feat")) > 0)
      .select(col("doc_id"), explode(col("feat")).as("gh"))
    val aggs = params.zipWithIndex.map { case (p, i) =>
      min(TS.affine(col("gh"), p)).as(s"m$i")
    }
    g.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        bandKeyFn(array((0 until k).map(i => col(s"m$i")): _*),
          bands, rowsPerBand).as("bands"))
  }

  /** Candidate pairs (a < b) that share at least one LSH band bucket.
    * Buckets larger than `maxBucket` are dropped before the self-join:
    * a degenerate bucket (empty docs, boilerplate) of size m yields
    * m²/2 pairs — the one way LSH can go quadratic at scale. Members of
    * an oversized bucket almost always still collide in another,
    * selective band; production systems (e.g. near-dup pipelines over
    * web crawls) apply the same "too common to be informative" cap.
    */
  private[graft] def bandPairs(withBands: DataFrame, idCol: String,
      maxBucket: Int = 1000): DataFrame = {
    // One groupBy on (band, key) with a BOUNDED collect (cap+1 smallest
    // ids — see BoundedMinIds), then in-bucket pair explosion. Replaces
    // the previous window-count + equi-self-join formulation: same pair
    // output, but ONE exchange instead of three (window sort, join
    // build, join probe) and no unbounded state anywhere — a degenerate
    // bucket ships cap+1 ids, is seen to exceed the cap, and is dropped.
    val bounded = udaf(new graft.functions.BoundedMinIds(maxBucket),
      org.apache.spark.sql.Encoders.scalaLong)
    withBands
      .select(col(idCol), explode(col("bands")).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
      .groupBy("band", "key")
      .agg(bounded(col(idCol)).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Candidate pairs that survive an exact-Jaccard verify on the
    * feature sets — the LSH family's TRUE-pair output, shared by the
    * dedup anti-join and the recall metric.
    */
  private def verifiedPairs(feats: DataFrame, pairs: DataFrame,
      threshold: Double): DataFrame = {
    val fa = feats.select(col("doc_id").as("id_a"), col("feat").as("feat_a"))
    val fb = feats.select(col("doc_id").as("id_b"), col("feat").as("feat_b"))
    pairs.join(fa, "id_a").join(fb, "id_b")
      .where(TS.jaccard(col("feat_a"), col("feat_b")) >= threshold)
      .select("id_a", "id_b")
  }

  /** Verify candidate pairs with an exact Jaccard on the feature sets,
    * then drop the larger id of every pair above the threshold.
    */
  private def survivors(
      docs: DataFrame, feats: DataFrame, pairs: DataFrame,
      threshold: Double): DataFrame = {
    val dups = verifiedPairs(feats, pairs, threshold)
      .select(col("id_b").as("doc_id")).distinct()
    docs.join(dups, Seq("doc_id"), "left_anti")
  }

  /** Connected-component min-label propagation over a duplicate-pair
    * graph: every node ends labeled with its component's minimum id, so
    * star/chain-shaped duplicate clusters collapse to exactly one
    * survivor (the greedy per-pair removal can keep extras: with edges
    * (1,3),(2,3) it keeps both 1 and 2). Iterative label propagation —
    * each round is ONE Spark action (the eager checkpoint; convergence
    * is tallied by an accumulator riding its materialization). This is
    * the exact dedup closure used when transitive duplicate chains
    * matter.
    */
  def connectedMinLabels(pairs: DataFrame): DataFrame = {
    // undirected edge list, both directions
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    // Eager localCheckpoint per round truncates lineage: with persist()
    // alone the logical plan compounds every iteration and
    // analysis/optimization time grows exponentially (measured 4 s →
    // 10 s by round 4 on a 200-node chain). This is the same pattern
    // GraphX's Pregel uses for iterative graph algorithms; a cluster
    // deployment caring about executor loss would swap in a reliable
    // checkpoint dir.
    val nodes = edges.select(col("src").as("id")).distinct()
    var labels = nodes.withColumn("label", col("id")).localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 20) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "n_label"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("n_label")).as("n_min"))
      // Carry the round-entry label through as `old`: the convergence
      // tally can then ride the same action that materializes the round
      // instead of a separate join-of-two-checkpoints + count job.
      val hooked = labels.withColumnRenamed("label", "old")
        .join(viaNeighbor, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("n_min"), col("old"))).as("label"))
      // Pointer jumping (path compression): follow label → label(label).
      // Neighbor-min alone needs O(component diameter) rounds — a chain
      // of n duplicate docs would need n rounds; compressing one hop
      // per round makes the label graph halve in height, so convergence
      // is O(log diameter) rounds total (the Hash-to-Min / large-star
      // trick from the MapReduce CC literature). Every label is itself
      // a node id, so the self-join below always resolves.
      // ONE action per round: the eager checkpoint's materialization is
      // the only job, and a fresh accumulator tallies still-moving
      // labels as a side effect of the final projection (a task retry
      // could overcount, but only changed==0 vs >0 is ever consulted —
      // undercount is impossible). The previous separate
      // join-of-two-checkpoints + count() doubled the actions per round.
      val chgAcc = pairs.sparkSession.sparkContext.longAccumulator("cc-changed")
      val tally = udf { (l: Long, o: Long) =>
        if (l != o) chgAcc.add(1L); l
      }
      val next = hooked.as("x")
        .join(hooked.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"),
          tally(least(col("label"), coalesce(col("ll"), col("label"))),
            col("old")).as("label"))
        .localCheckpoint(true)
      changed = chgAcc.value
      // the superseded round's checkpoint blocks are dead the moment
      // `next` materializes (eager) — free them now instead of pinning
      // O(rounds) label tables for the app lifetime (the marathon
      // memory discipline; CacheRegistrySpec observed the leak)
      graft.engine.CacheRegistry.freeFrame(labels)
      labels = next
      rounds += 1
    }
    // A silent non-converged exit would surface only as a confusing
    // oracle-hash mismatch downstream; the cap covers diameter ~2^20,
    // so hitting it means something is structurally wrong — fail loudly.
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedMinLabels did not converge after $rounds rounds " +
          s"($changed labels still changing)")
    // labels is checkpointed — nothing downstream re-reads edges, so
    // release its blocks now instead of pinning them for the app's life
    edges.unpersist(blocking = false)
    labels
  }

  /** Survivors of a pair graph under connected-component semantics:
    * every id whose component label is itself (the component minimum).
    */
  def ccSurvivorIds(pairs: DataFrame): DataFrame =
    connectedMinLabels(pairs).where(col("id") === col("label")).select("id")

  /** Deterministic duplicate-pair graph for the registered CC query:
    * consecutive doc_ids chained within (lang, n_chars÷100) and within
    * (source, n_chars÷100). Two overlapping chain partitionings give
    * real transitive structure — components merge across both keys and
    * chains run long enough that one-hop label propagation would not
    * converge — while staying expressible as plain SQL windows for the
    * DuckDB oracle.
    */
  def ccChainPairs(docs: DataFrame): DataFrame = {
    def chain(parts: Column*): DataFrame = {
      val w = Window.partitionBy(parts: _*).orderBy("doc_id")
      docs.select(col("doc_id").as("id_a"),
          lead(col("doc_id"), 1).over(w).as("id_b"))
        .where(col("id_b").isNotNull)
    }
    val bucket = floor(col("n_chars") / lit(100))
    chain(col("lang"), bucket).union(chain(col("source"), bucket))
  }

  // The CC label table is computed by a driver-side iterative loop, so
  // (unlike every other query) just CONSTRUCTING the DataFrame runs
  // Spark jobs. Memoize it per (app, dataset): r_catalog's schema walk
  // and the query's own execution share one closure computation. The
  // key assumes a dataset directory is immutable within an application
  // (true for the fixtures and any content-addressed lake layout); key
  // by a dataset fingerprint before pointing this at mutable paths.

  /** Stage-once memo for the staged feature frames, keyed by the
    * frame's analyzed-plan semantic hash: repeated invocations of the
    * same dedup pipeline (bench warmup + interleaved passes, the scale
    * rehearsal) reuse ONE stored frame instead of re-deriving the
    * shingle transform per call. Distinct inputs (different dir,
    * different hash family) produce distinct plans, hence distinct
    * keys. Same staleness contract as [[dedupCc]]'s memo: assumes input
    * data is immutable for the life of the application.
    */
  private def stageOnce(staged: DataFrame): DataFrame =
    graft.engine.CacheRegistry.frame("dedup.staged",
      staged.queryExecution.analyzed.semanticHash())(staged)

  private val dedupCc: Q = (spark, dir) =>
    graft.engine.CacheRegistry.frame("dedup.cc", dir)(
      connectedMinLabels(ccChainPairs(Tables.load(spark, dir, "documents"))))
      .orderBy("id")

  /** Duplicate-cluster size distribution over the CC closure — the
    * dedup AUDIT view (how much of the corpus sits in how-large
    * clusters) every production dedup run reports. Rides the cached
    * label table, so it adds two tiny aggregations to work already
    * done; at 100 TB the histogram is bounded by the distinct cluster
    * sizes, not the corpus.
    */
  private val dedupClusterStats: Q = (spark, dir) =>
    dedupCc(spark, dir)
      .groupBy("label").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
      .orderBy("cluster_size")

  /** Staged md5-hashed 3-word-shingle feature sets — the oracle-
    * checkable feature family shared by [[minhashMd5Dedup]],
    * [[minhashRecall]], the CC-canonical dedup and the leak-free
    * split (stageOnce keys by plan hash, so all of them pin ONE
    * copy).
    */
  private def md5ShingleFeats(docs: DataFrame): DataFrame =
    stageOnce(docs
      .select(col("doc_id"),
        graft.functions.Md5Shingles.md5WordShingles(col("text"), 3)
          .as("feat")))

  /** Min-label table of the REAL near-duplicate graph — LSH-verified
    * J ≥ 0.8 pairs (the md5 lane, so the whole chain is oracle-
    * replayable) closed under [[connectedMinLabels]], extended with
    * singleton labels (label = own id) for every document in no pair.
    * This is the production linkage [[splitLeakfree]] and
    * [[dedupMinhashCc]] key on — NOT the synthetic chain graph
    * ([[ccChainPairs]]), which stays as the bounded demo input of
    * e_dedup_cc itself. Driver-side iterative closure ⇒ memoized per
    * (app, dataset) like [[dedupCc]].
    */
  private[graft] def lshCcLabels(spark: SparkSession, dir: String): DataFrame =
    graft.engine.CacheRegistry.frame("dedup.lshcc", dir)({
        val docs = Tables.load(spark, dir, "documents")
        val staged = md5ShingleFeats(docs)
        val pairs = verifiedPairs(staged,
          bandPairs(sigBands(staged, 16, 7L, 4, 4, TS.bandKeysMd5), "doc_id"),
          0.8)
        docs.select(col("doc_id").as("id"))
          .join(connectedMinLabels(pairs), Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      })

  /** CLUSTER-CANONICAL near-dup removal — the SlimPajama/Dolma policy:
    * close the LSH-verified pair set under connected components and
    * keep exactly each component's minimum doc_id. The pair-greedy
    * form ([[minhashMd5Dedup]]'s survivors: drop the larger id of
    * every pair) can keep extras — with pairs (A,C),(B,C) and A<B<C it
    * keeps A AND B; the canonical policy keeps only A (CcDedupSpec
    * pins the divergence case). Costs the CC closure on top of the
    * verified pairs: O(log diameter) label-propagation rounds over the
    * PAIR graph only — near-dup components, not the corpus.
    */
  private val dedupMinhashCc: Q = (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .join(lshCcLabels(spark, dir)
        .where(col("id") =!= col("label"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** CLUSTER-AWARE train/val/test SPLIT — the leakage-free split
    * assignment every pretraining-eval pipeline needs: assigning
    * splits by hashing the DOCUMENT id leaks near-duplicates across
    * the train/test boundary (the classic eval-contamination bug);
    * hashing the duplicate-CLUSTER label instead keeps every member
    * of a component on the same side by construction. Keys on the
    * REAL duplicate graph — the LSH-verified component labels
    * ([[lshCcLabels]]; singletons label themselves) — not a proxy
    * linkage. The split is md5-derived from the cluster label
    * (train 80% / val 10% / test 10%), and the report quantifies the
    * leakage AVOIDED: per split, how many of its clusters would have
    * straddled splits under the naive per-doc hash. At 100 TB this
    * adds two bounded aggregations to the label table — the split
    * decision is a map-side hash, no new shuffle of the corpus.
    */
  private val splitLeakfree: Q = (spark, dir) => {
    val bucket = (c: Column) =>
      graft.functions.TextShingles.md5Hash60(c.cast("string")) % 10
    val splitOf = (b: Column) =>
      when(b < 8, "train").when(b === 8, "val").otherwise("test")
    val assigned = lshCcLabels(spark, dir).select(col("id"), col("label"),
      splitOf(bucket(col("label"))).as("split"),
      splitOf(bucket(col("id"))).as("naive_split"))
    // split is constant within a cluster (function of the label), so
    // min() is just "the" value; naive_span > 1 ⇔ the per-doc hash
    // would have torn this cluster across splits
    val clusters = assigned.groupBy("label")
      .agg(count(lit(1)).as("n_docs"), min("split").as("split"),
        countDistinct("naive_split").as("naive_span"))
    clusters.groupBy("split")
      .agg(sum("n_docs").as("n_docs"), count(lit(1)).as("n_clusters"),
        sum(when(col("naive_span") > 1, 1L).otherwise(0L))
          .as("n_naive_leaky"))
      .orderBy("split")
  }

  /** MinHash+LSH near-dup removal on 3-word shingles.
    * k=16 hashes, 4 bands × 4 rows → collision prob ≈ 1-(1-s⁴)⁴,
    * catching Jaccard ≳ 0.6 reliably; exact-verify at 0.8.
    */
  def minhashDedup(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    // Stage feat → sig → bands as separate projections: Catalyst columns
    // are expression TREES, so inlining the shingle pipeline into the
    // 16 minhash transforms × 4 band keys would re-evaluate it 64× per
    // row (HOFs are interpreted, not codegen'd — measured 60× slower).
    // CollapseProject keeps multi-referenced non-trivial aliases staged.
    // persist() cuts the lineage: the feature table feeds five plan
    // branches (two self-join sides, two verify sides, the anti join),
    // and without materialization the optimizer inlines the interpreted
    // HOF pipeline into each branch AND into pushed-down filters —
    // measured 30× slower. Persisting signatures is also what a 100 TB
    // LSH dedup does (compute once, reuse across band rounds).
    val staged = minhashStaged(docs)
    survivors(docs, staged,
      bandPairs(sigBands(staged, 16, 7L, 4, 4), "doc_id"), threshold)
  }

  private def minhashStaged(docs: DataFrame): DataFrame = stageOnce(docs
    .select(col("doc_id"), TS.tokenHashes(col("text")).as("_th"))
    .select(col("doc_id"),
      array_distinct(TS.shingleHashesFrom(col("_th"), 3)).as("feat")))

  /** Candidate pairs of the production MinHash pipeline — exposed for
    * the scale-rehearsal test: candidate growth must stay ~linear in
    * corpus size (a quadratic candidate blowup under a shifted
    * similarity distribution is the one way LSH degrades at scale —
    * see the 1.2M-pair char-3-gram incident in BASELINE.md).
    */
  private[graft] def minhashCandidates(docs: DataFrame): DataFrame =
    bandPairs(sigBands(minhashStaged(docs), 16, 7L, 4, 4), "doc_id")

  private val dedupMinhash: Q = (spark, dir) =>
    minhashDedup(Tables.load(spark, dir, "documents"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Oracle-checkable MinHash+LSH: identical structure to
    * [[minhashDedup]] (16 hashes, 4 bands × 4 rows, verify at 0.8) but
    * every hash is md5-derived ([[TS.md5Hash60]]) instead of xxhash64,
    * so DuckDB replays the ENTIRE pipeline — shingling, minhash
    * signatures, banding, bucket cap, candidate join, exact-Jaccard
    * verify, anti join — and the driver hash-checks the result. The
    * xxhash64 variant stays the production path (codegen'd long mixing,
    * no string build per shingle); this one is the correctness bridge.
    */
  def minhashMd5Dedup(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    docs.join(minhashMd5Dups(docs, threshold), Seq("doc_id"), "left_anti")

  /** The md5 LSH lane's DUPLICATE ids (distinct larger id of every
    * verified pair) — the exact set [[minhashMd5Dedup]] anti-joins
    * away, exposed so report queries ([[DomainOps.domainReport]]) can
    * LEFT-JOIN it directly instead of re-deriving it through a second
    * full docs pass + anti join (the oracle's own CTE shape).
    */
  private[graft] def minhashMd5Dups(docs: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val staged = md5ShingleFeats(docs)
    verifiedPairs(staged,
      bandPairs(sigBands(staged, 16, 7L, 4, 4, TS.bandKeysMd5), "doc_id"),
      threshold)
      .select(col("id_b").as("doc_id")).distinct()
  }

  private val dedupMinhashMd5: Q = (spark, dir) =>
    minhashMd5Dedup(Tables.load(spark, dir, "documents"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** LSH recall ON THE GATE: the fraction of TRUE J ≥ 0.8 pairs the
    * banded MinHash actually surfaces, as one hash-checked row — the
    * e_ann_recall pattern applied to the dedup family. Ground truth is
    * the EXACT prefix-filter join ([[SetJoinOps.jaccardJoin]] —
    * guaranteed complete); the found set is the md5-LSH candidate
    * pipeline verified at the same threshold over the SAME feature
    * family, so found ⊆ exact by construction (precision 1) and the
    * single number is recall. The theoretical expectation for 4 bands
    * × 4 rows at s = 0.8 is 1 − (1 − s⁴)⁴ ≈ 0.88 at the threshold and
    * higher above it; a silent banding/bucketing regression (lost
    * band, broken key, over-eager cap) drags the ratio down and turns
    * the gate row red.
    */
  def minhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val exact = SetJoinOps.jaccardJoin(SetJoinOps.stagedFeats(spark, dir))
      .select("id_a", "id_b")
    val staged = md5ShingleFeats(docs)
    val found = verifiedPairs(staged,
      bandPairs(sigBands(staged, 16, 7L, 4, 4, TS.bandKeysMd5), "doc_id"),
      0.8).distinct()
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nFound = found.agg(count(lit(1)).as("n_found"))
    nExact.crossJoin(nFound)
      .select(col("n_exact"), col("n_found"),
        // Vacuous recall = 1.0 when the corpus has no true J>=0.8 pairs;
        // the unguarded division would raise DIVIDE_BY_ZERO under ANSI.
        when(col("n_exact") > 0,
          round(col("n_found").cast("double") / col("n_exact"), 4))
          .otherwise(lit(1.0)).as("recall"))
  }

  /** 64-bit SimHash (Charikar'02 / Manku WWW'07): per-token hash votes
    * on each bit; near-dups have small Hamming distance. Bit loop is
    * unrolled into 64 codegen'd aggregate expressions (no UDF).
    */
  def simhash(text: Column): Column = {
    val th = TS.hashed(TS.tokens(text))
    (0 until 64).map { i =>
      val bitSum = aggregate(th, lit(0L), (acc, h) =>
        acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === lit(1L), lit(1L))
          .otherwise(lit(-1L)))
      when(bitSum > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** SimHash via explode + hash-aggregate, with PACKED bit-counters:
    * 64 per-bit vote tallies squeezed into 22 SUM columns (3 × 16-bit
    * set-bit counters per long) plus one COUNT. 64 separate SUMs made
    * the generated aggregate-update method large enough that the
    * HashAggregate fell out of whole-stage codegen entirely (verified
    * via executedPlan — no WholeStageCodegen parent; 5 s at sf0.1);
    * 23 aggregate buffers keep it inside codegen. A bit is set iff
    * 2·setCount > n (identical to the ±1-vote sum being > 0, ties
    * unset). 16-bit fields are exact for docs up to 65 535 tokens and
    * the packed partial sum stays < 2⁴⁸ — no ANSI overflow at any n.
    * Shuffles once on doc_id; the exchange carries 23 longs per doc.
    */
  def simhashAgg(docs: DataFrame,
      hashOne: Column => Column = tok => xxhash64(tok)): DataFrame = {
    // Cap votes at 65 535 tokens/doc: the 16-bit packed counters would
    // silently carry into the neighboring bit's field beyond that. A
    // deterministic truncation (first 64k tokens vote) beats both a
    // runtime error on one giant document and a corrupted simhash; a
    // 64k-token prefix pins the fingerprint in practice.
    //
    // Hash AFTER the explode, not inside the token array: a
    // transform(tokens, hash) HOF evaluates interpreted per element,
    // while hashOne over the exploded scalar column is a codegen'd
    // projection inside the same whole-stage span as the explode.
    val th = docs
      .select(col("doc_id"),
        explode(slice(TS.tokens(col("text")), 1, 65535)).as("tok"))
      .select(col("doc_id"), hashOne(col("tok")).as("h"))
    val fieldsPerCol = 3
    val nCols = (64 + fieldsPerCol - 1) / fieldsPerCol // 22
    val packCols = (0 until nCols).map { g =>
      val terms = (0 until fieldsPerCol)
        .map(j => fieldsPerCol * g + j).filter(_ < 64)
        .map { bit =>
          shiftleft(shiftright(col("h"), bit).bitwiseAND(lit(1L)),
            16 * (bit - fieldsPerCol * g))
        }
      sum(terms.reduce(_ + _)).as(s"p$g")
    }
    val agged = th.groupBy("doc_id")
      .agg(packCols.head, (packCols.tail :+ count(lit(1L)).as("n")): _*)
    agged.select(col("doc_id"),
      (0 until 64).map { bit =>
        val g = bit / fieldsPerCol
        val cnt = shiftright(col(s"p$g"), 16 * (bit % fieldsPerCol))
          .bitwiseAND(lit(0xffffL))
        when(cnt * 2 > col("n"), shiftleft(lit(1L), bit)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash near-dup removal: Manku-style banding — 4 bands of 16 bits;
    * pairs agreeing on ≥1 band are checked for Hamming distance ≤ 3.
    */
  def simhashDedup(docsIn: DataFrame, maxHamming: Int = 3,
      hashOne: Column => Column = tok => xxhash64(tok)): DataFrame = {
    // (doc_id, simhash) is 16 bytes/doc — persist so the band explode,
    // both pair sides, and the final anti join share one computation
    val docs = docsIn.join(stageOnce(simhashAgg(docsIn, hashOne)), "doc_id")
    val withBands = docs.select(col("doc_id"),
      array((0 until 4).map { j =>
        struct(lit(j).as("band"),
          shiftright(col("simhash"), j * 16).bitwiseAND(lit(0xffffL)).as("key"))
      }: _*).as("bands"))
    val pairs = bandPairs(withBands, "doc_id")
    val sh = docs.select(col("doc_id"), col("simhash"))
    val dups = pairs
      .join(sh.select(col("doc_id").as("id_a"), col("simhash").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("simhash").as("sh_b")), "id_b")
      .where(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxHamming)
      .select(col("id_b").as("doc_id")).distinct()
    docs.join(dups, Seq("doc_id"), "left_anti")
  }

  private val dedupSimhash: Q = (spark, dir) =>
    simhashDedup(Tables.load(spark, dir, "documents"))
      .select("doc_id", "simhash")
      .orderBy("doc_id")

  /** Oracle-checkable SimHash: token hashes via [[TS.md5Hash60]] (bits
    * 60–63 are therefore always 0 — a 60-bit simhash in a 64-bit
    * layout), everything else identical to [[simhashDedup]]. DuckDB
    * replays the per-bit majority vote with 60 SUM columns, the
    * 16-bit banding, the bucket cap, and the Hamming-distance verify
    * (bit_count(xor(..)) ≤ 3).
    */
  private val dedupSimhashMd5: Q = (spark, dir) =>
    simhashDedup(Tables.load(spark, dir, "documents"),
      hashOne = tok => TS.md5Hash60(tok))
      .select("doc_id", "simhash")
      .orderBy("doc_id")

  /** Character-5-gram Jaccard near-dup: same LSH candidate machinery
    * over char-gram sets, exact-verified at 0.9. 5-grams + steep banding
    * (2 bands × 8 rows) because char-gram similarity between unrelated
    * texts runs much higher than word-shingle similarity — 3-grams with
    * 4×4 banding produced 1.2M candidate pairs on 5k docs (all false),
    * drowning the verify stage; 5-grams/2×8 produce ~256.
    */
  def ngramDedup(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    // Same staged-and-persisted layout as minhashDedup (see comment there).
    val staged = stageOnce(docs
      .select(col("doc_id"),
        array_distinct(TS.hashed(TS.charGrams(col("text"), 5))).as("feat")))
    survivors(docs, staged,
      bandPairs(sigBands(staged, 16, 11L, 2, 8), "doc_id"), threshold)
  }

  private val dedupNgram: Q = (spark, dir) =>
    ngramDedup(Tables.load(spark, dir, "documents"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Oracle-checkable char-5-gram Jaccard dedup: [[ngramDedup]] with
    * md5-derived gram hashes (see [[minhashMd5Dedup]] for the pattern).
    */
  def ngramMd5Dedup(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    val staged = stageOnce(docs
      .select(col("doc_id"),
        graft.functions.Md5Shingles.md5HashArray(
          TS.charGrams(col("text"), 5)).as("feat")))
    survivors(docs, staged,
      bandPairs(sigBands(staged, 16, 11L, 2, 8, TS.bandKeysMd5), "doc_id"),
      threshold)
  }

  private val dedupNgramMd5: Q = (spark, dir) =>
    ngramMd5Dedup(Tables.load(spark, dir, "documents"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Embedding-cosine near-dup: 16-bit sign-LSH buckets, in-bucket
    * pairwise cosine ≥ 0.99 removes the larger vec_id. The bucket join
    * shuffles on the signature — never all-pairs.
    */
  def embeddingDedup(vecsIn: DataFrame, dim: Int = 64,
      threshold: Double = 0.99): DataFrame = {
    val planes = VectorOps.hyperplanes(16, dim)
    val vecs = vecsIn
      .withColumn("sig", VectorOps.signSignature(col("embedding"), planes))
    val a = vecs.select(col("vec_id").as("id_a"), col("embedding").as("v_a"), col("sig"))
    val b = vecs.select(col("vec_id").as("id_b"), col("embedding").as("v_b"), col("sig"))
    val dups = a.join(b, Seq("sig")).where(col("id_a") < col("id_b"))
      .where(VectorOps.cosine(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    vecs.join(dups, Seq("vec_id"), "left_anti").drop("sig")
  }

  private val dedupEmbedding: Q = (spark, dir) =>
    embeddingDedup(Tables.load(spark, dir, "embeddings"))
      .select("vec_id", "label")
      .orderBy("vec_id")

  /** Test-set decontamination: remove every training document that
    * CONTAINS an eval example — |shingles(e) ∩ shingles(d)| /
    * |shingles(e)| ≥ τ for some eval doc e (the n-gram-containment rule
    * standard in LLM training-data hygiene; the eval member itself has
    * containment 1.0 and is removed too, which is the point).
    *
    * 100 TB shape: the eval set is small by construction, so its
    * exploded shingle hashes BROADCAST; the corpus side is one explode +
    * broadcast-hash-join + partial-aggregated count per (doc, eval) —
    * the only exchange carries matching (doc, eval) pairs, never the
    * corpus. Exact set intersection (no banding/minhash), so the
    * xxhash64 production path is directly oracle-checkable: the oracle
    * replays containment on the shingle strings themselves, identical
    * up to a 64-bit hash collision.
    */
  /** doc frame → staged `feat` shingle-set column. Two separate
    * projections on purpose: inlining the token pipeline into
    * shingleHashesFrom would re-evaluate it per reference (HOF tree
    * duplication — see minhashDedup's staging note). Stateless, so it
    * applies unchanged to a streaming frame.
    */
  def withShingleFeature(docs: DataFrame, w: Int = 3): DataFrame = docs
    .withColumn("_th", TS.tokenHashes(col("text")))
    .withColumn("feat", array_distinct(TS.shingleHashesFrom(col("_th"), w)))
    .drop("_th")


  def decontaminate(docs: DataFrame, evalModulus: Long = 97L, w: Int = 3,
      tau: Double = 0.8): DataFrame = {
    // explode_outer, NOT explode, and no size(feat) > 0 filter: both
    // would make the optimizer infer/push a predicate on the derived
    // HOF column into the scan, where element_at over an inlined
    // transform re-tokenizes the document per shingle position —
    // O(tokens²) per row (measured 0.6 s → 37 s at sf0.1). The inner
    // join on gh drops the null rows empty-shingle docs produce, so
    // semantics are identical.
    val feats = withShingleFeature(docs, w).select("doc_id", "feat")
    val evalShingles = feats.where(col("doc_id") % evalModulus === 0)
      .select(col("doc_id").as("eval_id"), explode_outer(col("feat")).as("gh"))
    val evalSizes = evalShingles.where(col("gh").isNotNull)
      .groupBy("eval_id").agg(count(lit(1)).as("eval_n"))
    val overlap = feats
      .select(col("doc_id"), explode_outer(col("feat")).as("gh"))
      .join(broadcast(evalShingles), "gh")
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("n_common"))
    val contaminated = overlap.join(broadcast(evalSizes), "eval_id")
      .where(col("n_common").cast("double") / col("eval_n") >= tau)
      .select("doc_id").distinct()
    docs.join(contaminated, Seq("doc_id"), "left_anti")
  }

  private val decontaminateQ: Q = (spark, dir) =>
    decontaminate(Tables.load(spark, dir, "documents"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Per-eval contamination REPORT — the auditor view of
    * [[decontaminate]]: that operator answers remove/keep; a
    * contamination audit needs, PER EVAL DOC, the worst offender —
    * max containment over the training corpus and which training doc
    * achieves it (self excluded: the eval member's own row is the
    * trivial 1.0). Same broadcast-eval-index overlap frame as the
    * dedup path plus ONE more aggregation: the argmax is a struct-max
    * (max n_common, ties to the smallest doc_id — eval_n is constant
    * within an eval group, so argmax containment ≡ argmax n_common,
    * an integer decision with the one division at presentation). At
    * 100 TB: the only new shuffle carries ≤ |matching (doc, eval)
    * pairs| rows collapsed map-side to one row per eval doc.
    */
  def decontaminateReport(docs: DataFrame, evalModulus: Long = 97L,
      w: Int = 3): DataFrame = {
    val feats = withShingleFeature(docs, w).select("doc_id", "feat")
    val evalShingles = feats.where(col("doc_id") % evalModulus === 0)
      .select(col("doc_id").as("eval_id"), explode_outer(col("feat")).as("gh"))
    val evalSizes = evalShingles.where(col("gh").isNotNull)
      .groupBy("eval_id").agg(count(lit(1)).as("eval_n"))
    val overlap = feats
      .select(col("doc_id"), explode_outer(col("feat")).as("gh"))
      .join(broadcast(evalShingles), "gh")
      .where(col("doc_id") =!= col("eval_id"))
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("n_common"))
    val best = overlap.groupBy("eval_id")
      .agg(max(struct(col("n_common"), (-col("doc_id")).as("neg"))).as("m"))
      .select(col("eval_id"), col("m.neg").as("neg"),
        col("m.n_common").as("n_common"))
    evalSizes.join(best, Seq("eval_id"), "left_outer")
      .select(col("eval_id"), col("eval_n").as("n_grams"),
        (-col("neg")).as("best_doc"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        when(col("n_common").isNull, lit(0.0))
          .otherwise(round(col("n_common").cast("double") / col("eval_n"), 6))
          .as("max_containment"))
      .orderBy("eval_id")
  }

  private val decontaminateReportQ: Q = (spark, dir) =>
    decontaminateReport(Tables.load(spark, dir, "documents"))

  /** Ceiling on the eval-set cardinality [[evalShingleSets]] will
    * collect to the driver. Real eval sets are a few thousand docs; a
    * misconfigured modulus that selects a corpus-scale slice must fail
    * LOUDLY here, not OOM the driver mid-collect.
    */
  val MaxEvalSetDocs: Long = 100000L

  /** The eval set's shingle-hash sets, collected once at setup time
    * (driver-side; small by construction — and ENFORCED small: the
    * count is checked against [[MaxEvalSetDocs]] before anything is
    * collected) — the cursor [[evalContains]] closes over for the
    * streaming-safe formulation.
    */
  def evalShingleSets(docs: DataFrame, evalModulus: Long = 97L,
      w: Int = 3, maxDocs: Long = MaxEvalSetDocs): Seq[Seq[Long]] = {
    val evalDocs = docs.where(col("doc_id") % evalModulus === 0)
    val n = evalDocs.count()
    require(n <= maxDocs,
      s"eval set selects $n docs (modulus $evalModulus), above the " +
        s"$maxDocs driver-collect ceiling — broadcast-join the eval " +
        s"index instead (the batch decontaminate path)")
    withShingleFeature(evalDocs, w)
      .select("feat").collect()
      .map(_.getSeq[Long](0).toSeq).toSeq.filter(_.nonEmpty)
  }

  /** Per-row decontamination predicate over a staged `feat` column —
    * the STREAMING-SAFE formulation of [[decontaminate]]: the small
    * eval sets become array literals (the broadcast analog), so the
    * check is a stateless codegen'd filter — no explode, no join, no
    * state store, no watermark. Batch [[decontaminate]] and this
    * predicate agree row-for-row (pinned by StreamingSpec), so one
    * hygiene rule gates both the ingest stream and the backfill.
    */
  def evalContains(text: Column, evalFeats: Seq[Seq[Long]],
      tau: Double = 0.8, w: Int = 3): Column = {
    // One scalar closure over the RAW TEXT, with driver-built hash sets
    // (the broadcast eval-index pattern). Deliberately NOT a filter on
    // the derived `feat` array: any filter over that column — UDF or
    // expression — gets pushed/collapsed through the staged shingle
    // projections (Catalyst only requires the PROJECT's fields be
    // deterministic, and column pruning removes any unused barrier), and
    // the substituted element_at-over-transform re-tokenizes the
    // document per shingle position: O(tokens²)/row, 9-11 s at sf0.1 vs
    // ~0.3 s for this closure. Tokenize+shingle replicate the
    // TextShingles expressions BIT-FOR-BIT: UTF8String.toLowerCase,
    // regex split("\s+", -1), xxhash64(token, 42), and the running
    // xxhash64(h1..hw, 42) long-mix via the same catalyst XXH64 core.
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val sets = evalFeats.filter(_.nonEmpty)
    val nSets = sets.length
    // |e_i| denominators, plus an inverted index shingle → eval-set ids
    // so the per-row cost is proportional to the row's ACTUAL overlap
    // volume, not to |eval corpus|. The previous sets.exists scan was
    // O(|sets|·|e|) for every row sharing even one shingle with any
    // eval doc — at 10× data that's 10× rows × 10× sets, the measured
    // 26× wall growth of e_stream_quality_replay in SWEEP.json; the
    // postings walk restores the batch join's O(matching pairs) shape.
    val sizes: Array[Int] = sets.map(_.size).toArray
    val postings: scala.collection.mutable.LongMap[Array[Int]] = {
      val tmp = new scala.collection.mutable.LongMap[
        scala.collection.mutable.ArrayBuilder.ofInt]
      var i = 0
      while (i < nSets) {
        // one posting per DISTINCT (shingle, set) so count == |e ∩ fs|
        // exactly — enforced here rather than assumed of the caller
        // (evalShingleSets does array_distinct upstream, but a caller
        // passing a duplicated shingle must not double-count overlap;
        // the denominator stays the original length, matching the old
        // (e.toSet, e.size) form)
        sets(i).distinct.foreach { g =>
          tmp.getOrElseUpdate(g,
            new scala.collection.mutable.ArrayBuilder.ofInt) += i
        }
        i += 1
      }
      val out = new scala.collection.mutable.LongMap[Array[Int]](tmp.size)
      tmp.foreach { case (k, b) => out.update(k, b.result()) }
      out
    }
    val contains = udf { (s: String) =>
      if (s == null || nSets == 0) false
      else {
        val toks = UTF8String.fromString(s).toLowerCase.toString
          .split("\\s+", -1)
        if (toks.length < w) false
        // tau <= 0 is NOT vacuously true: the batch threshold only
        // evaluates on (doc, eval-set) pairs with >= 1 shared shingle
        // (the inner join), so the stream must require an actual match
        // too — the former early-true branch flagged rows sharing
        // nothing with any eval doc and broke batch/stream row parity
        // at tau = 0 (r10 self-review)
        else {
          val th = toks.map { t =>
            val u = UTF8String.fromString(t)
            XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
              u.numBytes, 42L)
          }
          val fs = new scala.collection.mutable.HashSet[Long]
          var i = 0
          while (i + w <= th.length) {
            var h = 42L
            var j = 0
            while (j < w) { h = XXH64.hashLong(th(i + j), h); j += 1 }
            fs += h
            i += 1
          }
          // overlap counts only for sets the row actually touches
          val counts = new scala.collection.mutable.LongMap[Int]
          fs.foreach { g =>
            postings.get(g) match {
              case Some(ids) =>
                var k = 0
                while (k < ids.length) {
                  counts(ids(k).toLong) = counts.getOrElse(ids(k).toLong, 0) + 1
                  k += 1
                }
              case None =>
            }
          }
          // same division shape as the batch threshold (x/n >= tau): a
          // multiplied form (x >= tau*n) rounds differently at
          // exact-threshold cases and would let batch and stream disagree
          counts.exists { case (idx, c) =>
            c.toDouble / sizes(idx.toInt).toDouble >= tau
          }
        }
      }
    }
    contains(text)
  }

  val queries: Map[String, Q] = Map(
    "e_decontaminate" -> decontaminateQ,
    "e_decontaminate_report" -> decontaminateReportQ,
    "e_dedup_minhash_cc" -> dedupMinhashCc,
    "e_dedup_exact" -> dedupExact,
    "e_dedup_incr" -> dedupIncr,
    "e_dedup_keep_longest" -> dedupKeepLongest,
    "e_dedup_minhash" -> dedupMinhash,
    "e_dedup_simhash" -> dedupSimhash,
    "e_dedup_ngram" -> dedupNgram,
    "e_dedup_embedding" -> dedupEmbedding,
    "e_dedup_cc" -> dedupCc,
    "e_dedup_cluster_stats" -> dedupClusterStats,
    "e_split_leakfree" -> splitLeakfree,
    "e_dedup_minhash_md5" -> dedupMinhashMd5,
    "e_dedup_simhash_md5" -> dedupSimhashMd5,
    "e_dedup_ngram_md5" -> dedupNgramMd5,
    "e_dedup_incr_minhash" -> dedupIncrMinhash,
    "e_minhash_recall" -> (minhashRecall(_, _)),
  )

  /** DuckDB replay of [[dedupIncrMinhash]]: the full two-day protocol.
    * Day-1 CTEs are the [[lshMd5Oracle]] machinery restricted to even
    * doc_ids; the index is day-1 survivors' band rows; day 2 combines
    * the within-batch capped pair scan with the UNCAPPED cross-index
    * bucket join (the engine's exact shape), verifies both against the
    * shingle sets, and survivors union.
    */
  private def incrMinhashOracle: String = {
    val p = 2147483647L
    val params = TS.hashParams(16, 7L)
    val minExprs = params.zipWithIndex.map { case ((a, b), i) =>
      s"    list_min(list_transform(feat, h -> (h % $p * $a + $b) % $p)) AS m$i"
    }.mkString(",\n")
    val bandSelects = (0 until 4).map { j =>
      val cols = (0 until 4).map(r => s"m${j * 4 + r}").mkString(", ")
      s"  SELECT doc_id, $j AS band, ('0x' || substr(md5(array_to_string([$cols], ',')), 1, 15))::BIGINT AS key FROM sigs"
    }.mkString("\n  UNION ALL\n")
    def jacc(a: String, b: String): String =
      s"CASE WHEN len(list_distinct($a.feat || $b.feat)) = 0 THEN 0.0 " +
        s"ELSE len(list_intersect($a.feat, $b.feat))::DOUBLE " +
        s"/ len(list_distinct($a.feat || $b.feat)) END >= 0.8"
    s"""WITH $shingleFeatsCte, sigs AS (
       |  SELECT doc_id,
       |$minExprs
       |  FROM feats WHERE len(feat) > 0
       |), bands AS (
       |$bandSelects
       |), okb1 AS (
       |  SELECT * FROM bands WHERE doc_id % 2 = 0
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000
       |), pairs1 AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM okb1 a JOIN okb1 b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), dups1 AS (
       |  SELECT DISTINCT p.id_b AS doc_id FROM pairs1 p
       |  JOIN feats fa ON fa.doc_id = p.id_a
       |  JOIN feats fb ON fb.doc_id = p.id_b
       |  WHERE ${jacc("fa", "fb")}
       |), surv1 AS (
       |  SELECT d.doc_id FROM documents d LEFT JOIN dups1 USING (doc_id)
       |  WHERE d.doc_id % 2 = 0 AND dups1.doc_id IS NULL
       |), idxb AS (
       |  SELECT b.* FROM bands b JOIN surv1 USING (doc_id)
       |), okb2 AS (
       |  SELECT * FROM bands WHERE doc_id % 2 = 1
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000
       |), pairs2 AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM okb2 a JOIN okb2 b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), crossc AS (
       |  SELECT DISTINCT i.doc_id AS idx_id, n.doc_id AS doc_id
       |  FROM bands n JOIN idxb i ON n.band = i.band AND n.key = i.key
       |  WHERE n.doc_id % 2 = 1
       |), dups2 AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT p.id_b AS doc_id FROM pairs2 p
       |    JOIN feats fa ON fa.doc_id = p.id_a
       |    JOIN feats fb ON fb.doc_id = p.id_b
       |    WHERE ${jacc("fa", "fb")}
       |    UNION
       |    SELECT c.doc_id FROM crossc c
       |    JOIN feats fi ON fi.doc_id = c.idx_id
       |    JOIN feats fn ON fn.doc_id = c.doc_id
       |    WHERE ${jacc("fi", "fn")}
       |  ) u
       |), surv2 AS (
       |  SELECT d.doc_id FROM documents d LEFT JOIN dups2 USING (doc_id)
       |  WHERE d.doc_id % 2 = 1 AND dups2.doc_id IS NULL
       |)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
       |JOIN (SELECT doc_id FROM surv1 UNION ALL SELECT doc_id FROM surv2) s
       |  USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Shared CC-closure oracle base: the chain-pair graph and the
    * min-reachable-label fixpoint as a `WITH RECURSIVE` walk. Both the
    * label query and the cluster-stats query select over it.
    */
  private val ccWalkCtes =
    """WITH RECURSIVE pairs AS (
      |  SELECT doc_id AS id_a,
      |    LEAD(doc_id) OVER (PARTITION BY lang, n_chars // 100
      |      ORDER BY doc_id) AS id_b FROM documents
      |  UNION ALL
      |  SELECT doc_id,
      |    LEAD(doc_id) OVER (PARTITION BY source, n_chars // 100
      |      ORDER BY doc_id) FROM documents
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs WHERE id_b IS NOT NULL
      |  UNION ALL
      |  SELECT id_b, id_a FROM pairs WHERE id_b IS NOT NULL
      |), walk(id, label) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, w.label FROM edges e
      |  JOIN walk w ON w.id = e.src WHERE w.label < e.dst
      |)""".stripMargin

  /** DuckDB replay of [[dedupSimhashMd5]]: 60-bit md5-derived token
    * hashes, per-bit majority vote, 4×16-bit banding, bucket cap,
    * Hamming ≤ 3 verify, anti join.
    */
  private def simhashMd5Oracle: String = {
    val cntExprs = (0 until 60).map(i =>
      s"    SUM((h >> $i) & 1) AS c$i").mkString(",\n")
    // OR-operators sit at line ENDS: a leading "|" would be eaten by
    // stripMargin as a margin marker.
    val bitOr = (0 until 60).map(i =>
      s"(CASE WHEN 2 * c$i > n THEN (1::BIGINT << $i) ELSE 0::BIGINT END)")
      .mkString("    ", " |\n    ", "")
    val bandSelects = (0 until 4).map { j =>
      s"  SELECT doc_id, $j AS band, (simhash >> ${16 * j}) & 65535 AS key FROM sh"
    }.mkString("\n  UNION ALL\n")
    s"""WITH tok AS (
       |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id,
       |          unnest(list_slice(regexp_split_to_array(lower(text), '\\s+'),
       |                            1, 65535)) AS t
       |        FROM documents) u
       |), cnts AS (
       |  SELECT doc_id, count(*) AS n,
       |$cntExprs
       |  FROM tok GROUP BY doc_id
       |), sh AS (
       |  SELECT doc_id,
       |$bitOr AS simhash
       |  FROM cnts
       |), bands AS (
       |$bandSelects
       |), okbuckets AS (
       |  SELECT * FROM bands
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM okbuckets a JOIN okbuckets b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), dups AS (
       |  SELECT DISTINCT p.id_b AS doc_id
       |  FROM pairs p
       |  JOIN sh sa ON sa.doc_id = p.id_a
       |  JOIN sh sb ON sb.doc_id = p.id_b
       |  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
       |)
       |SELECT s.doc_id, s.simhash FROM sh s
       |LEFT JOIN dups USING (doc_id) WHERE dups.doc_id IS NULL
       |ORDER BY s.doc_id""".stripMargin
  }

  /** DuckDB replay of an md5-hash LSH dedup ([[minhashMd5Dedup]] /
    * [[ngramMd5Dedup]]), generated so the affine hash constants are
    * interpolated from the same [[TS.hashParams]] call the Spark side
    * uses. `featsCte` must define `feats(doc_id, feat)` over documents.
    */
  /** WITH-body CTE chain ending in `dups(doc_id)` — the docs the md5
    * LSH pipeline drops (shingle → minhash → band → bucket cap →
    * candidate pairs → exact-Jaccard verify, drop the larger id of
    * each verified pair). Shared by the minhash/ngram dedup oracles
    * and the per-domain dup-rate report.
    */
  private[graft] def lshMd5DupsCtes(featsCte: String, k: Int, seed: Long,
      bands: Int, rowsPerBand: Int, threshold: Double): String = {
    val p = 2147483647L
    val params = TS.hashParams(k, seed)
    val minExprs = params.zipWithIndex.map { case ((a, b), i) =>
      s"    list_min(list_transform(feat, h -> (h % $p * $a + $b) % $p)) AS m$i"
    }.mkString(",\n")
    val bandSelects = (0 until bands).map { j =>
      val cols = (0 until rowsPerBand)
        .map(r => s"m${j * rowsPerBand + r}").mkString(", ")
      s"  SELECT doc_id, $j AS band, ('0x' || substr(md5(array_to_string([$cols], ',')), 1, 15))::BIGINT AS key FROM sigs"
    }.mkString("\n  UNION ALL\n")
    s"""$featsCte, sigs AS (
       |  SELECT doc_id,
       |$minExprs
       |  FROM feats WHERE len(feat) > 0
       |), bands AS (
       |$bandSelects
       |), okbuckets AS (
       |  SELECT * FROM bands
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM okbuckets a JOIN okbuckets b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), dups AS (
       |  SELECT DISTINCT p.id_b AS doc_id
       |  FROM pairs p
       |  JOIN feats fa ON fa.doc_id = p.id_a
       |  JOIN feats fb ON fb.doc_id = p.id_b
       |  WHERE CASE WHEN len(list_distinct(fa.feat || fb.feat)) = 0 THEN 0.0
       |        ELSE len(list_intersect(fa.feat, fb.feat))::DOUBLE
       |             / len(list_distinct(fa.feat || fb.feat)) END >= $threshold
       |)""".stripMargin
  }

  /** The verified-pair dup chain for the gate's 3-word-shingle md5
    * minhash family (16 hashes, 4×4 bands, J ≥ 0.8) — the exact
    * machinery e_dedup_minhash_md5 proves, exposed for composition.
    */
  private[graft] def minhashMd5DupsCtes: String =
    lshMd5DupsCtes(shingleFeatsCte, 16, 7L, 4, 4, 0.8)

  /** TWO-DAY incremental LSH replay parameterized on the day-member
    * sets — the [[minhashIncrementalDedup]] /
    * [[minhashDedupBatchVersioned]] protocol as WITH-body CTEs, for
    * composition into pipeline oracles (the incrMinhashOracle
    * machinery with the `doc_id % 2` day split generalized to caller
    * CTEs). Split in two so the caller can define the day-2 member set
    * FROM `nds1` (e.g. a canon anti-join against day-1 survivors):
    * [[lshDayOneCtes]]`(day1)` emits shared feats/sigs/bands plus
    * `nds1(doc_id)` (day-1 survivors: within-batch verified pairs
    * drop the larger id) and `ndidxb` (the survivor band index);
    * [[lshDayTwoCtes]]`(day2)` emits `nds2(doc_id)` (day-2 survivors:
    * within-batch pairs plus the UNCAPPED cross-index bucket join —
    * arrival precedence, the index doc always wins). Shingle
    * feats/sigs/bands are computed over all of `documents` and
    * restricted per day by join, exactly like the engine's per-batch
    * [[sigBands]].
    */
  private[graft] def lshDayOneCtes(day1: String): String = {
    val p = 2147483647L
    val params = TS.hashParams(16, 7L)
    val minExprs = params.zipWithIndex.map { case ((a, b), i) =>
      s"    list_min(list_transform(feat, h -> (h % $p * $a + $b) % $p)) AS m$i"
    }.mkString(",\n")
    val bandSelects = (0 until 4).map { j =>
      val cols = (0 until 4).map(r => s"m${j * 4 + r}").mkString(", ")
      s"  SELECT doc_id, $j AS band, ('0x' || substr(md5(array_to_string([$cols], ',')), 1, 15))::BIGINT AS key FROM ndsigs"
    }.mkString("\n  UNION ALL\n")
    def jacc(a: String, b: String): String =
      s"CASE WHEN len(list_distinct($a.feat || $b.feat)) = 0 THEN 0.0 " +
        s"ELSE len(list_intersect($a.feat, $b.feat))::DOUBLE " +
        s"/ len(list_distinct($a.feat || $b.feat)) END >= 0.8"
    s"""ndtoked AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents
       |), ndfeats AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      list_transform(generate_series(1, len(toks) - 2),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
       |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS feat
       |  FROM ndtoked
       |), ndsigs AS (
       |  SELECT doc_id,
       |$minExprs
       |  FROM ndfeats WHERE len(feat) > 0
       |), ndbands AS (
       |$bandSelects
       |), ndokb1 AS (
       |  SELECT b.* FROM ndbands b JOIN $day1 USING (doc_id)
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000
       |), ndpairs1 AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ndokb1 a JOIN ndokb1 b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), nddups1 AS (
       |  SELECT DISTINCT p.id_b AS doc_id FROM ndpairs1 p
       |  JOIN ndfeats fa ON fa.doc_id = p.id_a
       |  JOIN ndfeats fb ON fb.doc_id = p.id_b
       |  WHERE ${jacc("fa", "fb")}
       |), nds1 AS (
       |  SELECT d.doc_id FROM $day1 d LEFT JOIN nddups1 USING (doc_id)
       |  WHERE nddups1.doc_id IS NULL
       |), ndidxb AS (
       |  SELECT b.* FROM ndbands b JOIN nds1 USING (doc_id)
       |)""".stripMargin
  }

  /** Day-2 half of the two-day LSH replay — see [[lshDayOneCtes]]. */
  private[graft] def lshDayTwoCtes(day2: String): String = {
    def jacc(a: String, b: String): String =
      s"CASE WHEN len(list_distinct($a.feat || $b.feat)) = 0 THEN 0.0 " +
        s"ELSE len(list_intersect($a.feat, $b.feat))::DOUBLE " +
        s"/ len(list_distinct($a.feat || $b.feat)) END >= 0.8"
    s"""ndokb2 AS (
       |  SELECT b.* FROM ndbands b JOIN $day2 USING (doc_id)
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000
       |), ndpairs2 AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ndokb2 a JOIN ndokb2 b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), ndcrossc AS (
       |  SELECT DISTINCT i.doc_id AS idx_id, n.doc_id AS doc_id
       |  FROM ndbands n JOIN $day2 USING (doc_id)
       |  JOIN ndidxb i ON n.band = i.band AND n.key = i.key
       |), nddups2 AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT p.id_b AS doc_id FROM ndpairs2 p
       |    JOIN ndfeats fa ON fa.doc_id = p.id_a
       |    JOIN ndfeats fb ON fb.doc_id = p.id_b
       |    WHERE ${jacc("fa", "fb")}
       |    UNION
       |    SELECT c.doc_id FROM ndcrossc c
       |    JOIN ndfeats fi ON fi.doc_id = c.idx_id
       |    JOIN ndfeats fn ON fn.doc_id = c.doc_id
       |    WHERE ${jacc("fi", "fn")}
       |  ) u
       |), nds2 AS (
       |  SELECT d.doc_id FROM $day2 d LEFT JOIN nddups2 USING (doc_id)
       |  WHERE nddups2.doc_id IS NULL
       |)""".stripMargin
  }

  private def lshMd5Oracle(featsCte: String, k: Int, seed: Long,
      bands: Int, rowsPerBand: Int, threshold: Double): String = {
    s"""WITH ${lshMd5DupsCtes(featsCte, k, seed, bands, rowsPerBand, threshold)}
       |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
       |LEFT JOIN dups USING (doc_id) WHERE dups.doc_id IS NULL
       |ORDER BY d.doc_id""".stripMargin
  }

  /** feats CTE for 3-word-shingle md5 hashes ([[minhashMd5Dedup]]).
    * regexp_split_to_array mirrors Spark's split(·, "\s+") on any
    * whitespace run (string_split on ' ' would emit empty tokens for
    * consecutive spaces/tabs/newlines).
    */
  private val shingleFeatsCte: String =
    """toked AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents
      |), feats AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      list_transform(generate_series(1, len(toks) - 2),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
      |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS feat
      |  FROM toked
      |)""".stripMargin

  /** feats CTE for char-5-gram md5 hashes ([[ngramMd5Dedup]]). */
  private val gramFeatsCte: String =
    """lowed AS (
      |  SELECT doc_id, lower(text) AS t FROM documents
      |), feats AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      list_transform(generate_series(1, length(t) - 4),
      |        i -> substr(t, i, 5)),
      |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS feat
      |  FROM lowed
      |)""".stripMargin

  /** DuckDB replay of [[minhashRecall]]: the found set is the full
    * md5-LSH pipeline (shingle → minhash → band → bucket-cap →
    * verified pairs, identical CTEs to the minhash-md5 dedup oracle);
    * the ground truth is a brute-force all-pairs Jaccard with no
    * candidate machinery. Integer cross-multiplied threshold on both —
    * equivalent to the ≥ 0.8 double compare for set sizes ≤ 5·10³
    * (the ratio gap at the boundary is ≥ 1/(5·|union|), far above one
    * double ulp), and immune to the ⌈⌉/rounding traps.
    */
  private def minhashRecallOracle: String = {
    val p = 2147483647L
    val params = TS.hashParams(16, 7L)
    val minExprs = params.zipWithIndex.map { case ((a, b), i) =>
      s"    list_min(list_transform(feat, h -> (h % $p * $a + $b) % $p)) AS m$i"
    }.mkString(",\n")
    val bandSelects = (0 until 4).map { j =>
      val cols = (0 until 4).map(r => s"m${j * 4 + r}").mkString(", ")
      s"  SELECT doc_id, $j AS band, ('0x' || substr(md5(array_to_string([$cols], ',')), 1, 15))::BIGINT AS key FROM sigs"
    }.mkString("\n  UNION ALL\n")
    s"""WITH $shingleFeatsCte, sigs AS (
       |  SELECT doc_id,
       |$minExprs
       |  FROM feats WHERE len(feat) > 0
       |), bands AS (
       |$bandSelects
       |), okbuckets AS (
       |  SELECT * FROM bands
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000
       |), cpairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM okbuckets a JOIN okbuckets b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), vpairs AS (
       |  SELECT DISTINCT p.id_a, p.id_b
       |  FROM cpairs p
       |  JOIN feats fa ON fa.doc_id = p.id_a
       |  JOIN feats fb ON fb.doc_id = p.id_b
       |  WHERE len(list_intersect(fa.feat, fb.feat)) * 5 >=
       |    len(list_distinct(fa.feat || fb.feat)) * 4
       |), fne AS (
       |  SELECT doc_id, feat FROM feats WHERE len(feat) > 0
       |), epairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM fne a JOIN fne b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.feat, b.feat)) * 5 >=
       |    (len(a.feat) + len(b.feat)
       |     - len(list_intersect(a.feat, b.feat))) * 4
       |)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM epairs) AS n_exact,
       |  (SELECT CAST(count(*) AS BIGINT) FROM vpairs) AS n_found,
       |  CASE WHEN (SELECT count(*) FROM epairs) > 0
       |    THEN round((SELECT count(*) FROM vpairs)::DOUBLE
       |      / (SELECT count(*) FROM epairs), 4)
       |    ELSE 1.0 END AS recall""".stripMargin
  }

  /** CTE chain replaying [[lshCcLabels]]: the md5-shingle LSH
    * machinery down to the verified J ≥ 0.8 pair set `vpairs`, the
    * min-reachable-label CC walk over it, and the singleton fill —
    * ending at `alllab(id, label)` where label is the component
    * minimum (or the id itself for unpaired docs). Callers prepend
    * `WITH RECURSIVE`. Shared by the CC-canonical dedup and the
    * leak-free-split oracles, so both replay the ONE linkage the
    * engine caches.
    */
  private def lshCcCtes: String = {
    val p = 2147483647L
    val params = TS.hashParams(16, 7L)
    val minExprs = params.zipWithIndex.map { case ((a, b), i) =>
      s"    list_min(list_transform(feat, h -> (h % $p * $a + $b) % $p)) AS m$i"
    }.mkString(",\n")
    val bandSelects = (0 until 4).map { j =>
      val cols = (0 until 4).map(r => s"m${j * 4 + r}").mkString(", ")
      s"  SELECT doc_id, $j AS band, ('0x' || substr(md5(array_to_string([$cols], ',')), 1, 15))::BIGINT AS key FROM sigs"
    }.mkString("\n  UNION ALL\n")
    s"""$shingleFeatsCte, sigs AS (
       |  SELECT doc_id,
       |$minExprs
       |  FROM feats WHERE len(feat) > 0
       |), bands AS (
       |$bandSelects
       |), okbuckets AS (
       |  SELECT * FROM bands
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000
       |), cpairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM okbuckets a JOIN okbuckets b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), vpairs AS (
       |  SELECT DISTINCT p.id_a, p.id_b
       |  FROM cpairs p
       |  JOIN feats fa ON fa.doc_id = p.id_a
       |  JOIN feats fb ON fb.doc_id = p.id_b
       |  WHERE len(list_intersect(fa.feat, fb.feat)) * 5 >=
       |    len(list_distinct(fa.feat || fb.feat)) * 4
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM vpairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM vpairs
       |), walk(id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.label FROM edges e
       |  JOIN walk w ON w.id = e.src WHERE w.label < e.dst
       |), labels AS (
       |  SELECT id, MIN(label) AS label FROM walk GROUP BY id
       |), alllab AS (
       |  SELECT d.doc_id AS id, coalesce(l.label, d.doc_id) AS label
       |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
       |)""".stripMargin
  }

  private def minhashMd5Oracle: String =
    lshMd5Oracle(shingleFeatsCte, 16, 7L, 4, 4, 0.8)

  private def ngramMd5Oracle: String =
    lshMd5Oracle(gramFeatsCte, 16, 11L, 2, 8, 0.9)

  /** Exact dedup, the CC closure, embedding-cosine dedup, and the three
    * md5-hash LSH variants are all DuckDB-replayable; the xxhash64 LSH
    * originals (the production paths — codegen'd long mixing, no string
    * build per feature) are ScalaTest-verified and mirrored structurally
    * by their oracle-checked md5 twins.
    */
  val oracles: Map[String, String] = Map(
    "e_dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |SELECT doc_id, lang, source, n_chars,
        |ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |FROM documents) t WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // Incremental semantics: first occurrence of each text in
    // (day, doc_id) arrival order, where even doc_ids are day 1 and odd
    // are day 2. Text-equality oracle; the engine's xxhash64
    // fingerprints are collision-free on the fixtures, so any drift in
    // the index/anti-join path shows as a hash mismatch.
    "e_dedup_incr" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |SELECT doc_id, lang, source, n_chars,
        |ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id % 2, doc_id) AS rn
        |FROM documents) t WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // The group key replays the engine's truncation-insensitive
    // normalized-prefix (e_normalize canonicalization, first 100 chars)
    // so docs differing only by truncation share a group.
    "e_dedup_keep_longest" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |SELECT doc_id, lang, source, n_chars,
        |ROW_NUMBER() OVER (PARTITION BY substr(trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
        |    '\s+', ' ', 'g')), 1, 100)
        |  ORDER BY n_chars DESC, doc_id) AS rn
        |FROM documents) t WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // CC closure: min-reachable-label fixpoint via WITH RECURSIVE —
    // propagate any smaller label along edges, then take the minimum.
    "e_dedup_cc" ->
      s"""$ccWalkCtes
         |SELECT id, MIN(label) AS label FROM walk
         |GROUP BY id ORDER BY id""".stripMargin,
    // the REAL duplicate graph (LSH-verified pairs → CC labels →
    // singleton fill), then the identical md5-bucket split arithmetic
    // on cluster label vs doc id, and the same two-level rollup
    "e_split_leakfree" ->
      s"""WITH RECURSIVE $lshCcCtes, assigned AS (
         |  SELECT id, label,
         |    CASE WHEN ('0x' || substr(md5(label::VARCHAR), 1, 15))::BIGINT % 10 < 8
         |      THEN 'train'
         |      WHEN ('0x' || substr(md5(label::VARCHAR), 1, 15))::BIGINT % 10 = 8
         |      THEN 'val' ELSE 'test' END AS split,
         |    CASE WHEN ('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT % 10 < 8
         |      THEN 'train'
         |      WHEN ('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT % 10 = 8
         |      THEN 'val' ELSE 'test' END AS naive_split
         |  FROM alllab
         |), clusters AS (
         |  SELECT label, count(*)::BIGINT AS n_docs, min(split) AS split,
         |    count(DISTINCT naive_split) AS naive_span
         |  FROM assigned GROUP BY label
         |)
         |SELECT split, sum(n_docs)::BIGINT AS n_docs,
         |  count(*)::BIGINT AS n_clusters,
         |  sum(CASE WHEN naive_span > 1 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_naive_leaky
         |FROM clusters GROUP BY split ORDER BY split""".stripMargin,
    // cluster-canonical survivors: keep exactly the ids that are their
    // component's minimum (singletons label themselves)
    "e_dedup_minhash_cc" ->
      s"""WITH RECURSIVE $lshCcCtes
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d JOIN alllab a ON a.id = d.doc_id
         |WHERE a.label = a.id
         |ORDER BY d.doc_id""".stripMargin,
    // per-eval worst offender: the e_decontaminate overlap CTEs with
    // the self row excluded, arg-maxed per eval doc by (n_common DESC,
    // doc_id) — deterministic because eval_n is constant per eval
    "e_decontaminate_report" ->
      """WITH toked AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents
        |), feats AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS feat
        |  FROM toked WHERE len(toks) >= 3
        |), ev AS (
        |  SELECT doc_id AS eval_id, unnest(feat) AS g FROM feats
        |  WHERE doc_id % 97 = 0
        |), evsz AS (
        |  SELECT eval_id, count(*) AS eval_n FROM ev GROUP BY eval_id
        |), dg AS (
        |  SELECT doc_id, unnest(feat) AS g FROM feats
        |), overlap AS (
        |  SELECT dg.doc_id, ev.eval_id, count(*) AS n_common
        |  FROM dg JOIN ev USING (g) WHERE dg.doc_id <> ev.eval_id
        |  GROUP BY dg.doc_id, ev.eval_id
        |), best AS (
        |  SELECT eval_id, doc_id AS best_doc, n_common FROM (
        |    SELECT eval_id, doc_id, n_common,
        |      row_number() OVER (PARTITION BY eval_id
        |        ORDER BY n_common DESC, doc_id) AS rn
        |    FROM overlap) z WHERE rn = 1
        |)
        |SELECT s.eval_id, CAST(s.eval_n AS BIGINT) AS n_grams,
        |  b.best_doc, coalesce(b.n_common, 0)::BIGINT AS n_common,
        |  CASE WHEN b.n_common IS NULL THEN 0.0
        |    ELSE round(b.n_common::DOUBLE / s.eval_n, 6)
        |  END AS max_containment
        |FROM evsz s LEFT JOIN best b USING (eval_id)
        |ORDER BY s.eval_id""".stripMargin,
    "e_dedup_cluster_stats" ->
      s"""$ccWalkCtes,
         |labels AS (
         |  SELECT id, MIN(label) AS label FROM walk GROUP BY id
         |), sized AS (
         |  SELECT label, count(*) AS cluster_size FROM labels GROUP BY label
         |)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  sum(cluster_size)::BIGINT AS n_docs
         |FROM sized GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // Containment is exact set intersection — the oracle replays it on
    // the shingle STRINGS (the engine intersects xxhash64 values of the
    // same shingles; bijective up to a 64-bit collision). Tokenization
    // uses regexp_split_to_array to mirror Spark's split(·, "\s+") on
    // any whitespace run, not just single spaces.
    "e_decontaminate" ->
      """WITH toked AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents
        |), feats AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS feat
        |  FROM toked WHERE len(toks) >= 3
        |), ev AS (
        |  SELECT doc_id AS eval_id, unnest(feat) AS g FROM feats
        |  WHERE doc_id % 97 = 0
        |), evsz AS (
        |  SELECT eval_id, count(*) AS eval_n FROM ev GROUP BY eval_id
        |), dg AS (
        |  SELECT doc_id, unnest(feat) AS g FROM feats
        |), overlap AS (
        |  SELECT dg.doc_id, ev.eval_id, count(*) AS n_common
        |  FROM dg JOIN ev USING (g) GROUP BY dg.doc_id, ev.eval_id
        |), contaminated AS (
        |  SELECT DISTINCT o.doc_id FROM overlap o JOIN evsz USING (eval_id)
        |  WHERE o.n_common::DOUBLE / eval_n >= 0.8
        |)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
        |LEFT JOIN contaminated c USING (doc_id) WHERE c.doc_id IS NULL
        |ORDER BY d.doc_id""".stripMargin,
    "e_dedup_minhash_md5" -> minhashMd5Oracle,
    "e_dedup_incr_minhash" -> incrMinhashOracle,
    "e_dedup_simhash_md5" -> simhashMd5Oracle,
    "e_dedup_ngram_md5" -> ngramMd5Oracle,
    "e_minhash_recall" -> minhashRecallOracle,
    "e_dedup_embedding" -> embeddingOracle,
  )

  /** DuckDB replay of [[embeddingDedup]]: the 16 fixed-seed hyperplanes
    * are interpolated as double literals (Scala's Double.toString is
    * shortest-roundtrip, so DuckDB parses the identical values), dot
    * products use list_dot_product over DOUBLE[] (sequential float64
    * accumulation, same as the Catalyst aggregate fold), and cosine is
    * written out as d / (sqrt(sa)·sqrt(sb)) to mirror VectorOps.cosine's
    * exact floating-point expression shape — NOT list_cosine_similarity,
    * whose internal rounding is unspecified.
    */
  private def embeddingOracle: String = {
    val planes = VectorOps.hyperplanes(16, 64)
    val sigExpr = planes.zipWithIndex.map { case (p, i) =>
      val lit = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $lit) > 0.0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)"
    }.mkString("    ", " |\n    ", "")
    s"""WITH vecs AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
       |), sigs AS (
       |  SELECT vec_id, label, v,
       |$sigExpr AS sig
       |  FROM vecs
       |), dups AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
       |  WHERE CASE
       |    WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) = 0.0
       |    THEN 0.0
       |    ELSE list_dot_product(a.v, b.v) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
       |    END >= 0.99
       |)
       |SELECT s.vec_id, s.label FROM sigs s
       |LEFT JOIN dups USING (vec_id) WHERE dups.vec_id IS NULL
       |ORDER BY s.vec_id""".stripMargin
  }
}
