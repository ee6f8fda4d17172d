package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import graft.Tables

/** Atomic dataset publish — the training-data handoff primitive: a
  * writer materializes a snapshot into a NEW version directory and
  * then commits it with one atomic manifest swap, so a reader either
  * sees the previous complete snapshot or the new complete snapshot,
  * never a torn one. This is the single-pointer core of the
  * table-format commit protocols (Iceberg's version-hint/metadata
  * swap, Delta's _last_checkpoint): data files are immutable once
  * written; only the manifest moves, and `Files.move(ATOMIC_MOVE)` on
  * a same-directory rename is atomic on POSIX.
  *
  * Layout under `root/`:
  *   v<N>/           — one immutable parquet snapshot per version
  *   _manifest.json  — `{"version":N,"dir":"v<N>"}`, the ONLY commit
  *                     point; absent ⇒ no published snapshot
  *
  * Crash behavior (spec'd in AtomicPublishSpec): dying anywhere
  * before the final move leaves at worst an orphaned v<N+1> dir and a
  * stale `_manifest.tmp` — both invisible to readers (the manifest
  * still names v<N>) and both cleaned by the next successful publish.
  *
  * 100 TB shape: the data write is an ordinary distributed
  * `df.write.parquet` (each executor writes its partition files
  * directly into the version dir — no driver funnel, no second copy);
  * the commit is one driver-side metadata rename regardless of data
  * size. Readers pay one small-file read to resolve the version, then
  * scan parquet with full pushdown/pruning. On an object store
  * without atomic rename the same protocol runs against a
  * conditional-put (the move is the one primitive to swap out).
  */
object AtomicPublish {

  private def manifest(root: Path): Path = root.resolve("_manifest.json")

  /** Currently committed (version, dataDir), if any. */
  def current(root: String): Option[(Long, String)] = {
    val m = manifest(Paths.get(root))
    if (!Files.exists(m)) None
    else {
      val txt = new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
      val v = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong)
      val d = """"dir"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
        .map(_.group(1))
      for (vv <- v; dd <- d) yield (vv, dd)
    }
  }

  /** Write `df` as the next snapshot version and commit it
    * atomically. Returns the committed version number.
    *
    * `keepVersions` is the RETENTION policy (the Iceberg
    * expire-snapshots discipline, default 2 = current + previous):
    * after the commit, only the newest `keepVersions` version dirs
    * survive GC. A reader that resolved the manifest while its version
    * was still inside the retention window keeps scanning intact
    * files across that many subsequent publishes — size the window to
    * the longest read you must support (keep-age is the same policy
    * keyed by mtime; version count is the deterministic form).
    */
  def publish(df: DataFrame, root: String, keepVersions: Int = 2): Long = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val next = current(root).map(_._1 + 1).getOrElse(1L)
    val dirName = s"v$next"
    // 1. distributed data write into the (not yet visible) version dir
    df.write.mode("overwrite").parquet(rootP.resolve(dirName).toString)
    // 2. single-pointer commit: temp write + atomic same-dir rename
    val tmp = rootP.resolve("_manifest.tmp")
    Files.write(tmp,
      s"""{"version":$next,"dir":"$dirName"}"""
        .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifest(rootP),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // 3. best-effort GC outside the retention window — readers
    // resolving a RETAINED manifest concurrently still succeed
    val keep = (0L until keepVersions.toLong).map(i => s"v${next - i}").toSet
    val ls = Files.list(rootP)
    try ls.filter(p => Files.isDirectory(p) && !keep(p.getFileName.toString))
      .forEach(p => deleteRecursively(p))
    finally ls.close()
    next
  }

  // -- exactly-once streaming publish --------------------------------

  private def streamManifest(root: Path): Path =
    root.resolve("_stream_manifest.json")

  /** Committed state of a streaming publish root: the last batch id
    * folded in and the committed batch dirs, in commit order.
    */
  final case class StreamState(lastBatch: Long, dirs: Seq[String])

  // Per-root in-process monitor: java.nio file locks are held per JVM
  // (a second thread in the same process gets
  // OverlappingFileLockException instead of blocking), so same-JVM
  // writers serialize on this and cross-JVM writers on the file lock.
  private val rootMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Currently committed stream state, if any batch ever committed. */
  def currentStream(root: String): Option[StreamState] = {
    val m = streamManifest(Paths.get(root))
    if (!Files.exists(m)) None
    else {
      val txt = new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
      val last = """"lastBatch"\s*:\s*(-?\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong)
      val dirs = """"dirs"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(txt)
        .map(_.group(1)).map(_.split(",").map(_.trim.stripPrefix("\"")
          .stripSuffix("\"")).filter(_.nonEmpty).toSeq)
      for (l <- last; d <- dirs) yield StreamState(l, d)
    }
  }

  /** Commit one micro-batch EXACTLY ONCE — the foreachBatch sink
    * protocol (Delta's txn-log idempotence in single-pointer form):
    *
    *  1. REPLAY GUARD: Structured Streaming re-delivers a batch after
    *     a crash between sink write and checkpoint advance; a batchId
    *     at or below the committed `lastBatch` is dropped here, so the
    *     restarted query cannot double-append.
    *  2. data write into `batch-<id>` with mode OVERWRITE: a torn dir
    *     from a crashed attempt (written, never committed — invisible
    *     to readers) is cleanly replaced by the retry.
    *  3. the atomic manifest swap makes the batch visible — readers
    *     see the log before the commit or after it, never a torn
    *     in-between.
    *
    * Returns true iff this call committed (false = replay skip).
    * Batch ids must arrive non-decreasing per root, which Structured
    * Streaming guarantees per checkpoint.
    */
  def publishStreamBatch(df: DataFrame, root: String, batchId: Long): Boolean = {
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    // WRITER LOCK on the root: the manifest update is a read-modify-
    // write, and two writers interleaving on one root could each read
    // the same `dirs` list and silently drop the other's committed
    // batch dir from the manifest. An OS-level file lock (exclusive,
    // blocking) serializes the whole commit — held across the data
    // write too, so the second writer's currentStream read sees the
    // first's committed state. Structured Streaming already guarantees
    // one writer per checkpoint; this makes the MISCONFIGURED case
    // (two queries pointed at one root) linearize instead of corrupt.
    // On an object store the same role is played by a conditional-put
    // on the manifest key (swap this primitive, keep the protocol).
    val monitor = rootMonitors.computeIfAbsent(
      rootP.toAbsolutePath.normalize.toString, _ => new Object)
    monitor.synchronized {
    val lockPath = rootP.resolve("_stream_manifest.lock")
    val ch = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock() // blocks until the competing commit finishes
      try {
        val st = currentStream(root).getOrElse(StreamState(-1L, Seq.empty))
        if (batchId <= st.lastBatch) false // exactly-once: replayed batch
        else {
          val dirName = s"batch-$batchId"
          df.write.mode("overwrite").parquet(rootP.resolve(dirName).toString)
          val dirsJson = (st.dirs :+ dirName).map(d => s""""$d"""").mkString(",")
          val tmp = rootP.resolve("_stream_manifest.tmp")
          Files.write(tmp,
            s"""{"lastBatch":$batchId,"dirs":[$dirsJson]}"""
              .getBytes(StandardCharsets.UTF_8))
          Files.move(tmp, streamManifest(rootP),
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          true
        }
      } finally lock.release()
    } finally ch.close()
    }
  }

  /** Read every committed micro-batch of a streaming publish root —
    * the consumer view: exactly the batches the manifest names, torn
    * or replayed writes excluded by construction.
    */
  def readStreamPublished(spark: SparkSession, root: String): DataFrame = {
    val st = currentStream(root).getOrElse(
      throw new IllegalStateException(s"no committed stream batches under $root"))
    val rootP = Paths.get(root)
    spark.read.parquet(st.dirs.map(d => rootP.resolve(d).toString): _*)
  }

  /** Read the committed snapshot; fails if none was ever published. */
  def readLatest(spark: SparkSession, root: String): DataFrame = {
    val (_, dir) = current(root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root"))
    spark.read.parquet(Paths.get(root).resolve(dir).toString)
  }

  /** Read a SPECIFIC retained version — the input of a release diff
    * audit (vN vs v(N−1)). Only versions inside the publisher's
    * `keepVersions` window are readable; asking for an expired one
    * fails loudly rather than scanning a half-GC'd directory.
    */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val p = Paths.get(root).resolve(s"v$version")
    if (!Files.isDirectory(p))
      throw new IllegalStateException(
        s"version $version is not retained under $root " +
          "(outside the keepVersions window, or never published)")
    spark.read.parquet(p.toString)
  }

  private def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  // -- gate query ---------------------------------------------------

  /** Publish-once memo per (app, sf dir): the gate query publishes the
    * snapshot on first call and every later pass (bench warm passes,
    * verify) reads the committed version — the realistic
    * write-once/read-many handoff shape.
    */
  private def publishRoot(spark: SparkSession, dir: String): String =
    graft.engine.CacheRegistry.memoDir("publish.roundtrip", dir) { root =>
      publish(Tables.load(spark, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars"), root)
      root
    }

  /** Round-trip contract: the published snapshot read back through the
    * manifest must hash-equal its source relation (oracle = the same
    * projection straight off the source table).
    */
  private val publishRoundtrip: (SparkSession, String) => DataFrame =
    (spark, dir) =>
      readLatest(spark, publishRoot(spark, dir)).orderBy("doc_id")

  // -- published-version diff audit -----------------------------------

  /** Keys added by the v2 release land above every fixture doc_id
    * (the CdcOps.InsertOffset discipline; the assert in
    * [[releaseChanges]] fails loudly if a corpus ever crosses it).
    */
  private val DiffAddOffset = 10000000000L

  /** Deterministic "next release" of a published snapshot, derived
    * from the snapshot itself by keyed arithmetic (so the DuckDB
    * oracle reconstructs it exactly): every doc_id ≡ 0 (mod 7) is
    * dropped, every surviving ≡ 0 (mod 5) changes value, and every
    * ≡ 0 (mod 11) spawns an added key at doc_id + [[DiffAddOffset]].
    */
  private def releaseChanges(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, coalesce}
    base.where(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, col("n_chars") + 1L)
          .otherwise(col("n_chars")).as("n_chars"))
      .unionByName(base.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + DiffAddOffset +
          coalesce(assert_true(col("doc_id") < lit(DiffAddOffset),
            lit(s"doc_id >= $DiffAddOffset: added-key range collides " +
              "with snapshot keys; raise DiffAddOffset")).cast("long"),
            lit(0L))).as("doc_id"),
          col("n_chars")))
  }

  // publish-once memo for the two-version diff root (v1 = base
  // projection, v2 = the derived release; keepVersions = 2 retains both)
  private def diffRoot(spark: SparkSession, dir: String): String =
    graft.engine.CacheRegistry.memoDir("publish.diff", dir) { root =>
      val base = Tables.load(spark, dir, "documents")
        .select("doc_id", "n_chars")
      publish(base, root, keepVersions = 2)
      publish(releaseChanges(base), root, keepVersions = 2)
      root
    }

  /** "What changed in this release" — the audit every dataset handoff
    * needs: diff the two RETAINED versions of a publish root (v(N−1)
    * vs vN, resolved through the manifest + the keep-N retention
    * window) into added/changed/removed/unchanged counts with exact
    * key fingerprints. Composes [[publish]]'s retention with
    * [[graft.operators.CdcOps.diffByKey]]: one full-outer shuffle over
    * the two snapshots, 4 rows out at any scale.
    */
  private val publishDiff: (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val root = diffRoot(spark, dir)
      val (v, _) = current(root).getOrElse(
        throw new IllegalStateException(s"no published snapshot under $root"))
      graft.operators.CdcOps.diffByKey(
        readVersion(spark, root, v - 1), readVersion(spark, root, v),
        "doc_id", "n_chars")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e_publish_roundtrip" -> publishRoundtrip,
    "e_publish_diff" -> publishDiff)

  val oracles: Map[String, String] = Map(
    "e_publish_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // replay of the derived release + the full-outer classification
    "e_publish_diff" ->
      s"""WITH v1 AS (
         |  SELECT doc_id AS key, n_chars AS val FROM documents
         |), v2 AS (
         |  SELECT doc_id AS key,
         |    CASE WHEN doc_id % 5 = 0 THEN n_chars + 1
         |         ELSE n_chars END AS val
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + $DiffAddOffset, n_chars FROM documents
         |  WHERE doc_id % 11 = 0
         |)
         |SELECT diff_kind, count(*)::BIGINT AS n_rows,
         |  CAST(sum(key) AS BIGINT) AS key_fp
         |FROM (
         |  SELECT coalesce(v1.key, v2.key) AS key,
         |    CASE WHEN v1.key IS NULL THEN 'added'
         |         WHEN v2.key IS NULL THEN 'removed'
         |         WHEN v1.val <> v2.val THEN 'changed'
         |         ELSE 'unchanged' END AS diff_kind
         |  FROM v1 FULL OUTER JOIN v2 ON v1.key = v2.key)
         |GROUP BY diff_kind ORDER BY diff_kind""".stripMargin)
}
