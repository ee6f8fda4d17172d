package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one memo mechanism: a session-lifetime LRU of
  * build-once artifacts — the marathon-session memory discipline.
  *
  * Operators memoize expensive builds (staged feature frames, the CC
  * label table, the IVF assignment, BPE merges, on-disk indexes and
  * publish roots, trained weights, the plan audit) so bench warm
  * passes, r_catalog's schema walk and composed pipelines pay each
  * build once. An UNBOUNDED memo is a scale-killer: the r14 768 MB
  * spill rehearsal saw `e_dedup_simhash_md5` die with
  * UNABLE_TO_ACQUIRE_MEMORY after 243 prior queries' pinned blocks had
  * accumulated, while it passed solo at the same cap. So every memo in
  * `src/main` routes through here, and the registry owns the KEYING
  * RULE: site name, Spark application id, then every build parameter
  * the caller passes (dataset dir, nlist, buckets, plan hash, …).
  *
  *  - `memo(site, params*)(build)(free)` returns the cached value or
  *    builds (and registers) it. Each hit refreshes recency.
  *  - Eviction accounting is BYTES-FIRST (r16): an entry records the
  *    persistent-RDD ids its build pinned (the `sc.getPersistentRDDs`
  *    delta around the build, minus ids another resident entry already
  *    recorded — a nested build such as sim.split → sim.ivf is charged
  *    once) and its live footprint is read from `sc.getRDDStorageInfo`
  *    (memSize + diskSize) at each check. LRU victims are evicted while
  *    the total exceeds `maxResidentBytes` (`-Dgraft.cache.maxResidentBytes`,
  *    default maxMemory/4) — skipping byte-free entries, whose eviction
  *    would free nothing — OR while the entry COUNT exceeds
  *    `maxResident` (`-Dgraft.cache.maxResident`). Eviction runs the
  *    entry's `free` and drops it, so the next request REBUILDS it to
  *    the identical answer (every build is deterministic by the oracle
  *    contract; CacheRegistrySpec pins this per memo site).
  *  - `evictAll()` is the explicit phase boundary (and a true cold
  *    reset: nothing memoized survives it).
  *
  * On-disk artifacts (publish roots, persisted indexes, managed tables)
  * follow one contract: the build is IDEMPOTENT — it writes into a
  * fresh [[memoDir]] directory and drops the tables and epoch markers
  * it is about to create ([[graft.sources.Bucketing.dropManaged]]), so
  * a rebuild never meets a previous build's replay guard; `free`
  * deletes what the build made; and a caller that reads the artifact
  * LAZILY holds it inside `scoped`, or another memo call may evict it.
  *
  * CONCURRENT callers (the HttpGateway pool; r16):
  *
  *  - Builds run OUTSIDE the registry monitor: `memo` installs a
  *    per-key latch, runs the build, then re-enters to publish. A
  *    caller of the SAME key awaits the latch; callers of OTHER keys
  *    proceed (no head-of-line blocking). A build that throws removes
  *    its latch so a waiter retries. Nested memo calls during a build
  *    (split→IVF, lshCc→staged, plan audit→audited queries) target
  *    different keys and compose freely.
  *  - Values are PINNED while consumed: inside `scoped { … }` every memo
  *    hit or build pins its entry until the scope closes (query end),
  *    and eviction skips pinned entries — another thread can never free
  *    a frame, a checkpoint block or a directory under an in-flight
  *    query. The driver mains, perfbench and the gateway scope each
  *    query; an unscoped call (sequential spec code) is unpinned.
  */
object CacheRegistry {

  private final class Entry(val value: AnyRef, val free: () => Unit,
      val rddIds: Set[Int]) {
    var pins: Int = 0
  }

  // access-order LinkedHashMap = LRU order maintained on get()
  private val entries =
    new java.util.LinkedHashMap[String, Entry](32, 0.75f, true)

  // per-key build-in-progress latches — the computeIfAbsent-with-
  // placeholder pattern, so builds run outside the monitor
  private val building =
    new java.util.HashMap[String, java.util.concurrent.CountDownLatch]()

  /** Eviction events observable by specs: count of evictions. */
  private[graft] val evicted =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Entry-COUNT cap — the fallback bound for entries that pin no
    * Spark storage (driver values, on-disk artifacts); the real memory
    * discipline is [[maxResidentBytes]]. Must sit ABOVE the distinct
    * live (site, params) count of a pass: an LRU whose cap is below the
    * cycle length of a fixed cyclic scan has a 0% hit rate — measured
    * r16: cap 16 re-paid EVERY memoized build on every bench pass
    * (e_dedup_incr_minhash 9.55 s/pass vs 0.09 s warm, ~60 s of the
    * 253 s total). One full pass of every query (r_catalog aside)
    * leaves 40 entries at sf0.01, and a two-dataset pass (the
    * ScaleSweep shape) leaves 80, so the default is 128.
    */
  def maxResident: Int =
    sys.props.get("graft.cache.maxResident").map(_.toInt).getOrElse(128)

  /** Byte budget for pinned Spark storage across all resident entries.
    * Default: a quarter of the JVM heap — small on the spill-rehearsal
    * heap (memory pressure is exactly when eviction must engage),
    * large on a production driver.
    */
  def maxResidentBytes: Long =
    sys.props.get("graft.cache.maxResidentBytes").map(_.toLong)
      .getOrElse(Runtime.getRuntime.maxMemory() / 4)

  def resident: Int = synchronized(entries.size)

  // ---- consumption pins -------------------------------------------

  private val pinScope = new ThreadLocal[java.util.ArrayList[String]]()

  /** Open a consumption scope: every memo value obtained on this
    * thread inside `body` stays pinned (never evicted) until `body`
    * returns — the query-execution lifetime. Scopes nest (inner scope
    * releases only its own pins).
    */
  def scoped[T](body: => T): T = {
    val outer = pinScope.get()
    val mine = new java.util.ArrayList[String]()
    pinScope.set(mine)
    try body
    finally {
      pinScope.set(outer)
      synchronized {
        mine.forEach { k =>
          val e = entries.get(k)
          if (e != null && e.pins > 0) e.pins -= 1
        }
        // pins released — re-enforce the budget now
        evictOverBudget()
      }
    }
  }

  private def pinLocked(k: String, e: Entry): Unit = {
    val scope = pinScope.get()
    if (scope != null) { e.pins += 1; scope.add(k) }
  }

  // ---- the memo ----------------------------------------------------

  /** The memo: cached value for (site, params), else build + register.
    * The key is the site, the application id and every build parameter
    * — pass each value the build reads besides the dataset files.
    * `free` must release everything the value holds (persisted frames,
    * checkpoint RDDs, directories, managed tables); it runs at
    * eviction, outside any consumption pin, and must not throw
    * (wrapped defensively).
    */
  def memo[T <: AnyRef](site: String, params: Any*)(build: => T)(
      free: T => Unit): T = {
    val k = (site +: appId +: params).mkString("#")
    while (true) {
      var latch: java.util.concurrent.CountDownLatch = null
      var mine = false
      synchronized {
        val hit = entries.get(k) // refreshes LRU recency
        if (hit != null) { pinLocked(k, hit); return hit.value.asInstanceOf[T] }
        latch = building.get(k)
        if (latch == null) {
          latch = new java.util.concurrent.CountDownLatch(1)
          building.put(k, latch)
          mine = true
        }
      }
      if (!mine) { latch.await(); /* published or failed — retry */ }
      else {
        val before = persistentIds()
        var ok = false
        try {
          val v = build
          val made = persistentIds() -- before
          synchronized {
            // a nested build's RDDs belong to the nested entry
            var pinned = made
            entries.values().forEach(e => pinned --= e.rddIds)
            val e = new Entry(v, () => free(v), pinned)
            entries.put(k, e)
            pinLocked(k, e)
            // evict AFTER inserting: the fresh entry is MRU (and
            // possibly pinned), never the first victim
            evictOverBudget()
          }
          ok = true
          return v
        } finally {
          synchronized { building.remove(k) }
          latch.countDown()
          if (!ok) () // waiter retries and becomes the builder
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The on-disk memo: `build` writes into a fresh temp directory and
    * returns what its callers need (often just the path); eviction
    * deletes the directory. A build that throws leaves no directory.
    */
  def memoDir[T](site: String, params: Any*)(build: String => T): T =
    memo(site, params: _*)({
      val d = tempDir(site)
      try (d, build(d))
      catch { case t: Throwable => deleteDir(d); throw t }
    })(v => deleteDir(v._1))._2

  /** A fresh temp directory owned by a memo build; removed by
    * [[deleteDir]] at eviction, or at JVM exit if still resident.
    */
  def tempDir(site: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_" + site.replace('.', '_')).toString
    liveDirs.add(d)
    d
  }

  def deleteDir(d: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    liveDirs.remove(d)
  }

  /** Directories of resident on-disk entries (observable by specs). */
  private[graft] val liveDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // a session ends without evictAll: its on-disk artifacts go with it
  sys.addShutdownHook(liveDirs.forEach(d =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))))

  private def session: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  private def appId: String =
    session.map(_.sparkContext.applicationId).getOrElse("-")

  private def persistentIds(): Set[Int] =
    session.map(_.sparkContext.getPersistentRDDs.keySet.toSet)
      .getOrElse(Set.empty)

  /** Live pinned bytes of an entry: its recorded RDD ids' current
    * memSize + diskSize from the storage status — measured, not
    * estimated, so disk-spilled or already-released blocks count as
    * what they are.
    */
  private def entryBytes(e: Entry,
      info: Map[Int, Long]): Long =
    e.rddIds.iterator.map(id => info.getOrElse(id, 0L)).sum

  private def storageBytesById(): Map[Int, Long] =
    session.map(_.sparkContext.getRDDStorageInfo
        .map(i => i.id -> (i.memSize + i.diskSize)).toMap)
      .getOrElse(Map.empty)

  /** Total measured bytes currently pinned by resident entries. */
  def residentBytes: Long = synchronized {
    val info = storageBytesById()
    var total = 0L
    entries.values().forEach(e => total += entryBytes(e, info))
    total
  }

  // must hold the monitor
  private def evictOverBudget(): Unit = {
    val capN = maxResident
    val capB = maxResidentBytes
    var info = storageBytesById()
    def totalBytes: Long = {
      var t = 0L; entries.values().forEach(e => t += entryBytes(e, info)); t
    }
    var progress = true
    while (progress) {
      // over the count cap any unpinned entry will do; over the byte
      // budget alone only one that holds bytes frees anything
      val overCount = entries.size > capN
      progress = false
      if (overCount || totalBytes > capB) {
        val it = entries.entrySet().iterator()
        while (it.hasNext && !progress) {
          val cand = it.next()
          // pinned entries are skipped: an in-flight consumer holds them
          if (cand.getValue.pins == 0 &&
              (overCount || entryBytes(cand.getValue, info) > 0L)) {
            it.remove()
            evicted.incrementAndGet()
            runFree(cand.getKey, cand.getValue)
            info = storageBytesById()
            progress = true
          }
        }
      }
    }
  }

  /** Drop and free every entry — the explicit phase boundary. Pins are
    * ignored here: the caller asserts no consumer is in flight.
    */
  def evictAll(): Unit = synchronized {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      it.remove()
      runFree(e.getKey, e.getValue)
    }
  }

  private def runFree(key: String, e: Entry): Unit =
    try e.free()
    catch {
      case t: Throwable =>
        // a dead SparkSession at JVM teardown must not poison the
        // registry; blocks die with the app anyway
        System.err.println(s"[cache-registry] free($key) failed: $t")
    }

  /** Release every Spark storage handle a cached FRAME pins: the
    * CacheManager entry (persisted frames; exact-plan match, no
    * cascade) and any checkpoint RDD the plan roots at (eager
    * localCheckpoint output — LogicalRDD leaves). After this the
    * frame object must not be used: checkpoint blocks are the data's
    * only copy, which is exactly why eviction removes the memo entry
    * before any caller can reach the freed frame.
    */
  def freeFrame(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
