package graft

import org.apache.spark.sql.functions._
import graft.engine.CacheRegistry

/** The marathon-session memory discipline: memoized build artifacts
  * are LRU-evictable (storage released, entry forgotten) and a
  * post-eviction rebuild returns the IDENTICAL answer — the contract
  * that lets a 100 TB session run the full suite at a tight memory
  * cap without accumulating unevictable state (the r14 SWEEP_SPILL
  * failure mode).
  */
class CacheRegistrySpec extends SparkSpec {

  private def md5Of(df: org.apache.spark.sql.DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(c).cast("string"))
    df.select(md5(concat_ws("", cols: _*)).as("h"))
      .agg(md5(concat_ws("", collect_list(col("h")))).as("all"))
      .head().getString(0)
  }

  test("LRU: inserting past the cap evicts the least-recently-used " +
      "entry, runs its free thunk, and leaves recent entries resident") {
    CacheRegistry.evictAll()
    val saved = sys.props.get("graft.cache.maxResident")
    sys.props("graft.cache.maxResident") = "2"
    try {
      var freed = List.empty[String]
      def put(k: String): String =
        CacheRegistry.memo("spec.lru", k)(k + "!")(v => freed ::= v)
      put("a"); put("b")
      assert(CacheRegistry.resident == 2 && freed.isEmpty)
      put("a") // refresh recency: now b is LRU
      put("c")
      assert(CacheRegistry.resident == 2)
      assert(freed == List("b!"), s"expected b evicted first, got $freed")
      // a hit must not rebuild
      var built = 0
      CacheRegistry.memo("spec.lru", "a")({ built += 1; "x" })(_ => ())
      assert(built == 0, "hit rebuilt a resident entry")
    } finally {
      saved match {
        case Some(v) => sys.props("graft.cache.maxResident") = v
        case None => sys.props -= "graft.cache.maxResident"
      }
      CacheRegistry.evictAll()
    }
  }

  test("a free thunk that throws is contained: the entry still leaves " +
      "and later memo calls keep working") {
    CacheRegistry.evictAll()
    CacheRegistry.memo("spec.bad", "k")("v")(_ =>
      throw new RuntimeException("boom"))
    CacheRegistry.evictAll()
    assert(CacheRegistry.resident == 0)
    assert(CacheRegistry.memo("spec.bad", "k")("v2")(_ => ()) == "v2")
    CacheRegistry.evictAll()
  }

  test("evicted persisted frame: storage released, rebuild " +
      "hash-identical (the staged-features family)") {
    CacheRegistry.evictAll()
    val first = md5Of(
      graft.operators.SimilarityOps.buildIvfIndex(spark, sf).assigned
        .orderBy("vec_id"))
    assert(CacheRegistry.resident >= 1, "build should register")
    CacheRegistry.evictAll()
    assert(CacheRegistry.resident == 0)
    val second = md5Of(
      graft.operators.SimilarityOps.buildIvfIndex(spark, sf).assigned
        .orderBy("vec_id"))
    assert(second == first, "post-eviction rebuild diverged")
    CacheRegistry.evictAll()
  }

  test("evicted checkpoint-backed frame: blocks released, rebuild " +
      "hash-identical (the CC-label family)") {
    CacheRegistry.evictAll()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val first = md5Of(graft.operators.DedupOps.lshCcLabels(spark, sf))
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    assert(pinned.nonEmpty, "CC build should pin checkpoint RDDs")
    CacheRegistry.evictAll()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(pinned.forall(id => !after.contains(id)),
      s"eviction left checkpoint RDDs pinned: ${pinned.intersect(after)}")
    val second = md5Of(graft.operators.DedupOps.lshCcLabels(spark, sf))
    assert(second == first, "post-eviction CC rebuild diverged")
    CacheRegistry.evictAll()
  }

  test("byte-budget LRU: entries' MEASURED pinned storage counts " +
      "against maxResidentBytes and the LRU frame is evicted under a " +
      "tight byte cap while a tiny driver-side entry survives") {
    val savedB = sys.props.get("graft.cache.maxResidentBytes")
    // the byte-free entry both after and BEFORE the first frame: byte
    // pressure must skip it even when it is the LRU entry
    for (tinyFirst <- Seq(false, true)) try {
      CacheRegistry.evictAll()
      var freed = List.empty[String]
      // distinct row counts per key: identical plans would be deduped
      // by the CacheManager (one shared InMemoryRelation), and the
      // second entry would pin nothing new
      def putFrame(k: String, n: Long): org.apache.spark.sql.DataFrame =
        CacheRegistry.memo("spec.bytes", k)({
          val df = spark.range(n)
            .selectExpr("id", "repeat('x', 64) AS pad").persist()
          df.count()
          df
        })(df => { freed ::= k; df.unpersist(blocking = true) })
      // driver-side value: pins no Spark storage, counts 0 bytes
      def putTiny(): Unit =
        CacheRegistry.memo("spec.bytes", "tiny")("just-a-string")(_ => ())
      if (tinyFirst) putTiny()
      putFrame("f1", 200000L)
      val oneFrame = CacheRegistry.residentBytes
      assert(oneFrame > 0L,
        "persisted frame bytes must be measured from storage status")
      if (!tinyFirst) putTiny()
      assert(CacheRegistry.residentBytes == oneFrame)
      // cap below two frames (but above one): inserting f2 must evict
      // the LRU frame f1 — and NOT the byte-free tiny entry
      sys.props("graft.cache.maxResidentBytes") = (oneFrame * 3 / 2).toString
      putFrame("f2", 250000L)
      assert(freed == List("f1"), s"expected f1 evicted, got $freed")
      assert(CacheRegistry.residentBytes <= oneFrame * 3 / 2)
      var rebuiltTiny = 0
      CacheRegistry.memo("spec.bytes", "tiny")({ rebuiltTiny += 1; "x" })(_ => ())
      assert(rebuiltTiny == 0,
        s"byte-free entry was evicted by byte pressure (tinyFirst=$tinyFirst)")
    } finally {
      savedB match {
        case Some(v) => sys.props("graft.cache.maxResidentBytes") = v
        case None => sys.props -= "graft.cache.maxResidentBytes"
      }
      CacheRegistry.evictAll()
    }
  }

  test("a nested build is charged once: after a cold sim.split build " +
      "residentBytes equals the storage bytes of the distinct RDDs") {
    CacheRegistry.evictAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // semDedup's split memo wraps the IVF memo (sim.split → sim.ivf)
    graft.operators.SimilarityOps.semDedup(spark, sf)
    val made = spark.sparkContext.getPersistentRDDs.keySet -- before
    val bytes = spark.sparkContext.getRDDStorageInfo
      .filter(i => made.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    assert(CacheRegistry.resident >= 2 && bytes > 0L)
    assert(CacheRegistry.residentBytes == bytes,
      s"resident ${CacheRegistry.residentBytes} B vs $bytes B stored")
    CacheRegistry.evictAll()
  }

  test("consumption pins: a scoped caller's entries survive another " +
      "thread's eviction pressure; the pin releases at scope end") {
    CacheRegistry.evictAll()
    val saved = sys.props.get("graft.cache.maxResident")
    sys.props("graft.cache.maxResident") = "1"
    try {
      var freed = List.empty[String]
      CacheRegistry.scoped {
        CacheRegistry.memo("spec.pin", "held")("H")(v => freed ::= v)
        // another caller overflows the cap from a different thread —
        // the pinned entry must be skipped, the new entries evict
        val t = new Thread(() => {
          CacheRegistry.memo("spec.pin", "other1")("O1")(v => freed ::= v)
          CacheRegistry.memo("spec.pin", "other2")("O2")(v => freed ::= v)
        })
        t.start(); t.join()
        assert(!freed.contains("H"), s"pinned entry evicted: $freed")
        var rebuilt = 0
        CacheRegistry.memo("spec.pin", "held")({ rebuilt += 1; "H2" })(_ => ())
        assert(rebuilt == 0, "pinned entry was lost while in scope")
      }
      // scope closed: the pin is gone, budget re-enforced (cap 1)
      assert(CacheRegistry.resident <= 1)
    } finally {
      saved match {
        case Some(v) => sys.props("graft.cache.maxResident") = v
        case None => sys.props -= "graft.cache.maxResident"
      }
      CacheRegistry.evictAll()
    }
  }

  test("builds run outside the registry monitor: a slow build of one " +
      "key does not block a different key's build (no head-of-line)") {
    CacheRegistry.evictAll()
    val slowEntered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val slow = new Thread(() =>
      CacheRegistry.memo("spec.hol", "slow")({
        slowEntered.countDown()
        release.await(10, java.util.concurrent.TimeUnit.SECONDS)
        "slow-value"
      })(_ => ()))
    slow.start()
    assert(slowEntered.await(5, java.util.concurrent.TimeUnit.SECONDS))
    // while the slow build is in flight, an unrelated key completes
    val fast = CacheRegistry.memo("spec.hol", "fast")("fast-value")(_ => ())
    assert(fast == "fast-value")
    release.countDown()
    slow.join(10000)
    assert(!slow.isAlive, "slow build did not finish")
    assert(CacheRegistry.memo("spec.hol", "slow")("rebuilt")(_ => ())
      == "slow-value", "slow build's value was not published")
    // and a SAME-key waiter during a build receives the builder's value
    val barrier = new java.util.concurrent.CountDownLatch(1)
    val go = new java.util.concurrent.CountDownLatch(1)
    @volatile var waiterGot: String = null
    val builder = new Thread(() =>
      CacheRegistry.memo("spec.hol", "shared")({
        barrier.countDown()
        go.await(10, java.util.concurrent.TimeUnit.SECONDS)
        "built-once"
      })(_ => ()))
    builder.start()
    assert(barrier.await(5, java.util.concurrent.TimeUnit.SECONDS))
    val waiter = new Thread(() => {
      waiterGot = CacheRegistry.memo("spec.hol", "shared")("waiter-built")(_ => ())
    })
    waiter.start()
    Thread.sleep(100) // waiter parks on the latch
    go.countDown()
    builder.join(10000); waiter.join(10000)
    assert(waiterGot == "built-once",
      s"same-key waiter rebuilt instead of awaiting: $waiterGot")
    CacheRegistry.evictAll()
  }

  test("the gate queries that ride memoized indexes survive " +
      "evict-rebuild cycles (IVF probe + BPE vocab)") {
    // one gate query per memo site that once kept a private map, plus
    // the original IVF/BPE pair: same hash after a cold reset, nothing
    // resident after it, and no directory of a freed entry left behind
    val gates = Seq("e_ann_ivf", "e_bpe_vocab",
      "e_stream_pipeline_full", "e_stream_pipeline_neardup",
      "e_stream_ingest_dedup", "e_stream_ingest_compact",
      "e_stream_ingest_ivf", "e_stream_publish", "e_ann_ivf_persisted",
      "e_bm25_topk", "e_bm25_multi", "e_bm25_incr", "e_bm25_compact",
      "e_pipeline_tokenize_pack", "e_quality_train", "e_pipeline_full",
      "e_bucketed_join", "e_partition_prune", "e_compact", "e_plan_audit",
      "e_publish_roundtrip", "e_publish_diff")
    def hashes(): Map[String, String] = gates.map(q =>
      q -> CacheRegistry.scoped(md5Of(SparkEntry.queries(q)(spark, sf)))).toMap
    CacheRegistry.evictAll()
    val first = hashes()
    val dirs = CacheRegistry.liveDirs.toArray(Array.empty[String]).toSeq
    assert(dirs.size >= 12, s"on-disk entries not registered: $dirs")
    CacheRegistry.evictAll()
    assert(CacheRegistry.resident == 0)
    assert(CacheRegistry.liveDirs.isEmpty)
    val left = dirs.filter(d => new java.io.File(d).exists)
    assert(left.isEmpty, s"freed entries left directories: $left")
    val second = hashes()
    gates.foreach(q => assert(second(q) == first(q), s"$q diverged after eviction"))
    CacheRegistry.evictAll()
  }
}
