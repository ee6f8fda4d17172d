package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.tagobjects.Slow
import graft.operators.DedupOps

/** Scale rehearsal for the dedup family: the sf fixtures top out at
  * sf0.1, so nothing else would catch a quadratic candidate blowup
  * reintroduced under a different similarity distribution. A synthetic
  * 10× corpus is built from 10 DISJOINT copies of sf0.1: every token of
  * replica i is suffixed `_ri`, so cross-replica shingle similarity is
  * exactly zero while the within-copy near-dup structure is preserved
  * token-for-token — candidate pairs and wall-time must therefore both
  * grow ~linearly (naive replication would be wrong here: 10 exact
  * copies of every doc make bucket membership 10× and in-bucket pairs
  * ~100×, a quadratic law inherent to that data, not a regression).
  */
class ScaleRehearsalSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.1"

  private def docs1x: DataFrame =
    Tables.load(spark, sf01, "documents").select("doc_id", "text")

  private def docs10x: DataFrame =
    (0 until 10).map { i =>
      docs1x.select(
        (col("doc_id") + lit(i * 10_000_000L)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"_r$i")))).as("text"))
    }.reduce(_ union _)

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Partitions must scale with the data — the suite harness pins
    * shuffle.partitions=4, so a 10× corpus would pay 10× aggregation
    * state per partition and spill, turning a linear plan into a
    * measured 20×+ (exactly the sizing rule a real cluster applies:
    * hold per-partition work constant).
    */
  private def withShufflePartitions[A](n: Int)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Run `f`, then unpersist only the frames it pinned itself: other
    * suites' caches — e.g. the IVF index PlanSpec asserts on — stay
    * untouched, and so does every RDD a resident memo entry records
    * (the staged feature tables): the registry owns and frees those.
    */
  private def cleaningUp[A](f: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try f
    finally {
      val owned = graft.engine.CacheRegistry.recordedRddIds
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) || owned(id) }
        .foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
    }
  }

  test("minhash candidate pairs grow linearly with corpus size", Slow) {
    cleaningUp {
      val big = docs10x.persist(); big.count()
      val p1 = DedupOps.minhashCandidates(docs1x).count()
      val p10 = withShufflePartitions(40)(
        DedupOps.minhashCandidates(big).count())
      assert(p1 > 0, "sf0.1 must produce candidates (near-dups exist)")
      // exactly-linear would be 10×; headroom for rare cross-replica
      // band-key hash collisions
      assert(p10 <= 12 * p1 + 100,
        s"candidate pairs must scale ~linearly: $p1 at 1x but $p10 at 10x")
    }
  }

  /** Wall-clock is a LOAD-SENSITIVE signal: BASELINE.md records a 2.2×
    * slowdown of unchanged code inside a host-contention window, which
    * is enough to breach any sane linearity bound spuriously. So the
    * candidate-count test above is the primary scale guard; timing here
    * is a soft check — retried once (contention windows are transient)
    * and reported via info() rather than failing the suite, unless
    * GRAFT_TIMING_STRICT=1 opts into hard assertions (CI on an idle
    * host). A genuinely quadratic blowup costs minutes and fails the
    * candidate-count test regardless.
    */
  private def softLinearBound(name: String, base: Double)(
      run: => Double): Unit = {
    def ok(t: Double) = t <= 15 * math.max(base, 2.0) + 10.0
    val t = run
    if (!ok(t)) {
      val t2 = run
      if (!ok(t2)) {
        val msg =
          f"$name 10x took $t%.1f s (retry $t2%.1f s) vs $base%.1f s at 1x — superlinear?"
        if (sys.env.get("GRAFT_TIMING_STRICT").contains("1")) fail(msg)
        else info(s"[timing-soft] $msg")
      }
    }
  }

  /** The typed selectors are *the* bounded-shuffle path at 100 TB, so
    * their per-row constant matters as much as their row bound. The
    * rehearsal pits the shipped reduce (saturation-reject + binary
    * insert, O(1) for almost every row once the buffer holds quota
    * rows) against the naive re-sort-per-row form it replaced, at
    * quota=1000 where the naive O(k log k) constant dominates. Pure JVM
    * micro-timing (no Spark, no IO), so a 5× bar is conservative — the
    * real gap is orders of magnitude — and stable under host load.
    */
  test("bounded selector reduce is >=5x faster per row than re-sort at quota=1000", Slow) {
    import graft.functions.{Hashed, QuotaMinK}
    val quota = 1000
    def better(a: Hashed, b: Hashed): Boolean =
      a.h < b.h || (a.h == b.h && a.id < b.id)
    def naiveReduce(buf: Seq[Hashed], x: Hashed): Seq[Hashed] = {
      val merged = (buf :+ x).sortWith(better)
      if (merged.size > quota) merged.take(quota) else merged
    }
    // deterministic pseudo-random stream (no Math.random in this env);
    // splitmix64-ish mix gives well-spread hashes so post-saturation
    // rejects dominate, as they do on real data
    def row(i: Long): Hashed = {
      var z = i * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      Hashed(z ^ (z >>> 31), i, quota)
    }
    val agg = QuotaMinK.aggregator
    def saturated(red: (Seq[Hashed], Hashed) => Seq[Hashed]): Seq[Hashed] =
      (0L until quota.toLong).foldLeft(agg.zero)((b, i) => red(b, row(i)))
    def perRowSec(red: (Seq[Hashed], Hashed) => Seq[Hashed], n: Long): Double = {
      var buf = saturated(red) // warm: saturate + JIT outside the timed loop
      val t0 = System.nanoTime()
      var i = quota.toLong
      while (i < quota + n) { buf = red(buf, row(i)); i += 1 }
      assert(buf.size == quota)
      (System.nanoTime() - t0) / 1e9 / n
    }
    perRowSec(agg.reduce, 20_000) // JIT warmup pass for both paths
    perRowSec(naiveReduce, 2_000)
    // min-of-3 per side: a GC pause or contended-host stall inflates one
    // pass, not the minimum, so the ratio measures the code not the host
    val fast = (1 to 3).map(_ => perRowSec(agg.reduce, 200_000)).min
    val naive = (1 to 3).map(_ => perRowSec(naiveReduce, 10_000)).min
    info(f"per-row: shipped ${fast * 1e9}%.0f ns vs naive ${naive * 1e9}%.0f ns (${naive / fast}%.0fx)")
    assert(naive >= 5 * fast,
      f"bounded reduce must beat re-sort-per-row by >=5x at quota=$quota: " +
        f"shipped ${fast * 1e9}%.0f ns/row vs naive ${naive * 1e9}%.0f ns/row")
  }

  test("minhash and simhash dedup wall-time grows ~linearly at 10x", Slow) {
    cleaningUp {
      // materialize the synthetic corpus OUTSIDE the timed region: its
      // construction (a per-token suffix transform the 1x side never
      // runs) is not the pipeline under test
      val big = docs10x.persist(); big.count()
      val (k1, t1) = timed(DedupOps.minhashDedup(docs1x).count())
      // per-copy removal counts vary slightly (different hash values →
      // different probabilistic band collisions), so bound loosely
      val k10 = withShufflePartitions(40)(DedupOps.minhashDedup(big).count())
      assert(k10 >= 9 * k1, "each disjoint copy keeps ~its survivors")
      softLinearBound("minhash", t1)(
        timed(withShufflePartitions(40)(DedupOps.minhashDedup(big).count()))._2)
      val (_, s1) = timed(DedupOps.simhashDedup(docs1x).count())
      softLinearBound("simhash", s1)(
        timed(withShufflePartitions(40)(DedupOps.simhashDedup(big).count()))._2)
    }
  }
}
