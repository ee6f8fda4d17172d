package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.DedupOps
import graft.sources.AtomicPublish

/** The streaming crawl-ingest loop's crash contract: dedup →
  * survivors-only index append → exactly-once publish, killed and
  * replayed at every window, must lose no document, publish no
  * duplicate, and double-index nothing.
  */
class IngestDedupSpec extends SparkSpec {
  import spark.implicits._

  private def proj(df: DataFrame): DataFrame =
    df.select("doc_id", "lang", "source", "n_chars")

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  test("the streamed ingest loop equals the batch two-day replay") {
    val pub = ids(SparkEntry.queries("e_stream_ingest_dedup")(spark, sf))
    val batch = ids(SparkEntry.queries("e_dedup_incr_minhash")(spark, sf))
    assert(pub == batch,
      "streamed ingest diverged from the batch incremental replay")
  }

  test("the compacted-index twin publishes the identical corpus — " +
      "index maintenance is invisible in the answer") {
    val compact =
      ids(SparkEntry.queries("e_stream_ingest_compact")(spark, sf))
    val plain = ids(SparkEntry.queries("e_stream_ingest_dedup")(spark, sf))
    assert(compact == plain,
      "mid-stream LSH compaction changed the published survivor set")
  }

  test("kill between index commit and publish, then after publish: " +
      "no doc lost, duplicated, or double-indexed") {
    val docs = Tables.load(spark, sf, "documents")
    val day1 = docs.where(col("doc_id") % 2 === 0)
    val day2 = docs.where(col("doc_id") % 2 === 1)
    val prefix = s"ingest_crash_${System.nanoTime()}"
    withTempDir("ingest_spec_pub") { dir =>
      val root = dir.toString

      // batch 0 commits fully
      val s1 = DedupOps.minhashDedupBatchVersioned(day1, prefix, 0L)
      assert(AtomicPublish.publishStreamBatch(proj(s1), root, 0L))

      // batch 1: dedup + index append commit, then CRASH before publish
      val s2a = DedupOps.minhashDedupBatchVersioned(day2, prefix, 1L)
      val s2aIds = ids(s2a)
      val bandsFiles = spark.table(s"${prefix}_b1").inputFiles.toSet
      val featsFiles = spark.table(s"${prefix}_f1").inputFiles.toSet

      // RESTART: foreachBatch redelivers batch 1 — the epoch guard must
      // RECOVER the committed survivor set without touching the index
      val s2b = DedupOps.minhashDedupBatchVersioned(day2, prefix, 1L)
      assert(ids(s2b) == s2aIds, "recovered survivors diverged")
      assert(spark.table(s"${prefix}_b1").inputFiles.toSet == bandsFiles,
        "replay double-indexed the band table")
      assert(spark.table(s"${prefix}_f1").inputFiles.toSet == featsFiles,
        "replay double-indexed the feature table")
      assert(AtomicPublish.publishStreamBatch(proj(s2b), root, 1L))

      // crash AFTER the publish commit: a further replay recovers the
      // survivors again and the publish guard skips — nothing changes
      val s2c = DedupOps.minhashDedupBatchVersioned(day2, prefix, 1L)
      assert(ids(s2c) == s2aIds)
      assert(!AtomicPublish.publishStreamBatch(proj(s2c), root, 1L),
        "a committed batch id must be skipped by the publish guard")
      val st = AtomicPublish.currentStream(root).get
      assert(st.lastBatch == 1L && st.dirs == Seq("batch-0", "batch-1"))

      // end state: the published corpus IS the batch two-day replay —
      // every survivor exactly once
      val pub = AtomicPublish.readStreamPublished(spark, root)
        .select("doc_id").as[Long].collect().toSeq
      assert(pub.distinct.size == pub.size, "duplicate published doc")
      assert(pub.toSet ==
        ids(SparkEntry.queries("e_dedup_incr_minhash")(spark, sf)))
    }
  }

  test("index compaction mid-stream preserves exactly-once: replays " +
      "of pre-compaction batches recover, new batches dedup against " +
      "the compacted index") {
    val docs = Tables.load(spark, sf, "documents")
    val day1 = docs.where(col("doc_id") % 2 === 0)
    val day2 = docs.where(col("doc_id") % 2 === 1)
    val prefix = s"ingest_cpt_${System.nanoTime()}"
    val s1 = DedupOps.minhashDedupBatchVersioned(day1, prefix, 0L)
    val s2 = DedupOps.minhashDedupBatchVersioned(day2, prefix, 1L)
    val survivors = ids(s1) ++ ids(s2)
    // quiescent-point maintenance: 2 band + 2 feat tables fold to one pair
    assert(DedupOps.compactLshIndex(spark, prefix) == 4)
    assert(!spark.catalog.tableExists(s"${prefix}_b0") &&
      !spark.catalog.tableExists(s"${prefix}_f1"),
      "absorbed batch tables survived compaction")
    // a stream restart replaying batch 1 AFTER compaction must still
    // hit the replay guard and recover from the compacted feats
    val s2r = DedupOps.minhashDedupBatchVersioned(day2, prefix, 1L)
    assert(ids(s2r) == ids(s2),
      "post-compaction replay diverged from the committed survivors")
    // idempotent: compacting an already-compacted index is a no-op
    assert(DedupOps.compactLshIndex(spark, prefix) == 0)
    // a NEW batch re-sending the whole corpus dedups against the
    // compacted index: every doc matches an indexed survivor (or its
    // own copy) and is dropped in full
    val s3 = DedupOps.minhashDedupBatchVersioned(docs, prefix, 2L)
    assert(ids(s3).isEmpty,
      s"re-sent corpus not fully dropped post-compaction: ${ids(s3).size}")
    assert(survivors ==
      ids(SparkEntry.queries("e_dedup_incr_minhash")(spark, sf)))
  }

  test("replay recovery is per-batch: a re-crawled doc indexed by an " +
      "earlier batch is not falsely republished, before or after " +
      "compaction") {
    val docs = Tables.load(spark, sf, "documents")
    val day1 = docs.where(col("doc_id") % 2 === 0)
    // day 2 re-crawls a slice of day 1 alongside the odd half — the
    // at-least-once-upstream case where doc_ids repeat across batches
    val recrawl = docs.where(col("doc_id") % 10 === 0)
    val day2 = docs.where(col("doc_id") % 2 === 1).unionByName(recrawl)
    val prefix = s"ingest_recrawl_${System.nanoTime()}"
    DedupOps.minhashDedupBatchVersioned(day1, prefix, 0L)
    val live = ids(DedupOps.minhashDedupBatchVersioned(day2, prefix, 1L))
    assert(live.forall(_ % 2 == 1),
      "a re-crawled even doc survived batch 1's live dedup")
    // restart replays batch 1: recovery must return EXACTLY batch 1's
    // own survivor set — recovering against the union of ALL committed
    // feats would resurrect the re-crawled docs (they sit in batch 0's
    // feature table) and publish duplicates downstream
    val recovered = ids(DedupOps.minhashDedupBatchVersioned(day2, prefix, 1L))
    assert(recovered == live,
      "replay republished docs this batch dropped")
    // and the per-batch provenance survives compaction
    assert(DedupOps.compactLshIndex(spark, prefix) == 4)
    val recovered2 =
      ids(DedupOps.minhashDedupBatchVersioned(day2, prefix, 1L))
    assert(recovered2 == live,
      "compaction lost the per-batch survivor provenance")
  }

  test("a torn attempt (crash BEFORE the epoch commit) leaves debris " +
      "the retry overwrites — the answer is unaffected") {
    val docs = Tables.load(spark, sf, "documents")
    val day1 = docs.where(col("doc_id") % 2 === 0)
    val day2 = docs.where(col("doc_id") % 2 === 1)
    val torn = s"ingest_torn_${System.nanoTime()}"
    val clean = s"ingest_clean_${System.nanoTime()}"
    val s1t = DedupOps.minhashDedupBatchVersioned(day1, torn, 0L)
    val s1c = DedupOps.minhashDedupBatchVersioned(day1, clean, 0L)
    assert(ids(s1t) == ids(s1c))
    // simulate the torn batch-1 attempt: WRONG content lands in the
    // batch tables, but the crash happened before the marker rename —
    // the epoch still says lastBatch = 0, so nothing names the debris
    graft.sources.Bucketing.saveBucketed(
      spark.table(s"${torn}_b0"), s"${torn}_b1", "key", 8)
    graft.sources.Bucketing.saveBucketed(
      spark.table(s"${torn}_f0"), s"${torn}_f1", "doc_id", 8)
    // the retry re-runs batch 1 for real: overwrites the debris, and
    // the survivor set equals the never-crashed twin's
    val s2t = DedupOps.minhashDedupBatchVersioned(day2, torn, 1L)
    val s2c = DedupOps.minhashDedupBatchVersioned(day2, clean, 1L)
    assert(ids(s2t) == ids(s2c),
      "torn-attempt debris leaked into the retried batch's answer")
    assert(spark.table(s"${torn}_f1").count() ==
      spark.table(s"${clean}_f1").count(),
      "retry did not overwrite the torn batch table")
  }
}
