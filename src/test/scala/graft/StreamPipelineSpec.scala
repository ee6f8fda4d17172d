package graft

import org.apache.spark.sql.functions._
import graft.sources.{AtomicPublish, WarcOps}
import graft.streaming.StreamingOps

/** The streamed full pipeline (warc.gz file stream → extract →
  * canon-dedup vs the published state → model gate → blocklist →
  * tokenize → exactly-once publish): equal to the batch showpiece,
  * replay-safe at the commit window, cross-batch dedup observable.
  */
class StreamPipelineSpec extends SparkSpec {

  test("streamed pool packs to the batch showpiece's exact output, " +
      "and the cross-batch canon-dedup fired on the straddling group") {
    val batch = SparkEntry.queries("e_pipeline_full")(spark, sf)
      .collect().toSeq
    val streamed = SparkEntry.queries("e_stream_pipeline_full")(spark, sf)
      .collect().toSeq
    assert(streamed == batch,
      "streamed pack diverged from the batch composition")
  }

  test("near-dup streamed pipeline packs to its batch twin's exact " +
      "output, and the LSH lane genuinely tightens the pool (a " +
      "re-crawled near-duplicate under a new URL drops)") {
    val batch = SparkEntry.queries("e_pipeline_full_neardup")(spark, sf)
      .collect().toSeq
    val streamed = SparkEntry.queries("e_stream_pipeline_neardup")(spark, sf)
      .collect().toSeq
    assert(streamed == batch,
      "near-dup streamed pack diverged from the batch twin")
    // the lane is not vacuous: the near-dup pool must be strictly
    // smaller than the canon-only pool (the fixture carries verified
    // cross-canon near-dup pairs both within day 2 and straddling)
    val canonOnly = SparkEntry.queries("e_pipeline_full")(spark, sf)
      .agg(sum("n_docs")).head().getLong(0)
    val nearDup = SparkEntry.queries("e_pipeline_full_neardup")(spark, sf)
      .agg(sum("n_docs")).head().getLong(0)
    assert(nearDup < canonOnly,
      s"LSH lane dropped nothing: $nearDup vs $canonOnly")
  }

  test("near-dup pipeline kill/replay at BOTH mutation windows: a " +
      "crash between index-append and publish recovers the committed " +
      "survivors without re-appending; a re-delivered batchId is " +
      "refused; no document ever publishes twice") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.expressions.Window
    withTempDir("graft_pipe_nd_spec") { dir =>
      val root = dir.toString
      val prefix = s"graft_pipelsh_spec_${System.nanoTime()}"
      StreamingOps.runFullPipelineStream(spark, sf, root,
        lshPrefix = Some(prefix))
      def pool() = AtomicPublish.readStreamPublished(spark, root)
        .orderBy("doc_id").collect().toSeq
      val committed = pool()
      assert(committed.nonEmpty)
      assert(committed.map(_.getLong(0)).distinct.size == committed.size,
        "duplicate doc_id in the committed pool")
      val w = graft.operators.QualityModelOps.trainedWeights(spark, sf)
      val tok = graft.operators.CorpusOps.bpeTokenCounts(spark, sf)
      // window 1 — publish replay: re-deliver day 2 under its original
      // batchId; both guards must hold (LSH recovery touches no index
      // state, publish refuses)
      val docs = Tables.load(spark, sf, "documents")
      val day2 = WarcOps.synthWarcFilesGz(
        docs.where(col("doc_id") >= StreamingOps.PipelineSplitId))
      assert(!StreamingOps.processPipelineBatch(
        spark, day2, 1L, root, w, tok, Some(prefix)),
        "replayed batchId was committed")
      assert(pool() == committed, "replay mutated the published pool")
      // window 2 — crash BETWEEN index-append and publish: batch 2 is
      // three fresh docs (unique id-salted token soup: no shingle shared
      // across docs or with the corpus). Append their survivors to the
      // LSH index directly — the stream "crashed" before publishing.
      import spark.implicits._
      val freshDocs = Seq(30000L, 30004L, 30008L)
        .map(id => (id, s"tok${id}a tok${id}b tok${id}c tok${id}d " * 12))
        .toDF("doc_id", "text")
      val freshBlobs = WarcOps.synthWarcFilesGz(freshDocs)
      val winners = graft.sources.WarcOps.extractCanonPages(freshBlobs)
        .withColumn("url_rank", row_number().over(
          Window.partitionBy("canon_url").orderBy("doc_id")))
        .where(col("url_rank") === 1).drop("url_rank")
      val appended = DedupOps.minhashDedupBatchVersioned(winners, prefix, 2L)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(appended == Seq(30000L, 30004L, 30008L),
        s"fresh batch survivors wrong: $appended")
      assert(pool() == committed, "index append must not publish")
      // the at-least-once replay of batch 2: LSH guard RECOVERS the
      // survivors (no second append), publish commits them exactly once
      assert(StreamingOps.processPipelineBatch(
        spark, freshBlobs, 2L, root, w, tok, Some(prefix)),
        "replay after index-append crash failed to publish")
      val after = pool()
      val afterIds = after.map(_.getLong(0))
      assert(afterIds.distinct.size == afterIds.size,
        "a document published twice after the crash replay")
      assert(afterIds.toSet == committed.map(_.getLong(0)).toSet ++
        Set(30000L, 30004L, 30008L),
        "crash replay lost or duplicated the fresh batch")
      // a THIRD delivery of the same batchId: both guards refuse
      assert(!StreamingOps.processPipelineBatch(
        spark, freshBlobs, 2L, root, w, tok, Some(prefix)),
        "second replay of a fully-committed batch was not refused")
      assert(pool() == after, "double replay mutated the pool")
      // window 3 — re-crawled near-duplicates: clones of published
      // survivors under FRESH doc_ids/URLs (ck-disjoint by the canon
      // rule) must drop through the cross-index path, committing an
      // empty batch that still advances the marker
      val cloneSrc = docs.join(
        AtomicPublish.readStreamPublished(spark, root)
          .where(col("doc_id") < 30000L).select("doc_id"), Seq("doc_id"))
        .select((col("doc_id") + 20000L).as("doc_id"), col("text"))
      assert(StreamingOps.processPipelineBatch(
        spark, WarcOps.synthWarcFilesGz(cloneSrc), 3L, root, w, tok,
        Some(prefix)), "fresh batchId refused")
      assert(pool() == after,
        "re-crawled near-duplicate content leaked into the pool")
      assert(AtomicPublish.currentStream(root).exists(_.lastBatch == 3L),
        "marker did not advance past the all-duplicate batch")
    }
  }

  test("kill-and-replay at the commit window: a re-delivered batchId " +
      "is refused, the published pool is unchanged, and a later batch " +
      "of already-seen URLs dedups to nothing") {
    withTempDir("graft_pipe_spec") { dir =>
      val root = dir.toString
      StreamingOps.runFullPipelineStream(spark, sf, root)
      val docs = Tables.load(spark, sf, "documents")
      def pool() = AtomicPublish.readStreamPublished(spark, root)
        .orderBy("doc_id").collect().toSeq
      val committed = pool()
      assert(committed.nonEmpty)
      // the straddling canon group {102, 103}: 102 arrived in day 1 and
      // won; 103 arrived in day 2 and must have been anti-joined away by
      // the PUBLISHED state, exactly like the batch window rule
      val ids = committed.map(_.getLong(0)).toSet
      assert(ids.contains(102L), "group winner 102 missing from the pool")
      assert(!ids.contains(103L),
        "cross-batch canon-dup 103 leaked into the pool")
      // foreachBatch is at-least-once: re-deliver day 2 under its
      // original batchId — the commit protocol must refuse (no-op), not
      // double-publish
      val w = graft.operators.QualityModelOps.trainedWeights(spark, sf)
      val tok = graft.operators.CorpusOps.bpeTokenCounts(spark, sf)
      val day2 = WarcOps.synthWarcFilesGz(
        docs.where(col("doc_id") >= StreamingOps.PipelineSplitId))
      assert(!StreamingOps.processPipelineBatch(
        spark, day2, 1L, root, w, tok), "replayed batchId was committed")
      assert(pool() == committed, "replay mutated the published pool")
      // a FRESH batch whose content is all already-published canon URLs
      // commits (the marker advances) but contributes zero rows — the
      // published state is the dedup index, so re-crawled pages drop
      assert(StreamingOps.processPipelineBatch(
        spark, day2, 2L, root, w, tok), "fresh batchId refused")
      assert(pool() == committed,
        "re-crawled duplicate content leaked into the pool")
      assert(AtomicPublish.currentStream(root).exists(_.lastBatch == 2L),
        "marker did not advance past the all-duplicate batch")
    }
  }
}
