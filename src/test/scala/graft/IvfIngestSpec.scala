package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** The streaming vector-index ingest's crash contract: a frozen
  * offline-trained quantizer + per-batch versioned cell-partitioned
  * dirs + an atomic epoch marker, killed and replayed at every window,
  * must index every vector exactly once and answer probes identically
  * to the batch-built index.
  */
class IvfIngestSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.select("vec_id", "cos_sim").as[(Long, Double)].collect().toSeq

  private def emb = Tables.load(spark, sf, "embeddings")

  private def initFrozen(path: String): Unit =
    SimilarityOps.initIvfIndexVersioned(spark,
      SimilarityOps.buildIvfIndex(spark, sf).centroids, path)

  private def probe(path: String): DataFrame =
    SimilarityOps.probeIvf(SimilarityOps.loadIvfIndexVersioned(spark, path),
      SimilarityOps.vectorOf(spark, sf, 0L), nprobe = 4, k = 10,
      excludeId = 0L)

  test("the streamed-and-compacted index answers the persisted-index " +
      "probe verbatim") {
    val streamed = rows(SparkEntry.queries("e_stream_ingest_ivf")(spark, sf))
    val batch = rows(SparkEntry.queries("e_ann_ivf_persisted")(spark, sf))
    assert(streamed == batch,
      "streamed IVF ingest diverged from the batch-built index")
  }

  test("a replayed committed batch is a no-op: marker, dirs, and " +
      "answer all unchanged") {
    withTempDir("ivf_spec_replay") { dir =>
      val path = dir.toString
      initFrozen(path)
      val day1 = emb.where(col("vec_id") % 2 === 0)
      assert(SimilarityOps.appendToIvfIndexVersioned(day1, path, 0L))
      val before = rows(probe(path).where(col("vec_id") % 2 === 0))
      val nBefore = SimilarityOps.loadIvfIndexVersioned(spark, path)
        .assigned.count()
      // foreachBatch redelivers batch 0 — the epoch guard swallows it
      assert(!SimilarityOps.appendToIvfIndexVersioned(day1, path, 0L))
      assert(SimilarityOps.loadIvfIndexVersioned(spark, path)
        .assigned.count() == nBefore, "replay double-indexed the batch")
      assert(rows(probe(path).where(col("vec_id") % 2 === 0)) == before)
    }
  }

  test("a torn attempt (crash BEFORE the epoch commit) leaves debris " +
      "nothing names — the retry overwrites it") {
    withTempDir("ivf_spec_torn") { dir =>
      val path = dir.toString
      initFrozen(path)
      val day1 = emb.where(col("vec_id") % 2 === 0)
      val day2 = emb.where(col("vec_id") % 2 === 1)
      assert(SimilarityOps.appendToIvfIndexVersioned(day1, path, 0L))
      // the torn batch-1 attempt: WRONG content (day 1 again) lands in
      // batch 1's dir, but the crash happened before the marker rename
      val centroids = SimilarityOps.buildIvfIndex(spark, sf).centroids
      day1.withColumn("cell", SimilarityOps.assignCell(centroids))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/assigned_b1")
      // nothing names the debris: the loaded index is day 1 only
      assert(SimilarityOps.loadIvfIndexVersioned(spark, path)
        .assigned.count() == day1.count(),
        "uncommitted torn dir leaked into the loaded index")
      // the retry re-runs batch 1 for real and overwrites the debris
      assert(SimilarityOps.appendToIvfIndexVersioned(day2, path, 1L))
      val idx = SimilarityOps.loadIvfIndexVersioned(spark, path)
      assert(idx.assigned.count() == emb.count(),
        "retry did not overwrite the torn dir")
      assert(idx.assigned.select("vec_id").as[Long].collect().toSet ==
        emb.select("vec_id").as[Long].collect().toSet)
    }
  }

  test("compaction folds the batch dirs, preserves the replay guard, " +
      "and is invisible in the answer") {
    withTempDir("ivf_spec_compact") { dir =>
      val path = dir.toString
      initFrozen(path)
      val day1 = emb.where(col("vec_id") % 2 === 0)
      val day2 = emb.where(col("vec_id") % 2 === 1)
      assert(SimilarityOps.appendToIvfIndexVersioned(day1, path, 0L))
      assert(SimilarityOps.appendToIvfIndexVersioned(day2, path, 1L))
      val before = rows(probe(path))
      assert(SimilarityOps.compactIvfIndexVersioned(spark, path) == 2)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "assigned_b0")),
        "absorbed batch dir survived compaction")
      assert(rows(probe(path)) == before,
        "compaction changed the probe answer")
      // lastBatch survives the fold: pre-compaction replays stay no-ops
      assert(!SimilarityOps.appendToIvfIndexVersioned(day1, path, 0L))
      assert(!SimilarityOps.appendToIvfIndexVersioned(day2, path, 1L))
      // idempotent: compacting a compacted index is a no-op
      assert(SimilarityOps.compactIvfIndexVersioned(spark, path) == 0)
      // and the stream continues: a NEW batch appends normally
      assert(SimilarityOps.appendToIvfIndexVersioned(
        day2.limit(0), path, 2L))
      assert(rows(probe(path)) == before)
    }
  }
}
