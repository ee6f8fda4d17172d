package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** CDC log-compaction stream: the drained replay must equal the batch
  * last-row-per-key computation, and — the part the single-batch replay
  * cannot show — state must CARRY across micro-batches: a key updated
  * in batch 2 must fold on top of its batch-1 state, not restart.
  */
class UpsertStreamSpec extends SparkSpec {
  import spark.implicits._

  test("replayed compaction equals batch last-per-key on the fixture") {
    val got = StreamingOps.replayUpsertStream(spark, sf)
    val orders = Tables.load(spark, sf, "orders")
    val expect = orders
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_orderkey"), col("o_totalprice"))).as("m"),
        count(lit(1)).as("n_upserts"))
      .select(col("o_custkey"), col("m.o_orderkey").as("last_orderkey"),
        col("m.o_totalprice").as("last_price"), col("n_upserts"))
      .orderBy("o_custkey")
    assert(got.collect().toSeq === expect.collect().toSeq)
  }

  test("state carries across micro-batches (one file per trigger)") {
    // batch 1: (key 7, seq 1, 10.0), (key 9, seq 5, 50.0)
    // batch 2: (key 7, seq 3, 30.0) — newer seq, must override —
    //          and (key 9, seq 2, 20.0) — older seq, must NOT override
    withTempDir("graft_upsert") { dir =>
      def ship(tag: String, rows: Seq[(Long, Long, Double)]): Unit = {
        withTempDir("graft_upsert_w") { tmp =>
          rows.toDF("o_custkey", "o_orderkey", "o_totalprice")
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).iterator()
          var moved = false
          while (part.hasNext && !moved) {
            val p = part.next()
            if (p.toString.endsWith(".parquet")) {
              java.nio.file.Files.move(p, dir.resolve(s"$tag.parquet"))
              moved = true
            }
          }
          assert(moved, "no parquet part written")
        }
      }
      ship("b1", Seq((7L, 1L, 10.0), (9L, 5L, 50.0)))
      ship("b2", Seq((7L, 3L, 30.0), (9L, 2L, 20.0)))
      val schema = Seq((0L, 0L, 0.0))
        .toDF("o_custkey", "o_orderkey", "o_totalprice").schema
      val compacted = StreamingOps.compactUpserts(spark.readStream
        .schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(dir.toString)
        .as[(Long, Long, Double)])
      val q = compacted.writeStream.outputMode("update").format("memory")
        .queryName("graft_upsert_mb").start()
      try q.processAllAvailable() finally q.stop()
      // update-mode memory sink appends one row per (key, batch) — the
      // final state per key is the row with the highest fold count
      val last = spark.table("graft_upsert_mb")
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("n_upserts"), col("last_orderkey"),
          col("last_price"))).as("m"))
        .select(col("o_custkey"), col("m.last_orderkey"),
          col("m.last_price"), col("m.n_upserts"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
      // both keys saw 2 upserts; key 7 keeps seq 3, key 9 keeps seq 5
      assert(last === Set((7L, 3L, 30.0, 2L), (9L, 5L, 50.0, 2L)))
    }
  }
}
