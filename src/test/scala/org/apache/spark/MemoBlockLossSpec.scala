package org.apache.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId

import graft.engine.CacheRegistry

/** Memo entries whose checkpoint blocks are lost. A checkpoint's
  * blocks are the data's only copy, so the registry must notice the
  * loss on the next hit and rebuild the entry instead of handing out a
  * frame whose every read fails. Lives under `org.apache.spark` to
  * reach the block manager, which drops the blocks here as a lost
  * executor would: the driver is told of each removed block.
  */
class MemoBlockLossSpec extends graft.SparkSpec {

  private def md5Of(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(c).cast("string"))
    df.select(md5(concat_ws("", cols: _*)).as("h"))
      .agg(md5(concat_ws("", collect_list(col("h")))).as("all"))
      .head().getString(0)
  }

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  // remove every stored block of these RDDs, telling the driver
  private def lose(ids: Set[Int]): Unit = {
    val bm = SparkEnv.get.blockManager
    val blocks = bm.getMatchingBlockIds {
      case RDDBlockId(id, _) => ids(id)
      case _ => false
    }
    assert(blocks.nonEmpty, s"no stored blocks for RDDs $ids")
    blocks.foreach(b => bm.removeBlock(b))
    // the storage status learns of the loss through the listener bus
    val deadline = System.nanoTime() + 30000000000L
    def seen = spark.sparkContext.getRDDStorageInfo.forall(i => !ids(i.id))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
    assert(seen, s"storage status still lists RDDs $ids")
  }

  private def checkpointIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  test("lost blocks: a memo entry whose blocks are gone is rebuilt on " +
      "its next hit, and its consumer returns the same hash") {
    for (q <- Seq("e_triangles", "e_jaccard_join")) {
      CacheRegistry.evictAll()
      val before = persistent
      def run(): String =
        CacheRegistry.scoped(md5Of(graft.SparkEntry.queries(q)(spark, sf)))
      val first = run()
      val stored = persistent -- before
      assert(CacheRegistry.resident >= 1 && stored.nonEmpty, q)
      lose(stored)
      assert(run() == first, s"$q diverged after its blocks were lost")
    }
    CacheRegistry.evictAll()
  }

  test("a pinned stale entry is freed when its last pin releases, and " +
      "its replacement keeps its own pins") {
    val saved = sys.props.get("graft.cache.maxResident")
    // cap 0: any entry that loses its last pin is evicted at once
    sys.props("graft.cache.maxResident") = "0"
    CacheRegistry.evictAll()
    def get(): DataFrame = CacheRegistry.frame("spec.stale", "k")(
      spark.range(0L, 1000L, 1L, 4).toDF())
    try {
      val rebuilt = new java.util.concurrent.CountDownLatch(1)
      val finish = new java.util.concurrent.CountDownLatch(1)
      @volatile var fresh = Set.empty[Int]
      val other = new Thread(() => CacheRegistry.scoped {
        fresh = checkpointIds(get())
        rebuilt.countDown()
        finish.await(30, java.util.concurrent.TimeUnit.SECONDS)
      })
      var old = Set.empty[Int]
      CacheRegistry.scoped {
        old = checkpointIds(get())
        lose(old)
        other.start()
        assert(rebuilt.await(30, java.util.concurrent.TimeUnit.SECONDS))
        assert(fresh.nonEmpty && fresh != old, "stale entry was not rebuilt")
        assert(old.subsetOf(persistent), "pinned stale entry freed in scope")
      }
      assert((old & persistent).isEmpty, "stale entry not freed at scope end")
      assert(fresh.subsetOf(persistent) && CacheRegistry.resident == 1,
        "the replacement lost its pin when the stale entry's scope ended")
      finish.countDown()
      other.join(30000)
      assert(CacheRegistry.resident == 0 && (fresh & persistent).isEmpty)
    } finally {
      saved match {
        case Some(v) => sys.props("graft.cache.maxResident") = v
        case None => sys.props -= "graft.cache.maxResident"
      }
      CacheRegistry.evictAll()
    }
  }
}
