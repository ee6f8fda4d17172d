package graft

import graft.operators.SkewOps
import graft.sources.{Bucketing, ZOrder}
import graft.streaming.{DocEvent, StreamingDedup}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ScalePatternSpec extends SparkSpec {
  import spark.implicits._

  test("salted join returns exactly the plain join result") {
    val orders = Tables.load(spark, sf, "orders")
    val customer = Tables.load(spark, sf, "customer")
    val salted = SkewOps.saltedJoin(orders, customer, "o_custkey", "c_custkey", 8)
      .select("o_orderkey", "c_custkey")
    val plain = orders.join(customer, orders("o_custkey") === customer("c_custkey"))
      .select("o_orderkey", "c_custkey")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("bucketed join plan has no shuffle exchange") {
    // session warehouse.dir points at a temp dir (SparkTestSession)
    Bucketing.saveBucketed(
      Tables.load(spark, sf, "orders"), "b_orders", "o_custkey", 8)
    Bucketing.saveBucketed(
      Tables.load(spark, sf, "customer")
        .withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", 8)
    val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_customer", "o_custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() ==
      Tables.load(spark, sf, "orders").count(), "inner join on FK keeps all orders")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
  }

  test("streaming dedup emits first-seen only across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val q = StreamingDedup.firstSeenOnly(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_test").start()
    try {
      mem.addData(
        DocEvent(100L, 1L, "a"), DocEvent(100L, 2L, "a dup in batch"),
        DocEvent(200L, 3L, "b"))
      q.processAllAvailable()
      mem.addData(
        DocEvent(100L, 4L, "a dup later"), DocEvent(300L, 5L, "c"))
      q.processAllAvailable()
      val out = spark.table("dedup_test").as[DocEvent].collect()
        .map(e => e.fingerprint -> e.doc_id).sorted.toSeq
      assert(out == Seq(100L -> 1L, 200L -> 3L, 300L -> 5L))
    } finally q.stop()
  }

  test("TTL-bounded streaming dedup re-emits a key after state expiry") {
    // ProcessingTimeTimeout makes the engine schedule micro-batches
    // continuously to fire pending timeouts, and processAllAvailable
    // does not reliably return under that churn — so this test drives
    // the query with a 100 ms trigger and polls the sink for positive
    // conditions instead.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    def outPairs: Seq[(Long, Long)] =
      spark.table("dedup_ttl_test").as[DocEvent].collect()
        .map(e => e.fingerprint -> e.doc_id).toSeq.sorted
    def awaitCond(clue: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline && !cond) Thread.sleep(100L)
      assert(cond, clue)
    }
    val q = StreamingDedup
      .firstSeenWithTtl(mem.toDS(), java.time.Duration.ofMillis(2500))
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .format("memory").queryName("dedup_ttl_test").start()
    try {
      mem.addData(DocEvent(100L, 1L, "a"), DocEvent(100L, 2L, "a dup"))
      awaitCond("first-seen emits min doc_id")(outPairs == Seq(100L -> 1L))
      mem.addData(DocEvent(100L, 3L, "a dup within ttl"))
      // let the state expire, then prove eviction with a fresh key…
      Thread.sleep(4500L)
      mem.addData(DocEvent(200L, 4L, "b"))
      awaitCond("post-expiry batch emits new key")(
        outPairs.contains(200L -> 4L))
      // …and the evicted key re-emits as a fresh first-seen
      mem.addData(DocEvent(100L, 5L, "a after expiry"))
      awaitCond("expired key re-emits")(outPairs.contains(100L -> 5L))
      // the within-TTL duplicate (doc 3) must never have been emitted
      assert(outPairs == Seq(100L -> 1L, 100L -> 5L, 200L -> 4L))
    } finally q.stop()
  }

  test("AQE splits a skewed join partition at runtime") {
    // One hot key holds 90% of the left side; with broadcast disabled
    // and tiny skew thresholds, AQE's OptimizeSkewedJoin must split
    // the hot partition (isSkewJoin on the SMJ node) — the runtime
    // half of the skew story whose static half is the salted join.
    val c = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> scala.util.Try(c.get(k)).toOption)
    try {
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import org.apache.spark.sql.functions._
      val left = spark.range(200000).select(
        when(col("id") < 180000, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(1000).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val j = left.join(right, "k")
      // execute THIS dataset's plan so AQE finalizes it, then inspect
      assert(j.collect().length == 180000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isSkewJoin=true") ||
        plan.toLowerCase.contains("skew=true"),
        s"expected AQE skew split in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("z-order interleave places a-bits at odd and b-bits at even positions") {
    val out = Seq((5L, 3L)).toDF("a", "b")
      .select(ZOrder.interleave(col("a"), col("b"), bits = 3).as("z"))
      .as[Long].head()
    assert(out == 39L) // a=101 -> positions 5,3,1 = 32+0+2; b=011 -> 4+1
    // locality: incrementing either dimension by 1 moves the key less
    // than a big jump in both — spot-check monotone containment per quadrant
    val z00 = 0L
    val quad = Seq((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L)).toDF("a", "b")
      .select(ZOrder.interleave(col("a"), col("b"), bits = 2).as("z"))
      .as[Long].collect().toSeq
    assert(quad == Seq(z00, 3L, 12L, 15L),
      "diagonal points fill quadrants in Morton order")
  }

  test("partitioned-sorted write lays out directories and sorted row groups") {
    withTempDir("graft_layout") { dir =>
      val out = dir.toString
      val docs = Tables.load(spark, sf, "documents")
        .select("doc_id", "lang", "n_chars", "text")
      ZOrder.writePartitionedSorted(docs, out, "lang",
        ZOrder.interleave(col("doc_id"), col("n_chars"), 16))
      val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
        .map(_.getName).toSet
      val langs = docs.select("lang").distinct().as[String].collect().toSet
      assert(dirs == langs.map(l => s"lang=$l"),
        s"one directory per partition value, got $dirs")
      // read back: content identical, and rows inside each file arrive in
      // clustering-key order (min/max row-group stats are selective)
      val back = spark.read.parquet(out)
      assert(back.count() == docs.count())
      val perFileSorted = back
        .withColumn("z", ZOrder.interleave(col("doc_id"), col("n_chars"), 16))
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg(expr("collect_list(z)").as("zs"))
        .as[(String, Seq[Long])].collect()
      perFileSorted.foreach { case (f, zs) =>
        assert(zs == zs.sorted, s"file $f not sorted by the clustering key")
      }
    }
  }

  test("e_zorder fuses to TakeOrderedAndProject and stays in codegen") {
    val p = SparkEntry.queries("e_zorder")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"z-order top-k must not global-sort:\n$p")
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact
    // plan rendering; the interleave projection must carry one
    assert(p.contains("*(1) Project"),
      s"the interleave fold must stay inside codegen:\n$p")
  }
}
