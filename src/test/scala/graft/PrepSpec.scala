package graft

import org.apache.spark.sql.functions._
import graft.operators.PrepOps

/** Unit tests for the training-data preparation family (PrepOps):
  * semantics on hand-built frames plus the plan shapes the 100 TB
  * story depends on (per-row ops stay zero-exchange).
  */
class PrepSpec extends SparkSpec {

  import spark.implicits._

  private def md5Of(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("redactPii scrubs emails and phones and counts them") {
    val docs = Seq(
      (1L, "write alice@example.com now"),
      (2L, "no pii here")).toDF("doc_id", "text")
    // redactPii appends one synthetic email + phone per row from doc_id
    val rows = PrepOps.redactPii(docs).orderBy("doc_id").collect()
    assert(rows(0).getLong(1) == 2) // text email + synth email
    assert(rows(1).getLong(1) == 1) // synth only
    assert(rows.forall(_.getLong(2) == 1)) // one synth phone each
    assert(rows(0).getString(3) == md5Of(
      "write <EMAIL> now contact <EMAIL> or call <PHONE>"))
    assert(rows(1).getString(3) == md5Of(
      "no pii here contact <EMAIL> or call <PHONE>"))
  }

  test("chunkDocs windows tokens with stride and overlap") {
    val text100 = (1 to 100).map(i => s"t$i").mkString(" ")
    val docs = Seq((7L, text100)).toDF("doc_id", "text")
    val rows = PrepOps.chunkDocs(docs).orderBy("chunk_idx").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    assert(rows.map(_.getLong(2)).toSeq == Seq(64L, 52L, 4L))
    // chunk 1 starts at token 49 — overlapping chunk 0 by 16 tokens
    val chunk1 = (49 to 100).take(64).map(i => s"t$i").mkString(" ")
    assert(rows(1).getString(3) == md5Of(chunk1))
  }

  test("tfidfTop ranks rare terms above common ones") {
    val docs = Seq(
      (1L, "common rare1 common common"),
      (2L, "common other words here"),
      (3L, "common more words again")).toDF("doc_id", "text")
    val rows = PrepOps.tfidfTop(docs, perDoc = 2)
      .where($"doc_id" === 1L).orderBy("term_rank").collect()
    // rare1: tf=1, df=1 → 1.0; common: tf=3, df=3 → 1.0; tie broken by
    // term name — "common" sorts first
    assert(rows.map(_.getString(1)).toSeq == Seq("common", "rare1"))
    assert(rows.map(_.getDouble(4)).toSeq == Seq(1.0, 1.0))
  }

  test("packSequences bins by running token count per language") {
    val docs = Seq(
      (1L, "en", (1 to 200).map(_ => "w").mkString(" ")),
      (2L, "en", (1 to 100).map(_ => "w").mkString(" ")),
      (3L, "en", (1 to 100).map(_ => "w").mkString(" ")),
      (4L, "de", (1 to 50).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val rows = PrepOps.packSequences(docs).orderBy("lang", "bin").collect()
    // de: one doc in bin 0; en: doc1 (cum 0) bin 0, doc2 (cum 200) bin 0,
    // doc3 (cum 300) bin 1
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("de", 0L, 1L), ("en", 0L, 2L), ("en", 1L, 1L)))
  }

  test("rebalance caps each stratum keeping the longest docs") {
    val docs = (1 to 10).map(i => (i.toLong, "en", i * 10L)) :+
      (99L, "de", 5L)
    val rows = PrepOps.rebalance(docs.toDF("doc_id", "lang", "n_chars"), cap = 3)
      .orderBy("lang").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == Seq(("de", 1L, 1L, 5L), ("en", 10L, 3L, 270L)))
  }

  test("rebalanceTopK agrees with the window-rank form on fixture data") {
    val docs = Tables.load(spark, sf, "documents")
    val a = PrepOps.rebalance(docs).orderBy("lang").collect().toSeq
    val b = PrepOps.rebalanceTopK(docs).orderBy("lang").collect().toSeq
    assert(a == b, "bounded-aggregate and window forms must be identical")
    // and on a synthetic frame with ties on n_chars (id tie-break)
    import spark.implicits._
    val tied = Seq((5L, "en", 10L), (1L, "en", 10L), (3L, "en", 10L),
      (2L, "en", 7L)).toDF("doc_id", "lang", "n_chars")
    val t1 = PrepOps.rebalance(tied, cap = 2).collect().toSeq
    val t2 = PrepOps.rebalanceTopK(tied, cap = 2).collect().toSeq
    assert(t1 == t2 && t1.head.getLong(3) == 20L,
      s"tie-break must pick doc_ids 1,3: window=$t1 topk=$t2")
  }

  test("mixtureSampleTopK agrees with the window-rank form on fixture data") {
    val docs = Tables.load(spark, sf, "documents")
    val a = PrepOps.mixtureSample(docs)
      .orderBy("lang", "mix_rank").collect().toSeq
    val b = PrepOps.mixtureSampleTopK(docs)
      .orderBy("lang", "mix_rank").collect().toSeq
    assert(a == b, "bounded-aggregate and window forms must be identical")
    // a lang with no quota must be dropped entirely by both forms
    import spark.implicits._
    val stray = Seq((1L, "xx"), (2L, "en")).toDF("doc_id", "lang")
    val kept = PrepOps.mixtureSampleTopK(stray, Seq("en" -> 5))
      .select("lang").as[String].collect().toSeq
    assert(kept == Seq("en"), s"zero-quota stratum must vanish: $kept")
  }

  test("normalizeText lowercases, strips punctuation, collapses whitespace") {
    val docs = Seq((1L, "  Hello,   WORLD!!  it's 42  ")).toDF("doc_id", "text")
    val r = PrepOps.normalizeText(docs).collect().head
    assert(r.getString(2) == md5Of("hello world its 42"))
    assert(r.getLong(1) == "hello world its 42".length.toLong)
  }

  test("per-row prep queries stay zero-exchange (scan-only plans)") {
    for (q <- Seq("e_pii_redact", "e_normalize", "e_chunk")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      // the trailing orderBy is the only exchange (driver-side result
      // ordering for the oracle); nothing else may shuffle
      assert("Exchange".r.findAllIn(plan).size <= 1,
        s"$q must be a single-scan per-row op, got:\n$plan")
    }
  }

  test("mixture sample fills each stratum to min(quota, stratum size)") {
    val docs = Tables.load(spark, sf, "documents")
    val langCounts = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val quotas = Map("en" -> 80L, "zh" -> 40L, "de" -> 30L,
      "es" -> 30L, "fr" -> 20L)
    val got = SparkEntry.queries("e_mixture_sample")(spark, sf)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((l, n) <- langCounts)
      assert(got.getOrElse(l, 0L) == math.min(quotas.getOrElse(l, 0L), n),
        s"stratum $l: got ${got.get(l)}, want min(${quotas.get(l)}, $n)")
  }

  test("mixture sample is deterministic under repartitioning") {
    val docs = Tables.load(spark, sf, "documents")
    val a = graft.operators.PrepOps.mixtureSample(docs)
      .orderBy("lang", "mix_rank").collect().toSeq
    val b = graft.operators.PrepOps.mixtureSample(docs.repartition(13))
      .orderBy("lang", "mix_rank").collect().toSeq
    assert(a == b, "content-hash ranking must not depend on layout")
  }

  test("jsonl shard export is total and membership-stable on re-read") {
    val docs = Tables.load(spark, sf, "documents")
    withTempDir("graft_jsonl") { dir =>
      val out = dir.toString
      val n = graft.operators.PrepOps.writeJsonlShards(docs, out, 8)
      assert(n == docs.count())
      val back = spark.read.json(out)
      assert(back.count() == n, "every document survives the round trip")
      // shard membership on re-read must equal the content-hash rule
      val rule = pmod(graft.functions.TextShingles
        .md5Hash60(col("doc_id").cast("string")), lit(8L))
      assert(back.where(col("shard") =!= rule).count() == 0,
        "shard dirs must encode the md5-60bit assignment")
      assert(back.select("shard").distinct().count() == 8)
    }
  }

  test("k-anonymity: published classes have >= k members, totals balance") {
    val docs = Tables.load(spark, sf, "documents")
    val out = PrepOps.queries("e_k_anonymity")(spark, sf)
      .select("lang", "len_bucket", "published", "n_docs", "sum_chars")
      .as[(String, Long, Boolean, Long, Long)].collect()
    val (pub, sup) = out.partition(_._3)
    assert(pub.forall(_._4 >= 5), "a published class below k leaks")
    assert(pub.forall(r => r._1 != "*" && r._2 >= 0))
    assert(sup.length <= 1, "all sub-k classes fold into one row")
    sup.foreach { r => assert(r._1 == "*" && r._2 == -1L) }
    // nothing lost, nothing invented
    val total = docs.count()
    val totalChars = docs.agg(sum("n_chars")).as[Long].head()
    assert(out.map(_._4).sum == total)
    assert(out.map(_._5).sum == totalChars)
    // the suppressed row equals the independently-computed sub-k mass
    val small = docs
      .groupBy(col("lang"), floor(col("n_chars") / lit(64)).as("b"))
      .agg(count(lit(1)).as("n")).where(col("n") < 5)
      .agg(coalesce(sum("n"), lit(0L))).as[Long].head()
    assert(sup.headOption.map(_._4).getOrElse(0L) == small)
  }

  test("dsirSelect shifts selection toward the target domain") {
    import graft.operators.PrepOps
    // synthetic corpus: 'en' docs share a domain vocabulary, others
    // don't — importance selection must pick the domain-worded rows
    // regardless of their declared lang
    val docs = (
      (1 to 20).map(i => (i.toLong, "alpha beta gamma delta", "en")) ++
        (21 to 40).map(i => (i.toLong, "zeta eta theta iota", "de")) ++
        Seq((41L, "alpha beta noise words", "fr"))
      ).toDF("doc_id", "text", "lang").withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val sel = PrepOps.dsirSelect(docs, targetLang = "en", quota = 21)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // all 20 en docs score 1.0; the fr doc with 2/4 domain tokens
    // outranks every pure-de doc (score 0.0)
    assert(sel.getOrElse("en", 0L) == 20L, sel.toString)
    assert(sel.getOrElse("fr", 0L) == 1L, sel.toString)
    assert(!sel.contains("de"), sel.toString)
  }

  test("dsir quota fuses to TakeOrderedAndProject, no global sort") {
    val plan = SparkEntry.queries("e_dsir_select")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"quota selection must not global-sort:\n$plan")
  }

  test("chunk explode does not re-evaluate the token split in the scan") {
    // the e_decontaminate regression shape: an inferred filter on a
    // derived HOF column substituted into the scan. explode_outer emits
    // no inferred filter — assert the scan carries none.
    val plan = SparkEntry.queries("e_chunk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("PushedFilters: [IsNotNull"),
      s"no filter may reach the documents scan:\n$plan")
  }
}
