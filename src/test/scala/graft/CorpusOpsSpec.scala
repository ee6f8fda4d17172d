package graft

import graft.operators.CorpusOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** dedupSpans and bpePairs against hand-computed fixtures — span
  * boundaries, island merging, zero-span docs, and pair-count ties are
  * all asserted exactly.
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("dedupSpans finds a shared passage and merges touching grams") {
    // docs 1 and 2 share a 30-char passage; doc 3 is unrelated.
    // no shared boundary chars around the passage (an adjacent shared
    // space would legitimately extend the detected span by one)
    val shared = "the quick brown fox jumps over"
    val d = docsDf(
      1L -> s"AAAA${shared}BBBBBBBBBBBB",
      2L -> s"CCCCCCCC${shared}DDDD",
      3L -> "completely unrelated filler text with no duplicate runs")
    val r = CorpusOps.dedupSpans(d, k = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // the shared passage is 30 chars: positions p..p+10 all duplicated
    // (11 grams of length 20), one island, covering exactly 30 chars
    assert(r === List((1L, 1L, 30L), (2L, 1L, 30L), (3L, 0L, 0L)))
  }

  test("dedupSpans splits islands when the gap exceeds k") {
    // two shared 20-char passages separated by >20 distinct chars on
    // each side — must come out as TWO spans of 20 chars each
    val p1 = "aaaaaaaaaabbbbbbbbbb" // 20 chars
    val p2 = "ccccccccccdddddddddd" // 20 chars
    val d = docsDf(
      1L -> s"${p1}_markerone_is_long_enough_x$p2",
      2L -> s"${p1}~markertwo~entirely~other~y$p2")
    val r = CorpusOps.dedupSpans(d, k = 20)
      .where(col("doc_id") === 1L).collect()
    assert(r.head.getLong(1) === 2L) // n_spans
    assert(r.head.getLong(2) === 40L) // dup_chars
  }

  test("dedupSpans counts cross-doc duplication only") {
    // a passage repeated TWICE within one doc but nowhere else must
    // not count (df is distinct doc_ids, not occurrences)
    val p = "zzzzzzzzzzyyyyyyyyyy"
    val d = docsDf(
      1L -> s"$p-some-filler-in-between-$p",
      2L -> "no shared content here at all whatsoever okay")
    val r = CorpusOps.dedupSpans(d, k = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(r === Map(1L -> 0L, 2L -> 0L))
  }

  test("dedupSpans dup_frac is the covered fraction") {
    val shared = "0123456789012345678901234" // 25 chars
    val d = docsDf(1L -> shared, 2L -> (shared + shared)) // 25 / 50
    val r = CorpusOps.dedupSpans(d, k = 20).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(r(1L) === 1.0)
    assert(r(2L) === 1.0) // grams tile the doubled text end to end
  }

  test("bpePairs counts adjacent pairs with deterministic tie order") {
    val d = Seq(
      1L -> "a b a b c",
      2L -> "a b x",
      3L -> "single").toDF("doc_id", "text")
    val r = CorpusOps.bpePairs(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toList
    // "a b" appears 3x (twice in doc1, once in doc2); then ties at 1
    // resolve lexicographically
    assert(r.head === ("a b", 3L, 1))
    assert(r.map(_._1) === r.map(_._1).distinct)
    val ones = r.filter(_._2 == 1L).map(_._1)
    assert(ones === ones.sorted)
    assert(ones.toSet === Set("b a", "b c", "b x"))
    // ranks are dense 1..n in output order
    assert(r.map(_._3) === (1 to r.length).toList)
  }

  test("bpePairs survives single-token and empty-ish docs") {
    val d = Seq(1L -> "only", 2L -> "", 3L -> "x y").toDF("doc_id", "text")
    val r = CorpusOps.bpePairs(d).collect()
    assert(r.map(_.getString(0)).toList === List("x y"))
  }

  test("collapseRepeats drops immediate repeats only, runs collapse to one") {
    val d = Seq(
      1L -> "aaa aaa bbb aaa", // adjacent dup drops; non-adjacent stays
      2L -> "x x x y",         // run of 3 -> one survivor
      3L -> "no repeats here").toDF("doc_id", "text")
    val r = CorpusOps.collapseRepeats(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r(0) === ((1L, 4L, 3L, fp("aaa bbb aaa"))))
    assert(r(1) === ((2L, 4L, 2L, fp("x y"))))
    assert(r(2) === ((3L, 3L, 3L, fp("no repeats here"))))
  }

  test("tokenBudgetSelect equals the row-greedy rule, boundary ties included") {
    // lengths engineered so the budget lands MID-GROUP: docs of length
    // 10 (x6, ids 1..6), budget 45 -> 4 full fit, boundary takes
    // floor(45/10)=4 -> ids 1..4 selected; length-5 docs never reached
    val docs = ((1L to 6L).map(i => (i, "en", 10L)) ++
      Seq((7L, "de", 5L), (8L, "de", 5L)))
      .toDF("doc_id", "lang", "n_chars")
    val r = CorpusOps.tokenBudgetSelect(docs, budget = 45L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(r === List(("en", 4L, 40L)))
  }

  test("tokenBudgetSelect matches a brute-force greedy on random corpora") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val docs = (1L to 200L).map(i =>
        (i, if (rnd.nextBoolean()) "en" else "de", (rnd.nextInt(20) + 1).toLong))
      val budget = 400L + trial * 137L
      // brute: sort by (len desc, id), running sum <= budget
      val sel = docs.sortBy { case (id, _, n) => (-n, id) }
        .scanLeft((0L, Option.empty[(Long, String, Long)])) {
          case ((acc, _), d) => (acc + d._3, Some(d)) }
        .drop(1).takeWhile(_._1 <= budget).flatMap(_._2)
      val want = sel.groupBy(_._2).map { case (l, ds) =>
        (l, ds.size.toLong, ds.map(_._3).sum) }.toList.sortBy(_._1)
      val got = CorpusOps.tokenBudgetSelect(
        docs.toDF("doc_id", "lang", "n_chars"), budget).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
      assert(got === want, s"trial $trial budget $budget")
    }
  }

  test("dedupParagraphs keeps first occurrences and reassembly " +
      "fingerprints untouched docs exactly") {
    val out = CorpusOps.dedupParagraphs(
      Tables.load(spark, sf, "documents")).collect()
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == docs.size)
    out.foreach { r =>
      val (id, nParas, nRemoved) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val toks = docs(id).toLowerCase.split(" ", -1)
      assert(nParas == (toks.length + CorpusOps.ParaLen - 1) / CorpusOps.ParaLen,
        s"doc $id paragraph count")
      assert(nRemoved >= 0 && nRemoved <= nParas)
      assert(r.getDouble(3) ==
        BigDecimal(nRemoved.toDouble / nParas)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      // an untouched doc reassembles to its own (lowercased) text: the
      // space-join of consecutive 4-token windows IS the token stream
      if (nRemoved == 0) {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(docs(id).toLowerCase.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(r.getString(4) == md, s"doc $id reassembly fingerprint")
      }
    }
    // the fixture genuinely carries cross-doc paragraph duplication —
    // otherwise the operator is vacuous
    assert(out.map(_.getLong(2)).sum > 0, "no duplicated paragraphs found")
    // first-seen rule: the globally first paragraph occurrence of the
    // lowest doc_id is never removed, so doc 0 keeps paragraph 0 —
    // sanity via: if doc 0 has no duplicate-of-earlier paragraphs its
    // fingerprint was checked above; here just pin that SOME doc with
    // doc_id > 0 lost a paragraph to an earlier doc
    assert(out.exists(r => r.getLong(0) > 0 && r.getLong(2) > 0))
  }

  test("bpeVocab: counts are non-increasing and round 1 equals bpePairs") {
    val docs = Tables.load(spark, sf, "documents")
    val vocab = vocabOf(docs, CorpusOps.BpeMerges)
    assert(vocab.length == CorpusOps.BpeMerges)
    val cnts = vocab.map(_._4)
    // merging can only remove occurrences or create pairs whose count
    // is bounded by a pre-merge pair's count — the max is monotone
    assert(cnts == cnts.sortBy(-_), s"counts not non-increasing: $cnts")
    // round 1 IS bpePairs' top-1 (same counting, same tie-break)
    val top1 = CorpusOps.bpePairs(docs).head()
    assert(s"${vocab(0)._2} ${vocab(0)._3}" == top1.getString(0))
    assert(vocab(0)._4 == top1.getLong(1))
  }

  // the merge loop's vocabulary, with both of its frames freed
  private def vocabOf(docs: org.apache.spark.sql.DataFrame,
      merges: Int): Seq[(Int, String, String, Long)] = {
    val r = CorpusOps.bpeMergeLoop(docs, merges)
    r.seqs.unpersist()
    graft.engine.CacheRegistry.freeFrame(r.counts)
    r.vocab
  }

  test("bpeVocab applies merges greedily left-to-right (the replace rule)") {
    // "a a a" under merge (a,a): greedy non-overlap merges the FIRST
    // two, leaving [a·a, a] — so round 2's top pair is (a·a, a), which
    // pins that merges actually rewrite the sequences
    val tiny = Seq((0L, "a a a")).toDF("doc_id", "text")
    val v = vocabOf(tiny, merges = 2)
    assert(v(0)._2 == "a" && v(0)._3 == "a" && v(0)._4 == 2L)
    assert(v(1)._2 == "a\u0002a" && v(1)._3 == "a" && v(1)._4 == 1L)
  }

  test("hashed-gram lane: identical output to the text lane, and no " +
      "gram string crosses any exchange") {
    val docs = Tables.load(spark, sf, "documents")
    val textLane = CorpusOps.dedupSubstring(docs)
    val hashLane = CorpusOps.dedupSubstring(docs, hashedKey = true)
    // structural shuffle-width claim: in the hashed plan, every
    // exchange row is fixed-width — the gram text never ships. The
    // window exchange carries (doc_id, pos, gk: struct<long,long>)
    // = 24 bytes + framing per gram row, independent of gram length.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def flat(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => p.children
    }).flatMap(flat)
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      flat(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeLike => e }
    // the positional exchanges (the ones that carry a gram-position
    // row) are identified by the `pos` attribute: the gram window's
    // and the per-doc island window's. In the text lane the gram
    // window's carries the string key; in the hashed lane none of
    // them may carry ANY string.
    def positional(df: org.apache.spark.sql.DataFrame) =
      exchanges(df).filter(_.output.exists(_.name == "pos"))
    val isStr = (a: org.apache.spark.sql.catalyst.expressions.Attribute) =>
      a.dataType.isInstanceOf[org.apache.spark.sql.types.StringType]
    // walk BEFORE executing: once AQE runs, materialized exchanges
    // are replaced by query-stage leaves and disappear from the walk
    val textEx = positional(textLane)
    val hashEx = positional(hashLane)
    assert(textEx.exists(_.output.exists(isStr)),
      "sanity: the text lane's gram exchange should carry the string key")
    assert(hashEx.nonEmpty, "no positional exchange found in hashed lane")
    hashEx.foreach(e => assert(!e.output.exists(isStr),
      s"string column crosses a positional exchange: ${e.output}"))
    assert(hashLane.collect().toSeq == textLane.collect().toSeq,
      "hashed lane diverged from the text lane (hash collision or bug)")
  }

  test("hashed-spans lane: identical report to the text lane, and no " +
      "gram string crosses any exchange") {
    val docs = Tables.load(spark, sf, "documents")
    val textLane = CorpusOps.dedupSpans(docs)
    val hashLane = CorpusOps.dedupSpans(docs, hashedKey = true)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def flat(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => p.children
    }).flatMap(flat)
    def positional(df: org.apache.spark.sql.DataFrame) =
      flat(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeLike => e }
        .filter(_.output.exists(_.name == "pos"))
    val isStr = (a: org.apache.spark.sql.catalyst.expressions.Attribute) =>
      a.dataType.isInstanceOf[org.apache.spark.sql.types.StringType]
    assert(positional(textLane).exists(_.output.exists(isStr)),
      "sanity: the text lane's gram exchange should carry the string key")
    val hashEx = positional(hashLane)
    assert(hashEx.nonEmpty, "no positional exchange found in hashed lane")
    hashEx.foreach(e => assert(!e.output.exists(isStr),
      s"string column crosses a positional exchange: ${e.output}"))
    assert(hashLane.collect().toSeq == textLane.collect().toSeq,
      "hashed lane diverged from the text lane (hash collision or bug)")
  }

  test("bpe merges back-to-back occurrences in one round " +
      "(per-token wrap: no shared boundary to consume)") {
    // "x y x y": both (x,y) occurrences must merge in round 1 — the
    // single-separator encoding used to consume the shared boundary
    // and merge only the first
    val tiny = Seq((0L, "x y x y")).toDF("doc_id", "text")
    val r = CorpusOps.bpeMergeLoop(tiny, merges = 1)
    assert(r.vocab.head == ((1, "x", "y", 2L)))
    val s = r.seqs.select("s").as[String].head()
    assert(s.count(_ == '\u0002') == 2, s"under-merged: ${s.length} chars")
    r.seqs.unpersist()
  }

  test("delta-counted pair table equals a full recount after every round") {
    val docs = Tables.load(spark, sf, "documents")
    (1 to 4).foreach { m =>
      val r = CorpusOps.bpeMergeLoop(docs, merges = m)
      val delta = r.counts.as[(String, String, Long)].collect().toSet
      val recount = CorpusOps.pairCounts(r.seqs)
        .as[(String, String, Long)].collect().toSet
      assert(delta == recount, s"delta drifted from recount at round $m")
      r.seqs.unpersist()
    }
  }

  test("batched BPE with batch=1 IS the canonical greedy loop") {
    val docs = Tables.load(spark, sf, "documents")
    val seqr = CorpusOps.bpeMergeLoop(docs, merges = 6)
    val batr = CorpusOps.bpeMergeLoopBatched(docs, merges = 6, batch = 1)
    assert(batr.vocab == seqr.vocab,
      "batch=1 vocab diverged from the sequential loop")
    val a = seqr.seqs.orderBy("doc_id").as[(Long, String)].collect().toSeq
    val b = batr.seqs.orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(a == b, "batch=1 sequences diverged")
    seqr.seqs.unpersist(); batr.seqs.unpersist()
  }

  test("batched BPE rounds: token-disjoint picks, exact count table " +
      "(delta == recount), and full merge quota delivered") {
    val docs = Tables.load(spark, sf, "documents")
    val rounds =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val r = CorpusOps.bpeMergeLoopBatched(docs, merges = 12, batch = 4,
      (round, n, _) => rounds += ((round, n)))
    assert(r.vocab.size == 12, "merge quota not delivered")
    assert(rounds.map(_._2).sum == 12)
    // within-round picks never share a token (the non-overlap rule)
    var off = 0
    for ((_, n) <- rounds) {
      val picks = r.vocab.slice(off, off + n)
      // a pick may be a self-pair (a,a); disjointness is CROSS-pick
      val toksets = picks.map(v => Set(v._2, v._3))
      for (i <- toksets.indices; j <- 0 until i)
        assert((toksets(i) & toksets(j)).isEmpty,
          s"overlapping tokens across picks in one batched round: $picks")
      off += n
    }
    // exactness survives batching: the running count table equals a
    // full recount of the final sequences
    val delta = r.counts.as[(String, String, Long)].collect().toSet
    val recount = CorpusOps.pairCounts(r.seqs)
      .as[(String, String, Long)].collect().toSet
    assert(delta == recount, "batched delta drifted from recount")
    r.seqs.unpersist()
  }

  test("dedupSubstring rewrite matches a driver-side replay of the " +
      "first-occurrence removal rule") {
    val k = CorpusOps.GramLen
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    // corpus-first occurrence per duplicated (>= 2 distinct docs) gram
    val occs = for {
      (id, text) <- docs.toSeq
      p <- 0 to text.length - k
    } yield (text.substring(p, p + k), id, p)
    val byGram = occs.groupBy(_._1)
    val removed = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.BitSet]
    for ((_, os) <- byGram if os.map(_._2).distinct.size >= 2;
         (_, id, p) <- os.sortBy(o => (o._2, o._3)).tail) {
      val bs = removed.getOrElseUpdate(id, scala.collection.mutable.BitSet())
      (p until p + k).foreach(bs.add)
    }
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val got = CorpusOps
      .dedupSubstring(Tables.load(spark, sf, "documents")).collect()
    assert(got.length == docs.length)
    got.foreach { r =>
      val id = r.getLong(0)
      val text = docs.find(_._1 == id).get._2
      val bs = removed.getOrElse(id, scala.collection.mutable.BitSet())
      assert(r.getLong(2) == bs.size.toLong, s"doc $id n_removed")
      val kept = text.zipWithIndex.collect {
        case (c, i) if !bs(i) => c }.mkString
      val md = java.security.MessageDigest.getInstance("MD5")
      assert(r.getString(4) == hex(md.digest(
        kept.getBytes("UTF-8"))), s"doc $id rewrite fingerprint")
    }
    // the operator actually removes something on the fixture
    assert(got.exists(_.getLong(2) > 0L), "nothing removed — inert test")
  }

  test("dedupSpans plan: no shuffle wider than the gram stages") {
    // the gate pins counts via e_plan_audit for other queries; here we
    // just assert the span pipeline stays at 4 exchanges (gram agg,
    // semi-join, per-doc window, final left join) — a regression that
    // adds a global sort or an extra join side would show up
    val d = Tables.load(spark, sf, "documents")
    val plan = CorpusOps.dedupSpans(d).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 6, s"unexpected exchange count:\n$plan")
  }

  test("synthesized HTML carries real boilerplate and extraction " +
      "round-trips the document text exactly") {
    val docs = Tables.load(spark, sf, "documents").limit(50)
    val staged = docs.select(col("doc_id"), col("text"),
      CorpusOps.synthHtml(col("text"), col("doc_id")).as("html"))
    val rows = staged.select(col("text"), col("html"),
        CorpusOps.htmlExtract(col("html")).as("extracted"))
      .as[(String, String, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (text, html, extracted) =>
      // the page is a real page: every boilerplate class is present
      assert(html.contains("<script") && html.contains("</script>"))
      assert(html.contains("<style") && html.contains("<nav>") &&
        html.contains("<footer>") && html.contains("&copy;"))
      assert(html.contains("<p class=\"t\">"))
      // and extraction drops ALL of it, recovering the text verbatim
      assert(extracted == text,
        s"round-trip failed:\n  text: $text\n  extracted: $extracted")
    }
  }

  test("the extractor handles messy HTML it did not synthesize") {
    val messy = Seq(
      // attributes, self-closing tags, multi-line script with tags in
      // a string literal guarded by the non-greedy block match
      ("""<html><body><script src="x.js"></script>
        |<script>var s = 1; if (s < 2) { go(); }</script>
        |<p id="a" data-x="1">hello <b>bold</b> world</p>
        |<br/><img src="i.png"/>
        |<style media="all">p > b { color: red; }</style>
        |<nav class="top"><ul><li>x</li></ul></nav>
        |<p>second   para</p>
        |<footer id="f"><span>fine print</span></footer>
        |</body></html>""".stripMargin,
        "hello bold world second para"),
      // no boilerplate at all — plain tags strip, whitespace collapses
      ("<div>a<span>b</span> c</div>", "a b c"),
      // empty body
      ("<html><body></body></html>", ""))
    import spark.implicits._
    val got = messy.map(_._1).toDF("html")
      .select(CorpusOps.htmlExtract(col("html"))).as[String].collect().toSeq
    assert(got == messy.map(_._2),
      s"messy extraction diverged: $got")
  }
}
