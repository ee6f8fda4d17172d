package graft

import graft.engine.{QueryRegistry, SqlTemplates, Validate}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck properties (SURVEY §5.3): validator domain, pagination
  * invariants, dedup idempotence. Generators are sampled with fixed
  * seeds (no scalatest-scalacheck bridge in the offline cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[A](gen: Gen[A], n: Int = 40)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 40).foreach { i =>
      f(ga.pureApply(Gen.Parameters.default, Seed(i.toLong)),
        gb.pureApply(Gen.Parameters.default, Seed(1000L + i)))
    }

  private val validChars =
    Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('_', '.', ' ', '-'))

  test("validator accepts the alphanumeric domain") {
    forAll(Gen.nonEmptyListOf(validChars).map(_.mkString)) { s =>
      // valid chars are accepted unless they form a `--` comment
      assert(Validate.value(s).isRight == !s.contains("--"))
    }
  }

  test("validator rejects anything containing out-of-domain characters") {
    val invalid = Gen.oneOf(';', '\'', '"', '%', '(', ')', '=', '\n')
    forAll(Gen.nonEmptyListOf(validChars).map(_.mkString), invalid) { (s, c) =>
      assert(Validate.value(s + c).isLeft)
    }
  }

  test("pages partition the ordered relation for any page size") {
    forAll(Gen.choose(1, 40)) { perpage =>
      val pages = Iterator.from(1)
        .map(p => QueryRegistry.recordList(spark, sf, "nation", p, perpage,
          Seq("n_nationkey")).collect().map(_.getInt(0)).toSeq)
        .takeWhile(_.nonEmpty).toSeq
      assert(pages.flatten == (0 until 25))
      assert(pages.init.forall(_.size == perpage))
    }
  }

  test("exact dedup is idempotent for arbitrary duplicate patterns") {
    forAll(Gen.listOfN(12, Gen.choose(0, 4))) { picks =>
      val texts = picks.zipWithIndex.map { case (t, i) => (i.toLong, s"text $t") }
      val df = texts.toDF("doc_id", "text")
      val once = graft.operators.DedupOps.exactDedup(df)
      val twice = graft.operators.DedupOps.exactDedup(once)
      val a = once.select("doc_id").as[Long].collect().sorted.toSeq
      val b = twice.select("doc_id").as[Long].collect().sorted.toSeq
      assert(a == b)
      assert(a.size == picks.distinct.size)
    }
  }

  test("positional arity and named-var extraction match the reference rules") {
    assert(SqlTemplates.positionalArity("select * from t where a=? and b=?") == 2)
    assert(SqlTemplates.namedVars("select :x from t where a = :y and b = :x")
      == Seq("x", "y"))
  }

  test("named-var extraction skips casts, quoted text and comments") {
    val cases = Seq(
      "SELECT :id::string AS s" -> Seq("id"),
      "SELECT '12:30:00' AS t, :id AS i" -> Seq("id"),
      "SELECT \"a:b\" AS t, 'it\\'s :x' AS u, :id AS `c:d`" -> Seq("id"),
      "SELECT :id AS i -- :note\n/* :skip */ , :ok AS o" -> Seq("id", "ok"))
    for ((text, vars) <- cases) {
      assert(SqlTemplates.namedVars(text) == vars, text)
      val args: Map[String, Any] = vars.map(_ -> 7).toMap
      assert(spark.sql(text, args).collect().length == 1, text)
      assert(SqlTemplates.named(spark, sf, text, args).collect().length == 1, text)
    }
  }

  test("keyset pages tile the global sort for any page size") {
    val full = graft.Tables.load(spark, sf, "customer")
      .orderBy("c_acctbal", "c_custkey")
      .select("c_custkey").as[Long].collect().toSeq
    forAll(Gen.choose(17, 60), n = 3) { pp =>
      var after: Seq[(String, Any)] =
        Seq("c_acctbal" -> -1e9, "c_custkey" -> -1L)
      val walked = scala.collection.mutable.ArrayBuffer.empty[Long]
      var done = false
      while (!done) {
        val page = graft.engine.QueryRegistry
          .recordListAfterKeys(spark, sf, "customer", after, pp)
        val rows = page.select("c_custkey").as[Long].collect()
        walked ++= rows
        graft.engine.QueryRegistry
          .nextPageCursor(page, Seq("c_acctbal", "c_custkey")) match {
          case Some(c) if rows.nonEmpty => after = c
          case _ => done = true
        }
      }
      assert(walked.toSeq == full,
        s"perpage=$pp keyset walk diverged from the global sort")
    }
  }

  test("z-order interleave is a bijection on (a, b) pairs") {
    // distinct (a,b) must map to distinct z — the layout key loses no
    // information, so sorting by it is a total multi-dim clustering
    import org.apache.spark.sql.functions.col
    forAll(Gen.listOfN(24, Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L))),
        n = 10) { pairs =>
      val distinctPairs = pairs.distinct
      val zs = distinctPairs.toDF("a", "b")
        .select(graft.sources.ZOrder.interleave(col("a"), col("b"), 8).as("z"))
        .as[Long].collect().toSeq
      assert(zs.distinct.size == distinctPairs.size,
        s"collision: ${distinctPairs.size} pairs -> ${zs.distinct.size} keys")
      assert(zs.forall(z => z >= 0L && z < (1L << 16)))
    }
  }

  test("chunking covers every token: stride tiles, overlap bounded") {
    import org.apache.spark.sql.functions.col
    // chunk lengths per doc must sum to n + overlap*(chunks-1) for
    // stride 48 / window 64 (each boundary re-covers exactly 16 tokens,
    // except a final chunk shorter than the overlap)
    forAll(Gen.choose(1, 300), n = 8) { nTok =>
      val text = (1 to nTok).map(i => s"w$i").mkString(" ")
      val rows = graft.operators.PrepOps.chunkDocs(
          Seq((1L, text)).toDF("doc_id", "text"))
        .orderBy("chunk_idx")
        .select(col("n_chunk_tokens")).as[Long].collect().toSeq
      assert(rows.size == ((nTok - 1) / 48) + 1,
        s"nTok=$nTok expected ${((nTok - 1) / 48) + 1} chunks, got ${rows.size}")
      val covered = rows.zipWithIndex.map { case (len, i) => (48 * i, 48 * i + len) }
      assert(covered.head._1 == 0 && covered.last._2 == nTok,
        s"chunks must span [0,$nTok): $covered")
      covered.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(s2 <= e1, "no coverage gap")
        case _ =>
      }
    }
  }

  test("TopKAggregator: any partition of the input merges to sorted top-k") {
    // the property partial aggregation needs: reduce-then-merge over an
    // ARBITRARY partitioning equals sorting the whole input — so the
    // distributed result cannot depend on row placement or order
    import graft.functions.{Scored, TopK}
    val rowGen = for {
      s <- Gen.choose(0, 9)  // narrow range forces score ties
      id <- Gen.choose(0L, 50L)
    } yield Scored(s.toDouble, id)
    val caseGen = for {
      rows <- Gen.listOf(rowGen)
      k <- Gen.choose(1, 5)
      cut <- Gen.choose(0, math.max(rows.size, 1))
    } yield (rows, k, cut)
    forAll(caseGen, n = 80) { case (rows, k, cut) =>
      val agg = TopK.aggregator(k)
      val (l, r) = rows.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      val expect = rows.distinct
        .sortBy(x => (-x.score, x.id)).take(k)
      // duplicates: sortWith keeps stable multiset semantics, compare
      // against the multiset-sorted reference
      val expectMulti = rows.sortBy(x => (-x.score, x.id)).take(k)
      assert(agg.finish(merged) == expectMulti,
        s"k=$k cut=$cut rows=$rows expect=$expectMulti got=${agg.finish(merged)}; distinct-ref=$expect")
    }
  }

  test("QuotaMinKAggregator: partition-invariant min-quota per group") {
    import graft.functions.{Hashed, QuotaMinK}
    val caseGen = for {
      quota <- Gen.choose(0, 5)
      rows <- Gen.listOf(for {
        h <- Gen.choose(0L, 20L)   // collisions force the id tie-break
        id <- Gen.choose(0L, 50L)
      } yield Hashed(h, id, quota))
      cut <- Gen.choose(0, math.max(rows.size, 1))
    } yield (rows, cut)
    forAll(caseGen, n = 80) { case (rows, cut) =>
      val agg = QuotaMinK.aggregator
      val (l, r) = rows.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      val quota = rows.headOption.map(_.quota).getOrElse(0)
      val expect = rows.sortBy(x => (x.h, x.id)).take(quota)
      assert(agg.finish(merged) == expect,
        s"cut=$cut rows=$rows expect=$expect got=${agg.finish(merged)}")
    }
  }

  test("BoundedSorted.insert degrades to a capped buffer on invariant violation") {
    // Callers keep buf.length <= cap; if a mixed-quota group ever broke
    // that, insert must cap the buffer (old take(cap) behavior), not
    // index past the output array.
    import graft.functions.{Hashed, QuotaMinK}
    val agg = QuotaMinK.aggregator
    val oversized = (0L until 10L).map(i => Hashed(i, i, 10))
    // a row claiming quota=3 arrives into a 10-element buffer
    val winner = agg.reduce(oversized, Hashed(-1L, 99L, 3))
    assert(winner == Hashed(-1L, 99L, 3) +: oversized.take(2))
    val loser = agg.reduce(oversized, Hashed(100L, 99L, 3))
    assert(loser == oversized.take(3))
  }

  test("letter_counts interpreted eval equals the reference on arbitrary text") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val charGen = Gen.frequency(
      (5, Gen.alphaChar), (2, Gen.choose(' ', '~')),
      (1, Gen.choose(0x80.toChar, 0x2fff.toChar)))
    forAll(Gen.listOf(charGen).map(_.mkString), n = 60) { s =>
      val got = graft.functions.LetterCounts(
          Literal(UTF8String.fromString(s), StringType))
        .eval(null).asInstanceOf[ArrayData].toLongArray.toSeq
      assert(got == graft.functions.LetterCounts.reference(s),
        s"mismatch for ${s.take(40)}")
      assert(got.sum <= s.length)
    }
  }
}
