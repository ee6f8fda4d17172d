package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.TimestampType

import graft.engine.{CacheRegistry, SqlTemplates}

/** The fixture loader reads each table's schema once per (dir,
  * inference settings): a later load runs no inference job and reads
  * the same rows as a plain `spark.read.parquet`; templates register
  * only the views their SQL text names.
  */
class TablesSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  private def plain(dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("a second load of each table runs no Spark job") {
    CacheRegistry.evictAll()
    Tables.names.foreach { n =>
      assert(jobsOf(Tables.load(spark, sf, n)) >= 1, s"$n: first load inferred nothing")
      assert(jobsOf(Tables.load(spark, sf, n)) == 0, s"$n: second load re-inferred")
    }
  }

  test("memoized schemas and rows equal a plain parquet read") {
    for (dir <- Seq(sf, sf01); n <- Tables.names) {
      val raw = plain(dir, n)
      assert(Tables.schema(spark, dir, n) == raw.schema, s"$dir/$n")
      val expected = if (n == "events") Tables.normalizeTs(raw) else raw
      val got = Tables.load(spark, dir, n)
      assert(got.schema == expected.schema, s"$dir/$n")
      assert(sameRows(got, expected), s"$dir/$n: rows differ")
    }
    assert(Tables.load(spark, sf01, "events").schema("ts").dataType == TimestampType)
  }

  test("after evictAll the next load infers again, to the same answer") {
    val before = Tables.load(spark, sf, "lineitem")
    CacheRegistry.evictAll()
    var after: DataFrame = null
    assert(jobsOf { after = Tables.load(spark, sf, "lineitem") } >= 1)
    assert(after.schema == before.schema)
    assert(sameRows(after, before))
  }

  test("concurrent first loads of one table infer once") {
    CacheRegistry.evictAll()
    val go = new CountDownLatch(1)
    val n = jobsOf {
      val threads = (1 to 4).map(_ => new Thread(() => {
        go.await()
        Tables.load(spark, sf, "orders")
        ()
      }))
      threads.foreach(_.start())
      go.countDown()
      threads.foreach(_.join(60000))
    }
    assert(n == 1, s"$n inference jobs for one table")
  }

  test("a missing table raises the same error as a plain read") {
    withTempDir("graft_tables_spec") { dir =>
      val empty = dir.toString
      val want = intercept[AnalysisException](plain(empty, "customer")).getMessage
      val got = intercept[AnalysisException](Tables.load(spark, empty, "customer"))
      assert(got.getMessage == want)
      // a failed inference is not memoized
      intercept[AnalysisException](Tables.load(spark, empty, "customer"))
      val unknown = intercept[IllegalArgumentException](Tables.load(spark, sf, "nope"))
      assert(unknown.getMessage == "requirement failed: unknown table: nope")
    }
  }

  test("a SQL text names a table as a case-insensitive whole word") {
    assert(Tables.namedIn(
      "SELECT * FROM Customer c JOIN NATION n ON c.c_nationkey = n.n_nationkey")
      == Seq("nation", "customer"))
    assert(Tables.namedIn("SELECT * FROM b_orders JOIN lineitems") == Seq.empty)
  }

  test("templates on two dirs in one session each read their own dir") {
    def count(dir: String, table: String): Long =
      SqlTemplates.positional(spark, dir,
        s"SELECT count(*) FROM $table WHERE 1 = ?", Seq(1)).head().getLong(0)
    val (c01, o001, c001) =
      (count(sf01, "customer"), count(sf, "orders"), count(sf, "customer"))
    assert(c01 == plain(sf01, "customer").count())
    assert(o001 == plain(sf, "orders").count())
    assert(c001 == plain(sf, "customer").count())
    assert(c01 != c001, "the two dirs must differ for this check to mean anything")
  }
}
