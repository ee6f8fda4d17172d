package graft

import java.net.{HttpURLConnection, URI}
import scala.io.Source

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.engine.{ConfigBoot, HttpGateway, Namespaces, Router}
import graft.operators.ReferenceOps

/** K5 over the wire: the CORS gateKeeper, the byte-exact response
  * envelopes, and the API catalog, all through a REAL loopback HTTP
  * round-trip against the config-booted namespace.
  */
class HttpGatewaySpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private lazy val ns = ConfigBoot.boot(ReferenceOps.FixtureConfig)
  private lazy val gw = HttpGateway.start(ns, spark, sf)

  override def afterAll(): Unit = {
    try gw.stop() finally super.afterAll()
  }

  private def http(path: String, method: String = "GET")
      : (Int, Map[String, String], String) = {
    val conn = new URI(gw.baseUrl + path).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    val code = conn.getResponseCode
    // the JDK HttpServer normalizes response header-name case;
    // header names are case-insensitive per RFC 9110 — key lowercased
    val headers = {
      import scala.jdk.CollectionConverters._
      conn.getHeaderFields.asScala.collect {
        case (k, v) if k != null =>
          k.toLowerCase(java.util.Locale.ROOT) -> v.asScala.mkString(",")
      }.toMap
    }
    val stream = Option(
      if (code >= 400) conn.getErrorStream else conn.getInputStream)
    val body = stream.map { s =>
      try Source.fromInputStream(s, "UTF-8").mkString finally s.close()
    }.getOrElse("")
    conn.disconnect()
    (code, headers, body)
  }

  private val CorsHeaders = Map(
    "access-control-allow-origin" -> "*",
    "access-control-allow-methods" -> "GET,PUT,POST,DELETE,OPTIONS",
    "access-control-allow-headers" ->
      "Content-Type, Authorization, Content-Length, X-Requested-With")

  test("OPTIONS preflight short-circuits to 200 with the reference's " +
      "exact CORS headers, on any path") {
    for (path <- Seq("/", "/q/billing/regions", "/no/such/route")) {
      val (code, headers, _) = http(path, "OPTIONS")
      assert(code == 200, s"preflight on $path")
      CorsHeaders.foreach { case (k, v) =>
        assert(headers.get(k).contains(v),
          s"preflight header $k on $path: got ${headers.get(k)}")
      }
    }
  }

  test("every response carries the CORS headers — success, error, " +
      "and catalog alike (gateKeeper runs before routing)") {
    for (path <- Seq("/", "/q/billing/regions", "/q/nope/x")) {
      val (_, headers, _) = http(path)
      CorsHeaders.foreach { case (k, v) =>
        assert(headers.get(k).contains(v), s"missing $k on GET $path")
      }
    }
  }

  test("success envelope is byte-shaped {\"results\":[…],\"ok\":true} " +
      "and the rows equal the in-process dispatch") {
    val (code, _, body) = http("/q/billing/regions")
    assert(code == 200)
    assert(body.startsWith("""{"results":["""), body.take(40))
    assert(body.endsWith("""],"ok":true}"""), body.takeRight(40))
    val direct = Router.dispatch(ns, "/q/billing/regions")(spark, sf)
      .fold(e => fail(e), identity).toJSON.collect()
    assert(body ==
      s"""{"results":[${direct.mkString(",")}],"ok":true}""",
      "wire rows diverged from Router.dispatch")
  }

  test("template route binds positional args and $vars from the " +
      "query string, equal to the in-process twin") {
    val (code, _, body) = http("/q/billing/orders_big/F?minp=400000.0")
    assert(code == 200)
    val direct = Router.dispatch(ns, "/q/billing/orders_big/F",
        Map("minp" -> "400000.0"))(spark, sf)
      .fold(e => fail(e), identity).toJSON.collect()
    assert(body == s"""{"results":[${direct.mkString(",")}],"ok":true}""")
  }

  test("error envelopes byte-match the reference's sendError shape") {
    assert(http("/q/nope/x")._3 ==
      """{"ok":false,"error":"Database not found."}""")
    assert(http("/q/billing/zzz")._3 ==
      """{"ok":false,"error":"Query \"zzz\" not found."}""")
    assert(http("/what/ever/else")._3 ==
      """{"ok":false,"error":"Route not found."}""")
    // examiner gate errors ride the same envelope over the wire; the
    // $var gate runs before the positional check (the reference's
    // handler order, index.js:283-299)
    val (_, _, noVar) = http("/q/billing/orders_big")
    assert(noVar ==
      "{\"ok\":false,\"error\":\"Parameter \\\"minp\\\" is required!\\n\"}",
      s"qvar error envelope: $noVar")
    val (_, _, missing) = http("/q/billing/orders_big?minp=400000.0")
    assert(missing == """{"ok":false,"error":"Missing parameter: p1"}""",
      s"positional error envelope: $missing")
  }

  test("the API catalog is served over the wire: every mounted route, " +
      "query routes carrying their analyzed field lists") {
    val (code, _, body) = http("/")
    assert(code == 200)
    assert(body.contains(
      """{"path":"/q/billing/regions","dataType":{"fields":"r_regionkey:int,r_name:string"}}"""),
      s"regions route entry missing/wrong in: ${body.take(400)}")
    assert(body.contains(""""path":"/q/billing/orders_big""""))
    // legacy bare-name mounts appear too (index.js route pair)
    assert(body.contains(""""path":"/query/regions""""))
  }

  test("the catalog is built once: repeated GET / serves the memoized " +
      "bytes with zero new plan analyses (boot-time queryInfo parity)") {
    val (_, _, first) = http("/")
    val buildsAfterFirst = gw.catalogBuilds
    assert(buildsAfterFirst == 1, s"builds after first GET /: expected 1")
    val (_, _, second) = http("/")
    val (_, _, third) = http("/")
    assert(gw.catalogBuilds == buildsAfterFirst,
      s"later GET / rebuilt the catalog: ${gw.catalogBuilds}")
    assert(second == first && third == first,
      "memoized catalog must be byte-identical across requests")
  }

  test("an unbounded query result is clamped to the registry's [1,1000] " +
      "page bound at the transport — no full-scan driver materialization") {
    // 2,500-row result: over the clamp, under a second of work
    ns.register("billing", graft.engine.NamedQuery("wide_open",
      (s, _) => s.range(2500L).selectExpr("id AS k"), None))
    val (code, _, body) = http("/q/billing/wide_open")
    assert(code == 200)
    assert(body.endsWith("""],"ok":true}"""), body.takeRight(40))
    val n = body.sliding("""{"k":""".length).count(_ == """{"k":""")
    assert(n == HttpGateway.MaxResultRows,
      s"expected exactly ${HttpGateway.MaxResultRows} clamped rows, got $n")
    // the clamp keeps the PREFIX (take, not sample): first and last rows
    assert(body.contains("""{"k":0}""") && body.contains("""{"k":999}"""))
    assert(!body.contains("""{"k":1000}"""), "clamp exceeded")
  }

  test("a query mounted AFTER the first GET / appears in the next " +
      "catalog (generation-keyed memo, not a boot-frozen snapshot)") {
    val (_, _, before) = http("/")
    val buildsBefore = gw.catalogBuilds
    ns.register("billing", graft.engine.NamedQuery("late_mounted",
      (s, d) => ReferenceOps.queries("r_scan_all")(s, d), None))
    val (_, _, after) = http("/")
    assert(after.contains("/q/billing/late_mounted"),
      s"late-mounted route missing from refreshed catalog: $after")
    assert(!before.contains("late_mounted"), "test setup: route preexisted")
    assert(gw.catalogBuilds == buildsBefore + 1,
      "exactly one rebuild after one registration")
    // and the refreshed catalog memoizes again
    val (_, _, again) = http("/")
    assert(again == after && gw.catalogBuilds == buildsBefore + 1)
  }

  test("back-to-back requests on a kept-alive connection are not held " +
      "for the client's delayed ACK (Nagle's algorithm off)") {
    // a memoized catalog hit is ~1 ms of work; with Nagle's algorithm on,
    // its body waited for the ACK of its headers, 40 ms or more
    (1 to 5).foreach(_ => http("/"))
    val ms = (1 to 21).map { _ =>
      val t0 = System.nanoTime()
      http("/")
      (System.nanoTime() - t0) / 1e6
    }.sorted
    assert(ms(10) < 20.0, s"median catalog hit ${ms(10)} ms: ${ms.mkString(",")}")
  }

  /** The gateway's rendering before it planned the clamp inside the query. */
  private def takeRows(df: DataFrame): Seq[String] =
    df.toJSON.take(HttpGateway.MaxResultRows).toSeq

  private def sameRendering(what: String, df: DataFrame): Unit =
    assert(HttpGateway.resultRows(df).toSeq == takeRows(df), what)

  test("resultRows renders every fixture table's rows byte-identically " +
      "to toJSON.take") {
    Tables.registerViews(spark, sf)
    Tables.names.foreach(n => sameRendering(n, spark.sql(s"SELECT * FROM $n")))
  }

  test("resultRows renders nulls, nested types, duplicate and odd " +
      "names, control characters and an empty result byte-identically") {
    import spark.implicits._
    sameRendering("every atomic type", spark.sql(
      """SELECT true AS bo, CAST(1 AS TINYINT) AS by, CAST(2 AS SMALLINT) AS sh,
        |3 AS i, 4L AS l, CAST('NaN' AS FLOAT) AS f, CAST('-Infinity' AS DOUBLE) AS d,
        |1.5E-7D AS e, CAST(12.345 AS DECIMAL(38, 18)) AS dec, 'x' AS s,
        |X'00FF' AS bin, DATE'2020-02-29' AS dt,
        |TIMESTAMP'2020-02-29 12:34:56.789012' AS ts,
        |TIMESTAMP_NTZ'2020-02-29 12:34:56.7' AS ntz""".stripMargin))
    sameRendering("nulls", spark.sql(
      """SELECT CAST(NULL AS INT) AS a, 'x' AS b, CAST(NULL AS STRING) AS c,
        |array(1, NULL) AS arr, map('k', NULL) AS m,
        |named_struct('p', NULL, 'q', 1) AS st,
        |CAST(NULL AS STRUCT<p: INT>) AS nst""".stripMargin))
    sameRendering("nested arrays, maps and structs", spark.sql(
      """SELECT array(array(1, 2), array()) AS aa,
        |array(named_struct('k', 1, 'v', array('a'))) AS ast,
        |map('a', array(1.5D), 'b', array()) AS ma,
        |map(1, map('x', named_struct('y', true))) AS mm,
        |named_struct('m', map('k', 2), 'a', array(named_struct('z', 'w'))) AS sm
        |""".stripMargin))
    Tables.registerViews(spark, sf)
    sameRendering("duplicate column names", spark.sql(
      "SELECT * FROM region a JOIN region b ON a.r_regionkey = b.r_regionkey"))
    sameRendering("odd names", spark.range(2).select(col("id").as("a.b"),
      lit("t").as("x`y"), lit(3).as(""), col("id").as(" \"q\"")))
    sameRendering("control characters",
      Seq("a\u0000b\t\n\r\u001f\"\\\u007f\u2028é/").toDF("s\u0001"))
    val empty = spark.range(0).toDF("id")
    assert(HttpGateway.resultRows(empty).isEmpty)
    sameRendering("an empty result", empty)
  }

  test("resultRows renders single-field ANSI intervals and struct-keyed " +
      "maps differently from toJSON.take (no declared query returns either)") {
    def both(sql: String) = {
      val df = spark.sql(sql)
      (HttpGateway.resultRows(df).toSeq, takeRows(df))
    }
    // toJSON's row encoder widens the interval to its type's full range
    assert(both("SELECT INTERVAL '1' DAY AS i") == (
      Seq("""{"i":"INTERVAL '1' DAY"}"""),
      Seq("""{"i":"INTERVAL '1 00:00:00' DAY TO SECOND"}""")))
    assert(both("SELECT INTERVAL '1' YEAR AS i") == (
      Seq("""{"i":"INTERVAL '1' YEAR"}"""),
      Seq("""{"i":"INTERVAL '1-0' YEAR TO MONTH"}""")))
    // a struct map key is written as its row's string form in both
    assert(both("SELECT map(named_struct('a', 0, 'b', 1), 2) AS m") == (
      Seq("""{"m":{"[0,1]":2}}"""),
      Seq("""{"m":{"[0,0,1]":2}}""")))
  }

  test("the clamp is planned inside the query: a sorted route without " +
      "LIMIT runs one top-N job, a join + GROUP BY + ORDER BY route three") {
    val routes = ConfigBoot.boot(
      """{"databases": [{"name": "jobs", "type": "spark", "queries": {
        |  "lines_by_order": "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey = ? ORDER BY l_linenumber",
        |  "segment_nation": "SELECT c.c_mktsegment, n.n_name, count(*) AS n_cust, max(c.c_acctbal) AS max_bal FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE c.c_mktsegment = ? GROUP BY c.c_mktsegment, n.n_name ORDER BY n.n_name"
        |}}]}""".stripMargin)
    // a request's query work, run on this thread so `jobsOf` can tag
    // its jobs (the gateway's worker threads do not carry the tag)
    def request(path: String): Seq[String] = HttpGateway.resultRows(
      Router.dispatch(routes, path)(spark, sf).fold(e => fail(e), identity)).toSeq
    // the first request of each route also reads the tables' schemas
    request("/q/jobs/lines_by_order/1")
    request("/q/jobs/segment_nation/BUILDING")
    for (key <- Seq(3, 7)) {
      var rows = Seq.empty[String]
      assert(jobsOf { rows = request(s"/q/jobs/lines_by_order/$key") } == 1,
        s"lines_by_order/$key")
      assert(rows.nonEmpty, s"lines_by_order/$key returned no rows")
    }
    for (seg <- Seq("AUTOMOBILE", "MACHINERY")) {
      var rows = Seq.empty[String]
      assert(jobsOf { rows = request(s"/q/jobs/segment_nation/$seg") } == 3,
        s"segment_nation/$seg")
      assert(rows.nonEmpty, s"segment_nation/$seg returned no rows")
    }
  }
}
