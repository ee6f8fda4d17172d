package graft

import java.net.{HttpURLConnection, URI}
import scala.io.Source

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
}
