package graft.sources

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback HTTP server serving the deterministic REST fixture as JSON
  * pages — the "remote service" half of the external-service federation
  * story (reference A4: `/root/reference/index.js:327-366`,
  * `config.json:41-53`). The sandbox has no internet egress, but HTTP
  * federation doesn't need the public internet to be real: this binds
  * `127.0.0.1:<ephemeral>` and [[RestLikeSource]]'s `baseUrl` mode /
  * [[ExternalJson.fetch]] talk to it with a genuine HTTP client, so the
  * full network path — URL construction from pushed filters, parallel
  * per-partition page fetches on executors, JSON parse — is executed
  * and asserted, not simulated. Against a real remote, only the host in
  * `baseUrl` changes.
  *
  * Endpoints (id space is unbounded; the CLIENT plans which pages
  * exist, exactly as a REST consumer decides how far to page):
  *
  *  - `GET /items?page=N&pageSize=M[&min=A][&max=B]` → JSON array of
  *    `{"id":…,"name":…,"score":…}` for the page's ids intersected with
  *    `[A, B]` — min/max are the query-string form of the pushed id
  *    filters (`EqualTo` arrives as `min=v&max=v`).
  *  - `GET /items/count?min=A&max=B` →
  *    `{"count":B-A+1,"min":A,"max":B}` — the metadata call a complete
  *    aggregate pushdown issues instead of paging data.
  *
  * Every request's path+query is recorded in [[requests]] so tests can
  * assert what actually went over the wire (page pruning, filter
  * params, zero-fetch aggregates).
  */
final class HttpFixtureServer private (server: HttpServer,
    pool: java.util.concurrent.ExecutorService) {
  private val seen = new ConcurrentLinkedQueue[String]()

  /** All request URIs (path?query) served so far, in arrival order. */
  def requests: Seq[String] = {
    val b = Seq.newBuilder[String]
    seen.forEach(u => b += u)
    b.result()
  }

  def port: Int = server.getAddress.getPort
  def baseUrl: String = s"http://127.0.0.1:$port"

  def stop(): Unit = { server.stop(0); pool.shutdown() }

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").iterator
      .filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
      .toMap

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** A handler exception (e.g. NumberFormatException on a malformed
    * numeric param) would otherwise drop the exchange with no status
    * line at all — the one failure the JSON error envelope exists to
    * report. Convert to the 400 envelope instead.
    */
  private def guarded(h: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
    ex =>
      try h(ex)
      catch {
        case e: Exception =>
          try respond(ex, 400,
            s"""{"ok":false,"error":${'"'}${e.getClass.getSimpleName}${'"'}}""")
          catch { case _: Exception => () } // headers already sent
      }

  private def install(): Unit = {
    server.createContext("/items/count", guarded { ex =>
      seen.add(s"${ex.getRequestURI.getPath}?${Option(ex.getRequestURI.getRawQuery).getOrElse("")}")
      val p = params(ex)
      val a = p.get("min").map(_.toLong).getOrElse(0L)
      val b = p.get("max").map(_.toLong).getOrElse(-1L)
      // b < a guard, not max(0, b-a+1): a saturated empty interval
      // (min=MaxValue&max=MinValue) would wrap b-a+1 to 2
      respond(ex, 200,
        s"""{"count":${if (b < a) 0L else b - a + 1},"min":$a,"max":$b}""")
    })
    // The reference's externalServices example is a WorldBank
    // indicator feed (config.json:41-53: remote path `/{{ country }}/
    // indicators/<ind>?format=json&date={{ fromYear }}:{{ toYear }}`).
    // Deterministic analog: one row per year in the requested range,
    // value = sum(country UTF-8 codes)·100 + year%100 — pure
    // arithmetic, so a DuckDB oracle reconstructs the feed exactly.
    server.createContext("/countries", guarded { ex =>
      seen.add(s"${ex.getRequestURI.getPath}?${Option(ex.getRequestURI.getRawQuery).getOrElse("")}")
      val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
      val p = params(ex)
      (segs.lift(1), p.get("date").map(_.split(":"))) match {
        case (Some(country), Some(Array(fromY, toY))) =>
          val base = country.getBytes("UTF-8").map(_.toLong).sum * 100
          val rows = (fromY.toInt to toY.toInt).map(y =>
            s"""{"country":"$country","year":$y,"value":${base + y % 100}}""")
          respond(ex, 200, rows.mkString("[", ",", "]"))
        case _ =>
          respond(ex, 400, """{"ok":false,"error":"country and date=from:to are required"}""")
      }
    })
    server.createContext("/items", guarded { ex =>
      seen.add(s"${ex.getRequestURI.getPath}?${Option(ex.getRequestURI.getRawQuery).getOrElse("")}")
      val p = params(ex)
      (p.get("page").map(_.toLong), p.get("pageSize").map(_.toLong)) match {
        case (Some(page), Some(pageSize)) =>
          val lo = page * pageSize
          val hi = lo + pageSize - 1
          val a = math.max(lo, p.get("min").map(_.toLong).getOrElse(lo))
          val b = math.min(hi, p.get("max").map(_.toLong).getOrElse(hi))
          val rows = (a to b).iterator.map { id =>
            val (_, name, score) = RestLikeSource.record(id)
            // Double.toString is the shortest round-tripping repr, so
            // the JSON hop is bit-exact for the score double
            s"""{"id":$id,"name":"$name","score":$score}"""
          }
          respond(ex, 200, rows.mkString("[", ",", "]"))
        case _ => respond(ex, 400, """{"ok":false,"error":"page and pageSize are required"}""")
      }
    })
  }
}

object HttpFixtureServer {
  /** Bind 127.0.0.1 on an ephemeral port and start serving. */
  def start(): HttpFixtureServer = {
    val server = graft.Loopback.bind()
    val pool = Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    val s = new HttpFixtureServer(server, pool)
    s.install()
    server.start()
    s
  }
}
