package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.engine.{CacheRegistry, ConfigBoot, HttpGateway, Namespaces, Router}

/** The benchmark's in-process half. `run.py` stages the seeded inputs,
  * starts this main, and checks what it wrote:
  *
  *   perfbench.Main [setup] <workload> <data dir> <work dir> <seconds>
  *       <trace 0|1> <cores> [<config.json> <requests.json>]
  *
  * It drives the workload through the program's public entry points
  * and writes `<work dir>/result.json` (timings, responses, failures)
  * and, when traced, `<work dir>/trace.json` (spans and listener
  * events). With `setup` first it only sets the workload up in this
  * fresh JVM, records how long that took, and stops. `<cores>` is
  * Spark's task slots and the gateway's client threads.
  */
object Main {
  private val mapper = new ObjectMapper

  final case class Opts(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, cores: Int, config: String,
      requests: String)

  // Pipeline order. Left out to keep a run inside its time budget:
  // e_pipeline_warc (the WARC head of e_pipeline_full),
  // e_pipeline_full_neardup (~11 s of memo build in the cold pass; the
  // dedup layer still runs in e_domain_report), e_dedup_minhash (no
  // oracle), and the replays e_stream_quality_replay (a stateless gate),
  // e_stream_join_replay and e_stream_upsert_replay (state commits and
  // the start/drain/stop cost are measured by the two kept).
  val CorpusStages: Seq[String] = Seq("e_pipeline_crawl", "e_pipeline_full",
    "e_domain_report", "e_pipeline_frontier", "e_publish_roundtrip")
  val StreamStages: Seq[String] = Seq("e_stream_dedup_replay",
    "e_stream_session_replay")

  /** Seconds of warm work one warm pass stands for: a run makes
    * `seconds / PassSeconds` warm passes, at least one (two at the
    * benchmark's 10 s, so each stage's warm time is a best of two).
    */
  val PassSeconds = 5.0

  /** Once its results are written, the JVM ends without Spark's orderly
    * shutdown, which would only add seconds to every run; a failure
    * ends it with code 1, whatever threads are still alive.
    */
  def main(args: Array[String]): Unit = {
    try {
      if (args(0) == "setup") setupOnly(opts(args.tail)) else run(opts(args))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }
    Runtime.getRuntime.halt(0)
  }

  def opts(args: Array[String]): Opts =
    Opts(args(0), args(1), args(2), args(3).toDouble, args(4) == "1",
      args(5).toInt, args.lift(6).getOrElse(""), args.lift(7).getOrElse(""))

  /** Set the workload up as a run does and record the set-up time. */
  def setupOnly(o: Opts): Unit = {
    o.workload match {
      case "gateway_lookup" => setUpGateway(o)
      case "corpus_stream" => session(o)
      case w => sys.error(s"unknown workload: $w")
    }
    val result = new JMap[String, Any]()
    result.put("setup_s", Jvm.uptimeS)
    write(s"${o.work}/result.json", result)
  }

  def run(o: Opts): Unit = {
    val tr = new Tracer
    val result = new JMap[String, Any]()
    result.put("workload", o.workload)
    result.put("failures", new JList[JMap[String, Any]]())
    o.workload match {
      case "gateway_lookup" => new GatewayRun(o, tr, result).run()
      case "corpus_stream" => new BatchRun(o, tr, result).run()
      case w => sys.error(s"unknown workload: $w")
    }
    result.put("peak_rss_mb", Jvm.peakRssMb)
    write(s"${o.work}/result.json", result)
    if (o.trace) {
      val t = new JMap[String, Any]()
      t.put("workload", o.workload)
      t.put("spans", tr.spanList)
      t.put("events", tr.eventList)
      write(s"${o.work}/trace.json", t)
    }
  }

  def write(path: String, value: AnyRef): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(value))

  def readJson(path: String): JsonNode = mapper.readTree(Paths.get(path).toFile)

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The gateway's set-up: session, config boot, HTTP bind. */
  def setUpGateway(o: Opts): (SparkSession, HttpGateway, Namespaces) = {
    val spark = session(o)
    val ns = ConfigBoot.boot(Files.readString(Paths.get(o.config)))
    (spark, HttpGateway.start(ns, spark, o.data), ns)
  }

  /** CacheRegistry's eviction counter is package-private; its accessor
    * is public in bytecode, so it is read reflectively.
    */
  def memoEvictions: Long = scala.util.Try {
    val m = CacheRegistry.getClass.getMethod("evicted")
    m.invoke(CacheRegistry).asInstanceOf[java.util.concurrent.atomic.AtomicLong].get
  }.getOrElse(0L)

  def memoSnapshot(tr: Tracer, label: String): Unit =
    tr.event("memo", "at" -> label, "resident" -> CacheRegistry.resident,
      "resident_b" -> CacheRegistry.residentBytes, "evicted" -> memoEvictions)

  def jvmSnapshot(tr: Tracer, label: String): Unit =
    tr.event("jvm", "at" -> label, "gc_ms" -> Jvm.gcMs,
      "heap_peak_mb" -> Jvm.heapPeakMb)

  def fail(result: JMap[String, Any], op: String, e: Throwable): Unit = {
    val m = new JMap[String, Any]()
    m.put("op", op)
    m.put("error", String.valueOf(e.getMessage).take(500))
    val fs = result.get("failures").asInstanceOf[JList[JMap[String, Any]]]
    fs.synchronized(fs.add(m))
    System.err.println(s"[perfbench] $op failed: ${e.getMessage}")
  }

  def list[A](xs: Iterable[A]): JList[Any] = {
    val l = new JList[Any](); xs.foreach(l.add); l
  }
}

import Main._

/** `corpus_stream`: the corpus-pipeline stages and the stream replays,
  * each executed in full into a parquet sink. One cold pass in the
  * fresh process, then `seconds / PassSeconds` warm passes. Every pass
  * writes its own output directory, so every stage run is checked.
  */
final class BatchRun(o: Opts, tr: Tracer, result: JMap[String, Any]) {
  private val stages = CorpusStages ++ StreamStages
  private val stageTimes = new JMap[String, Any]()
  private val passes = new JList[Any]()

  private def runStage(spark: SparkSession, name: String, pass: String): Unit =
    tr.span("stage", name) {
      CacheRegistry.scoped {
        val (df, _) = tr.span("stage.build", name) {
          SparkEntry.queries(name)(spark, o.data)
        }
        tr.span("stage.sink", name) {
          df.coalesce(1).write.mode("overwrite")
            .parquet(s"${o.work}/out/$pass/$name")
        }
      }
    }

  /** One pass over every stage, its outputs under `out/<dir>`; returns
    * its seconds. Each stage's seconds are kept under `label`.
    */
  private def pass(spark: SparkSession, label: String, dir: String): Double = {
    tr.enter(spark, label)
    passes.add(dir)
    val (_, s) = tr.span("pass", label) {
      stages.foreach { n =>
        val t0 = System.nanoTime()
        try runStage(spark, n, dir)
        catch { case e: Throwable => fail(result, s"$n/$dir", e) }
        stageTimes.computeIfAbsent(n, _ => new JMap[String, Any]())
          .asInstanceOf[JMap[String, Any]]
          .computeIfAbsent(label, _ => new JList[Any]()).asInstanceOf[JList[Any]]
          .add((System.nanoTime() - t0) / 1e9)
      }
    }
    s
  }

  def run(): Unit = {
    val spark = session(o)
    result.put("setup_s", Jvm.uptimeS)
    if (o.trace) tr.attach(spark)
    memoSnapshot(tr, "start")
    val cold = pass(spark, "cold", "cold")
    if (o.trace) {
      // the same warm pass untraced, then traced: their ratio is the
      // tracing overhead
      tr.detach()
      val plain = pass(spark, "warm_untraced", "warm_untraced")
      tr.attach(spark)
      Jvm.resetHeapPeak()
      jvmSnapshot(tr, "warm_start")
      val traced = pass(spark, "warm", "warm-1")
      jvmSnapshot(tr, "warm_end")
      result.put("trace_overhead_frac", traced / plain - 1.0)
    } else {
      val n = math.max(1, (o.seconds / PassSeconds).toInt)
      (1 to n).foreach(i => pass(spark, "warm", s"warm-$i"))
    }
    tr.enter(spark, "end")
    memoSnapshot(tr, "end")
    tr.detach()
    result.put("cold_s", cold)
    result.put("passes", passes)
    result.put("stages", stageTimes)
    result.put("stage_names", list(stages))
    val oracles = new JMap[String, Any]()
    stages.foreach(n => SparkEntry.oracleSql.get(n).foreach(oracles.put(n, _)))
    result.put("oracles", oracles)
  }
}

/** `gateway_lookup`: the benchmark's own config served by
  * [[HttpGateway]] over loopback. A serial cold pass (one request per
  * route kind) and a closed-loop warm-up, then phase A (open loop: seeded arrivals, each request
  * timed from its due time) and phase B (closed loop: `cores` clients
  * working through a fixed request list).
  */
final class GatewayRun(o: Opts, tr: Tracer, result: JMap[String, Any]) {
  private val reqs = readJson(o.requests)
  private val responses = new JList[JMap[String, Any]]()

  private def url(base: String, r: JsonNode): String = base + r.get("url").asText

  private def reqList(name: String): Seq[JsonNode] =
    reqs.get(name).elements.asScala.toIndexedSeq

  /** One GET; returns (status, body). */
  private def get(u: String): (Int, String) = {
    val c = new URI(u).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val body = if (in == null) "" else
        try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      (code, body)
    } finally c.disconnect()
  }

  /** Send `r`, timed from `dueMs`; records the response. */
  private def send(base: String, r: JsonNode, phase: String,
      dueMs: Double): Unit = {
    val startMs = tr.nowMs
    var status = -1
    var body = ""
    var error = ""
    try { val (c, b) = get(url(base, r)); status = c; body = b }
    catch { case e: Throwable => error = String.valueOf(e.getMessage) }
    val endMs = tr.nowMs
    tr.record(0L, 0L, "http.request", r.get("id").asText, dueMs, endMs,
      ok = error.isEmpty)
    val m = new JMap[String, Any]()
    m.put("id", r.get("id").asInt)
    m.put("kind", r.get("kind").asText)
    m.put("phase", phase)
    m.put("status", status)
    m.put("body", body)
    m.put("error", error)
    m.put("due_ms", dueMs)
    m.put("start_ms", startMs)
    m.put("end_ms", endMs)
    responses.synchronized(responses.add(m))
  }

  /** Phase A: the requests of `list` sent at their seeded due times,
    * counted from the first one's, by at most `cores` client threads;
    * returns the generator's lateness per request (ms).
    */
  private def openLoop(base: String, phase: String,
      list: Seq[JsonNode]): Seq[Double] = {
    val pool = Executors.newFixedThreadPool(o.cores)
    val lags = new JList[Double]()
    val t0 = tr.nowMs - list.head.get("due_s").asDouble * 1e3
    try {
      list.foreach { r =>
        val due = t0 + r.get("due_s").asDouble * 1e3
        val wait = due - tr.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        lags.add(math.max(0.0, tr.nowMs - due))
        pool.submit(new Runnable { def run(): Unit = send(base, r, phase, due) })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
    }
    lags.asScala.toSeq
  }

  /** `cores` clients, each sending its next request as soon as the
    * previous one answered, until `all` is done. Returns the seconds
    * from start to the last answer.
    */
  private def closedLoop(base: String, all: Seq[JsonNode],
      phase: String): Double = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = tr.nowMs
    val pool = Executors.newFixedThreadPool(o.cores)
    (0 until o.cores).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          while (i < all.size) {
            send(base, all(i), phase, tr.nowMs)
            i = next.getAndIncrement()
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    (tr.nowMs - t0) / 1e3
  }

  /** Traced runs only: each cold-pass request once more, serially, over
    * HTTP and then in process (`Router.dispatch` + the gateway's
    * `toJSON.take`), plus a direct `Tables.registerViews`, so the HTTP
    * transport's share can be taken apart from routing and execution.
    */
  private def replay(spark: SparkSession, ns: Namespaces, base: String): Unit = {
    tr.enter(spark, "replay")
    for (round <- 1 to 2; r <- reqs.get("cold").elements.asScala
         if r.get("template").asBoolean) {
      val id = s"r$round-${r.get("id").asText}"
      tr.span("replay.http", id)(get(url(base, r)))
      tr.span("replay.inproc", id) {
        val vars = r.get("vars").properties.asScala
          .map(e => e.getKey -> e.getValue.asText).toMap
        CacheRegistry.scoped {
          val (res, _) = tr.span("route.dispatch", id) {
            Router.dispatch(ns, r.get("path").asText, vars)(spark, o.data)
          }
          res.foreach(df => tr.span("exec.take", id)(
            df.toJSON.take(HttpGateway.MaxResultRows)))
        }
      }
      tr.span("tables.register_views", id)(Tables.registerViews(spark, o.data))
    }
  }

  def run(): Unit = {
    val (spark, gw, ns) = setUpGateway(o)
    result.put("setup_s", Jvm.uptimeS)
    if (o.trace) tr.attach(spark)
    memoSnapshot(tr, "start")
    tr.enter(spark, "cold")
    val (_, first) = tr.span("pass", "cold") {
      reqs.get("cold").elements.asScala.foreach(r =>
        send(gw.baseUrl, r, "cold", tr.nowMs))
    }
    // the serial pass leaves the JIT far from steady, so the clients
    // send a few more rounds before phase A; cold_s is both, the time
    // a fresh process takes to serve its first requests, which spreads
    // one cold sample over more than a few seconds of the host
    tr.enter(spark, "warmup")
    val cold = first + closedLoop(gw.baseUrl, reqList("warmup"), "warmup")
    val open = reqList("open")
    val lags =
      if (o.trace) {
        tr.detach()
        tr.enter(spark, "open_untraced")
        openLoop(gw.baseUrl, "open_untraced", open)
        tr.attach(spark)
        Jvm.resetHeapPeak()
        tr.enter(spark, "open")
        jvmSnapshot(tr, "open_start")
        val l = openLoop(gw.baseUrl, "open", open)
        jvmSnapshot(tr, "open_end")
        replay(spark, ns, gw.baseUrl)
        l
      } else {
        // phases A and B alternate in halves, so each samples the
        // whole steady stretch of the run and a slow spell of the host
        // shifts both a little rather than one of them entirely
        val closed = reqList("closed")
        val halves = open.grouped((open.size + 1) / 2).toSeq
          .zip(closed.grouped((closed.size + 1) / 2).toSeq)
        var closedS = 0.0
        val l = halves.flatMap { case (a, b) =>
          tr.enter(spark, "open")
          val lag = openLoop(gw.baseUrl, "open", a)
          tr.enter(spark, "closed")
          closedS += closedLoop(gw.baseUrl, b, "closed")
          lag
        }
        result.put("closed_s", closedS)
        l
      }
    tr.enter(spark, "end")
    memoSnapshot(tr, "end")
    tr.detach()
    result.put("cold_s", cold)
    result.put("gen_lag_ms", list(lags))
    result.put("responses", responses)
  }
}
