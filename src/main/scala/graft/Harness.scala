package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{CacheRegistry, HttpGateway}
import graft.sources.SyntheticScale

/** The one runner behind every `main`. Results go to stdout as JSON
  * lines, progress to stderr. Modes:
  *
  *  - `bench [queries]` — per-query wall time over `SPARK_GRAFT_SF_DIR`
  *    (default sf0.1): one untimed pass, then three interleaved timed
  *    passes (min-of-3), host calibration before and after; ends with
  *    the `total` and `total_tail` lines (BASELINE.md). `graft.Bench`.
  *  - `verify <sf_dir> <out_dir> [queries]` — each result as parquet
  *    under `<out_dir>/<name>`, plus `oracle_sql.json` for
  *    `tools/check.py`. `graft.Verify`.
  *  - `plans <out_dir> <suffix> [queries]` — `explain("formatted")` of
  *    each query over `SPARK_GRAFT_SF_DIR` to `<out_dir>/<name>_<suffix>.txt`.
  *  - `sweep [--skew|--longgram] [scales] [queries]` — min-of-2 wall
  *    time at each scale of sf0.1 (default `1,10`; see [[fixture]]) and
  *    the growth last/first; with three or more scales it also fits the
  *    exponent of t = a·n^b.
  *  - `spill [queries]` — the suite at the synthetic 10× under a capped
  *    managed memory pool (`SPARK_GRAFT_SPILL_MEM` bytes, default 512 MB),
  *    spill bytes per query; expect `n_failed` 0.
  *  - `bpe [merges] [batch]` — per-round cost of the BPE merge loop,
  *    sequential against batched.
  *
  * `queries` are names or comma-separated lists of names ([[select]]).
  * `SPARK_GRAFT_CPUS` sets the local cores (default 4; `spill` derives
  * its default from the memory cap).
  *
  * Run: `sbt "runMain graft.Harness <mode> ..."`.
  */
object Harness {
  /** sf0.1 of the fixture tables (TESTDATA.md): the bench scale and the
    * 1× of every sweep. */
  private val Sf01 = "/root/testdata/sf0.1"
  private val DefaultCpus = 4

  private val Usage = Seq(
    "bench [queries]",
    "verify <sf_dir> <out_dir> [queries]",
    "plans <out_dir> <suffix> [queries]",
    "sweep [--skew|--longgram] [scales] [queries]",
    "spill [queries]",
    "bpe [merges] [batch]")

  def main(args: Array[String]): Unit = args.toList match {
    case "bench" :: rest => bench(rest)
    case "verify" :: sf :: out :: rest if rest.size <= 1 => verify(sf, out, rest)
    case "plans" :: out :: suffix :: rest => plans(out, suffix, rest)
    case "sweep" :: rest => sweep(rest)
    case "spill" :: rest => spill(rest)
    case "bpe" :: rest if rest.size <= 2 => bpe(rest)
    case _ =>
      val mode = args.headOption.filter(m => Usage.exists(_.startsWith(m + " ")))
      Usage.filter(u => mode.forall(m => u.startsWith(m + " ")))
        .foreach(u => System.err.println(s"usage: $u"))
      sys.exit(2)
  }

  /** The one session builder: `local[cpus]` with as many shuffle
    * partitions, UTC, parquet TIMESTAMP(NANOS) read as a long (the
    * `events` table; [[Tables.load]] converts it back), managed tables
    * under a temp warehouse (deleted at exit) rather than the cwd, no
    * UI, WARN logging. `extra` confs go on top.
    */
  private[graft] def session(cpus: Int, extra: (String, String)*): SparkSession = {
    val warehouse = Files.createTempDirectory("graft_wh").toFile
    // managed tables live as long as the process that wrote them
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse))
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The query-selection rule of every mode: `args` are names or
    * comma-separated lists of names, and none selects every query;
    * either way the names come back sorted. An unknown name fails, so a
    * typo cannot pass as an empty run that looks clean. Timed modes
    * leave out `r_catalog`, a metadata query that analyzes every other
    * query, and so reject it by name too.
    */
  private[graft] def select(args: Seq[String], timed: Boolean): Seq[String] = {
    val all = SparkEntry.queries.keySet
    val pool = if (timed) all - "r_catalog" else all
    val asked = args.flatMap(_.split(',')).filter(_.nonEmpty).toSet
    val unknown = asked -- pool
    require(unknown.isEmpty, (if (timed) "unknown or untimed" else "unknown") +
      s" queries: ${unknown.toSeq.sorted.mkString(", ")}")
    pool.toSeq.sorted.filter(n => asked.isEmpty || asked(n))
  }

  /** Execute a query's FULL plan into a noop sink (count() would let
    * Catalyst prune projections and undercount the work), in one
    * consumption scope: memo values stay pinned from build through the
    * sink's action.
    */
  private[graft] def runFull(spark: SparkSession, name: String, dir: String): Unit =
    CacheRegistry.scoped {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }

  /** JIT and parquet footer caches, per dataset dir, before any timing. */
  private def warmUp(spark: SparkSession, dirs: Seq[String]): Unit =
    dirs.foreach(runFull(spark, "r_inner_join", _))

  /** `body`'s result and its wall seconds. */
  private[graft] def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall seconds of the fastest of `n` runs of `body`. */
  private[graft] def minSecs(n: Int)(body: => Unit): Double =
    (1 to n).map(_ => timed(body)._2).min

  private def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Sf01)

  private def bench(args: Seq[String]): Unit = {
    val names = select(args, timed = true)
    val dir = sfDir
    val n = cpus(DefaultCpus)
    val spark = session(n)
    warmUp(spark, Seq(dir))

    // Host-calibration probe: a FIXED-COST in-memory job (hash + sort
    // 8M longs, no I/O, no data dependency) timed min-of-3. Its
    // wall-clock depends only on the host, so total/calibration-ratio
    // separates engine regressions from neighbor contention — the
    // recorded calm-host probe value lives in BASELINE.md and
    // inflation is a measured ratio, not an inference from totals.
    def calibrate(): Double = minSecs(3) {
      spark.range(0L, 8000000L, 1L, n)
        .selectExpr("xxhash64(id) AS h").orderBy("h")
        .write.format("noop").mode("overwrite").save()
    }
    val calPre = calibrate()

    // One untimed warmup pass per query (plan compilation, codegen,
    // offline index/closure builds), then three timed passes run
    // INTERLEAVED (pass-major order). The host shows sustained
    // external contention windows: back-to-back passes of one query
    // can all land inside a bad window (r2 measured the same binary
    // 2.2x slower than r1), while interleaving spreads each query's
    // passes across the whole run so min-of-3 measures the engine,
    // not the neighbor.
    names.foreach { name =>
      try runFull(spark, name, dir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }
    val best = scala.collection.mutable.Map.empty[String, Double]
    for (_ <- 1 to 3; name <- names) {
      val s = minSecs(1) {
        try runFull(spark, name, dir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      }
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), s)
    }
    val results = names.map { name =>
      System.err.println(f"[bench] $name%-24s ${best(name)}%8.2f s")
      name -> best(name)
    }
    // probe again after the run: a contention window DURING the suite
    // shows up as max(calPre, calPost) even if the start was calm
    val calPost = calibrate()
    val cal = f"""{"pre":$calPre%.3f,"post":$calPost%.3f}"""
    System.err.println(f"[bench] calibration pre=$calPre%.3f s post=$calPost%.3f s")
    val (total, tail) = benchLines(results, cal, dir)
    println(total)
    println(tail)
    spark.stop()
  }

  /** Room for the `total_tail` line's per-query entries; the fixed
    * fields take ~200 chars more. */
  private val TailBudget = 1700

  /** The bench's two stdout lines. `total` carries every query, slowest
    * first, so a capture that keeps only a prefix still holds the
    * expensive rows. At 251 queries it is ~8 KB, and a capture limited
    * to its last ~2000 chars loses its leading keys, so the FINAL line
    * `total_tail` is a complete record on its own: the slowest queries
    * at 3 decimals, packed slowest-first while they fit in
    * [[TailBudget]], and the rest of the suite summed in `rest_total`
    * (`value` == sum(queries) + rest_total up to the rounding). Its own
    * metric name keeps a consumer that collects every `total` record
    * from counting the run twice.
    */
  private[graft] def benchLines(results: Seq[(String, Double)], cal: String,
      sfDir: String): (String, String) = {
    val total = results.map(_._2).sum
    val slowFirst = results.sortBy(-_._2)
    val qs = slowFirst.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val totalLine = s"""{"metric":"total","value":$total,"unit":"sec","calibration":$cal,"queries":$qs,"sf":"$sfDir"}"""
    val entries = slowFirst.map { case (k, v) => ("\"" + k + "\":" + f"$v%.3f", v) }
    // greedy prefix: packing stops at the first entry that overflows
    val used = entries.scanLeft(0)((u, e) => u + e._1.length + 1).tail
    val packed = entries.zip(used).takeWhile(_._2 <= TailBudget).map(_._1)
    val restTotal = f"${total - packed.map(_._2).sum}%.3f"
    val tailLine = s"""{"metric":"total_tail","value":$total,"unit":"sec","calibration":$cal,"queries":{${packed.map(_._1).mkString(",")}},"rest_total":$restTotal,"sf":"$sfDir","n_queries":${results.size}}"""
    (totalLine, tailLine)
  }

  private def verify(sfDir: String, outDir: String, filter: Seq[String]): Unit = {
    val keep = select(filter, timed = false).toSet
    val spark = session(cpus(DefaultCpus))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => keep(name) }
      .foreach { case (name, fn) =>
      // one consumption scope per query: memo values stay pinned (not
      // evictable) from build to the write action's end
      try CacheRegistry.scoped {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** `oracle_sql.json`: one object, query name → DuckDB SQL. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    sql.map { case (k, v) => s"${HttpGateway.jsonStr(k)}: ${HttpGateway.jsonStr(v)}" }
      .mkString("{", ",", "}")

  private def plans(outDir: String, suffix: String, filter: Seq[String]): Unit = {
    val names = select(filter, timed = false)
    val dir = sfDir
    val spark = session(cpus(DefaultCpus))
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      CacheRegistry.scoped {
        val txt = SparkEntry.queries(name)(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        System.err.println(s"[plans] $name -> ${name}_$suffix.txt")
      }
    }
    spark.stop()
  }

  /** The sf0.1 fixtures at `r` replicas: sf0.1 itself at 1, else a
    * [[SyntheticScale]] copy (replica keys disjoint, structure kept, so
    * cost must grow ~linearly; `skew` puts a Zipfian hot key on top),
    * generated under /tmp on first use and reused after.
    */
  private def fixture(spark: SparkSession, r: Int, skew: Boolean): String =
    if (r == 1) Sf01
    else {
      val sf = (BigDecimal(r) / 10).bigDecimal.stripTrailingZeros.toPlainString
      val dir = s"/tmp/graft_sf${sf.replace(".", "")}_${if (skew) "skew" else "synth"}"
      SyntheticScale.ensure(spark, Sf01, dir, r, skew)
      dir
    }

  /** Growth bar of a two-scale sweep: 10x data on fixed parallelism is
    * ~10x work when linear; 30x tolerates partition-count and
    * constant-factor noise. One bar for everything, streaming replays
    * included: their ~2 s fixed start/drain cost only LOWERS the raw
    * ratio. (An earlier 60x replay carve-out existed solely for
    * e_stream_quality_replay's 26x — a real O(|eval sets|) per-row scan
    * in the decontamination UDF, not fixed-cost noise; with the inverted
    * shingle index it measures 2.3x. The sweep was right to complain.)
    */
  private val GrowthBar = 30.0

  /** Exponent bar of a sweep of three or more scales: two scale points
    * cannot tell linear from quadratic (a 10× ratio of 16 is b≈1.2 OR a
    * big constant over linear work); the fitted b can. A linear operator
    * with fixed overhead fits b ≤ 1, so anything clearly above 1 is
    * genuine superlinearity, with 1.3 as the noise margin.
    */
  private val ExponentBar = 1.3

  /** Least-squares slope of log t over log n. */
  private def fitExponent(points: Seq[(Double, Double)]): Double = {
    val xs = points.map(p => math.log(p._1))
    val ys = points.map(p => math.log(p._2))
    val mx = xs.sum / points.size
    val my = ys.sum / points.size
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    cov / xs.map(x => (x - mx) * (x - mx)).sum
  }

  /** Scale sweep: the harness that catches the next O(n^2) trap (the
    * interpreted-HOF and pushdown-inlining traps of earlier rounds were
    * only caught because a bigger-input measurement existed) before a
    * 100x user does. A query is flagged when its growth passes
    * [[GrowthBar]] with more than 5 s at the top scale, or, with three
    * or more scales, when its fitted exponent passes [[ExponentBar]].
    *
    * `--skew` sweeps the Zipfian-hot-key fixtures instead of the uniform
    * ones and also checks that AQE's skew-join split engages on the hot
    * key; a skew pathology (one straggler task carrying the hot
    * partition) shows up as growth like any other superlinearity.
    */
  private def sweep(args: Seq[String]): Unit = {
    val flags = args.filter(_.startsWith("--"))
    require(flags.forall(Set("--skew", "--longgram")),
      s"unknown sweep flags: ${flags.mkString(" ")}")
    val skew = flags.contains("--skew")
    val longGram = flags.contains("--longgram")
    // flags may sit anywhere: strip them before positional parsing
    val pos = args.filterNot(_.startsWith("--"))
    val (scales, queryArgs) = pos match {
      case s +: rest if s.matches("[0-9]+(,[0-9]+)+") =>
        (s.split(',').map(_.toInt).toSeq, rest)
      case _ => (Seq(1, 10), pos)
    }
    require(scales.head == 1 && scales == scales.distinct.sorted,
      s"scales must start at 1 and rise: ${scales.mkString(",")}")
    require(!longGram || queryArgs.isEmpty, "--longgram takes no queries")
    val names = if (longGram) Nil else select(queryArgs, timed = true)
    val spark = session(cpus(DefaultCpus))
    val dirs = scales.map(fixture(spark, _, skew))
    if (longGram) {
      runLongGram(spark, dirs.head, dirs.last)
      spark.stop()
      return
    }
    warmUp(spark, dirs)

    // min-of-2 at EVERY scale: several operators intentionally memoize
    // per-dir build artifacts (the IVF index, the CC label table, the
    // persistOnce staged features) exactly as a production deployment
    // reuses an on-disk index — so pass 1 pays the build and pass 2 is
    // the steady state. Taking the min on one side only would compare a
    // cached 1x against a cold 10x and report build-vs-probe asymmetry
    // as fake superlinear growth (the first sweep run did: e_dedup_cc
    // "85x", e_ann_ivf "48x"). Min-of-2 everywhere compares steady
    // state to steady state; cold-path growth still surfaces via the
    // top scale's absolute column.
    val fit = scales.size >= 3
    val rows = names.map { n =>
      val ts = dirs.map(d => minSecs(2)(runFull(spark, n, d)))
      val growth = ts.last / math.max(ts.head, 0.05)
      val b = if (fit) Some(fitExponent(scales.map(_.toDouble).zip(ts))) else None
      System.err.println(f"[sweep] $n%-28s " + scales.zip(ts).map { case (s, t) =>
        f"${s}x=$t%7.2f s" }.mkString("  ") + f"  growth=$growth%6.1fx" +
        b.fold("")(x => f"  b=$x%5.2f"))
      (n, ts, growth, b)
    }.sortBy(-_._3)
    val flagged = rows.collect {
      case (n, ts, g, b) if b.fold(g > GrowthBar && ts.last > 5.0)(_ > ExponentBar) => n
    }
    def times(ts: Seq[Any]) = scales.zip(ts).map { case (s, t) => s""""t${s}_sec":$t""" }
      .mkString(",")
    rows.foreach { case (n, ts, g, b) =>
      println(s"""{"query":"$n",${times(ts.map(t => f"$t%.3f"))},"growth":${f"$g%.2f"}""" +
        b.fold("")(x => f""","exponent":$x%.3f""") + "}")
    }
    val metric = if (fit) s""""sweep_curve","bar":$ExponentBar""" else "\"sweep_total\""
    val sums = scales.indices.map(i => rows.map(_._2(i)).sum)
    val skewField =
      if (skew) s""","aqe_skew_split":${aqeSkewSplit(spark, dirs.last)}""" else ""
    println(s"""{"metric":$metric,${times(sums)},"n_queries":${rows.size},""" +
      s""""mode":"${if (skew) "skew" else "uniform"}",""" +
      s""""flagged":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")}""" +
      skewField + "}")
    spark.stop()
  }

  /** Time the text-vs-hashed lanes of the substring and paragraph
    * dedups across gram/paragraph sizes, at the smallest and largest
    * scale. The text-vs-hashed shuffle lanes are measured at the sizes
    * they are DESIGNED for (Lee et al. dedup at ~50 BPE tokens ≈ 200+
    * chars); the gate sizes (k=20 chars / p=4 tokens, where a 24-byte
    * hash pair is no narrower than the text it replaces) ride along as
    * the reference points — the crossover artifact SURVEY cites.
    */
  private def runLongGram(spark: SparkSession, base: String,
      synth: String): Unit = {
    import graft.operators.CorpusOps
    def docs(dir: String) = Tables.load(spark, dir, "documents")
    // paragraph has no hashed twin anymore: paragraphs PARTITION the
    // text, so the narrow-key premise fails structurally — the r13
    // sweep measured the hashed lane losing at every tested size and
    // it was retired (see dedupParagraphs' scaladoc)
    val lanes: Seq[(String, Seq[Int], Seq[Boolean],
        (String, Int, Boolean) => DataFrame)] = Seq(
      ("substring", Seq(20, 100, 200), Seq(false, true),
        (dir, k, h) => CorpusOps.dedupSubstring(docs(dir), k, h)),
      ("paragraph", Seq(4, 50), Seq(false),
        (dir, p, _) => CorpusOps.dedupParagraphs(docs(dir), p)))
    for ((fam, ks, lanesOf, f) <- lanes; k <- ks; hashed <- lanesOf) {
      val lane = s"${fam}_${if (hashed) "hashed" else "text"}_$k"
      def time(dir: String) =
        minSecs(2)(f(dir, k, hashed).write.format("noop").mode("overwrite").save())
      val t1 = time(base)
      val t10 = time(synth)
      val g = t10 / math.max(t1, 0.05)
      System.err.println(
        f"[longgram] $lane%-24s 1x=$t1%6.2f s  10x=$t10%7.2f s  growth=$g%6.1fx")
      println(f"""{"metric":"longgram","lane":"$lane","t1_sec":$t1%.3f,"t10_sec":$t10%.3f,"growth":$g%.2f}""")
    }
  }

  /** Prove AQE's skew-join machinery ENGAGES on the forged hot key: a
    * sort-merge join of lineitem (10% of rows on one orderkey) against
    * orders must show a skew-split AQEShuffleRead in the final adaptive
    * plan. The skew thresholds are lowered for the check — at sf1 the
    * hot shuffle partition is ~tens of MB, below the 256 MB production
    * default that a 100 TB corpus would trip naturally; the lowered
    * threshold exercises the identical code path at fixture scale.
    */
  private def aqeSkewSplit(spark: SparkSession, dir: String): Boolean = {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.files.maxPartitionBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      // the thresholds below assume 32 shuffle partitions: at one per
      // core (4 on a small host) the hot partition does not stand out
      conf.set("spark.sql.shuffle.partitions", "32")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
      // hot partition ≈ 4x the median at 32 shuffle partitions — the
      // default factor-5 trigger just misses it at fixture scale
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      // several map tasks per scan: a skewed reduce partition is only
      // splittable at MAP CHUNK boundaries, so a one-mapper stage can
      // never be skew-split no matter the thresholds (production scans
      // have thousands of mappers; the fixture write uses 8 MB row
      // groups so byte-range splits actually produce them)
      conf.set("spark.sql.files.maxPartitionBytes", "16m")
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
      val o = spark.read.parquet(s"$dir/orders.parquet")
      // carry real measure columns through the join shuffle: a
      // key-only projection compresses the hot partition (one repeated
      // long) below any skew threshold, hiding the very imbalance the
      // check exists to expose
      import org.apache.spark.sql.functions.{count, lit, sum}
      val j = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1L)), sum("l_extendedprice"), sum("l_quantity"),
          sum("l_discount"), sum("l_tax"))
      // collect(), not a writer: the writer executes its OWN
      // QueryExecution, leaving j's adaptive plan unfinalized — the
      // skew-split decision only exists in the finalized plan
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      // Spark 4 prints the split as "AQEShuffleRead skewed" (or
      // "coalesced and skewed"); match on the node line, not a bare
      // "skew" substring — the fixture PATH contains "skew"
      val engaged = plan.linesIterator.exists(ln =>
        ln.contains("AQEShuffleRead") && ln.contains("skewed"))
      System.err.println(s"[sweep] aqe_skew_split=$engaged")
      if (!engaged) System.err.println(s"[sweep] final plan:\n$plan")
      engaged
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Memory-pressure rehearsal: the suite at the synthetic 10× with the
    * managed memory pool capped so sorts, hash aggregates and joins
    * actually SPILL, asserting everything still completes (spill, not
    * OOM) — graceful degradation that a large-memory host never forces.
    *
    * `spark.testing.memory` caps the memory the UnifiedMemoryManager
    * believes it has (the knob Spark's own test suites use; the JVM heap
    * stays large, so parquet buffers and codegen are unaffected — only
    * the managed execution+storage pool shrinks). Spill bytes are
    * collected per query from task metrics by a listener.
    */
  private def spill(args: Seq[String]): Unit = {
    val names = select(args, timed = true)
    val capBytes = sys.env.get("SPARK_GRAFT_SPILL_MEM")
      .fold(512L * 1024 * 1024)(_.toLong)
    // Task slots scale WITH the cap (~64 MB of managed pool per slot,
    // floor 4): a genuinely small executor has proportionally few
    // cores. The r16 512 MB run at the old fixed 32 slots measured the
    // alternative — ~5 MB of execution memory per task once the
    // storage floor is carved out, a ratio no deployment guide
    // permits: eight dedup/TPC-H queries died UNABLE_TO_ACQUIRE and
    // the leaked task buffers of those failures cascaded into a heap
    // OOM mid-marathon. 512 MB / 8 slots is the honest small-executor
    // shape (64 MB/slot); SPARK_GRAFT_CPUS still overrides.
    val n = cpus(math.max(4L, capBytes / (64L * 1024 * 1024)).toInt)
    // The CacheRegistry's default byte budget derives from the JVM
    // heap, but this rehearsal caps the MANAGED pool far below it —
    // tie the memo budget to the capped pool (a quarter, the same
    // ratio as the default) so eviction engages at the pressure the
    // rehearsal simulates. Set before the session exists.
    if (sys.props.get("graft.cache.maxResidentBytes").isEmpty)
      sys.props("graft.cache.maxResidentBytes") = (capBytes / 4).toString
    val spark = session(n,
      "spark.testing.memory" -> capBytes.toString,
      // memory-tight deployments tune the protected storage floor DOWN
      // (Spark tuning guide): at 512 MB the default 0.5 floor protects
      // 150+ MB of persisted blocks while a streaming micro-batch's
      // aggregation starves 256 KB short of a page — measured r16 on
      // e_stream_ingest_dedup / e_stream_static_replay, the last two
      // 512 MB victims, both green at 0.1
      "spark.memory.storageFraction" -> "0.1")
    val synth = fixture(spark, 10, skew = false)

    val spillMem = new AtomicLong(0)
    val spillDisk = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    warmUp(spark, Seq(synth))

    var failed = List.empty[String]
    var spilled = 0
    names.foreach { name =>
      val m0 = spillMem.get(); val d0 = spillDisk.get()
      val (ok, secs) = timed {
        val ok =
          try { runFull(spark, name, synth); true }
          catch { case e: Throwable =>
            System.err.println(s"[spill] $name FAILED: ${e.getMessage}")
            failed ::= name
            false
          }
        // listener events drain asynchronously (listenerBus is
        // private[spark]); a short settle keeps per-query attribution
        // honest — totals are exact regardless
        Thread.sleep(150)
        ok
      }
      val dm = spillMem.get() - m0
      val dd = spillDisk.get() - d0
      if (dm + dd > 0) spilled += 1
      System.err.println(
        f"[spill] $name%-28s $secs%7.2f s  mem=${dm / 1e6}%9.1f MB  disk=${dd / 1e6}%9.1f MB  ok=$ok")
      println(s"""{"query":"$name","secs":${f"$secs%.3f"},"spill_mem_bytes":$dm,"spill_disk_bytes":$dd,"ok":$ok}""")
    }
    println(s"""{"metric":"spill_rehearsal","mem_cap_bytes":$capBytes,""" +
      s""""n_queries":${names.size},"n_failed":${failed.size},""" +
      s""""failed":[${failed.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""n_spilled":$spilled,"total_spill_mem":${spillMem.get()},""" +
      s""""total_spill_disk":${spillDisk.get()}}""")
    spark.stop()
  }

  /** BPE merge-DEPTH rehearsal: run the induction loop to a realistic
    * merge count (default 256 — two orders past the gate's 8) and
    * MEASURE the per-round cost trend instead of extrapolating from
    * single-digit rounds. One JSON line per round (mode, round, merges
    * applied, wall ms), then a summary comparing the sequential loop
    * against the batched one
    * ([[graft.operators.CorpusOps.bpeMergeLoopBatched]], default batch
    * 8): when the per-round round-trip dominates (it does at fixture
    * scale — each round is a fixed number of tiny Spark jobs), batching
    * divides the job-wave count, and the summary records the division.
    */
  private def bpe(args: Seq[String]): Unit = {
    val merges = args.headOption.map(_.toInt).getOrElse(256)
    val batch = args.lift(1).map(_.toInt).getOrElse(8)
    val dir = sfDir
    val spark = session(cpus(DefaultCpus))
    val docs = Tables.load(spark, dir, "documents")

    def run(mode: String, b: Int, m: Int = merges): (Double, Seq[Long]) = {
      val times = scala.collection.mutable.ArrayBuffer.empty[Long]
      val (r, total) = timed {
        graft.operators.CorpusOps.bpeMergeLoopBatched(docs, m, b,
          (round, n, ms) => {
            times += ms
            if (mode.nonEmpty)
              println(s"""{"mode":"$mode","round":$round,"n_merges":$n,"ms":$ms}""")
          })
      }
      require(r.vocab.size == m, s"$mode stopped at ${r.vocab.size}")
      CacheRegistry.freeFrame(r.seqs) // both are the loop's checkpoints
      CacheRegistry.freeFrame(r.counts)
      (total, times.toSeq)
    }

    // untimed, unprinted warm-up: the sequential run goes first and
    // would alone pay the JIT, footer and first-read costs
    run("", 1, 2)
    val (seqTotal, seqTimes) = run("seq", 1)
    val (batTotal, batTimes) = run(s"b$batch", batch)
    def avg(xs: Seq[Long]): Double =
      if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    val q = seqTimes.size / 4
    println(s"""{"metric":"bpe_depth","sf_dir":"$dir","merges":$merges,""" +
      s""""seq_total_sec":${math.round(seqTotal * 100) / 100.0},""" +
      s""""seq_ms_first_quarter":${math.round(avg(seqTimes.take(q)))},""" +
      s""""seq_ms_last_quarter":${math.round(avg(seqTimes.takeRight(q)))},""" +
      s""""batch":$batch,"batch_rounds":${batTimes.size},""" +
      s""""batch_total_sec":${math.round(batTotal * 100) / 100.0},""" +
      s""""speedup":${math.round(seqTotal / batTotal * 100) / 100.0}}""")
    spark.stop()
  }
}
