package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up of the sf0.1 fixture dir: 10 DISJOINT replicas of
  * every fact table under shifted keys, preserving each table's
  * internal structure while keeping replicas unrelatable — so query
  * cost must grow ~linearly, and any superlinear growth a sweep
  * observes is an algorithmic regression, not a property of the data.
  *
  * Structure-preserving tricks (same reasoning as ScaleRehearsalSpec):
  *  - keys shift by `i * 10_000_000`, consistently across FK pairs
  *    (orders.o_custkey shifts with customer.c_custkey, etc.);
  *  - nation/region stay single-copy — TPC-H fixes them at 25/5 rows
  *    at every scale factor;
  *  - document tokens get a per-replica suffix, so within-replica
  *    near-dup structure is preserved token-for-token while
  *    cross-replica shingle similarity is exactly zero (10 EXACT text
  *    copies would make LSH bucket membership 10x and in-bucket pairs
  *    ~100x — a quadratic law inherent to that data, not a bug);
  *  - embeddings are circularly ROTATED by i positions — an orthogonal
  *    transform, so within-replica cosines are bit-preserved while
  *    cross-replica cosines of effectively-random vectors sit near 0.
  *
  * Tables are written as single parquet FILES (matching the testdata
  * layout — the streaming replays stage `<dir>/<table>.parquet` as a
  * file). Generation is skipped when the marker file exists.
  */
object SyntheticScale {

  private val OFF = 10_000_000L

  /** The 10x copy; with `skew`, the same replica construction, then a
    * Zipfian hot key is FORGED onto the shuffle paths AQE must defend —
    * ~10% of all lineitem rows point at one orderkey and ~10% of all
    * events at one user — while documents/embeddings stay untouched
    * (text-side hot keys would blow up LSH bucket membership
    * quadratically BY CONSTRUCTION; that is a property of duplicated
    * text, not an engine regression — see the replica-suffix note
    * below). The uniform sweep can never surface a skew pathology (its
    * replicas are key-disjoint and uniform by design); this variant
    * exists so join/groupBy paths are measured under the hot-key
    * distribution a real corpus has.
    */
  def ensure(spark: SparkSession, baseDir: String, outDir: String,
      replicas: Int = 10, skew: Boolean = false): Unit = {
    // replica 26 would get the IDENTITY Caesar rotation (i % 26 == 0),
    // i.e. byte-identical text to replica 0 — reintroducing the exact
    // cross-replica duplication this generator exists to avoid (LSH
    // pair counts then grow quadratically BY CONSTRUCTION); the
    // embedding rotation similarly needs i < dim. Fail loudly instead
    // of silently corrupting the linear-scaling premise.
    require(replicas >= 1 && replicas <= 26,
      s"replicas must be in [1, 26] (got $replicas): replica i uses a " +
        "Caesar shift of i%26 and a circular embedding rotation by i, " +
        "both of which degenerate past 26")
    val out = Paths.get(outDir)
    val marker = out.resolve("_GRAFT_SYNTH_OK")
    if (Files.exists(marker)) return
    Files.createDirectories(out)

    // fixed dims: byte-identical copies
    for (t <- Seq("region", "nation")) {
      val dst = out.resolve(s"$t.parquet")
      Files.deleteIfExists(dst)
      Files.copy(Paths.get(s"$baseDir/$t.parquet"), dst)
    }

    def shifted(df: DataFrame, i: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * OFF)))

    def replicate(name: String)(one: Int => DataFrame): Unit =
      writeSingleFile(
        (0 until replicas).map(one).reduce(_ unionByName _),
        out.resolve(s"$name.parquet"))

    // raw reads (no Tables.load): events.ts must stay the on-disk long
    def raw(name: String) = spark.read.parquet(s"$baseDir/$name.parquet")

    replicate("customer")(i => shifted(raw("customer"), i, "c_custkey"))
    replicate("supplier")(i => shifted(raw("supplier"), i, "s_suppkey"))
    replicate("part")(i => shifted(raw("part"), i, "p_partkey"))
    replicate("orders")(i =>
      shifted(raw("orders"), i, "o_orderkey", "o_custkey"))

    // hot-key targets for the skew variant: real keys from replica 0,
    // so the forged FK rows still JOIN (a dangling hot key would just
    // vanish in inner joins and measure nothing)
    lazy val hotOrder = raw("orders")
      .agg(min("o_orderkey")).head().getLong(0)
    lazy val hotUser = raw("events").agg(min("user_id")).head().getLong(0)

    /** Route a deterministic ~1/density slice of rows to the hot key.
      * Selection hashes the pre-skew key so it is stable across runs
      * and uncorrelated with the key's own value distribution.
      */
    def skewKey(df: DataFrame, key: String, hot: => Long,
        density: Int): DataFrame =
      if (!skew) df
      else df.withColumn(key,
        when(pmod(xxhash64(col(key)), lit(density)) === 0, lit(hot))
          .otherwise(col(key)))

    replicate("lineitem")(i =>
      skewKey(shifted(raw("lineitem"), i, "l_orderkey", "l_partkey",
        "l_suppkey"), "l_orderkey", hotOrder, density = 10))
    replicate("events")(i =>
      skewKey(shifted(raw("events"), i, "event_id", "user_id"),
        "user_id", hotUser, density = 10))
    replicate("documents") { i =>
      val base = shifted(raw("documents"), i, "doc_id")
      if (i == 0) base
      else {
        // Per-replica character BIJECTION (Caesar shift of the letter
        // alphabet): a bijection maps word shingles AND char n-grams
        // 1:1, so within-replica similarity structure is preserved for
        // both shingle families while cross-replica text shares ~no
        // features. (The earlier per-token suffix idea corrupts char
        // n-grams: every token boundary then carries the same "_ri"
        // grams, making them corpus-common within a replica — LSH
        // buckets blow up quadratically BY CONSTRUCTION, not by bug.)
        // Length is preserved, so n_chars stays valid.
        val lower = "abcdefghijklmnopqrstuvwxyz"
        val upper = lower.toUpperCase
        def rot(s: String) = s.drop(i % 26) + s.take(i % 26)
        base.withColumn("text",
          translate(col("text"), lower + upper, rot(lower) + rot(upper)))
      }
    }
    replicate("embeddings") { i =>
      val base = shifted(raw("embeddings"), i, "vec_id")
      if (i == 0) base
      else base.withColumn("embedding", concat(
        slice(col("embedding"), lit(i + 1), size(col("embedding")) - lit(i)),
        slice(col("embedding"), lit(1), lit(i))))
    }

    Files.createFile(marker)
  }

  /** Write a DataFrame as one parquet FILE at `dst` (the fixture
    * layout): single-partition write to a temp dir, then move the part
    * file into place.
    */
  private def writeSingleFile(df: DataFrame, dst: Path): Unit = {
    val tmp = Files.createTempDirectory("graft_synth_stage")
    // 8 MB row groups: a coalesce(1) write otherwise emits ONE row
    // group per table, which caps every downstream scan at one
    // productive map task (a parquet byte-range split only reads row
    // groups STARTING inside it) — that both serializes the scan and
    // makes AQE's skew-split a no-op, since a skewed reduce partition
    // with a single map chunk cannot be subdivided. Real corpora are
    // many files x many row groups; 8 MB reproduces that shape in a
    // single-file fixture.
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written for $dst"))
    Files.deleteIfExists(dst)
    Files.move(part, dst)
    Files.walk(tmp).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
  }
}
