package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Two paths, mirroring production vector search:
  *  - brute force: one codegen'd cosine scan + TakeOrderedAndProject
  *    (per-partition top-k heaps, driver merge — no global sort). This
  *    is the exact baseline and already scales linearly.
  *  - IVF: vectors assigned to coarse centroids; the query probes only
  *    the nprobe nearest cells, scanning a fraction of the data. The
  *    centroid list here is a deterministic sample (first nlist vectors);
  *    at 100 TB the list comes from k-means over a sample — the plan
  *    shape (pruned scan + top-k) is identical.
  */
object SimilarityOps {
  type Q = (SparkSession, String) => DataFrame

  /** Fetch one embedding as a driver-side literal (single-row lookup). */
  private[graft] def vectorOf(spark: SparkSession, dir: String, id: Long): Seq[Double] =
    Tables.load(spark, dir, "embeddings")
      .where(col("vec_id") === lit(id))
      .select("embedding").head()
      .getSeq[Float](0).map(_.toDouble)

  /** Exact top-10 by cosine similarity to vec_id=0 (query row excluded). */
  private val similarityTopk: Q = (spark, dir) => {
    val q = vectorOf(spark, dir, 0L)
    Tables.load(spark, dir, "embeddings")
      .where(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        round(VectorOps.cosineConst(col("embedding"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Batch k-NN JOIN: top-k cosine neighbors for EVERY query vector at
    * once (vs [[similarityTopk]]'s single probe). The query set
    * broadcasts (it is small by construction — an eval set, a dedup
    * probe batch); the corpus side streams through a
    * BroadcastNestedLoopJoin — the honest physical shape of a dense
    * scoring pass — and the per-query top-k runs through
    * [[graft.functions.TopKAggregator]], so partial aggregation carries
    * ≤k rows per query through the one shuffle instead of every
    * (corpus × query) score. At 100 TB the corpus never moves: score +
    * heap-fold happen map-side; only k·|queries| rows reach reducers.
    * Norms are staged per side before the join so each corpus row's
    * norm is computed once, not once per query.
    */
  /** `queryIds`: explicit query id set instead of the id-prefix split —
    * the corpus side then stays the FULL table (each query's own row is
    * excluded by the join condition). Default behavior unchanged.
    */
  def knnJoin(emb: org.apache.spark.sql.DataFrame, nQueries: Long = 10L,
      k: Int = 3,
      queryIds: Option[Seq[Long]] = None): org.apache.spark.sql.DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import graft.functions.{Scored, TopK}
    val qSide = queryIds match {
      case Some(ids) => emb.where(col("vec_id").isin(ids: _*))
      case None => emb.where(col("vec_id") < nQueries)
    }
    val cSide = queryIds match {
      case Some(_) => emb
      case None => emb.where(col("vec_id") >= nQueries)
    }
    val qs = qSide
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        VectorOps.l2Norm(col("embedding")).as("q_norm"))
    val corpus = cSide
      .select(col("vec_id"), col("embedding"),
        VectorOps.l2Norm(col("embedding")).as("a_norm"))
    // same arithmetic sequence as VectorOps.cosine: dot / (normA*normB)
    val norm = col("a_norm") * col("q_norm")
    val cos = when(norm === 0.0, lit(0.0))
      .otherwise(VectorOps.dot(col("embedding"), col("q_vec")) / norm)
    corpus.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), round(cos, 6).as("cos_sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, sim) => Scored(sim, id) }
      .agg(TopK.aggregator(k).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (s, i) => (qid, s.id, s.score, i + 1) } }
      .toDF("q_id", "vec_id", "cos_sim", "nn_rank")
  }

  private val knnJoinQ: Q = (spark, dir) =>
    knnJoin(Tables.load(spark, dir, "embeddings")).orderBy("q_id", "nn_rank")

  /** Per-label embedding centroid audit — the embedding-space health
    * check (are label clusters coherent? did a pipeline change move
    * them?). Distributed per-group decimal-quantized means — the same
    * deterministic arithmetic as the IVF quantizer ([[kmeansCentroids]]),
    * but as a registered aggregate: two shuffles ((label,dim) then
    * label), state bounded by |labels|×dim, corpus never collected.
    */
  private val embeddingCentroids: Q = (spark, dir) => {
    val dec = org.apache.spark.sql.types.DecimalType(28, 14)
    Tables.load(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg((sum(col("v").cast(dec)).cast("double") / count(lit(1L))).as("m"),
        count(lit(1L)).as("n"))
      .groupBy("label")
      .agg(max(col("n")).as("n_vecs"),
        round(sqrt(sum((col("m") * col("m")).cast(dec)).cast("double")), 6)
          .as("centroid_norm"))
      .orderBy("label")
  }

  /** nearest-cell assignment expression for a centroid list. */
  private[graft] def cellExpr(centroids: Seq[(Int, Seq[Double])]) =
    array_max(array(centroids.map { case (i, c) =>
      struct(VectorOps.cosineConst(col("embedding"), c).as("s"), lit(i).as("i"))
    }: _*)).getField("i")

  /** Broadcast-matrix assignment for LARGE centroid lists: one scalar
    * UDF holding the k×dim matrix in a closure (broadcast once per
    * executor) instead of [[cellExpr]]'s O(k·dim)-node expression tree,
    * which at k in the hundreds bloats codegen past the JIT's method
    * limits. The arithmetic replays cosineConst exactly — same
    * left-to-right fold order for the dot product and both norms, same
    * zero-norm guard, same argmax tie-break to the HIGHER cell id
    * (array_max over struct(s, i) orders lexicographically; iterating
    * ascending ids with `>=` reproduces it) — so the two paths produce
    * IDENTICAL assignments (pinned by SimilaritySpec at k=16) and the
    * k threshold is a pure physical-plan switch.
    */
  private[graft] def cellUdf(centroids: Seq[(Int, Seq[Double])]): Column = {
    val sorted = centroids.sortBy(_._1)
    val ids = sorted.map(_._1).toArray
    val mat = sorted.map(_._2.toArray).toArray
    // same left fold as l2Norm: acc + x*x in element order, then sqrt
    val norms = mat.map { c =>
      var s = 0.0; var j = 0
      while (j < c.length) { s += c(j) * c(j); j += 1 }
      math.sqrt(s)
    }
    val assign = udf { (emb: Seq[Float]) =>
      val e = new Array[Double](emb.length)
      var na = 0.0
      var i = 0
      while (i < e.length) {
        e(i) = emb(i).toDouble; na += e(i) * e(i); i += 1
      }
      val an = math.sqrt(na)
      var bestS = Double.NegativeInfinity
      var bestI = ids(0)
      var cI = 0
      while (cI < mat.length) {
        val c = mat(cI)
        var d = 0.0; var j = 0
        while (j < c.length) { d += e(j) * c(j); j += 1 }
        val n = an * norms(cI)
        val s = if (n == 0.0) 0.0 else d / n
        if (s >= bestS) { bestS = s; bestI = ids(cI) }
        cI += 1
      }
      bestI
    }
    assign(col("embedding"))
  }

  /** Codegen expression tree below the threshold, broadcast-matrix UDF
    * above it — identical answers either side (see [[cellUdf]]).
    */
  private[graft] def assignCell(centroids: Seq[(Int, Seq[Double])]): Column =
    if (centroids.size <= 32) cellExpr(centroids) else cellUdf(centroids)

  /** nprobe-NEAREST cells per ROW — the bulk twin of [[probeIvf]]'s
    * driver-side centroid ranking, as a map-side column: same cosine
    * arithmetic (left-fold dot and norms over the double-cast
    * elements), same tie-break (similarity DESC, cell id ASC — the
    * driver path's stable sortBy, and the oracle's ORDER BY ... DESC,
    * cell ASC). Expression form sorts struct(0.0 - sim, cell) with
    * array_sort (lexicographic ascending = sim descending, id
    * ascending; 0.0 - sim instead of unary minus keeps a zero
    * similarity at +0.0 on both engines) and slices the first nprobe;
    * above the [[assignCell]] centroid-count threshold the
    * broadcast-matrix UDF takes over (same codegen-blowup reason as
    * [[cellUdf]]).
    */
  private[graft] def probeCellsExpr(centroids: Seq[(Int, Seq[Double])],
      nprobe: Int, v: Column): Column =
    slice(transform(array_sort(array(centroids.sortBy(_._1).map {
      case (i, c) =>
        struct((lit(0.0) - VectorOps.cosineConst(v, c)).as("ns"),
          lit(i).as("cid"))
    }: _*)), x => x.getField("cid")), 1, nprobe)

  private[graft] def probeCellsUdf(centroids: Seq[(Int, Seq[Double])],
      nprobe: Int, vcol: Column): Column = {
    val sorted = centroids.sortBy(_._1)
    val ids = sorted.map(_._1).toArray
    val mat = sorted.map(_._2.toArray).toArray
    val norms = mat.map { c =>
      var s = 0.0; var j = 0
      while (j < c.length) { s += c(j) * c(j); j += 1 }
      math.sqrt(s)
    }
    val f = udf { (emb: Seq[Float]) =>
      val e = new Array[Double](emb.length)
      var na = 0.0
      var i = 0
      while (i < e.length) {
        e(i) = emb(i).toDouble; na += e(i) * e(i); i += 1
      }
      val an = math.sqrt(na)
      val scored = Array.tabulate(mat.length) { cI =>
        val c = mat(cI)
        var d = 0.0; var j = 0
        while (j < c.length) { d += e(j) * c(j); j += 1 }
        val n = an * norms(cI)
        ((if (n == 0.0) 0.0 else d / n), ids(cI))
      }
      scored.sortBy { case (s, id) => (0.0 - s, id) }
        .take(nprobe).map(_._2)
    }
    f(vcol)
  }

  private[graft] def probeCells(centroids: Seq[(Int, Seq[Double])],
      nprobe: Int, v: Column): Column =
    if (centroids.size <= 32) probeCellsExpr(centroids, nprobe, v)
    else probeCellsUdf(centroids, nprobe, v)

  /** Deterministic k-means (Lloyd) for the IVF coarse quantizer:
    * seeded with the first k vectors, `iters` assignment/mean rounds.
    * Each round is one Spark aggregation (posexplode → per-(cell,dim)
    * mean); only k×dim doubles ever reach the driver, so the same code
    * trains the quantizer from a sample at 100 TB.
    */
  def kmeansCentroids(emb: org.apache.spark.sql.DataFrame, k: Int,
      iters: Int): Seq[(Int, Seq[Double])] = {
    var centroids: Seq[(Int, Seq[Double])] =
      emb.where(col("vec_id") < k.toLong).orderBy("vec_id")
        .select("vec_id", "embedding").collect().toSeq
        .map { case Row(id: Long, v: scala.collection.Seq[_]) =>
          (id.toInt, v.asInstanceOf[scala.collection.Seq[Float]].toSeq.map(_.toDouble))
        }
    for (_ <- 1 to iters) {
      // Decimal-quantized mean: summing doubles is partition-order
      // dependent, so a plain avg() could assign borderline vectors to
      // different cells on different cluster sizes — the index must be
      // REPRODUCIBLE at any parallelism. DECIMAL(28,14) per-element
      // rounding is deterministic and the decimal sum is associative.
      // The mean is sum(decimal)::double / count — the SAME arithmetic
      // the DuckDB oracle replays ([[ivfOracle]] meanCte); avg over
      // decimal would divide at decimal scale 18 first and can differ
      // from the oracle by ~1 ulp, enough to flip a near-tie argmax.
      val means = emb.withColumn("cell", assignCell(centroids))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(28, 14)))
          .cast("double") / count(lit(1L))).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      // empty cells keep their previous centroid
      centroids = centroids.map { case (i, c) => (i, means.getOrElse(i, c)) }
    }
    centroids
  }

  /** An IVF index built OFFLINE, once: the driver-side coarse-centroid
    * list plus the cell-assigned vector table, persisted and
    * materialized at build time. Production vector search never trains
    * the quantizer on the query path — build cost (k-means rounds +
    * one assignment pass) is paid here; probes only filter + scan.
    */
  final case class IvfIndex(centroids: Seq[(Int, Seq[Double])],
      assigned: DataFrame)

  /** Build (or fetch the already-built) IVF index for a dataset. Keyed
    * by (application, dir, params) so repeated probes — and bench
    * passes — reuse one quantizer and one persisted assignment table,
    * exactly like an on-disk index would be reused at 100 TB.
    * Staleness contract: assumes the dataset directory is immutable
    * within an application (true for the fixtures); key by a dataset
    * fingerprint before pointing this at mutable paths.
    * CacheRegistry-managed: LRU eviction unpersists the assignment
    * table; a later probe rebuilds the identical index (deterministic
    * k-means seeds/rounds).
    */
  def buildIvfIndex(spark: SparkSession, dir: String, nlist: Int = 16,
      iters: Int = 2): IvfIndex = {
    graft.engine.CacheRegistry.memo("sim.ivf", dir, nlist, iters)({
      val emb = Tables.load(spark, dir, "embeddings")
      val centroids = kmeansCentroids(emb, nlist, iters)
      val assigned = emb.withColumn("cell", assignCell(centroids)).persist()
      assigned.count() // materialize: the build pays the assignment pass
      IvfIndex(centroids, assigned)
    })(_.assigned.unpersist(blocking = false))
  }

  /** Persist an IVF index to disk: the centroid list as a tiny parquet
    * (nlist rows) and the assigned vector table PARTITIONED BY cell —
    * the on-disk layout production vector search actually uses. The
    * payoff is physical, not cosmetic: a probe in any later session
    * reads ONLY the nprobe pruned cell directories (PartitionFilters
    * on the scan — pinned by SimilaritySpec), so at 100 TB a probe
    * touches nprobe/nlist of the bytes no matter how large the corpus
    * grows, with zero in-memory build state required. The same move
    * the persisted dedup-fingerprint index makes for dedup
    * ([[DedupOps.dedupIncremental]]): index build is a batch job,
    * index use is cheap and incremental.
    */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.toDF("label", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    index.assigned
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/assigned")
  }

  // ---------------------------------------------------------------
  // Cell manifest — the rebalance commit protocol
  // ---------------------------------------------------------------
  // A plain saved index ([[saveIvfIndex]] layout) is resolved by
  // directory listing; the moment [[rebalanceIvfIndex]] needs to swap
  // cell directories it switches the root to MANIFEST-RESOLVED: one
  // atomically-renamed `cells.json` names the live centroid dir and
  // the valid cell ids, so a reader sees either the pre-rebalance
  // layout or the post-rebalance one, never a mix — the
  // [[graft.sources.AtomicPublish]] single-pointer discipline applied
  // to the cell-partitioned layout. Crash debris (child dirs appended
  // but never committed; parent dirs committed away but not yet
  // dropped) is ids OUTSIDE the manifest's cell list: invisible to
  // every reader and GC'd by the next rebalance.
  //
  // `prevCells`/`prevDir` record the generation a commit SUPERSEDED:
  // those dirs stay on disk until the NEXT rebalance entry (a grace
  // window), because readers are lock-free — a reader that resolved
  // the pre-commit manifest may still be scanning the parent dirs when
  // the commit lands, and an immediate post-commit delete would fail
  // it with FileNotFound. One superseded generation on disk makes
  // "a reader sees either layout, never a mix" hold for CONCURRENT
  // reads too, not just crashes; a reader two generations behind would
  // have to straddle two full rebalances, which the per-root writer
  // lock makes a much older read.
  final case class CellManifest(gen: Long, centroidsDir: String,
      cells: Seq[Int], prevCells: Seq[Int] = Seq.empty,
      prevDir: Option[String] = None)

  private def cellManifestPath(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path, "cells.json")

  private def readCellManifest(path: String): Option[CellManifest] = {
    val p = cellManifestPath(path)
    if (!java.nio.file.Files.exists(p)) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      val gen = """"gen"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong).getOrElse(0L)
      val cd = """"centroidsDir"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse("centroids")
      def intList(k: String) =
        (s""""$k"\\s*:\\s*\\[([^\\]]*)\\]""").r.findFirstMatchIn(txt)
          .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty)
            .map(_.toInt).toSeq).getOrElse(Seq.empty)
      val prevDir = """"prevDir"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
        .map(_.group(1))
      Some(CellManifest(gen, cd, intList("cells"), intList("prevCells"),
        prevDir))
    }
  }

  private def writeCellManifest(path: String, m: CellManifest): Unit = {
    val p = cellManifestPath(path)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    val prevDirJson = m.prevDir.map(d => s""","prevDir":"$d"""").getOrElse("")
    java.nio.file.Files.write(tmp,
      (s"""{"gen":${m.gen},"centroidsDir":"${m.centroidsDir}",""" +
        s""""cells":[${m.cells.sorted.mkString(",")}],""" +
        s""""prevCells":[${m.prevCells.sorted.mkString(",")}]""" +
        prevDirJson + "}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The index's member table, manifest-resolved: without a manifest,
    * the plain partitioned scan (never-rebalanced roots keep their
    * exact plan shape); with one, ONLY the manifest's cell dirs that
    * exist on disk — appended-but-uncommitted children and
    * committed-away parents are ids outside the list, so crash debris
    * is structurally unreadable. `basePath` keeps `cell` a partition
    * column, so probes partition-prune identically in both forms.
    */
  def ivfAssignedFrame(spark: SparkSession, path: String): DataFrame =
    readCellManifest(path) match {
      case None => spark.read.parquet(s"$path/assigned")
      case Some(m) =>
        val dirs = m.cells.sorted
          .map(c => s"$path/assigned/cell=$c")
          .filter(d => java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
        require(dirs.nonEmpty,
          s"manifest at $path names no on-disk cells: $m")
        spark.read.option("basePath", s"$path/assigned")
          .parquet(dirs: _*)
    }

  /** Load a persisted IVF index: centroids collected to the driver
    * (nlist × dim doubles — trivial), assignments as a lazy
    * (manifest-resolved) partitioned scan. No recompute, no k-means,
    * no assignment pass.
    */
  def loadIvfIndex(spark: SparkSession, path: String): IvfIndex =
    IvfIndex(
      loadIvfCentroidsFrom(spark, path,
        readCellManifest(path).map(_.centroidsDir).getOrElse("centroids")),
      ivfAssignedFrame(spark, path))

  /** The quantizer alone — nlist × dim doubles to the driver. The
    * versioned lane stores no `assigned/` dir, so it loads this, never
    * [[loadIvfIndex]].
    */
  private def loadIvfCentroids(spark: SparkSession,
      path: String): Seq[(Int, Seq[Double])] =
    loadIvfCentroidsFrom(spark, path, "centroids")

  private def loadIvfCentroidsFrom(spark: SparkSession, path: String,
      dir: String): Seq[(Int, Seq[Double])] =
    spark.read.parquet(s"$path/$dir")
      .orderBy("label").collect().toSeq
      .map { case Row(i: Int, c: scala.collection.Seq[_]) =>
        (i, c.asInstanceOf[scala.collection.Seq[Double]].toSeq)
      }

  /** Append a batch of new vectors to a persisted index WITHOUT
    * rebuilding: the coarse quantizer is FROZEN after training (the
    * production contract — train once on a sample, ingest forever), so
    * an increment only pays one assignment pass over ITS OWN rows and
    * an append into the cell-partitioned layout. Day-N ingest cost is
    * O(|increment|), independent of index size — the similarity-search
    * analog of [[DedupOps.dedupIncremental]]'s fingerprint-index
    * append. Caller contract: `newVecs` has the embeddings schema and
    * vec_ids disjoint from the index (enforce upstream, exactly like
    * any primary-keyed ingest).
    */
  def appendToIvfIndex(spark: SparkSession, newVecs: DataFrame,
      path: String): Unit = {
    val centroids = loadIvfIndex(spark, path).centroids
    newVecs.withColumn("cell", assignCell(centroids))
      .write.mode("append").partitionBy("cell").parquet(s"$path/assigned")
  }

  // ---------------------------------------------------------------
  // Versioned IVF append lane — EXACTLY-ONCE streaming index ingest
  // ---------------------------------------------------------------
  // The third index-maintenance protocol, completing the trilogy with
  // the LSH dedup index (DedupOps) and the BM25 inverted index
  // (RetrievalOps): production vector search trains the coarse
  // quantizer OFFLINE (on a historical sample) and ingests embeddings
  // continuously against FROZEN centroids — so the streamed index must
  // equal the batch-built one bit-for-bit, whatever the arrival order.
  // [[appendToIvfIndex]] above is mode("append") and therefore NOT
  // replay-safe: a foreachBatch retry would double-append. This lane
  // is: each batch writes its own cell-partitioned directory
  // (OVERWRITE — a torn retry replaces its own debris), and an atomic
  // epoch marker naming the committed directories is the commit point.
  // A replayed batchId at or below the marker's lastBatch is a no-op.
  // The marker read-modify-write is serialized per index root (JVM
  // monitor + OS file lock — the publishStreamBatch protocol), so two
  // misconfigured writers cannot drop each other's committed dirs.

  final case class IvfEpoch(lastBatch: Long, dirs: Seq[String])

  private val ivfRootMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withIvfLock[T](marker: java.nio.file.Path)(body: => T): T = {
    val monitor = ivfRootMonitors.computeIfAbsent(
      marker.toAbsolutePath.normalize.toString, _ => new Object)
    monitor.synchronized {
      val lockPath = marker.resolveSibling(
        marker.getFileName.toString + ".lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }

  private def ivfEpochPath(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path, "epoch.json")

  private def readIvfEpoch(p: java.nio.file.Path): IvfEpoch = {
    if (!java.nio.file.Files.exists(p)) IvfEpoch(-1L, Seq.empty)
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      val last = """"lastBatch"\s*:\s*(-?\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong).getOrElse(-1L)
      val dirs = """"dirs"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(txt)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
          .stripSuffix("\"")).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      IvfEpoch(last, dirs)
    }
  }

  private def writeIvfEpoch(p: java.nio.file.Path, e: IvfEpoch): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      (s"""{"lastBatch":${e.lastBatch},""" +
        s""""dirs":[${e.dirs.map(d => s""""$d"""").mkString(",")}]}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Initialize a versioned index root: the offline-trained quantizer
    * only — vectors arrive through [[appendToIvfIndexVersioned]].
    */
  def initIvfIndexVersioned(spark: SparkSession,
      centroids: Seq[(Int, Seq[Double])], path: String): Unit = {
    import spark.implicits._
    centroids.toDF("label", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Exactly-once batch append: assign against the frozen quantizer,
    * write the batch's own partitioned dir, commit via the marker.
    * Returns false for a replayed (already-committed) batchId.
    */
  def appendToIvfIndexVersioned(newVecs: DataFrame, path: String,
      batchId: Long): Boolean = {
    val spark = newVecs.sparkSession
    val marker = ivfEpochPath(path)
    withIvfLock(marker) {
      val epoch = readIvfEpoch(marker)
      if (batchId <= epoch.lastBatch) false
      else {
        val centroids = loadIvfCentroids(spark, path)
        val d = s"assigned_b$batchId"
        newVecs.withColumn("cell", assignCell(centroids))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$path/$d")
        // an EMPTY micro-batch still advances lastBatch (its replay
        // must stay a no-op) but registers no dir — a data-less dir
        // would break schema inference on load
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path, d))
        val hasData =
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala
              .exists(_.getFileName.toString.endsWith(".parquet"))
          } finally walk.close()
        writeIvfEpoch(marker,
          IvfEpoch(batchId, if (hasData) epoch.dirs :+ d else epoch.dirs))
        true
      }
    }
  }

  /** The versioned index as an [[IvfIndex]]: quantizer + the UNION of
    * committed batch dirs. Each dir keeps its own cell= partition
    * layout, so probes partition-prune within every committed batch.
    */
  def loadIvfIndexVersioned(spark: SparkSession, path: String): IvfIndex = {
    val epoch = readIvfEpoch(ivfEpochPath(path))
    require(epoch.dirs.nonEmpty,
      s"versioned IVF index at $path has no committed batches")
    // one partitioned scan per committed dir, unioned: each dir is its
    // own table root (sibling dirs confuse multi-path partition
    // discovery), and a cell predicate prunes within EVERY child scan
    IvfIndex(loadIvfCentroids(spark, path),
      epoch.dirs.map(d => spark.read.parquet(s"$path/$d"))
        .reduce(_.unionByName(_)))
  }

  /** Quiescent-point maintenance: fold the committed batch dirs into
    * ONE partitioned dir while PRESERVING lastBatch — the replay guard
    * survives the fold, so a pre-compaction batch retry stays a no-op
    * (the compactLshIndex contract). Returns the number of dirs
    * absorbed (0 = nothing to do).
    */
  def compactIvfIndexVersioned(spark: SparkSession, path: String): Int = {
    val marker = ivfEpochPath(path)
    withIvfLock(marker) {
      val epoch = readIvfEpoch(marker)
      if (epoch.dirs.size <= 1) 0
      else {
        val d = s"assigned_c${epoch.lastBatch}"
        epoch.dirs.map(x => spark.read.parquet(s"$path/$x"))
          .reduce(_.unionByName(_))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$path/$d")
        writeIvfEpoch(marker, IvfEpoch(epoch.lastBatch, Seq(d)))
        epoch.dirs.foreach { x =>
          val p = java.nio.file.Paths.get(path, x)
          if (java.nio.file.Files.exists(p)) {
            val walk = java.nio.file.Files.walk(p)
            val paths =
              try {
                import scala.jdk.CollectionConverters._
                walk.iterator().asScala.toSeq
              } finally walk.close()
            paths.sortBy(-_.getNameCount)
              .foreach(java.nio.file.Files.deleteIfExists(_))
          }
        }
        epoch.dirs.size
      }
    }
  }

  /** Per-cell row counts of a persisted index — the census a
    * rebalance decision reads (nlist rows to the driver).
    */
  def ivfCellSizes(spark: SparkSession, path: String): Map[Int, Long] =
    ivfAssignedFrame(spark, path)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Rebalance a persisted IVF index after skewed appends.
    *
    * [[appendToIvfIndex]] keeps the quantizer FROZEN (the production
    * contract), so a drifted ingest can silently bloat one cell until
    * every probe that ranks it pays a near-full scan of the hot
    * partition. This detects cells above `cap` and applies the
    * [[splitOversized]] discipline to the PERSISTED layout: each
    * oversized cell seeds a `branch`-way sub-quantizer with its
    * lowest-vec_id members (frozen seeds, no Lloyd rounds), members
    * re-assign by the same argmax-cosine / higher-id tie-break every
    * quantizer here uses, and the children become NEW cell partitions
    * with the seed vectors as their centroids. Surgical I/O: only the
    * split cells' rows are rewritten (an append creates just the new
    * child dirs, then the parent dirs are dropped); the rest of the
    * index is untouched. A production deployment would wrap the
    * dir-swap in the [[graft.sources.AtomicPublish]] manifest protocol.
    *
    * Invariant (spec-pinned): rebalancing changes the PHYSICAL
    * partition layout only — the member set is preserved, so a probe
    * over all cells returns the identical answer; what improves is the
    * per-probe partition size bound. Returns the number of split cells.
    */
  /** Test-only crash injection for the kill-mid-rebalance spec:
    * 1 = after the child dirs are written (before the new centroids),
    * 2 = after the new centroids land (before the manifest commit),
    * 3 = after the commit (before parent GC). Production value: None.
    */
  private[graft] var rebalanceKillAt: Option[Int] = None
  private def killPoint(n: Int): Unit =
    if (rebalanceKillAt.contains(n))
      throw new IllegalStateException(s"injected rebalance kill at window $n")

  def rebalanceIvfIndex(spark: SparkSession, path: String,
      cap: Int = 256, branch: Int = SemDedupBranch): Int =
    withIvfLock(cellManifestPath(path)) {
      // Switch the root to manifest-resolved BEFORE any child dir can
      // land: from here on, readers resolve through cells.json, so an
      // uncommitted child append is invisible instead of double-counted
      // (the crash window the r14 audit flagged).
      val m0 = readCellManifest(path).getOrElse {
        val m = CellManifest(0L, "centroids",
          loadIvfCentroids(spark, path).map(_._1))
        writeCellManifest(path, m)
        m
      }
      // GC debris from a previously killed rebalance (ids outside the
      // committed manifest — orphan children readers never saw) AND the
      // previous commit's GRACED generation (its grace window ends at
      // this entry: any reader that resolved that manifest has long
      // finished — the writer lock serialized at least one full
      // rebalance in between). Entry GC keeps live ids only.
      gcOutsideManifest(path, m0, keepPrev = false)
      val idx = loadIvfIndex(spark, path)
      val sizes = ivfCellSizes(spark, path)
      val oversized = sizes.filter(_._2 > cap).keys.toSeq.sorted
      if (oversized.isEmpty) return 0
      var nextId = idx.centroids.map(_._1).max + 1
      val newCents =
        scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Double])]
      newCents ++= idx.centroids.filterNot(c => oversized.contains(c._1))
      for (cell <- oversized) {
        val members = idx.assigned.where(col("cell") === cell)
        val seeds = members.orderBy("vec_id").limit(branch)
          .select("embedding").collect()
          .map(_.getSeq[Float](0).toSeq.map(_.toDouble))
        val subCents = seeds.zipWithIndex.map { case (v, i) => (nextId + i, v) }
        // eager checkpoint BEFORE the append: the write targets the same
        // partitioned root the plan reads — cut the lineage so the write
        // job never lists its own output
        val reassigned = members.drop("cell")
          .withColumn("cell", assignCell(subCents.toSeq)).localCheckpoint(true)
        reassigned.write.mode("append").partitionBy("cell")
          .parquet(s"$path/assigned")
        // the checkpoint existed only to decouple the write from its
        // own input dirs — durably written now, release the blocks
        graft.engine.CacheRegistry.freeFrame(reassigned)
        newCents ++= subCents
        nextId += seeds.length
      }
      killPoint(1)
      // new quantizer into its OWN versioned dir — overwriting
      // `centroids` in place would be a second torn-crash window
      val newCentDir = s"centroids_g${m0.gen + 1}"
      import spark.implicits._
      newCents.toSeq.sortBy(_._1).toDF("label", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/$newCentDir")
      killPoint(2)
      // COMMIT: one atomic manifest rename flips every reader from the
      // parent layout to the child layout. The cell list IS the new
      // centroid label set — kept cells + children, parents excluded.
      // The superseded parents/centroid dir are recorded as the GRACED
      // generation: they stay on disk until the next rebalance entry,
      // so a lock-free reader that resolved the pre-commit manifest can
      // finish its scan (no post-commit FileNotFound window).
      writeCellManifest(path, CellManifest(m0.gen + 1, newCentDir,
        newCents.map(_._1).sorted.toSeq,
        prevCells = oversized, prevDir = Some(m0.centroidsDir)))
      killPoint(3)
      // post-commit GC collects only debris OUTSIDE live ∪ graced —
      // older junk from crashes; the graced generation survives
      gcOutsideManifest(path, readCellManifest(path).get, keepPrev = true)
      oversized.length
    }

  /** Delete cell dirs whose id is outside the manifest's cell list and
    * versioned centroid dirs other than the live one — crash debris by
    * construction (a committed id is always listed).
    */
  private def gcOutsideManifest(path: String, m: CellManifest,
      keepPrev: Boolean): Unit = {
    val live =
      if (keepPrev) m.cells.toSet ++ m.prevCells else m.cells.toSet
    val liveDirs =
      if (keepPrev) Set(m.centroidsDir) ++ m.prevDir
      else Set(m.centroidsDir)
    val assignedRoot = java.nio.file.Paths.get(path, "assigned")
    if (java.nio.file.Files.isDirectory(assignedRoot)) {
      val ls = java.nio.file.Files.list(assignedRoot)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("cell="))
          .filterNot(p =>
            p.getFileName.toString.stripPrefix("cell=").toIntOption
              .exists(live))
          .foreach(p =>
            org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
      } finally ls.close()
    }
    val rootLs = java.nio.file.Files.list(java.nio.file.Paths.get(path))
    try {
      import scala.jdk.CollectionConverters._
      rootLs.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          (n.startsWith("centroids_g") || n == "centroids") &&
            !liveDirs(n)
        }
        .foreach(p =>
          org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    } finally rootLs.close()
  }

  /** Probe an IVF index: rank cells by centroid similarity on the
    * driver (nlist doubles — trivial), scan only the nprobe nearest
    * cells, exact top-k within them.
    */
  def probeIvf(index: IvfIndex, q: Seq[Double], nprobe: Int = 4,
      k: Int = 10, excludeId: Long = -1L): DataFrame = {
    val probeCells = index.centroids
      .map { case (i, c) => (i, VectorOps.cosineSeq(q, c)) }
      .sortBy(-_._2).take(nprobe).map(_._1)
    index.assigned
      .where(col("vec_id") =!= excludeId)
      .where(col("cell").isin(probeCells: _*))
      .select(col("vec_id"),
        round(VectorOps.cosineConst(col("embedding"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** FILTERED vector search — attribute predicate + ANN probe in ONE
    * cell-pruned scan, the standard "filtered vector search" surface
    * every retrieval stack exposes ("nearest neighbors among docs
    * WHERE …"). The metadata predicate is pushed INTO the pruned cell
    * scan (on the persisted index: PartitionFilters prune to nprobe
    * cell dirs AND the predicate reaches the parquet reader as a
    * pushed filter — pinned by e_plan_audit), so a probe reads
    * nprobe/nlist of the bytes and filters before scoring, never
    * post-filtering a larger candidate list. Semantics note (same as
    * every pre-filtered IVF): cells are ranked by the UNfiltered
    * centroid geometry, then matching members of the nprobe cells are
    * ranked exactly — identical recall behavior to [[probeIvf]]
    * restricted to the predicate's stratum.
    */
  def probeIvfFiltered(index: IvfIndex, q: Seq[Double], pred: Column,
      nprobe: Int = 4, k: Int = 10, excludeId: Long = -1L): DataFrame = {
    val probeCells = index.centroids
      .map { case (i, c) => (i, VectorOps.cosineSeq(q, c)) }
      .sortBy(-_._2).take(nprobe).map(_._1)
    index.assigned
      .where(col("vec_id") =!= excludeId)
      .where(col("cell").isin(probeCells: _*))
      .where(pred)
      .select(col("vec_id"), col("label"),
        round(VectorOps.cosineConst(col("embedding"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** BULK join-form ANN probe: top-k neighbors for EVERY row of a
    * query DataFrame against an IVF index in ONE distributed plan —
    * the many-query twin of [[probeIvf]], which takes a single
    * driver-side vector. A training-data pipeline probes millions of
    * queries; routing them through the driver one probeIvf call at a
    * time is a non-starter. `queries` schema: (q_id BIGINT, q_vec
    * ARRAY<FLOAT>).
    *
    * Shape (the production IVF batch-search plan):
    *  1. centroids ride to executors inside the ranking expression /
    *     UDF closure (broadcast once, never shuffled);
    *  2. each query maps to its nprobe nearest cells map-side (same
    *     arithmetic + tie-break as probeIvf's driver ranking —
    *     [[probeCells]]) and explodes to (q_id, q_vec, cell);
    *  3. the UNION of probed cells — at most nlist ints, a bounded
    *     collect — statically prunes the index scan, so on the
    *     persisted layout only touched cell directories are read
    *     (PartitionFilters, spec-pinned) no matter the corpus size;
    *  4. queries×cells join the pruned index on cell. Default
    *     `broadcastQueries`: probe batches are bounded (an eval set,
    *     a dedup candidate batch), so the corpus never moves — scores
    *     and per-query top-k heaps fold map-side and only ≤k rows per
    *     query cross the one shuffle ([[graft.functions.TopK]]
    *     partial aggregation). For query sets beyond broadcast size
    *     flip it: both sides exchange on cell (shuffle-hash, no
    *     nested loop, never all-pairs).
    * Each corpus vector lives in exactly one cell, so the join emits
    * each (query, member) pair at most once — no dedup pass needed.
    * A query's own row (vec_id = q_id) is excluded, matching
    * probeIvf's excludeId contract.
    */
  def probeIvfMany(index: IvfIndex, queries: DataFrame, nprobe: Int = 4,
      k: Int = 10, broadcastQueries: Boolean = true,
      pred: Column = lit(true)): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    import graft.functions.{Scored, TopK}
    val qc = queries.select(col("q_id"), col("q_vec"),
      VectorOps.l2Norm(col("q_vec")).as("q_norm"),
      explode(probeCells(index.centroids, nprobe, col("q_vec")))
        .as("cell"))
    val touched = qc.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // the attribute predicate lands INSIDE the pruned scan (the
    // probeIvfFiltered contract, bulk form): candidates filter before
    // scoring, never a post-filter over a larger top-k
    val corpus = index.assigned
      .where(col("cell").isin(touched: _*))
      .where(pred)
      .select(col("vec_id"), col("cell"), col("embedding"),
        VectorOps.l2Norm(col("embedding")).as("a_norm"))
    val qSide = if (broadcastQueries) broadcast(qc)
                else qc.hint("shuffle_hash")
    val norm = col("a_norm") * col("q_norm")
    val cos = when(norm === 0.0, lit(0.0))
      .otherwise(VectorOps.dot(col("embedding"), col("q_vec")) / norm)
    corpus.join(qSide, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), round(cos, 6).as("cos_sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, sim) => Scored(sim, id) }
      .agg(TopK.aggregator(k).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (s, i) => (qid, s.id, s.score, i + 1) } }
      .toDF("q_id", "vec_id", "cos_sim", "nn_rank")
  }

  /** Bulk IVFADC probe — [[probeIvfMany]]'s join shape with PQ/ADC
    * scoring: the query relation is answered against the persisted
    * cell-partitioned index with COMPRESSED-domain arithmetic. Corpus
    * members of the touched cells are PQ-encoded ONCE (m code ids per
    * vector — the scalar-UDF-holding-the-codebook precedent of
    * [[pqAdcColumn]], evaluated per corpus row, NOT per pair); each
    * query precomputes its flattened m×k ADC distance table likewise
    * once. The per-pair score — the only work that scales with
    * |candidates| — is then m codegen'd `element_at` lookups summed
    * (integer micro-distances, bit-deterministic at any partitioning),
    * never a UDF in the pair loop. Per-query top-k rides the bounded
    * TopK aggregator on the NEGATED distance (exact for these
    * integer-valued doubles), giving (adc ASC, vec_id ASC) order.
    *
    * At 100 TB this is the batch-embedding-lookup plan: pruned index
    * scan (nprobe/nlist of the data) + broadcast query tables + m adds
    * per candidate, with k rows per query crossing the final shuffle.
    */
  def probeIvfPqMany(index: IvfIndex, cb: Array[Array[Array[Double]]],
      queries: DataFrame, nprobe: Int = 4, k: Int = 10,
      broadcastQueries: Boolean = true): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    import graft.functions.{Scored, TopK}
    val encode = udf { (emb: Seq[Float]) =>
      val e = emb.toArray.map(_.toDouble)
      Array.tabulate(PqM) { m =>
        val sub = e.slice(m * PqSubDim, (m + 1) * PqSubDim)
        var bestD = Long.MaxValue
        var bestC = 0
        var c = 0
        while (c < PqK) {
          val d = l2MicroSq(sub, cb(m)(c))
          if (d < bestD) { bestD = d; bestC = c }
          c += 1
        }
        bestC
      }
    }
    val dtUdf = udf { (qv: Seq[Float]) =>
      val q = qv.toArray.map(_.toDouble)
      Array.tabulate(PqM * PqK) { i =>
        val m = i / PqK
        l2MicroSq(q.slice(m * PqSubDim, (m + 1) * PqSubDim), cb(m)(i % PqK))
      }
    }
    val qc = queries.select(col("q_id"),
      dtUdf(col("q_vec")).as("dt"),
      explode(probeCells(index.centroids, nprobe, col("q_vec"))).as("cell"))
    val touched = qc.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val corpus = index.assigned
      .where(col("cell").isin(touched: _*))
      .select(col("vec_id"), col("cell"),
        encode(col("embedding")).as("codes"))
    val qSide = if (broadcastQueries) broadcast(qc) else qc.hint("shuffle_hash")
    val adc = (0 until PqM).map { m =>
      expr(s"element_at(dt, element_at(codes, ${m + 1}) + ${m * PqK} + 1)")
    }.reduce(_ + _)
    corpus.join(qSide, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), adc.as("adc_micro"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, id, a) => Scored(-a.toDouble, id) }
      .agg(TopK.aggregator(k).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (s, i) =>
          (qid, s.id, -s.score.toLong, i + 1) } }
      .toDF("q_id", "vec_id", "adc_micro", "nn_rank")
  }

  /** IVF ANN as registered: probe-only against the cached index
    * (nlist=16, nprobe=4). First invocation builds the index; every
    * later one reuses it.
    */
  private val annIvf: Q = (spark, dir) =>
    probeIvf(buildIvfIndex(spark, dir), vectorOf(spark, dir, 0L),
      nprobe = 4, k = 10, excludeId = 0L)

  /** IVF ANN against the PERSISTED index: first invocation per dataset
    * builds and writes the index (a batch job in production), then the
    * probe itself always goes through [[loadIvfIndex]] — centroids
    * re-read from parquet, assignments scanned from the cell-partitioned
    * layout with partition pruning. Same answer as [[annIvf]], same
    * oracle; what changes is WHERE the index lives.
    */
  /** Build-once path of the persisted default index for a dataset
    * (shared by the persisted cosine probe AND the persisted ADC
    * probe — one on-disk index, two scoring modes, as in production).
    * The index is a full parquet copy of the embeddings table, so it
    * lives in a registry-owned directory: eviction (or JVM exit)
    * deletes it.
    */
  private[graft] def persistedIndexPath(spark: SparkSession, dir: String): String =
    graft.engine.CacheRegistry.memoDir("sim.ivfdisk", dir) { p =>
      saveIvfIndex(buildIvfIndex(spark, dir), p); p
    }

  private val annIvfPersisted: Q = (spark, dir) =>
    probeIvf(loadIvfIndex(spark, persistedIndexPath(spark, dir)),
      vectorOf(spark, dir, 0L), nprobe = 4, k = 10, excludeId = 0L)

  /** Gate form of the filtered probe: even-labeled vectors only,
    * against the PERSISTED index (partition pruning + pushed
    * predicate both land on the one scan).
    */
  private val annFiltered: Q = (spark, dir) =>
    probeIvfFiltered(loadIvfIndex(spark, persistedIndexPath(spark, dir)),
      vectorOf(spark, dir, 0L), col("label") % 2 === 0,
      nprobe = 4, k = 10, excludeId = 0L)

  /** Gate form of the bulk probe: the first 8 embeddings as the query
    * batch, top-5 each against the PERSISTED index — every query's
    * cells ranked map-side, one pruned scan, one bounded top-k shuffle.
    */
  private val annBulk: Q = (spark, dir) =>
    probeIvfMany(
      loadIvfIndex(spark, persistedIndexPath(spark, dir)),
      Tables.load(spark, dir, "embeddings").where(col("vec_id") < 8L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      nprobe = 4, k = 5)
      .orderBy("q_id", "nn_rank")

  private val annBulkPq: Q = (spark, dir) =>
    probeIvfPqMany(
      loadIvfIndex(spark, persistedIndexPath(spark, dir)),
      pqCodebooks(spark, dir),
      Tables.load(spark, dir, "embeddings").where(col("vec_id") < 8L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      nprobe = 4, k = 5)
      .orderBy("q_id", "nn_rank")

  /** FILTERED bulk probe: the attribute predicate + the bulk join-form
    * probe in one plan — "nearest neighbors among rows WHERE …" for a
    * whole query relation. Same per-query answers as running
    * [[probeIvfFiltered]] once per query.
    */
  private val annBulkFiltered: Q = (spark, dir) =>
    probeIvfMany(
      loadIvfIndex(spark, persistedIndexPath(spark, dir)),
      Tables.load(spark, dir, "embeddings").where(col("vec_id") < 8L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      nprobe = 4, k = 5, pred = col("label") % 2 === 0)
      .orderBy("q_id", "nn_rank")

  /** k-NN CLASSIFICATION over the index — the auto-labeling move a
    * curation pipeline runs when a trusted labeled pool exists and the
    * rest of the corpus needs labels (weak supervision / quality-tier
    * propagation by embedding neighborhood): each query takes the
    * MAJORITY label of its k nearest neighbors, ties broken by the
    * smallest label (deterministic — both engines agree).
    *
    * Shape: the bulk probe's one pruned scan + bounded top-k shuffle,
    * then the ≤ k·|queries| candidate rows BROADCAST back onto the
    * corpus for their labels (the corpus never reshuffles), and a
    * |queries|×|labels|-bounded vote aggregate. Cost is the probe's —
    * classification itself touches only candidate rows.
    */
  /** `broadcastCandidates`: the ≤ k·|queries| candidate list rides as
    * a broadcast by default (16 bytes/row — right for bounded probe
    * batches); past broadcast size (k·|queries| in the hundreds of
    * millions) flip it and the label join becomes a plain equi-join
    * both sides exchange on vec_id — never a corpus broadcast.
    */
  def knnClassify(index: IvfIndex, queries: DataFrame,
      labels: DataFrame, nprobe: Int = 4, k: Int = 10,
      broadcastCandidates: Boolean = true): DataFrame = {
    val nn = probeIvfMany(index, queries, nprobe, k)
      .select("q_id", "vec_id")
    val nnSide = if (broadcastCandidates) broadcast(nn)
                 else nn.hint("shuffle_hash")
    val votes = labels.select(col("vec_id"), col("label"))
      .join(nnSide, "vec_id")
      .groupBy("q_id", "label").agg(count(lit(1L)).as("n_votes"))
    votes
      .withColumn("vrn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("n_votes").desc, col("label"))))
      .where(col("vrn") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("n_votes"))
  }

  private val knnClassifyQ: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    knnClassify(
      loadIvfIndex(spark, persistedIndexPath(spark, dir)),
      emb.where(col("vec_id") < 8L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      emb, nprobe = 4, k = 10)
      .orderBy("q_id")
  }

  /** Symmetric int8 quantization of each embedding — the compression
    * step an ANN store applies before indexing (4× smaller than
    * float32). scale = max|x|/127; q_i = floor(x_i/scale + 0.5), an
    * explicit round-half-up both engines spell identically (no
    * banker's-rounding ambiguity). The audit output is exact-integer:
    * a position-weighted checksum pinning every quantized value (all
    * sums < 2⁵³, so IEEE addition order cannot matter) and max|q| ≤
    * 127 proving range fit. Per-row lambda work over 64-element
    * arrays, zero shuffle.
    */
  private val embQuantize: Q = (spark, dir) => {
    val staged = Tables.load(spark, dir, "embeddings")
      .withColumn("scale",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))) /
          lit(127.0))
    val q = (x: Column) =>
      floor(x.cast("double") / col("scale") + lit(0.5))
    // Spark lambda index is 0-based, DuckDB's is 1-based: weight (i+1)
    // here equals weight i there.
    val checksum = aggregate(
      transform(col("embedding"), (x, i) => q(x) * (i + 1).cast("double")),
      lit(0.0), (a, b) => a + b).cast("long")
    val qmax = array_max(transform(col("embedding"), x => abs(q(x))))
      .cast("long")
    staged.select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
      when(col("scale") === 0.0, 0L).otherwise(checksum).as("q_checksum"),
      when(col("scale") === 0.0, 0L).otherwise(qmax).as("q_max"))
      .orderBy("vec_id")
  }

  /** ANN quality ON THE GATE: recall@10 of the IVF probe against the
    * brute-force top-10, computed as data (one row: k, hit count,
    * recall). Both sides are deterministic, so the exact recall value
    * is hash-checked by the driver — a quantizer or probe regression
    * that silently degrades answer quality turns this row red even
    * though e_ann_ivf itself would still "pass" (it is self-consistent
    * by construction). The ScalaTest ≥0.8 floor stays as the quality
    * bar; this pins the exact value.
    */
  private val annRecall: Q = (spark, dir) => {
    val ivf = annIvf(spark, dir).select("vec_id")
    val exact = similarityTopk(spark, dir).select("vec_id")
    ivf.join(exact, Seq("vec_id"))
      .agg(count(lit(1L)).as("n_hits"))
      .select(lit(10).as("k"), col("n_hits"),
        round(col("n_hits") / lit(10.0), 2).as("recall_at_k"))
  }

  /** Mean IVFADC recall@5 over the 8 bulk queries — the STABLE
    * codebook-quality measure: the single-query rows ride ONE query's
    * near-tie geometry (a one-hit flip moves them by 0.1), so the
    * trained-vs-seed improvement only shows reliably averaged over a
    * query set. Exact truth is per-query brute force over the whole
    * corpus (8 queries broadcast against one scan + bounded TopK —
    * never an all-pairs shuffle); the ADC side is the e_ann_bulk_pq
    * probe verbatim, so this row composes two already-proven plans.
    */
  private val annRecallPqBulk: Q = (spark, dir) => {
    import spark.implicits._
    import graft.functions.{Scored, TopK}
    val emb = Tables.load(spark, dir, "embeddings")
    val qs = emb.where(col("vec_id") < 8L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val adcTop = probeIvfPqMany(
      loadIvfIndex(spark, persistedIndexPath(spark, dir)),
      pqCodebooks(spark, dir), qs, nprobe = 4, k = 5)
      .select("q_id", "vec_id")
    val norm = VectorOps.l2Norm(col("embedding")) *
      VectorOps.l2Norm(col("q_vec"))
    val cos = when(norm === 0.0, lit(0.0))
      .otherwise(VectorOps.dot(col("embedding"), col("q_vec")) / norm)
    val exactTop = emb.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), round(cos, 6).as("cos_sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, sim) => Scored(sim, id) }
      .agg(TopK.aggregator(5).toColumn.name("top"))
      .flatMap { case (qid, top) => top.map(s => (qid, s.id)) }
      .toDF("q_id", "vec_id")
    adcTop.join(exactTop, Seq("q_id", "vec_id"))
      .agg(count(lit(1L)).as("n_hits"))
      .select(lit(5).as("k"), col("n_hits"),
        round(col("n_hits") / lit(40.0), 4).as("mean_recall_at_k"))
  }

  // ---------------------------------------------------------------
  // SemDeDup — semantic deduplication in embedding space
  // ---------------------------------------------------------------

  private val SemDedupTau = 0.40

  /** Cluster-size cap for the within-cell pairwise stage, branching
    * factor per split, label mixer (> any nlist and > Branch, so
    * composite labels never collide), and the static split depth.
    */
  private[graft] val SemDedupCap = 64
  private[graft] val SemDedupBranch = 4
  private[graft] val SemDedupLabelBase = 131
  private[graft] val SemDedupLevels = 2

  /** Recursive split of oversized quantizer cells through frozen
    * sub-quantizers — the fix for the former n^1.5 term (the r9 sweep
    * story: a √n-sized top quantizer balanced n·nlist assignment
    * against n²/nlist pairwise at n^1.5 total; capping cells kills
    * both). Each level: cells above [[SemDedupCap]] seed a
    * [[SemDedupBranch]]-way sub-quantizer with their lowest-vec_id
    * members (seeding frozen at the cell's own data, no Lloyd rounds)
    * and re-assign members by the SAME argmax-cosine / higher-label
    * tie-break rule the top-level quantizer uses. Labels compose as
    * (cell+1)·131 + seedRank, so every path through the split tree is
    * a distinct INT and unsplit cells keep their ids.
    *
    * Cost: each level is one window pass (size + seed rank) and one
    * ≤Branch-wide join on oversized cells only — O(n·Branch) per
    * level, [[SemDedupLevels]] levels, so assignment stays linear and
    * pairwise is bounded by n·Cap per cell tree; worst-case residual
    * skew (a cell still > Cap after max depth) degrades gracefully to
    * that cell's local cost instead of resizing the whole quantizer.
    */
  /** Pairwise cosine as ONE compiled scalar UDF — the [[cellUdf]]
    * precedent: same left-to-right fold for the dot product and both
    * norms, same `sqrt(a)·sqrt(b)` product, same zero-norm guard as
    * [[VectorOps.cosine]] / the oracle's `list_dot_product` replay, so
    * it is bit-identical to the HOF form while avoiding the
    * interpreted expression-tree overhead that made the first split
    * implementation 7× slower on the bench.
    */
  private[graft] val cosinePairUdf =
    udf { (a: Seq[Float], b: Seq[Float]) =>
      var d = 0.0; var da = 0.0; var db = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; da += x * x; db += y * y; i += 1
      }
      val n = math.sqrt(da) * math.sqrt(db)
      if (n == 0.0) 0.0 else d / n
    }

  private[graft] def splitOversized(assigned: DataFrame): DataFrame = {
    var cur = assigned.select(col("vec_id"), col("embedding"),
      col("cell").cast("int").as("cell"))
    for (_ <- 1 to SemDedupLevels) {
      val wCell = Window.partitionBy("cell")
      val sized = cur
        .withColumn("csize", count(lit(1)).over(wCell))
        .withColumn("srank", row_number().over(wCell.orderBy("vec_id")))
      val small = sized.where(col("csize") <= SemDedupCap)
        .select("vec_id", "embedding", "cell")
      val overs = sized.where(col("csize") > SemDedupCap)
      val seeds = overs.where(col("srank") <= SemDedupBranch)
        .select(col("cell"), (col("srank") - 1).as("sr"),
          col("embedding").as("seed_v"))
      val re = overs.join(seeds, Seq("cell"))
        .withColumn("scos", cosinePairUdf(col("embedding"), col("seed_v")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("cell", "vec_id")
            .orderBy(col("scos").desc, col("sr").desc)))
        .where(col("rn") === 1)
        // child label (cell+1)·131 + sr: the +1 keeps the multiplied
        // term nonzero, so cell 0's children land at 131..134, never
        // on an UNSPLIT sibling's label (the original cell·131+sr+1
        // mapped cell 0's children onto labels 1..4 — a silent merge
        // with top-level cells 1..4 whenever those stayed under the
        // cap; caught by the r10 self-review). Level-2 children start
        // at (131+1)·131 = 17292, above every level-1 label (≤ 2230),
        // so ranges stay disjoint across levels too.
        .select(col("vec_id"), col("embedding"),
          ((col("cell") + 1) * SemDedupLabelBase + col("sr"))
            .cast("int").as("cell"))
      // persist per level: the union feeds multiple downstream
      // branches which would each re-derive the windowed frame —
      // without a boundary level L's plan holds ~2^L copies of level 1
      // (measured 4.3 s on a 0.1 s data volume, pure DAG re-evaluation)
      val next = small.unionByName(re).persist()
      next.count() // materialize, then drop the previous level's blocks
      if (cur ne assigned) cur.unpersist()
      cur = next
    }
    cur
  }

  /** One split result per (app, dir): the split feeds three plan
    * branches in [[semDedup]] (both pair sides + the verdict join) and
    * every bench pass — build and materialize once, like the IVF index
    * itself. CacheRegistry-managed (eviction frees the split's
    * checkpoint blocks; a rebuild re-splits deterministically).
    */
  private def splitCells(spark: SparkSession, dir: String): DataFrame =
    graft.engine.CacheRegistry.memo("sim.split", dir)({
        val c = splitOversized(buildIvfIndex(spark, dir).assigned)
        c.count()
        c
      })(graft.engine.CacheRegistry.freeFrame)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication — cluster the corpus embeddings with the SAME
    * deterministic coarse quantizer the IVF index uses
    * ([[buildIvfIndex]], so a bench run reuses one index build), then
    * within each cluster drop every vector that has a sufficiently
    * similar lower-id twin (round(cos, 6) ≥ τ). Unlike
    * [[graft.operators.DedupOps.embeddingDedup]]'s sign-LSH pass, which
    * targets near-IDENTICAL vectors (τ = 0.99), SemDeDup prunes
    * semantic REDUNDANCY: τ sits far below 1 (the paper sweeps
    * 0.5–0.95 on web data; this fixture's cosine ceiling is ~0.51, so
    * τ = 0.40 plays that role). Keep-lowest-id replaces the paper's
    * keep-farthest-from-centroid — deterministic and join-free; the
    * cluster structure, the point of the method, is identical.
    *
    * 100 TB shape: candidate pairs are confined to quantizer cells —
    * one shuffle of (cell, vec) on each side. The quantizer is sized
    * nlist = max(16, √n) (the FAISS IVF guideline): exact assignment
    * costs n·nlist and within-cell pairwise costs ≈ n²/nlist, so √n
    * balances both at n^1.5 — the optimal exponent for this
    * exact-assignment structure (the paper's constant-cell-size sizing
    * keeps pairwise linear but makes assignment quadratic; it is
    * viable only with accelerated approximate assignment). The first
    * registered version pinned nlist = 16 and the 10× sweep flagged it
    * at 77× growth — quadratic, as cells grew 10×; adaptive sizing
    * brought the sweep back under the uniform 30× bar. No all-pairs
    * stage anywhere; the final keep-mark is a broadcast anti-join
    * shape (dup ids ≪ corpus).
    */
  def semDedup(spark: SparkSession, dir: String,
      tau: Double = SemDedupTau): DataFrame = {
    // reuse the ONE cached ANN quantizer (constant nlist — assignment
    // stays linear; skew is handled by the capped split, not sizing)
    val cells = splitCells(spark, dir)
    // stage norms per SIDE (the knnJoin move): each vector's norm is
    // computed once before the join instead of twice per PAIR — at
    // Σ|cell|² pairs that is the dominant cost, not the dot product
    val a = cells.select(col("cell").as("a_cell"), col("vec_id").as("a_id"),
      col("embedding").as("a_vec"),
      VectorOps.l2Norm(col("embedding")).as("a_norm"))
    val b = cells.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("b_vec"),
      VectorOps.l2Norm(col("embedding")).as("b_norm"))
    // same arithmetic sequence as VectorOps.cosine: dot / (normA*normB)
    val nrm = col("a_norm") * col("b_norm")
    val cos = when(nrm === 0.0, lit(0.0))
      .otherwise(VectorOps.dot(col("a_vec"), col("b_vec")) / nrm)
    // LEFT SEMI, not inner + distinct (r17, guide §3): the verdict only
    // needs "∃ a lower-id twin with cos ≥ τ" per b row — the semi join
    // stops probing a b row's cell bucket at its FIRST qualifying
    // match instead of materializing every qualifying pair, and its
    // output is distinct by construction, deleting the old
    // pair-explode + HashAggregate(distinct) stage. Same candidate
    // confinement (the cell equi-key), same arithmetic, same set out.
    val dups = b.join(a,
        col("a_cell") === col("cell") && col("a_id") < col("b_id") &&
          round(cos, 6) >= tau,
        "left_semi")
      .select(col("b_id").as("vec_id"))
    cells.select("vec_id", "cell")
      .join(broadcast(dups.withColumn("dup", lit(true))), Seq("vec_id"),
        "left_outer")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup"), lit(false)) === lit(false) as "kept")
      .orderBy("vec_id")
  }

  private val semDedupQ: Q = (spark, dir) => semDedup(spark, dir)

  // ---------------------------------------------------------------
  // Product quantization (ADC scoring)
  // ---------------------------------------------------------------

  private val PqM = 8 // subspaces
  // 256 codewords per subspace = 8-bit codes, the standard PQ shape
  // (FAISS default; Jégou et al. 2011 use k*=256 throughout). r15
  // shipped 16 (4-bit) and measured it as a recall ceiling: bulk
  // recall@5 stuck at 0.35 with trained codebooks; 256 lifts it to
  // 0.475. The r16 decomposition (SURVEY §6) shows 0.475 is the
  // FIXTURE-GEOMETRY cap, not a capacity or probe gap: IVF coverage
  // at nprobe=4 is 0.9 and flat full-corpus ADC equals the shipped
  // IVFADC number, while exact-L2 ranking ≡ exact-cosine ranking
  // (1.0) — on iid random vectors neighbor gaps concentrate below
  // the quantization error, which no codebook size resolves. The
  // GRAFT_PQ_K override exists ONLY to measure the recall-vs-k curve
  // (engine and oracle both derive from it, so the replay stays
  // exact at any k); gate/oracle runs use the default.
  private[graft] val PqK: Int =
    sys.env.get("GRAFT_PQ_K").map(_.toInt).getOrElse(256)
  private val PqSubDim = 8 // = dim / PqM

  /** Training-sample cap for codebook Lloyd rounds: train on vectors
    * with `vec_id % stride == 0`, stride = max(1, n / cap) — the
    * sampled-training move every production PQ makes (FAISS trains on
    * a bounded sample, not the corpus). Deterministic and
    * oracle-replayable (the stride is integer arithmetic on the corpus
    * count). At the gate fixtures stride = 1 (corpus under the cap);
    * at 100 TB the training cost is bounded by the cap while the
    * ENCODE pass still covers every vector.
    */
  private[graft] val PqTrainSampleCap = 4096L

  /** Product-quantization codebooks (Jégou et al. TPAMI 2011): split
    * the 64-dim space into [[PqM]] subspaces of [[PqSubDim]] dims,
    * each codebook TRAINED by [[pqCodebooksTrained]]'s deterministic
    * per-subspace Lloyd rounds from the seed-slice init. Returns
    * [m][k][subdim]. Memoized per (app, dir) — training runs
    * [[PqTrainIters]] aggregation jobs; the value is m·k·subdim =
    * 16,384 driver
    * doubles, so the memo's free is a no-op (nothing pinned).
    */
  private def pqCodebooks(spark: SparkSession, dir: String)
      : Array[Array[Array[Double]]] =
    graft.engine.CacheRegistry.memo("sim.pqcb", dir)(
      pqCodebooksTrained(Tables.load(spark, dir, "embeddings")))(_ => ())

  /** Seed-slice codebook INIT from any (vec_id, embedding) frame — the
    * deterministic starting point [[pqCodebooksTrained]] refines; one
    * construction shared by the corpus path and the structured-lane
    * tripwire, so the codebook convention cannot drift between the
    * guarded path and its guard.
    */
  private[graft] def pqCodebooksOf(emb: DataFrame): Array[Array[Array[Double]]] = {
    val seeds = emb
      .where(col("vec_id") < PqK.toLong).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    Array.tabulate(PqM, PqK) { (m, c) =>
      seeds(c).slice(m * PqSubDim, (m + 1) * PqSubDim)
    }
  }

  /** Lloyd rounds per subspace for PQ codebook training. */
  private val PqTrainIters = 2

  /** TRAINED PQ codebooks — per-subspace Lloyd over the corpus's
    * sub-vectors (the standard FAISS `ProductQuantizer::train` move,
    * Jégou et al. 2011 §III), replacing the former raw seed slices the
    * docstring itself called out as the quality gap: seed slices are
    * arbitrary corpus points, so half the codewords can sit where no
    * mass is and ADC distances blur (the unstructured recall gate
    * measured 0.2). Training: init = [[pqCodebooksOf]] seed slices;
    * each round every sub-vector picks its argmin micro-L2² codeword
    * (ties → lower code — the exact [[pqAdcColumn]] encode rule), and
    * each codeword moves to its members' per-position mean, computed
    * as DECIMAL(28,14) sum cast double / count — the
    * [[kmeansCentroids]] determinism discipline, so the DuckDB oracle
    * replays the whole trajectory bit-for-bit. Empty codewords keep
    * their previous position.
    *
    * 100 TB shape: one aggregation job per round over (m·k·subdim)
    * groups — only m·k·subdim = 16,384 doubles ever reach the driver,
    * and the rounds train on the [[PqTrainSampleCap]]-bounded sample
    * exactly like the coarse quantizer.
    */
  private[graft] def pqCodebooksTrained(emb: DataFrame,
      iters: Int = PqTrainIters): Array[Array[Array[Double]]] = {
    import org.apache.spark.sql.types.DecimalType
    var cb = pqCodebooksOf(emb)
    // sampled training: Lloyd rounds see every stride-th vector only
    // (deterministic, replayed by the oracle from the corpus count);
    // the corpus-wide ENCODE downstream is unaffected
    val stride = math.max(1L, emb.count() / PqTrainSampleCap)
    val train = if (stride == 1L) emb
      else emb.where(col("vec_id") % stride === 0L)
    for (_ <- 1 to iters) {
      val snap = cb.map(_.map(_.clone()))
      // encode every vector against the ROUND-ENTRY codebooks: PqM
      // codes per vector, the same argmin/tie rule as the ADC encoder
      val codesUdf = udf { (e: Seq[Float]) =>
        val ev = new Array[Double](e.length)
        var i = 0
        while (i < ev.length) { ev(i) = e(i).toDouble; i += 1 }
        val out = new Array[Int](PqM)
        var m = 0
        while (m < PqM) {
          val sub = java.util.Arrays.copyOfRange(
            ev, m * PqSubDim, (m + 1) * PqSubDim)
          var bestD = Long.MaxValue
          var bestC = 0
          var c = 0
          while (c < PqK) {
            val d = l2MicroSq(sub, snap(m)(c))
            if (d < bestD) { bestD = d; bestC = c }
            c += 1
          }
          out(m) = bestC
          m += 1
        }
        out
      }
      val means = train
        .select(codesUdf(col("embedding")).as("codes"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select((col("pos") / lit(PqSubDim)).cast("int").as("sub"),
          (col("pos") % lit(PqSubDim)).cast("int").as("subpos"),
          expr(s"codes[cast(pos / $PqSubDim as int)]").as("code"),
          col("v"))
        .groupBy("sub", "code", "subpos")
        .agg((sum(col("v").cast(DecimalType(28, 14))).cast("double") /
          count(lit(1L))).as("m"))
        .collect()
      val byKey = means.groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (k, rows) =>
          k -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
        }
      cb = Array.tabulate(PqM, PqK) { (m, c) =>
        byKey.getOrElse((m, c), snap(m)(c))
      }
    }
    cb
  }

  /** Micro-quantized squared L2 distance — round-half-up to 1e-6, the
    * same explicit rounding [[embQuantize]] uses, so per-subspace
    * distances become exact integers and every downstream comparison
    * (argmin, the ADC sum, the final ordering) is bit-deterministic in
    * both engines regardless of summation order.
    */
  private def l2MicroSq(a: Array[Double], b: Array[Double]): Long = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.floor(s * 1e6 + 0.5).toLong
  }

  /** ANN by product quantization with asymmetric distance computation:
    * each corpus vector is encoded to [[PqM]] code ids (argmin
    * micro-L2² to its subspace codebook; ties → lower code), the query
    * precomputes a [m][k] distance table, and the approximate distance
    * is the table-lookup sum — 8 adds per vector instead of 64
    * multiplies, over codes that store as 8 bytes instead of 256. The
    * top-k by ADC distance also reports exact cosine per hit for
    * audit. At 100 TB: PQ is the compression layer UNDER the IVF cells
    * (scan nprobe cells, score by ADC) — a map-side scan + bounded
    * TakeOrderedAndProject; the codebook (m·k·subdim doubles) rides in
    * the closure like the IVF centroid list.
    *
    * The encode-and-score step is one scalar UDF holding the codebook
    * matrix — the [[cellUdf]] precedent: at m·k = 2,048 codewords a
    * codegen expression tree would be ~128 aggregate nodes deep, past
    * JIT limits, while the UDF's integer output keeps it
    * oracle-replayable.
    */
  /** Encode-and-ADC-score column for a query vector: codes via argmin
    * micro-L2² (ties → lower code), ADC total from the query's
    * micro-quantized distance table. One scalar UDF holding the
    * codebook matrix — the [[cellUdf]] precedent.
    */
  private def pqAdcColumn(cb: Array[Array[Array[Double]]],
      q: Array[Double]): Column = {
    val dt: Array[Array[Long]] = Array.tabulate(PqM, PqK) { (m, c) =>
      l2MicroSq(q.slice(m * PqSubDim, (m + 1) * PqSubDim), cb(m)(c))
    }
    val adc = udf { (emb: Seq[Float]) =>
      val e = emb.toArray.map(_.toDouble)
      var total = 0L
      var m = 0
      while (m < PqM) {
        val sub = e.slice(m * PqSubDim, (m + 1) * PqSubDim)
        var bestD = Long.MaxValue
        var bestC = 0
        var c = 0
        while (c < PqK) {
          val d = l2MicroSq(sub, cb(m)(c))
          if (d < bestD) { bestD = d; bestC = c }
          c += 1
        }
        total += dt(m)(bestC)
        m += 1
      }
      total
    }
    adc(col("embedding"))
  }

  def pqTopk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val cb = pqCodebooks(spark, dir)
    val q = vectorOf(spark, dir, 0L).toArray
    Tables.load(spark, dir, "embeddings")
      .where(col("vec_id") =!= 0L)
      .select(col("vec_id"), pqAdcColumn(cb, q).as("adc_micro"),
        round(VectorOps.cosineConst(col("embedding"), q.toSeq), 6)
          .as("cos_sim"))
      .orderBy(col("adc_micro").asc, col("vec_id").asc)
      .limit(k)
  }

  private val annPq: Q = (spark, dir) => pqTopk(spark, dir)

  /** IVF + PQ — the production vector-search composition (the FAISS
    * IVFADC layout, Jégou et al. 2011): the coarse quantizer prunes the
    * corpus to nprobe cells, and ONLY those cells' vectors are scored,
    * by ADC table lookups instead of full-dimension arithmetic. At
    * 100 TB this is the plan that makes a probe's cost independent of
    * corpus size twice over: partition pruning bounds the bytes read
    * (nprobe/nlist of the data), PQ bounds the per-vector work (m adds)
    * and the index's storage (m bytes per vector instead of 4·dim).
    * Shares both proven quantizers — the IVF cells from
    * [[buildIvfIndex]] and the PQ codebooks from [[pqCodebooks]] — so
    * the oracle composes their two already-proven replays.
    */
  /** ADC scoring over an index's nprobe nearest cells — the probe half
    * of IVFADC, shared by the in-memory and persisted forms.
    */
  def ivfPqProbe(idx: IvfIndex, cb: Array[Array[Array[Double]]],
      q: Seq[Double], nprobe: Int = 4, k: Int = 10,
      excludeId: Long = -1L): DataFrame = {
    val probeCells = idx.centroids
      .map { case (i, c) => (i, VectorOps.cosineSeq(q, c)) }
      .sortBy(-_._2).take(nprobe).map(_._1)
    idx.assigned
      .where(col("vec_id") =!= excludeId)
      .where(col("cell").isin(probeCells: _*))
      .select(col("vec_id"), pqAdcColumn(cb, q.toArray).as("adc_micro"),
        round(VectorOps.cosineConst(col("embedding"), q), 6).as("cos_sim"))
      .orderBy(col("adc_micro").asc, col("vec_id").asc)
      .limit(k)
  }

  def ivfPqTopk(spark: SparkSession, dir: String, nprobe: Int = 4,
      k: Int = 10): DataFrame =
    ivfPqProbe(buildIvfIndex(spark, dir), pqCodebooks(spark, dir),
      vectorOf(spark, dir, 0L), nprobe, k, excludeId = 0L)

  private val annIvfPq: Q = (spark, dir) => ivfPqTopk(spark, dir)

  /** Recall of the COMPRESSED path on the gate: IVFADC's top-10 vs the
    * uncompressed brute-force top-10 — the same tripwire as
    * [[annRecall]] but for the PQ/ADC scorer, pinning the quality cost
    * of quantization itself (codebook drift, a broken subspace slice,
    * or an ADC table regression shows up here while the
    * self-consistent e_ann_ivfpq row stays green).
    *
    * The pinned value on this fixture is LOW (0.2) and that is the
    * honest reading: the synthetic embeddings are near-unstructured,
    * the brute-force top-10 are separated by ~10⁻³ cosine, and an
    * 8×8-codebook ADC cannot preserve an ordering that fine — exactly
    * the regime where PQ is known to trade ranking fidelity for 16×
    * compression (real embedding corpora have cluster structure PQ
    * exploits). The gate pins the number so quantizer DRIFT is
    * visible; it is not a quality floor.
    */
  private val annRecallPq: Q = (spark, dir) => {
    val adc = ivfPqTopk(spark, dir).select("vec_id")
    val exact = similarityTopk(spark, dir).select("vec_id")
    adc.join(exact, Seq("vec_id"))
      .agg(count(lit(1L)).as("n_hits"))
      .select(lit(10).as("k"), col("n_hits"),
        round(col("n_hits") / lit(10.0), 2).as("recall_at_k"))
  }

  // ---------------------------------------------------------------
  // Structured-embedding lane: the PQ recall TRIPWIRE
  // ---------------------------------------------------------------

  /** Deterministic CLUSTERED variant of the embeddings fixture: each
    * vector becomes its cluster PROTOTYPE — 8.0 on dims
    * [8c, 8c+8) for c = vec_id mod 8, zero elsewhere. Eight exactly
    * orthogonal cones; within a cluster every vector is identical, so
    * BOTH the exact ranking and the ADC ranking break ties by vec_id
    * and the two top-10s must coincide. That is the point: the row
    * pins PQ's actual deliverable — cluster discrimination — at
    * recall 1.0, where any codebook slicing / ADC-table / probe bug
    * mixes clusters and visibly drops it, while the unstructured
    * `e_ann_recall_pq` row (0.2) keeps documenting the fidelity limit
    * on jitter-ranked data that no correct PQ can beat.
    */
  private[graft] def structuredEmbeddings(spark: SparkSession,
      dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(floor(i / lit(8.0)).cast("long") === col("vec_id") % 8L,
          lit(8.0f)).otherwise(lit(0.0f)))
        .as("embedding"))

  /** One structured index per (app, dir): the persisted clustered
    * frame, its IVF assignment (same kmeans/assign code as the real
    * index), and the query vector — built once, reused by every pass.
    * The memo value carries the source frame too so eviction can
    * release BOTH persists (sv feeds assigned's plan but holds its own
    * blocks).
    */
  private def structuredLane(spark: SparkSession,
      dir: String): (IvfIndex, Seq[Double]) = {
    val (idx, q, _) = graft.engine.CacheRegistry.memo("sim.structured", dir)({
        val sv = structuredEmbeddings(spark, dir).persist()
        val cents = kmeansCentroids(sv, 16, 2)
        val assigned = sv.withColumn("cell", assignCell(cents)).persist()
        assigned.count()
        val q = sv.where(col("vec_id") === 0L).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble).toSeq
        (IvfIndex(cents, assigned), q, sv)
      })({ case (idx, _, sv) =>
        idx.assigned.unpersist(blocking = false)
        sv.unpersist(blocking = false)
      })
    (idx, q)
  }

  /** The SAME IVFADC path ([[ivfPqProbe]], [[pqAdcColumn]], trained
    * codebooks) over the clustered lane, where recall MUST be high:
    * the spec floors it at 0.8, and the gate pins the exact value — a
    * codebook training bug, a broken ADC table, or a probe regression
    * that [[annRecallPq]]'s lower unstructured recall can hide drops
    * this row visibly. Complements, not replaces, the unstructured row
    * (which documents PQ's fidelity trade in the regime without
    * cluster structure).
    */
  private val annRecallPqStructured: Q = (spark, dir) => {
    val (idx, q) = structuredLane(spark, dir)
    // trained-codebook memo rides beside sim.structured: training runs
    // PqTrainIters encode+aggregate Spark jobs, so an unmemoized call
    // would retrain on every bench warm pass (free is a no-op — the
    // value is driver-side arrays, nothing pinned)
    val cb = graft.engine.CacheRegistry.memo("sim.structcb", dir)(
      pqCodebooksTrained(idx.assigned))(_ => ())
    val adc = ivfPqProbe(idx, cb, q, excludeId = 0L).select("vec_id")
    val exact = idx.assigned
      .where(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        round(VectorOps.cosineConst(col("embedding"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10).select("vec_id")
    adc.join(exact, Seq("vec_id"))
      .agg(count(lit(1L)).as("n_hits"))
      .select(lit(10).as("k"), col("n_hits"),
        round(col("n_hits") / lit(10.0), 2).as("recall_at_k"))
  }

  /** IVFADC against the PERSISTED index: the same on-disk
    * cell-partitioned layout [[annIvfPersisted]] probes, scored by ADC
    * — so a probe in a fresh session reads only the nprobe pruned cell
    * DIRECTORIES (PartitionFilters, spec-pinned) and pays m table adds
    * per vector inside them. This is the full production shape: build
    * offline, persist partitioned, probe cheap — with compression-
    * grade scoring. Same answer and oracle as [[annIvfPq]].
    */
  private val annIvfPqPersisted: Q = (spark, dir) =>
    ivfPqProbe(loadIvfIndex(spark, persistedIndexPath(spark, dir)),
      pqCodebooks(spark, dir), vectorOf(spark, dir, 0L), excludeId = 0L)

  val queries: Map[String, Q] = Map(
    "e_similarity_topk" -> similarityTopk,
    "e_ann_ivf" -> annIvf,
    "e_ann_ivf_persisted" -> annIvfPersisted,
    "e_ann_filtered" -> annFiltered,
    "e_ann_bulk" -> annBulk,
    "e_ann_bulk_pq" -> annBulkPq,
    "e_ann_bulk_filtered" -> annBulkFiltered,
    "e_knn_classify" -> knnClassifyQ,
    "e_ann_pq" -> annPq,
    "e_ann_ivfpq" -> annIvfPq,
    "e_ann_ivfpq_persisted" -> annIvfPqPersisted,
    "e_ann_recall" -> annRecall,
    "e_ann_recall_pq" -> annRecallPq,
    "e_ann_recall_pq_bulk" -> annRecallPqBulk,
    "e_ann_recall_pq_structured" -> annRecallPqStructured,
    "e_knn_join" -> knnJoinQ,
    "e_embedding_centroids" -> embeddingCentroids,
    "e_embedding_quantize" -> embQuantize,
    "e_semdedup" -> semDedupQ,
  )

  /** Brute-force top-k is oracle-checked via DuckDB's
    * list_cosine_similarity — the FLOAT[] must be cast to DOUBLE[] on
    * the oracle side so both engines accumulate in float64 (the raw
    * FLOAT[] overload computes in float32 and disagrees in the 6th
    * decimal). e_ann_ivf is oracle-checked by REPLAYING the
    * deterministic quantizer in DuckDB — see [[ivfOracle]].
    */
  val oracles: Map[String, String] = Map(
    "e_embedding_quantize" ->
      """WITH staged AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |      / 127.0 AS scale
        |  FROM embeddings
        |)
        |SELECT vec_id, round(scale, 6) AS scale_r,
        |  CASE WHEN scale = 0 THEN 0 ELSE
        |    CAST(list_sum(list_transform(embedding, (x, i) ->
        |      floor(CAST(x AS DOUBLE) / scale + 0.5) * CAST(i AS DOUBLE)))
        |    AS BIGINT) END AS q_checksum,
        |  CASE WHEN scale = 0 THEN 0 ELSE
        |    CAST(list_max(list_transform(embedding, x ->
        |      abs(floor(CAST(x AS DOUBLE) / scale + 0.5)))) AS BIGINT)
        |  END AS q_max
        |FROM staged ORDER BY vec_id""".stripMargin,
    "e_similarity_topk" ->
      """SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
        |  (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)),
        |  6) AS cos_sim
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "e_ann_ivf" -> ivfOracle(),
    // identical oracle: persistence must not change the answer
    "e_ann_ivf_persisted" -> ivfOracle(),
    "e_ann_filtered" -> ivfFilteredOracle(),
    // bulk probe: the single-query replay per-query-windowed — cell
    // ranking (DESC, cell ASC) and member ranking (cos DESC, vec_id)
    // replay probeCells and the TopK aggregator ordering exactly
    "e_ann_bulk" -> ivfBulkOracle(),
    "e_ann_bulk_pq" -> ivfBulkPqOracle(),
    // filtered bulk: the bulk replay with the label predicate joined
    // into the candidate CTE — pre-filter semantics, like the engine
    "e_ann_bulk_filtered" -> ivfBulkFilteredOracle(),
    // k-NN classification: the bulk top-k replay + a per-query
    // majority vote (count DESC, label ASC — the engine's tie-break)
    "e_knn_classify" -> knnClassifyOracle(),
    // SemDeDup: quantizer-assignment replay (same CTE machinery the
    // IVF oracle proves) at the shared nlist=16 index, then the two
    // unrolled capped-split levels ([[splitOversized]]: oversized
    // cells seed a Branch-way sub-quantizer with their lowest-id
    // members, argmax-cosine / higher-seed tie-break, composite
    // (cell+1)·131+r labels), then the within-cell a<b pair scan at
    // round(cos,6) >= tau and the keep-mark left join.
    "e_semdedup" ->
      s"""WITH ${assignmentPrefix(16, 2, 64)},
         |${splitCte("s1", "afinal")},
         |${splitCte("s2", "s1")},
         |dups AS (
         |  SELECT DISTINCT y.vec_id
         |  FROM s2 x JOIN s2 y
         |    ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= $SemDedupTau
         |)
         |SELECT f.vec_id, f.cell, (d.vec_id IS NULL) AS kept
         |FROM s2 f LEFT JOIN dups d USING (vec_id)
         |ORDER BY f.vec_id""".stripMargin,
    // PQ/ADC replay: seed codebooks are list slices of the first PqK
    // vectors; every distance is micro-quantized (floor(x*1e6 + 0.5))
    // BEFORE argmin/sum, so codes and ADC totals are exact integers in
    // both engines — no float-order ambiguity anywhere on the ranking
    // path (cos_sim is audit-only and rounds like e_similarity_topk).
    "e_ann_pq" ->
      s"""WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |$pqCtes
         |SELECT a.vec_id, a.adc_micro,
         |  round(list_cosine_similarity(v.v,
         |    (SELECT v FROM vecs WHERE vec_id = 0)), 6) AS cos_sim
         |FROM adc a JOIN vecs v USING (vec_id) WHERE a.vec_id <> 0
         |ORDER BY adc_micro ASC, vec_id LIMIT 10""".stripMargin,
    // IVF+PQ: the quantizer-assignment replay, the probe-cell ranking,
    // and the PQ chain — all three already proven individually above —
    // composed exactly as the engine composes them.
    "e_ann_ivfpq" -> ivfPqOracle,
    // persistence must not change the answer (same contract as the
    // e_ann_ivf / e_ann_ivf_persisted pair)
    "e_ann_ivfpq_persisted" -> ivfPqOracle,
    // recall = |ivf top-10 ∩ exact top-10| / 10, composed from the two
    // oracles already proven above (CTE-in-subquery is legal DuckDB)
    "e_ann_recall" ->
      s"""WITH ivf AS (SELECT vec_id FROM (${ivfOracle()}) t),
         |exact AS (
         |  SELECT vec_id FROM embeddings WHERE vec_id <> 0
         |  ORDER BY round(list_cosine_similarity(embedding::DOUBLE[],
         |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)),
         |    6) DESC, vec_id LIMIT 10
         |)
         |SELECT 10 AS k, count(*)::BIGINT AS n_hits,
         |round(count(*) / 10.0, 2) AS recall_at_k
         |FROM ivf JOIN exact USING (vec_id)""".stripMargin,
    // same composition for the COMPRESSED path: IVFADC top-10 vs the
    // uncompressed brute force
    // same tripwire on the CLUSTERED lane, where recall must be high
    // (spec floors it at 0.8); vecs redefined to the structured
    // transform, everything downstream (assignment, PQ chain, probe,
    // brute force) is the identical proven machinery
    "e_ann_recall_pq_structured" ->
      s"""WITH adc AS (SELECT vec_id FROM (${ivfPqOracleWith(StructuredVecsSql)}) t),
         |exact AS (
         |  SELECT vec_id FROM ($StructuredVecsSql) sv WHERE vec_id <> 0
         |  ORDER BY round(list_cosine_similarity(sv.v,
         |    (SELECT v FROM ($StructuredVecsSql) q WHERE vec_id = 0)),
         |    6) DESC, vec_id LIMIT 10
         |)
         |SELECT 10 AS k, count(*)::BIGINT AS n_hits,
         |round(count(*) / 10.0, 2) AS recall_at_k
         |FROM adc JOIN exact USING (vec_id)""".stripMargin,
    "e_ann_recall_pq" ->
      s"""WITH adc AS (SELECT vec_id FROM ($ivfPqOracle) t),
         |exact AS (
         |  SELECT vec_id FROM embeddings WHERE vec_id <> 0
         |  ORDER BY round(list_cosine_similarity(embedding::DOUBLE[],
         |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)),
         |    6) DESC, vec_id LIMIT 10
         |)
         |SELECT 10 AS k, count(*)::BIGINT AS n_hits,
         |round(count(*) / 10.0, 2) AS recall_at_k
         |FROM adc JOIN exact USING (vec_id)""".stripMargin,
    // mean recall over the 8 bulk queries: the ADC side is the
    // e_ann_bulk_pq oracle verbatim; exact truth is per-query brute
    // force with the engine's (cos DESC, vec_id ASC) tie rule
    "e_ann_recall_pq_bulk" ->
      s"""WITH adc AS (SELECT q_id, vec_id FROM (${ivfBulkPqOracle()}) t),
         |exact AS (
         |  SELECT q.vec_id AS q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
         |        q.embedding::DOUBLE[]), 6) DESC, e.vec_id) AS rn
         |  FROM embeddings e CROSS JOIN embeddings q
         |  WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id
         |)
         |SELECT 5 AS k, count(*)::BIGINT AS n_hits,
         |round(count(*) / 40.0, 4) AS mean_recall_at_k
         |FROM adc JOIN (SELECT q_id, vec_id FROM exact WHERE rn <= 5) x
         |USING (q_id, vec_id)""".stripMargin,
    "e_knn_join" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
        |  FROM embeddings WHERE vec_id < 10
        |), scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec), 6)
        |      AS cos_sim
        |  FROM embeddings e, q WHERE e.vec_id >= 10
        |), ranked AS (
        |  SELECT q_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY cos_sim DESC, vec_id) AS nn_rank
        |  FROM scored
        |)
        |SELECT q_id, vec_id, cos_sim, CAST(nn_rank AS INT) AS nn_rank
        |FROM ranked WHERE nn_rank <= 3 ORDER BY q_id, nn_rank""".stripMargin,
    // same decimal-quantized mean replay as the IVF oracle; gs.i is
    // 1-based vs Spark's 0-based pos — both are internal group keys
    "e_embedding_centroids" ->
      """WITH expl AS (
        |  SELECT label, gs.i AS pos, embedding[gs.i] AS v
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS gs(i)
        |), means AS (
        |  SELECT label, pos,
        |    (sum((v)::DECIMAL(28,14)))::DOUBLE / count(*) AS m,
        |    count(*) AS n
        |  FROM expl GROUP BY label, pos
        |)
        |SELECT label, max(n) AS n_vecs,
        |  round(sqrt((sum((m*m)::DECIMAL(28,14)))::DOUBLE), 6) AS centroid_norm
        |FROM means GROUP BY label ORDER BY label""".stripMargin,
  )

  /** DuckDB replay of the full IVF build+probe ([[buildIvfIndex]] +
    * [[probeIvf]]). Possible only because the quantizer is deterministic
    * by construction: seeded with the first `nlist` vectors, a fixed
    * number of Lloyd rounds, and DECIMAL(28,14)-quantized means (the
    * decimal sum is associative, so the index is identical at any
    * partitioning — and replayable by a single-threaded engine).
    * Unrolled as one CTE per assignment/mean/update step:
    *  - assignment argmax mirrors [[cellExpr]]'s array_max over
    *    struct(sim, cell): ties break to the HIGHER cell id;
    *  - cosine is written out as d/(sqrt(sa)·sqrt(sb)) to match
    *    VectorOps.cosine's expression shape (see DedupOps embedding
    *    oracle for the precedent);
    *  - probe-cell ranking mirrors probeIvf's stable sortBy: ties keep
    *    ascending cell order;
    *  - the final cos_sim reuses the list_cosine_similarity-on-DOUBLE[]
    *    form already proven against round(cosineConst, 6) by
    *    e_similarity_topk.
    */
  private def cosSql(a: String, b: String): String =
    s"CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0.0 THEN 0.0 " +
      s"ELSE list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END"

  /** The WITH-body prefix replaying the deterministic quantizer build
    * and final cell assignment (`vecs`, `c0`, the aᵣ/mᵣ/cᵣ Lloyd
    * rounds, `afinal`) — shared by [[ivfOracle]] and the SemDeDup
    * oracle, so both replay the ONE quantizer [[buildIvfIndex]] caches.
    */
  /** One capped-split level as CTEs: replays [[splitOversized]]'s
    * window pass (size + seed rank by vec_id), the ≤Branch seed join
    * on oversized cells, the argmax-cosine / higher-seed tie-break,
    * and the composite (cell+1)·131+r relabel. `src` must expose
    * (vec_id, v, cell).
    */
  private def splitCte(name: String, src: String): String =
    s"""${name}sized AS (
       |  SELECT vec_id, v, cell,
       |    count(*) OVER (PARTITION BY cell) AS csize,
       |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS srank
       |  FROM $src
       |),
       |${name}seeds AS (
       |  SELECT cell, srank - 1 AS sr, v AS sv FROM ${name}sized
       |  WHERE csize > $SemDedupCap AND srank <= $SemDedupBranch
       |),
       |$name AS (
       |  SELECT vec_id, v, cell FROM ${name}sized WHERE csize <= $SemDedupCap
       |  UNION ALL
       |  SELECT vec_id, v,
       |    CAST((cell + 1) * $SemDedupLabelBase + sr AS INT) AS cell
       |  FROM (
       |    SELECT o.vec_id, o.v, o.cell, s.sr
       |    FROM ${name}sized o JOIN ${name}seeds s USING (cell)
       |    WHERE o.csize > $SemDedupCap
       |    QUALIFY row_number() OVER (PARTITION BY o.cell, o.vec_id
       |      ORDER BY ${cosSql("o.v", "s.sv")} DESC, s.sr DESC) = 1
       |  )
       |)""".stripMargin

  private def DefaultVecsSql: String =
    "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"

  /** DuckDB replay of [[structuredEmbeddings]]: same per-element CASE,
    * same double arithmetic, same FLOAT round-trip.
    */
  private def StructuredVecsSql: String =
    """SELECT vec_id,
      |    [CAST(CASE WHEN (i-1)//8 = vec_id % 8
      |        THEN 8.0 ELSE 0.0 END AS DOUBLE)
      |      for i in range(1, 65)] AS v
      |  FROM embeddings"""
      .stripMargin

  private def assignmentPrefix(nlist: Int, iters: Int, dim: Int,
      vecsSql: String = DefaultVecsSql): String = {
    def assignCte(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT e.vec_id, e.v, c.cell FROM vecs e CROSS JOIN $cents c
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${cosSql("e.v", "c.c")} DESC, c.cell DESC) = 1
         |)""".stripMargin
    def meanCte(name: String, assigned: String): String =
      s"""$name AS (
         |  SELECT cell, gs.i AS pos,
         |    (sum((v[gs.i])::DECIMAL(28,14)))::DOUBLE / count(*) AS m
         |  FROM $assigned CROSS JOIN generate_series(1, $dim) AS gs(i)
         |  GROUP BY cell, gs.i
         |)""".stripMargin
    def centCte(name: String, prev: String, means: String): String =
      s"""$name AS (
         |  SELECT cell, coalesce(mm.c, p.c) AS c FROM $prev p
         |  LEFT JOIN (SELECT cell, list(m ORDER BY pos) AS c
         |             FROM $means GROUP BY cell) mm USING (cell)
         |)""".stripMargin
    val rounds = (1 to iters).flatMap { r =>
      Seq(assignCte(s"a$r", s"c${r - 1}"), meanCte(s"m$r", s"a$r"),
        centCte(s"c$r", s"c${r - 1}", s"m$r"))
    }.mkString(",\n")
    s"""vecs AS (
       |  $vecsSql
       |), c0 AS (
       |  SELECT vec_id::INT AS cell, v AS c FROM vecs WHERE vec_id < $nlist
       |),
       |$rounds,
       |${assignCte("afinal", s"c$iters")}""".stripMargin
  }

  /** PQ CTE chain (trained codebooks → subvectors → micro distances →
    * argmin codes → query distance table → ADC totals); assumes a
    * `vecs(vec_id, v DOUBLE[])` CTE is in scope. Shared by the e_ann_pq
    * and e_ann_ivfpq oracles.
    */
  /** Codebook-TRAINING + corpus-encode replay (pw0…pwN/cw/subv/dist/
    * codes) — shared by the single-query ADC tail below and the bulk
    * per-query oracle. Replays [[pqCodebooksTrained]] decision for
    * decision: seed-slice init, then per round argmin micro-L2²
    * assignment (ties → lower code) and the DECIMAL(28,14)-sum-mean
    * codeword update, empty codewords carried forward.
    */
  private def pqCoreCtes: String = {
    val micro = (sv: String, c: String) =>
      s"""CAST(floor(list_sum([ ($sv[i]-$c[i])*($sv[i]-$c[i])
         |      for i in range(1, ${PqSubDim + 1}) ]) * 1000000 + 0.5) AS BIGINT)""".stripMargin
    val rounds = (1 to PqTrainIters).map { r =>
      s"""pd$r AS (
         |  SELECT tsubv.vec_id, tsubv.sub, w.code,
         |    ${micro("tsubv.sv", "w.c")} AS dmicro
         |  FROM tsubv JOIN pw${r - 1} w ON tsubv.sub = w.sub
         |),
         |pa$r AS (
         |  SELECT vec_id, sub, code FROM pd$r
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
         |    ORDER BY dmicro ASC, code ASC) = 1
         |),
         |pm$r AS (
         |  SELECT a.sub, a.code, gs.i AS p,
         |    (sum((s.sv[gs.i])::DECIMAL(28,14)))::DOUBLE / count(*) AS m
         |  FROM pa$r a JOIN tsubv s ON a.vec_id = s.vec_id AND a.sub = s.sub
         |  CROSS JOIN generate_series(1, $PqSubDim) AS gs(i)
         |  GROUP BY a.sub, a.code, gs.i
         |),
         |pw$r AS (
         |  SELECT w.sub, w.code, coalesce(mm.c, w.c) AS c FROM pw${r - 1} w
         |  LEFT JOIN (SELECT sub, code, list(m ORDER BY p) AS c
         |             FROM pm$r GROUP BY sub, code) mm USING (sub, code)
         |)""".stripMargin
    }.mkString(",\n")
    s"""subv AS (
       |  SELECT e.vec_id, gs.m AS sub,
       |    e.v[(gs.m*$PqSubDim+1):(gs.m*$PqSubDim+$PqSubDim)] AS sv
       |  FROM vecs e CROSS JOIN generate_series(0, ${PqM - 1}) gs(m)
       |),
       |tsubv AS (
       |  SELECT * FROM subv WHERE vec_id %
       |    (SELECT GREATEST(1, count(*) // $PqTrainSampleCap) FROM vecs) = 0
       |),
       |pw0 AS (
       |  SELECT s.vec_id::INT AS code, gs.m AS sub,
       |    s.v[(gs.m*$PqSubDim+1):(gs.m*$PqSubDim+$PqSubDim)] AS c
       |  FROM vecs s CROSS JOIN generate_series(0, ${PqM - 1}) gs(m)
       |  WHERE s.vec_id < $PqK
       |),
       |$rounds,
       |cw AS (SELECT sub, code, c FROM pw$PqTrainIters),
       |dist AS (
       |  SELECT subv.vec_id, subv.sub, cw.code,
       |    ${micro("subv.sv", "cw.c")} AS dmicro
       |  FROM subv JOIN cw ON subv.sub = cw.sub
       |),
       |codes AS (
       |  SELECT vec_id, sub, code FROM dist
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
       |    ORDER BY dmicro ASC, code ASC) = 1
       |)""".stripMargin
  }

  private def pqCtes: String =
    s"""$pqCoreCtes,
       |qdt AS (SELECT sub, code, dmicro FROM dist WHERE vec_id = 0),
       |adc AS (
       |  SELECT c.vec_id, sum(q.dmicro)::BIGINT AS adc_micro
       |  FROM codes c JOIN qdt q ON c.sub = q.sub AND c.code = q.code
       |  GROUP BY c.vec_id
       |)""".stripMargin

  /** Per-query generalization of the ADC replay — [[ivfBulkOracle]]'s
    * probe CTEs composed with [[pqCoreCtes]], the ADC sum joined per
    * (query, candidate): replays [[probeIvfPqMany]] decision for
    * decision.
    */
  private def ivfBulkPqOracle(nlist: Int = 16, iters: Int = 2,
      nprobe: Int = 4, k: Int = 5, dim: Int = 64,
      nQueries: Int = 8): String = {
    s"""WITH ${assignmentPrefix(nlist, iters, dim)},
       |qs AS (
       |  SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id < $nQueries
       |), probe AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, c.cell,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${cosSql("q.qv", "c.c")} DESC, c.cell ASC) AS crn
       |    FROM c$iters c CROSS JOIN qs q
       |  ) rc WHERE crn <= $nprobe
       |),
       |$pqCoreCtes,
       |qdtq AS (
       |  SELECT vec_id AS q_id, sub, code, dmicro FROM dist
       |  WHERE vec_id < $nQueries
       |), cand AS (
       |  SELECT p.q_id, a.vec_id
       |  FROM probe p JOIN afinal a USING (cell)
       |  WHERE a.vec_id <> p.q_id
       |), adcq AS (
       |  SELECT cd.q_id, cd.vec_id, CAST(sum(q.dmicro) AS BIGINT)
       |    AS adc_micro
       |  FROM cand cd
       |  JOIN codes c ON c.vec_id = cd.vec_id
       |  JOIN qdtq q ON q.q_id = cd.q_id AND q.sub = c.sub
       |    AND q.code = c.code
       |  GROUP BY cd.q_id, cd.vec_id
       |)
       |SELECT q_id, vec_id, adc_micro, CAST(rn AS INT) AS nn_rank FROM (
       |  SELECT q_id, vec_id, adc_micro,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc_micro ASC, vec_id ASC) AS rn
       |  FROM adcq
       |) r WHERE rn <= $k
       |ORDER BY q_id, nn_rank""".stripMargin
  }

  /** Shared by e_ann_ivfpq and e_ann_ivfpq_persisted. */
  private def ivfPqOracle: String = ivfPqOracleWith(DefaultVecsSql)

  private def ivfPqOracleWith(vecsSql: String): String =
    s"""WITH ${assignmentPrefix(16, 2, 64, vecsSql)},
       |qv AS (SELECT v FROM vecs WHERE vec_id = 0),
       |probe AS (
       |  SELECT c.cell FROM c2 c CROSS JOIN qv
       |  ORDER BY ${cosSql("qv.v", "c.c")} DESC, c.cell ASC LIMIT 4
       |),
       |$pqCtes
       |SELECT a.vec_id, ad.adc_micro,
       |  round(list_cosine_similarity(a.v, (SELECT v FROM qv)), 6)
       |    AS cos_sim
       |FROM afinal a JOIN adc ad USING (vec_id)
       |WHERE a.vec_id <> 0 AND a.cell IN (SELECT cell FROM probe)
       |ORDER BY adc_micro ASC, vec_id LIMIT 10""".stripMargin

  /** The IVF replay with the metadata predicate applied inside the
    * pruned-cell member scan — the oracle twin of [[probeIvfFiltered]]
    * (label rides in from the embeddings table; cell ranking is the
    * unfiltered geometry, exactly like the engine).
    */
  private def ivfFilteredOracle(nlist: Int = 16, iters: Int = 2,
      nprobe: Int = 4, k: Int = 10, dim: Int = 64): String = {
    def cos(a: String, b: String): String = cosSql(a, b)
    s"""WITH ${assignmentPrefix(nlist, iters, dim)},
       |qv AS (
       |  SELECT v FROM vecs WHERE vec_id = 0
       |), probe AS (
       |  SELECT c.cell FROM c$iters c CROSS JOIN qv
       |  ORDER BY ${cos("qv.v", "c.c")} DESC, c.cell ASC LIMIT $nprobe
       |)
       |SELECT a.vec_id, e.label,
       |  round(list_cosine_similarity(a.v, (SELECT v FROM qv)), 6) AS cos_sim
       |FROM afinal a JOIN embeddings e ON a.vec_id = e.vec_id
       |WHERE a.vec_id <> 0 AND a.cell IN (SELECT cell FROM probe)
       |  AND e.label % 2 = 0
       |ORDER BY cos_sim DESC, a.vec_id LIMIT $k""".stripMargin
  }

  /** Multi-query generalization of [[ivfOracle]]: the same proven
    * quantizer-replay prefix, then per-query probe-cell ranking and
    * per-query member top-k as window functions — replaying
    * [[probeIvfMany]] decision for decision (q_id < nQueries is the
    * gate's query batch; each query's own vec_id is excluded).
    */
  private def ivfBulkOracle(nlist: Int = 16, iters: Int = 2,
      nprobe: Int = 4, k: Int = 5, dim: Int = 64,
      nQueries: Int = 8): String =
    ivfBulkCandSql(s"vec_id < $nQueries", k, nprobe, nlist, iters, dim)

  /** The bulk-probe replay generalized over the query-set predicate —
    * a complete SELECT producing (q_id, vec_id, cos_sim, nn_rank), so
    * downstream compositions (the MMR / hard-negative IVF twins in
    * [[RetrievalOps]]) can ride the SAME proven quantizer + probe
    * replay as their candidate CTE instead of restating it.
    */
  private[graft] def ivfBulkCandSql(qsPredSql: String, k: Int,
      nprobe: Int = 4, nlist: Int = 16, iters: Int = 2,
      dim: Int = 64): String = {
    s"""WITH ${assignmentPrefix(nlist, iters, dim)},
       |qs AS (
       |  SELECT vec_id AS q_id, v AS qv FROM vecs WHERE $qsPredSql
       |), probe AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, c.cell,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${cosSql("q.qv", "c.c")} DESC, c.cell ASC) AS crn
       |    FROM c$iters c CROSS JOIN qs q
       |  ) rc WHERE crn <= $nprobe
       |), cand AS (
       |  SELECT q.q_id, a.vec_id,
       |    round(list_cosine_similarity(a.v, q.qv), 6) AS cos_sim
       |  FROM probe p
       |  JOIN afinal a USING (cell)
       |  JOIN qs q ON q.q_id = p.q_id
       |  WHERE a.vec_id <> p.q_id
       |)
       |SELECT q_id, vec_id, cos_sim, CAST(rn AS INT) AS nn_rank FROM (
       |  SELECT q_id, vec_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, vec_id) AS rn
       |  FROM cand
       |) r WHERE rn <= $k
       |ORDER BY q_id, nn_rank""".stripMargin
  }

  /** The bulk replay with the attribute predicate joined into the
    * candidate CTE — pre-filter semantics (cells ranked by the
    * unfiltered geometry, members filtered BEFORE ranking), exactly
    * like [[probeIvfMany]] with `pred`.
    */
  private def ivfBulkFilteredOracle(nlist: Int = 16, iters: Int = 2,
      nprobe: Int = 4, k: Int = 5, dim: Int = 64,
      nQueries: Int = 8): String = {
    s"""WITH ${assignmentPrefix(nlist, iters, dim)},
       |qs AS (
       |  SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id < $nQueries
       |), probe AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, c.cell,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${cosSql("q.qv", "c.c")} DESC, c.cell ASC) AS crn
       |    FROM c$iters c CROSS JOIN qs q
       |  ) rc WHERE crn <= $nprobe
       |), cand AS (
       |  SELECT q.q_id, a.vec_id,
       |    round(list_cosine_similarity(a.v, q.qv), 6) AS cos_sim
       |  FROM probe p
       |  JOIN afinal a USING (cell)
       |  JOIN qs q ON q.q_id = p.q_id
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.q_id AND e.label % 2 = 0
       |)
       |SELECT q_id, vec_id, cos_sim, CAST(rn AS INT) AS nn_rank FROM (
       |  SELECT q_id, vec_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, vec_id) AS rn
       |  FROM cand
       |) r WHERE rn <= $k
       |ORDER BY q_id, nn_rank""".stripMargin
  }

  /** The bulk top-k replay + a per-query majority vote over neighbor
    * labels (count DESC, label ASC tie-break) — [[knnClassify]]'s
    * decision path, decision for decision.
    */
  private def knnClassifyOracle(nlist: Int = 16, iters: Int = 2,
      nprobe: Int = 4, k: Int = 10, dim: Int = 64,
      nQueries: Int = 8): String = {
    s"""WITH ${assignmentPrefix(nlist, iters, dim)},
       |qs AS (
       |  SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id < $nQueries
       |), probe AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, c.cell,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${cosSql("q.qv", "c.c")} DESC, c.cell ASC) AS crn
       |    FROM c$iters c CROSS JOIN qs q
       |  ) rc WHERE crn <= $nprobe
       |), cand AS (
       |  SELECT q.q_id, a.vec_id,
       |    round(list_cosine_similarity(a.v, q.qv), 6) AS cos_sim
       |  FROM probe p
       |  JOIN afinal a USING (cell)
       |  JOIN qs q ON q.q_id = p.q_id
       |  WHERE a.vec_id <> p.q_id
       |), top AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos_sim DESC, vec_id) AS rn
       |    FROM cand
       |  ) r WHERE rn <= $k
       |), votes AS (
       |  SELECT t.q_id, e.label, count(*) AS n_votes
       |  FROM top t JOIN embeddings e USING (vec_id)
       |  GROUP BY t.q_id, e.label
       |)
       |SELECT q_id, label AS pred_label, n_votes FROM (
       |  SELECT q_id, label, n_votes,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY n_votes DESC, label) AS vrn
       |  FROM votes
       |) v WHERE vrn = 1 ORDER BY q_id""".stripMargin
  }

  private[graft] def ivfOracle(nlist: Int = 16, iters: Int = 2, nprobe: Int = 4,
      k: Int = 10, dim: Int = 64): String = {
    def cos(a: String, b: String): String = cosSql(a, b)
    s"""WITH ${assignmentPrefix(nlist, iters, dim)},
       |qv AS (
       |  SELECT v FROM vecs WHERE vec_id = 0
       |), probe AS (
       |  SELECT c.cell FROM c$iters c CROSS JOIN qv
       |  ORDER BY ${cos("qv.v", "c.c")} DESC, c.cell ASC LIMIT $nprobe
       |)
       |SELECT a.vec_id,
       |  round(list_cosine_similarity(a.v, (SELECT v FROM qv)), 6) AS cos_sim
       |FROM afinal a
       |WHERE a.vec_id <> 0 AND a.cell IN (SELECT cell FROM probe)
       |ORDER BY cos_sim DESC, vec_id LIMIT $k""".stripMargin
  }
}
