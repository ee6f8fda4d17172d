package graft

import graft.functions.VectorOps
import graft.operators.SimilarityOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine column matches hand-computed values") {
    val a = Seq(1.0f, 2.0f, 3.0f)
    val b = Seq(-3.0f, 0.5f, 2.0f)
    val got = Seq((a, b)).toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b"))).as[Double].head()
    val exp = VectorOps.cosineSeq(a.map(_.toDouble), b.map(_.toDouble))
    assert(math.abs(got - exp) < 1e-12)
    // zero-norm guard
    val z = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b"))).as[Double].head()
    assert(z == 0.0)
  }

  test("brute-force top-k matches a driver-side recomputation") {
    val emb = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map { case Row(id: Long, v: scala.collection.Seq[_]) =>
        id -> v.asInstanceOf[scala.collection.Seq[Float]].map(_.toDouble).toSeq
      }.toMap
    val q = emb(0L)
    val expected = emb.view.filterKeys(_ != 0L)
      .mapValues(v => VectorOps.cosineSeq(v, q)).toSeq
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    val got = SimilarityOps.queries("e_similarity_topk")(spark, sf)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == expected)
  }

  test("IVF ANN returns true cosines in descending order with decent recall") {
    val brute = SimilarityOps.queries("e_similarity_topk")(spark, sf)
      .as[(Long, Double)].collect().toSeq
    val ivf = SimilarityOps.queries("e_ann_ivf")(spark, sf)
      .as[(Long, Double)].collect().toSeq
    assert(ivf.nonEmpty && ivf.size <= 10)
    assert(ivf.map(_._2) == ivf.map(_._2).sorted.reverse, "descending order")
    val bruteMap = brute.toMap
    ivf.foreach { case (id, c) =>
      bruteMap.get(id).foreach(bc => assert(math.abs(bc - c) < 1e-9,
        s"IVF cosine for $id must equal brute-force value"))
    }
    val recall = ivf.map(_._1).count(brute.map(_._1).toSet) / 10.0
    assert(recall >= 0.8, s"recall@10 $recall below 0.8 for nprobe=4/16")
  }

  test("knnJoin returns k ranked neighbors per query via broadcast") {
    val df = SimilarityOps.knnJoin(
      Tables.load(spark, sf, "embeddings"), nQueries = 10L, k = 3)
    val rows = df.orderBy("q_id", "nn_rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(rows.size == 30, "10 queries x 3 neighbors")
    rows.groupBy(_._1).foreach { case (q, nn) =>
      assert(nn.map(_._4).sorted == Seq(1, 2, 3), s"ranks 1..3 for query $q")
      assert(nn.sortBy(_._4).map(_._3).reverse.sorted ==
        nn.sortBy(_._4).map(_._3).reverse, s"descending cosine for query $q")
      assert(nn.forall(_._2 >= 10L), "corpus side excludes the query set")
    }
    // the query set must broadcast — the corpus side never shuffles in
    // full; only ≤k rows per query reach the aggregation exchange
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"),
      s"query side must broadcast in:\n$plan")
  }

  test("bulk probe equals the single-vector probe for every query, " +
      "over a pruned scan with the query batch broadcast") {
    import org.apache.spark.sql.functions.col
    val built = SimilarityOps.buildIvfIndex(spark, sf)
    withTempDir("ivf_bulk") { dir =>
      val path = dir.toString
      SimilarityOps.saveIvfIndex(built, path)
      val loaded = SimilarityOps.loadIvfIndex(spark, path)
      val qs = Tables.load(spark, sf, "embeddings")
        .where(col("vec_id") < 8L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val bulk = SimilarityOps.probeIvfMany(loaded, qs, nprobe = 4, k = 5)
      val byQuery = bulk.orderBy("q_id", "nn_rank")
        .as[(Long, Long, Double, Int)].collect().toSeq.groupBy(_._1)
      assert(byQuery.keySet == (0L until 8L).toSet, "one group per query")
      // semantics: each query's rows ARE probeIvf's answer for that query
      for (q <- 0L until 8L) {
        val single = SimilarityOps.probeIvf(loaded,
            SimilarityOps.vectorOf(spark, sf, q), nprobe = 4, k = 5,
            excludeId = q)
          .as[(Long, Double)].collect().toSeq
        assert(byQuery(q).sortBy(_._4).map(r => (r._2, r._3)) == single,
          s"bulk result for query $q diverged from the single-vector probe")
      }
      // scale shape: the index scan is cell-partition-pruned to the
      // UNION of probed cells, the bounded query batch broadcasts (the
      // corpus never moves), and nothing degenerates to a nested loop
      val audit = graft.engine.PlanAudit.audit(bulk)
      assert(audit.partitionPrunedScans >= 1,
        s"bulk probe must prune cell partitions: ${audit.render}")
      val plan = bulk.queryExecution.executedPlan.toString
      assert(plan.contains("Broadcast"), "query batch must broadcast")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"),
        s"bulk probe degenerated to a product join:\n$plan")
    }
  }

  test("filtered bulk probe equals the single-vector filtered probe " +
      "per query — the predicate rides the pruned scan") {
    import org.apache.spark.sql.functions.col
    val built = SimilarityOps.buildIvfIndex(spark, sf)
    withTempDir("ivf_bulkf") { dir =>
      val path = dir.toString
      SimilarityOps.saveIvfIndex(built, path)
      val loaded = SimilarityOps.loadIvfIndex(spark, path)
      val qs = Tables.load(spark, sf, "embeddings")
        .where(col("vec_id") < 8L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val bulk = SimilarityOps.probeIvfMany(loaded, qs, nprobe = 4, k = 5,
        pred = col("label") % 2 === 0)
      val byQuery = bulk.orderBy("q_id", "nn_rank")
        .as[(Long, Long, Double, Int)].collect().toSeq.groupBy(_._1)
      for (q <- 0L until 8L) {
        val single = SimilarityOps.probeIvfFiltered(loaded,
            SimilarityOps.vectorOf(spark, sf, q), col("label") % 2 === 0,
            nprobe = 4, k = 5, excludeId = q)
          .select("vec_id", "cos_sim")
          .as[(Long, Double)].collect().toSeq
        assert(byQuery.getOrElse(q, Seq.empty).sortBy(_._4)
            .map(r => (r._2, r._3)) == single,
          s"filtered bulk result for query $q diverged from probeIvfFiltered")
      }
      // every returned neighbor satisfies the predicate
      val ids = bulk.select("vec_id").as[Long].collect().toSet
      val evens = Tables.load(spark, sf, "embeddings")
        .where(col("label") % 2 === 0)
        .select("vec_id").as[Long].collect().toSet
      assert(ids.subsetOf(evens), "a filtered-out row leaked into the top-k")
    }
  }

  test("knnClassify predicts the majority label of the bulk probe's " +
      "neighbors with the smallest-label tie-break") {
    import org.apache.spark.sql.functions.col
    val built = SimilarityOps.buildIvfIndex(spark, sf)
    withTempDir("ivf_knncls") { dir =>
      val path = dir.toString
      SimilarityOps.saveIvfIndex(built, path)
      val loaded = SimilarityOps.loadIvfIndex(spark, path)
      val emb = Tables.load(spark, sf, "embeddings")
      val qs = emb.where(col("vec_id") < 8L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val pred = SimilarityOps.knnClassify(loaded, qs, emb, nprobe = 4, k = 10)
        .as[(Long, Int, Long)].collect().toSeq.sortBy(_._1)
      assert(pred.map(_._1) == (0L until 8L).toSeq, "one prediction per query")
      // recompute the vote by hand from the bulk probe + the label map
      val labels = emb.select("vec_id", "label")
        .as[(Long, Int)].collect().toMap
      val nn = SimilarityOps.probeIvfMany(loaded, qs, nprobe = 4, k = 10)
        .select("q_id", "vec_id").as[(Long, Long)].collect().toSeq
      val expect = nn.groupBy(_._1).map { case (q, rows) =>
        val votes = rows.map(r => labels(r._2))
          .groupBy(identity).map { case (l, v) => (l, v.size.toLong) }
        val (bestLabel, bestVotes) =
          votes.toSeq.sortBy { case (l, n) => (-n, l) }.head
        (q, bestLabel, bestVotes)
      }.toSeq.sortBy(_._1)
      assert(pred == expect, "knnClassify diverged from the hand vote")
    }
  }

  test("bulk ADC probe equals the single-vector IVFADC probe per query, " +
      "with codegen pair scoring (no UDF in the pair loop)") {
    import org.apache.spark.sql.functions.col
    val built = SimilarityOps.buildIvfIndex(spark, sf)
    withTempDir("ivf_bulkpq") { dir =>
      val path = dir.toString
      SimilarityOps.saveIvfIndex(built, path)
      val loaded = SimilarityOps.loadIvfIndex(spark, path)
      val cb = SimilarityOps.pqCodebooksOf(Tables.load(spark, sf, "embeddings"))
      val qs = Tables.load(spark, sf, "embeddings")
        .where(col("vec_id") < 8L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val bulk = SimilarityOps.probeIvfPqMany(loaded, cb, qs, nprobe = 4, k = 5)
      val byQuery = bulk.orderBy("q_id", "nn_rank")
        .as[(Long, Long, Long, Int)].collect().toSeq.groupBy(_._1)
      assert(byQuery.keySet == (0L until 8L).toSet, "one group per query")
      for (q <- 0L until 8L) {
        val single = SimilarityOps.ivfPqProbe(loaded, cb,
            SimilarityOps.vectorOf(spark, sf, q), nprobe = 4, k = 5,
            excludeId = q)
          .select("vec_id", "adc_micro")
          .as[(Long, Long)].collect().toSeq
        assert(byQuery(q).sortBy(_._4).map(r => (r._2, r._3)) == single,
          s"bulk ADC result for query $q diverged from the single probe")
      }
      // the per-pair scorer must be the codegen element_at sum — the two
      // UDFs (corpus encode, query table) evaluate per ROW, never per
      // pair: the join's projection above the pruned scan carries no
      // ScalaUDF whose inputs span both sides
      val audit = graft.engine.PlanAudit.audit(bulk)
      assert(audit.partitionPrunedScans >= 1,
        s"bulk ADC probe must prune cell partitions: ${audit.render}")
      val plan = bulk.queryExecution.executedPlan.toString
      assert(plan.contains("Broadcast"), "query batch must broadcast")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"),
        s"bulk ADC probe degenerated to a product join:\n$plan")
    }
  }

  test("probe-cell ranking: expression tree and broadcast-matrix UDF " +
      "agree on every vector, and both replay the driver ranking") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, sf, "embeddings")
    val centroids = SimilarityOps.kmeansCentroids(emb, 16, 1)
    val viaExpr = emb.select(col("vec_id"),
      SimilarityOps.probeCellsExpr(centroids, 4, col("embedding"))
        .as("cells"))
    val viaUdf = emb.select(col("vec_id"),
      SimilarityOps.probeCellsUdf(centroids, 4, col("embedding"))
        .as("cells"))
    assert(viaExpr.exceptAll(viaUdf).isEmpty &&
      viaUdf.exceptAll(viaExpr).isEmpty,
      "the two probe-cell paths must agree on every vector")
    // spot-check the map-side ranking against probeIvf's driver path
    // (stable sortBy: similarity DESC, ties keep ascending cell order)
    val sample = viaExpr.where(col("vec_id") < 4L).orderBy("vec_id")
      .as[(Long, Seq[Int])].collect().toSeq
    for ((id, cells) <- sample) {
      val q = SimilarityOps.vectorOf(spark, sf, id)
      val driver = centroids
        .map { case (i, c) => (i, graft.functions.VectorOps.cosineSeq(q, c)) }
        .sortBy(-_._2).take(4).map(_._1)
      assert(cells == driver, s"map-side ranking for $id diverged")
    }
  }

  test("IVF index is built once and probes reuse it") {
    val idx1 = SimilarityOps.buildIvfIndex(spark, sf)
    val idx2 = SimilarityOps.buildIvfIndex(spark, sf)
    assert(idx1 eq idx2, "second build must return the cached index")
    // stored at build time: a checkpoint whose every block is stored
    val rdd = idx1.assigned.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case p => fail(s"assignment table is not a stored frame:\n$p")
    }
    assert(rdd.getStorageLevel.useMemory && spark.sparkContext.getRDDStorageInfo
      .exists(i => i.id == rdd.id && i.numCachedPartitions == i.numPartitions),
      "assignment table must be persisted at build time")
  }

  test("persisted IVF index round-trips and probes with partition pruning") {
    val built = SimilarityOps.buildIvfIndex(spark, sf)
    withTempDir("ivf_rt") { dir =>
      val path = dir.toString
      SimilarityOps.saveIvfIndex(built, path)
      val loaded = SimilarityOps.loadIvfIndex(spark, path)
      assert(loaded.centroids == built.centroids,
        "centroids must survive the parquet round-trip bit-exactly")
      val q = SimilarityOps.vectorOf(spark, sf, 0L)
      val fromDisk = SimilarityOps.probeIvf(loaded, q, nprobe = 4, k = 10,
        excludeId = 0L)
      val fromMem = SimilarityOps.probeIvf(built, q, nprobe = 4, k = 10,
        excludeId = 0L)
      assert(fromDisk.collect().toSeq == fromMem.collect().toSeq,
        "the persisted index must answer exactly like the in-memory one")
      // the scale property: the probe's scan carries partition filters on
      // `cell`, so only the nprobe cell directories are read — at 100 TB
      // a probe touches nprobe/nlist of the bytes regardless of corpus
      // size
      val audit = graft.engine.PlanAudit.audit(fromDisk)
      assert(audit.partitionPrunedScans == 1,
        s"probe must prune cell partitions: ${audit.render}")
    }
  }

  test("filtered probe: predicate pushed into the pruned cell scan, " +
      "answers equal post-filtering the unfiltered member set") {
    val built = SimilarityOps.buildIvfIndex(spark, sf)
    withTempDir("ivf_flt") { dir =>
      val path = dir.toString
      SimilarityOps.saveIvfIndex(built, path)
      val loaded = SimilarityOps.loadIvfIndex(spark, path)
      val q = SimilarityOps.vectorOf(spark, sf, 0L)
      val filtered = SimilarityOps.probeIvfFiltered(loaded, q,
        org.apache.spark.sql.functions.col("label") % 2 === 0,
        nprobe = 4, k = 10, excludeId = 0L)
      // semantics: identical to taking the UNFILTERED probe at full
      // depth over the same cells and keeping even labels
      val wide = SimilarityOps.probeIvfFiltered(loaded, q,
        org.apache.spark.sql.functions.lit(true),
        nprobe = 4, k = 1 << 20, excludeId = 0L)
        .collect().filter(_.getInt(1) % 2 == 0).take(10).toSeq
      assert(filtered.collect().toSeq == wide)
      // scale shape: ONE scan, cell-partition-pruned AND with the label
      // predicate pushed to the parquet reader
      val audit = graft.engine.PlanAudit.audit(filtered)
      assert(audit.partitionPrunedScans == 1,
        s"filtered probe must prune cell partitions: ${audit.render}")
      assert(audit.scans.head.pushedFilters.exists(_.contains("label")),
        s"label predicate not pushed to the scan: ${audit.render}")
    }
  }

  test("incremental append to the persisted index equals one-shot assignment") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, sf, "embeddings")
    val day1 = emb.where(col("vec_id") % 2L === 0L)
    val day2 = emb.where(col("vec_id") % 2L === 1L)
    // quantizer trained on day-1 only, then FROZEN — day-2 arrives later
    val centroids = SimilarityOps.kmeansCentroids(day1, 16, 2)
    withTempDir("ivf_incr") { dir =>
      val path = dir.toString
      val built = SimilarityOps.IvfIndex(centroids,
        day1.withColumn("cell", SimilarityOps.cellExpr(centroids)))
      SimilarityOps.saveIvfIndex(built, path)
      SimilarityOps.appendToIvfIndex(spark, day2, path)
      val incr = SimilarityOps.loadIvfIndex(spark, path)
      assert(incr.centroids == centroids, "append must not touch the quantizer")
      // the incrementally-built index must hold exactly the rows a
      // one-shot assignment of the full corpus (same frozen quantizer)
      // would produce
      val oneShot = emb.withColumn("cell", SimilarityOps.cellExpr(centroids))
        .select("vec_id", "cell")
      val got = incr.assigned.select("vec_id", "cell")
      assert(got.count() == emb.count())
      assert(got.exceptAll(oneShot).isEmpty && oneShot.exceptAll(got).isEmpty,
        "incremental day1+day2 must equal the one-shot assignment")
      // and the probe answers identically
      val q = SimilarityOps.vectorOf(spark, sf, 0L)
      val a = SimilarityOps.probeIvf(incr, q, nprobe = 4, k = 10, excludeId = 0L)
      val b = SimilarityOps.probeIvf(
        SimilarityOps.IvfIndex(centroids,
          emb.withColumn("cell", SimilarityOps.cellExpr(centroids))),
        q, nprobe = 4, k = 10, excludeId = 0L)
      assert(a.collect().toSeq == b.collect().toSeq)
    }
  }

  test("broadcast-matrix scorer assigns identically to the expression tree") {
    val emb = Tables.load(spark, sf, "embeddings")
    val centroids = SimilarityOps.kmeansCentroids(emb, 16, 1)
    val viaExpr = emb.select(col("vec_id"),
      SimilarityOps.cellExpr(centroids).as("cell"))
    val viaUdf = emb.select(col("vec_id"),
      SimilarityOps.cellUdf(centroids).as("cell"))
    assert(viaExpr.exceptAll(viaUdf).isEmpty &&
      viaUdf.exceptAll(viaExpr).isEmpty,
      "the two assignment paths must agree on every vector")
  }

  test("k=256 quantizer build finishes within budget via the UDF path") {
    val emb = Tables.load(spark, sf, "embeddings")
    assert(emb.count() >= 256, "fixture must seed 256 centroids")
    val t0 = System.nanoTime()
    val idx = SimilarityOps.buildIvfIndex(spark, sf, nlist = 256, iters = 1)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(idx.centroids.size == 256)
    assert(idx.assigned.select("cell").distinct().count() > 1)
    // generous bound: the point is that codegen no longer explodes —
    // the old expression tree at k=256 ran minutes-to-failure
    assert(secs < 120.0, f"k=256 build took $secs%.1f s")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("semdedup drops exactly the vectors with a lower-id within-cell twin") {
    val assigned = SimilarityOps
      .splitOversized(SimilarityOps.buildIvfIndex(spark, sf).assigned)
      .select("vec_id", "cell", "embedding").collect()
      .map { case Row(id: Long, cell: Int, v: scala.collection.Seq[_]) =>
        (id, cell, v.asInstanceOf[scala.collection.Seq[Float]].map(_.toDouble).toSeq)
      }
    val tau = 0.40
    val expectedDropped = (for {
      (idA, cA, vA) <- assigned; (idB, cB, vB) <- assigned
      if cA == cB && idA < idB &&
        round6(VectorOps.cosineSeq(vA, vB)) >= tau
    } yield idB).toSet
    val out = SimilarityOps.queries("e_semdedup")(spark, sf)
      .select("vec_id", "kept").as[(Long, Boolean)].collect()
    assert(out.length == assigned.length, "one verdict per vector")
    assert(out.filterNot(_._2).map(_._1).toSet == expectedDropped)
  }

  test("structured-lane PQ recall is a real tripwire (floor 0.8)") {
    // on the clustered lane the IVFADC path MUST rank well; 0.8 is the
    // quality floor, the gate pins the exact value
    val r = SimilarityOps.queries("e_ann_recall_pq_structured")(spark, sf)
      .head()
    assert(r.getLong(1) >= 8L,
      s"structured PQ recall ${r.getDouble(2)} below the 0.8 floor")
    // and the lane really is clustered: the query's top-10 exact
    // neighbors all share its vec_id%8 cluster
    val sv = SimilarityOps.structuredEmbeddings(spark, sf)
    val q = sv.where($"vec_id" === 0L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val top = sv.where($"vec_id" =!= 0L)
      .select($"vec_id",
        graft.functions.VectorOps.cosineConst($"embedding", q).as("c"))
      .orderBy($"c".desc, $"vec_id").limit(10)
      .collect().map(_.getLong(0))
    assert(top.forall(_ % 8 == 0L),
      s"exact top-10 crossed clusters: ${top.toSeq}")
  }

  test("capped split bounds every splittable cell and keeps labels unique") {
    val assigned = SimilarityOps.buildIvfIndex(spark, sf).assigned
    val split = SimilarityOps.splitOversized(assigned)
    val cells = split
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    // at max depth a residual cell may legitimately exceed the cap if
    // its seeds tie; at fixture scale two levels must fully bound it
    assert(cells.forall(_._2 <= SimilarityOps.SemDedupCap),
      s"oversized cell survived the split: ${cells.filter(_._2 > SimilarityOps.SemDedupCap).toSeq}")
    // NO label collision across the split tree: a collision merges
    // members of DIFFERENT original quantizer cells under one final
    // label (the r10 cell-0 bug: child label cell·131+sr+1 landed on
    // unsplit sibling labels). Purity check: every final cell's
    // members share one original parent cell.
    val parents = split.select(col("vec_id"), col("cell").as("final_cell"))
      .join(assigned.select(col("vec_id"), col("cell").as("orig_cell")),
        Seq("vec_id"))
      .groupBy("final_cell")
      .agg(countDistinct(col("orig_cell")).as("n_parents"))
      .where(col("n_parents") > 1).collect()
    assert(parents.isEmpty,
      s"final cells merged distinct quantizer cells: ${parents.toSeq}")
    // the split only relabels — membership is a permutation of input
    val n = Tables.load(spark, sf, "embeddings").count()
    assert(cells.map(_._2).sum == n)
  }

  test("cell-0 children never collide with an unsplit sibling label") {
    // regression fixture for the r10 label bug: cell 0 oversized,
    // cell 1 small — under the old cell·131+sr+1 labeling, cell 0's
    // first child landed ON label 1 and merged with cell 1
    import spark.implicits._
    val mk = (id: Long, cell: Int, base: Float) =>
      (id, Seq.tabulate(8)(i => base + i * 0.01f), cell)
    val rows =
      (0L until 100L).map(i => mk(i, 0, 1.0f + (i % 7) * 0.1f)) ++
        Seq(mk(1000L, 1, 50.0f), mk(1001L, 1, 60.0f))
    val assigned = rows.toDF("vec_id", "embedding", "cell")
    val split = SimilarityOps.splitOversized(assigned)
    val byCell = split.select("cell", "vec_id").collect()
      .groupBy(_.getInt(0)).map { case (c, rs) =>
        c -> rs.map(_.getLong(1)).toSet }
    // cell 1 survives unsplit and contains ONLY its own members
    assert(byCell(1) == Set(1000L, 1001L),
      s"cell 1 was polluted by split children: ${byCell(1)}")
    // every cell-0 child label sits in the composite range, not 0..15
    val childCells = byCell.keySet - 1
    assert(childCells.forall(_ >= SimilarityOps.SemDedupLabelBase),
      s"child labels leaked into the top-level range: $childCells")
  }

  test("PQ ADC distances equal a driver-side recomputation, top-10 order and all") {
    val emb = Tables.load(spark, sf, "embeddings")
      .orderBy("vec_id").select("vec_id", "embedding").collect()
      .map { case Row(id: Long, v: scala.collection.Seq[_]) =>
        id -> v.asInstanceOf[scala.collection.Seq[Float]].map(_.toDouble).toArray
      }
    val vecs = emb.toMap
    def l2Micro(a: Array[Double], b: Array[Double]): Long = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.floor(s * 1e6 + 0.5).toLong
    }
    // independent driver-side replay of the TRAINED codebooks: seed
    // slices, then 2 Lloyd rounds of argmin-micro-L2² assignment (ties
    // → lower code) and the DECIMAL(28,14)-sum / count mean — the
    // exact arithmetic pqCodebooksTrained ships to the cluster
    def decMean(vals: Seq[Double]): Double =
      vals.map(v => BigDecimal(v)
        .setScale(14, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble /
        vals.length
    val K = SimilarityOps.PqK
    var cb = Array.tabulate(8, K) { (m, c) =>
      vecs(c.toLong).slice(m * 8, m * 8 + 8)
    }
    for (_ <- 1 to 2) {
      val snap = cb
      val members = Array.fill(8, K)(
        scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
      for ((_, v) <- emb; m <- 0 until 8) {
        val sub = v.slice(m * 8, m * 8 + 8)
        val best = (0 until K).minBy(c => (l2Micro(sub, snap(m)(c)), c))
        members(m)(best) += sub
      }
      cb = Array.tabulate(8, K) { (m, c) =>
        if (members(m)(c).isEmpty) snap(m)(c)
        else Array.tabulate(8)(i => decMean(members(m)(c).toSeq.map(_(i))))
      }
    }
    val q = vecs(0L)
    val dt = Array.tabulate(8, K) { (m, c) => l2Micro(q.slice(m * 8, m * 8 + 8), cb(m)(c)) }
    def adc(v: Array[Double]): Long =
      (0 until 8).map { m =>
        val sub = v.slice(m * 8, m * 8 + 8)
        val best = (0 until K).minBy(c => (l2Micro(sub, cb(m)(c)), c))
        dt(m)(best)
      }.sum
    val expected = emb.filter(_._1 != 0L)
      .map { case (id, v) => (id, adc(v)) }
      .sortBy { case (id, d) => (d, id) }.take(10).toSeq
    val got = SimilarityOps.queries("e_ann_pq")(spark, sf)
      .select("vec_id", "adc_micro").as[(Long, Long)].collect().toSeq
    assert(got == expected)
  }

  test("IVF+PQ scores only the probed cells and agrees with full PQ there") {
    val idx = SimilarityOps.buildIvfIndex(spark, sf)
    val q = emb0(spark)
    val probeCells = idx.centroids
      .map { case (i, c) => (i, VectorOps.cosineSeq(q, c)) }
      .sortBy(-_._2).take(4).map(_._1).toSet
    val cellOf = idx.assigned.select("vec_id", "cell")
      .as[(Long, Int)].collect().toMap
    val got = SimilarityOps.queries("e_ann_ivfpq")(spark, sf)
      .select("vec_id", "adc_micro").as[(Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall { case (id, _) => probeCells.contains(cellOf(id)) },
      "every hit must come from a probed cell")
    // within the probed cells, the ranking must equal the full-PQ scan
    val fullPq = SimilarityOps.pqTopk(spark, sf, k = 5000)
      .select("vec_id", "adc_micro").as[(Long, Long)].collect()
      .filter { case (id, _) => probeCells.contains(cellOf(id)) }
      .sortBy { case (id, d) => (d, id) }.take(10).toSeq
    assert(got == fullPq)
  }

  private def emb0(spark: org.apache.spark.sql.SparkSession): Seq[Double] =
    SimilarityOps.vectorOf(spark, sf, 0L)

  test("persisted IVF+PQ answers like the in-memory one, with pruned scan") {
    val mem = SimilarityOps.queries("e_ann_ivfpq")(spark, sf)
    val disk = SimilarityOps.queries("e_ann_ivfpq_persisted")(spark, sf)
    assert(disk.collect().toSeq == mem.collect().toSeq,
      "persistence must not change the ADC answer")
    val audit = graft.engine.PlanAudit.audit(disk)
    assert(audit.partitionPrunedScans == 1,
      s"the ADC probe must prune cell partitions: ${audit.render}")
  }

  test("skewed append bloats one cell; rebalance splits it, bounds " +
      "probe partitions, and leaves the full-probe answer invariant") {
    val emb = Tables.load(spark, sf, "embeddings")
    val centroids = SimilarityOps.kmeansCentroids(emb, 16, 2)
    withTempDir("ivf_rebal") { dir =>
      val path = dir.toString
      SimilarityOps.saveIvfIndex(
        SimilarityOps.IvfIndex(centroids,
          emb.withColumn("cell", SimilarityOps.cellExpr(centroids))), path)
      // skewed day-2 ingest: 120 NEAR-copies of vector 0 (tiny distinct
      // per-id jitter on one dimension) — the frozen quantizer funnels
      // them all into vector 0's cell, the drift rebalance must detect
      val base = SimilarityOps.vectorOf(spark, sf, 0L).map(_.toFloat)
      val skew = spark.range(10000L, 10120L)
        .select(col("id").as("vec_id"),
          transform(typedLit(base), (x, i) =>
            x + when(i === pmod(col("id"), lit(64L)).cast("int"),
              pmod(col("id"), lit(7L)).cast("float") * lit(0.001f))
              .otherwise(lit(0.0f))).as("embedding"),
          lit(0).as("label"))
      SimilarityOps.appendToIvfIndex(spark, skew, path)
      val sizesBefore = SimilarityOps.ivfCellSizes(spark, path)
      val cap = 100
      assert(sizesBefore.values.max > cap,
        s"skew did not bloat a cell: $sizesBefore")
      val membersBefore = spark.read.parquet(s"$path/assigned")
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      val q = SimilarityOps.vectorOf(spark, sf, 5L)
      def fullProbe() = SimilarityOps.probeIvf(
        SimilarityOps.loadIvfIndex(spark, path), q,
        nprobe = 10000, k = 10, excludeId = 5L).collect().toSeq
      val answerBefore = fullProbe()
      val split = SimilarityOps.rebalanceIvfIndex(spark, path, cap = cap)
      assert(split >= 1, "rebalance found nothing to split")
      val sizesAfter = SimilarityOps.ivfCellSizes(spark, path)
      // physical improvement: the hot partition shrank and the layout
      // gained cells; the oversized parent ids are gone
      assert(sizesAfter.values.max < sizesBefore.values.max,
        s"hot cell not reduced: $sizesBefore -> $sizesAfter")
      assert(sizesAfter.size > sizesBefore.size)
      sizesBefore.filter(_._2 > cap).keys.foreach(c =>
        assert(!sizesAfter.contains(c), s"parent cell $c still present"))
      // logical invariance: same member set (through the manifest — the
      // raw dir legitimately keeps ONE graced superseded generation for
      // lock-free readers), and a probe over ALL cells returns the
      // identical top-k — rebalance is layout-only
      val membersAfter = SimilarityOps.ivfAssignedFrame(spark, path)
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(membersAfter == membersBefore, "rebalance changed membership")
      assert(fullProbe() == answerBefore, "rebalance changed the answer")
      // the graced parent dirs ARE still on disk right after the commit
      // (the concurrent-reader grace window)…
      def rawCellDirs(): Set[Int] = {
        val onDisk = java.nio.file.Files.list(
          java.nio.file.Paths.get(path, "assigned"))
        try {
          import scala.jdk.CollectionConverters._
          onDisk.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("cell=")).map(_.stripPrefix("cell=").toInt)
            .toSet
        } finally onDisk.close()
      }
      val parents = sizesBefore.filter(_._2 > cap).keySet
      assert(parents.subsetOf(rawCellDirs()),
        "graced parent dirs deleted immediately — no reader grace window")
      // centroid list stays consistent with the layout: one centroid per
      // cell dir, labels unique (centroids resolve through the manifest
      // after a rebalance — the committed dir, not the stale boot dir)
      val cents = SimilarityOps.loadIvfIndex(spark, path)
        .centroids.map(_._1)
      assert(cents.distinct.length == cents.length)
      assert(cents.toSet == sizesAfter.keySet)
      // …and rebalance entries collect superseded generations: drain the
      // split schedule (a child can itself still be over cap) — the final
      // 0-split entry's GC leaves disk exactly equal to the live layout
      while (SimilarityOps.rebalanceIvfIndex(spark, path, cap = cap) > 0) {}
      assert(rawCellDirs() == SimilarityOps.ivfCellSizes(spark, path).keySet,
        "graced generation not collected at the next rebalance entry")
      assert(fullProbe() == answerBefore, "drained rebalances changed the answer")
    }
  }

  /** Fabricate a skew-bloated index root exactly like the rebalance
    * test above: saved plain layout + 120 near-copies of vector 0
    * appended into one cell. `body` runs on it; the root is deleted after.
    */
  private def withSkewedIndex[A](body: String => A): A = {
    val emb = Tables.load(spark, sf, "embeddings")
    val centroids = SimilarityOps.kmeansCentroids(emb, 16, 2)
    withTempDir("ivf_kill") { dir =>
      val path = dir.toString
      SimilarityOps.saveIvfIndex(
        SimilarityOps.IvfIndex(centroids,
          emb.withColumn("cell", SimilarityOps.cellExpr(centroids))), path)
      val base = SimilarityOps.vectorOf(spark, sf, 0L).map(_.toFloat)
      val skew = spark.range(10000L, 10120L)
        .select(col("id").as("vec_id"),
          transform(typedLit(base), (x, i) =>
            x + when(i === pmod(col("id"), lit(64L)).cast("int"),
              pmod(col("id"), lit(7L)).cast("float") * lit(0.001f))
              .otherwise(lit(0.0f))).as("embedding"),
          lit(0).as("label"))
      SimilarityOps.appendToIvfIndex(spark, skew, path)
      body(path)
    }
  }

  test("kill-mid-rebalance at every window: readers never see a " +
      "duplicated or lost member; the retry completes to the " +
      "never-crashed answer") {
    def members(path: String): Seq[Long] =
      SimilarityOps.ivfAssignedFrame(spark, path)
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    // the never-crashed reference run — one pass, then a SECOND pass
    // (a child of the first split is itself still over cap, so the
    // next scheduled rebalance legitimately splits again; window 3's
    // retry lands on pass-2 state, windows 1-2's on pass-1 state)
    withSkewedIndex { ref =>
      val refMembers = members(ref)
      assert(SimilarityOps.rebalanceIvfIndex(spark, ref, cap = 100) >= 1)
      val refPass1 = (members(ref), SimilarityOps.ivfCellSizes(spark, ref))
      SimilarityOps.rebalanceIvfIndex(spark, ref, cap = 100)
      val refPass2 = (members(ref), SimilarityOps.ivfCellSizes(spark, ref))
      for (window <- Seq(1, 2, 3)) {
        val refAfter = if (window == 3) refPass2 else refPass1
        withSkewedIndex { path =>
          SimilarityOps.rebalanceKillAt = Some(window)
          try intercept[IllegalStateException] {
            SimilarityOps.rebalanceIvfIndex(spark, path, cap = 100)
          } finally SimilarityOps.rebalanceKillAt = None
          // crash state: every reader (load, census, membership) resolves
          // through the manifest — NO duplicated members (windows 1-2
          // leave children on disk uncommitted; window 3 leaves parents
          // undropped), NO lost members
          assert(members(path) == refMembers,
            s"window $window: torn state visible to readers")
          val sizes = SimilarityOps.ivfCellSizes(spark, path)
          assert(sizes.values.sum == refMembers.size,
            s"window $window: census double-counts")
          // the retry completes: same member set and cell census as the
          // never-crashed run (window 3 committed already, so its retry
          // is a no-op GC pass — rebalance returns 0 splits but the
          // LAYOUT must already equal the reference)
          SimilarityOps.rebalanceIvfIndex(spark, path, cap = 100)
          assert(members(path) == refAfter._1,
            s"window $window: retry lost or duplicated members")
          assert(SimilarityOps.ivfCellSizes(spark, path) == refAfter._2,
            s"window $window: retry census differs from never-crashed run")
          // debris discipline: a splitting pass legitimately leaves ONE
          // graced superseded generation (the concurrent-reader window);
          // draining the schedule to a 0-split entry collects everything
          while (SimilarityOps.rebalanceIvfIndex(spark, path, cap = 100) > 0) {}
          val onDisk = java.nio.file.Files.list(
            java.nio.file.Paths.get(path, "assigned"))
          val cellDirs =
            try {
              import scala.jdk.CollectionConverters._
              onDisk.iterator().asScala.map(_.getFileName.toString)
                .filter(_.startsWith("cell=")).map(_.stripPrefix("cell=").toInt)
                .toSet
            } finally onDisk.close()
          assert(cellDirs == SimilarityOps.ivfCellSizes(spark, path).keySet,
            s"window $window: orphan cell dirs remain")
        }
      }
    }
  }
}
