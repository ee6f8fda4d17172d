package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.sources.AtomicPublish

/** The commit protocol's crash contract: readers never see a torn
  * snapshot — any failure before the manifest move leaves the
  * previous version fully readable.
  */
class AtomicPublishSpec extends SparkSpec {
  import spark.implicits._

  private def withRoot[A](body: String => A): A =
    withTempDir("graft_pub_spec")(dir => body(dir.toString))

  test("publish commits versions and readLatest follows the manifest") {
    withRoot { root =>
      assert(AtomicPublish.current(root).isEmpty)
      intercept[IllegalStateException] {
        AtomicPublish.readLatest(spark, root)
      }
      val v1 = AtomicPublish.publish(
        Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
      assert(v1 == 1L)
      assert(AtomicPublish.readLatest(spark, root).count() == 2)
      val v2 = AtomicPublish.publish(
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), root)
      assert(v2 == 2L)
      assert(AtomicPublish.readLatest(spark, root)
        .orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
    }
  }

  test("a crash mid data-write leaves the previous snapshot intact") {
    withRoot { root =>
      AtomicPublish.publish(Seq((1L, "x")).toDF("id", "s"), root)
      // simulate a writer dying after creating the next version dir and
      // some partial files, BEFORE the manifest swap
      val torn = Paths.get(root, "v2")
      Files.createDirectories(torn)
      Files.write(torn.resolve("part-00000.parquet"),
        "not a parquet file".getBytes(StandardCharsets.UTF_8))
      val seen = AtomicPublish.readLatest(spark, root)
        .as[(Long, String)].collect().toSeq
      assert(seen == Seq((1L, "x")), "reader saw the torn version")
      // the next successful publish reclaims the orphan version number
      // path by moving past it
      val v = AtomicPublish.publish(Seq((2L, "y")).toDF("id", "s"), root)
      assert(v == 2L)
      assert(AtomicPublish.readLatest(spark, root)
        .as[(Long, String)].collect().toSeq == Seq((2L, "y")))
    }
  }

  test("a crash mid manifest-write is invisible to readers") {
    withRoot { root =>
      AtomicPublish.publish(Seq((1L, "x")).toDF("id", "s"), root)
      // a stale half-written manifest temp never shadows the manifest
      Files.write(Paths.get(root, "_manifest.tmp"),
        """{"version":99,"dir":""".getBytes(StandardCharsets.UTF_8))
      assert(AtomicPublish.current(root).map(_._1) == Some(1L))
      assert(AtomicPublish.readLatest(spark, root).count() == 1)
    }
  }

  test("publish GCs versions older than the previous one") {
    withRoot { root =>
      for (i <- 1 to 4)
        AtomicPublish.publish(Seq((i.toLong, "r")).toDF("id", "s"), root)
      val dirs = Files.list(Paths.get(root)).toArray.map(_.toString)
        .filter(p => Files.isDirectory(Paths.get(p)))
        .map(p => Paths.get(p).getFileName.toString).sorted.toSeq
      assert(dirs == Seq("v3", "v4"), s"expected v3+v4 kept, got $dirs")
    }
  }

  test("retention window: a reader pinned at an old version survives " +
      "publishes inside keep-N, loses it outside") {
    withRoot { root =>
      AtomicPublish.publish(Seq((1L, "a")).toDF("id", "s"), root,
        keepVersions = 3)
      // reader resolves the manifest at v1 and holds the data path — the
      // mid-scan position the GC policy must respect
      val (v1, d1) = AtomicPublish.current(root).get
      assert(v1 == 1L)
      val pinned = spark.read.parquet(Paths.get(root, d1).toString)
      // two more publishes: v1 is still inside the keep-3 window
      AtomicPublish.publish(Seq((2L, "b")).toDF("id", "s"), root,
        keepVersions = 3)
      AtomicPublish.publish(Seq((3L, "c")).toDF("id", "s"), root,
        keepVersions = 3)
      assert(pinned.as[(Long, String)].collect().toSeq == Seq((1L, "a")),
        "pinned reader lost its files inside the retention window")
      // a third publish expires v1 (keep = v4, v3, v2)
      AtomicPublish.publish(Seq((4L, "d")).toDF("id", "s"), root,
        keepVersions = 3)
      assert(!Files.exists(Paths.get(root, d1)),
        "v1 should be GC'd once outside keep-3")
      val dirs = Files.list(Paths.get(root)).toArray.map(_.toString)
        .filter(p => Files.isDirectory(Paths.get(p)))
        .map(p => Paths.get(p).getFileName.toString).sorted.toSeq
      assert(dirs == Seq("v2", "v3", "v4"))
    }
  }

  // -- exactly-once streaming publish ---------------------------------

  test("stream batches commit in order and read back as their union") {
    withRoot { root =>
      assert(AtomicPublish.currentStream(root).isEmpty)
      assert(AtomicPublish.publishStreamBatch(
        Seq((1L, "a")).toDF("id", "s"), root, 0L))
      assert(AtomicPublish.publishStreamBatch(
        Seq((2L, "b")).toDF("id", "s"), root, 1L))
      assert(AtomicPublish.readStreamPublished(spark, root)
        .orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b")))
    }
  }

  test("a replayed batch id is skipped — no duplicate rows after restart") {
    withRoot { root =>
      AtomicPublish.publishStreamBatch(Seq((1L, "a")).toDF("id", "s"), root, 0L)
      AtomicPublish.publishStreamBatch(Seq((2L, "b")).toDF("id", "s"), root, 1L)
      // crash-between-sink-and-checkpoint replay: foreachBatch re-delivers
      // batch 1; the manifest's lastBatch drops it
      assert(!AtomicPublish.publishStreamBatch(
        Seq((2L, "b")).toDF("id", "s"), root, 1L))
      assert(AtomicPublish.readStreamPublished(spark, root).count() == 2)
    }
  }

  test("a torn batch dir is invisible until its id commits, then " +
      "appears exactly once") {
    withRoot { root =>
      AtomicPublish.publishStreamBatch(Seq((1L, "a")).toDF("id", "s"), root, 0L)
      // simulate dying mid data-write of batch 1: dir exists, garbage
      // inside, manifest never moved
      val torn = Paths.get(root, "batch-1")
      Files.createDirectories(torn)
      Files.write(torn.resolve("part-00000.parquet"),
        "not a parquet file".getBytes(StandardCharsets.UTF_8))
      assert(AtomicPublish.readStreamPublished(spark, root).count() == 1,
        "reader saw a torn uncommitted batch")
      // restart re-processes batch 1: overwrite replaces the torn dir and
      // the commit makes it visible exactly once
      assert(AtomicPublish.publishStreamBatch(
        Seq((9L, "z")).toDF("id", "s"), root, 1L))
      assert(AtomicPublish.readStreamPublished(spark, root)
        .orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (9L, "z")))
    }
  }

  test("checkpointed foreachBatch publish survives a crash-and-replay " +
      "restart with no loss and no duplication") {
    withTempDir("pub_resume_src") { replayDir =>
      withTempDir("pub_resume_cp") { cpDir =>
        withRoot { root =>
          val raw = spark.read.parquet(s"$sf/documents.parquet")
          val schema = raw.schema
          def ship(half: org.apache.spark.sql.DataFrame, tag: String): Unit = {
            withTempDir(s"pub_stage_$tag") { tmp =>
              half.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
              import scala.jdk.CollectionConverters._
              val part = Files.list(tmp).iterator().asScala
                .find(_.getFileName.toString.endsWith(".parquet")).get
              Files.move(part, replayDir.resolve(s"$tag.parquet"))
            }
          }
          def start() = spark.readStream.schema(schema).format("parquet")
            .load(replayDir.toString)
            .select("doc_id", "lang", "source", "n_chars")
            .writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              AtomicPublish.publishStreamBatch(b, root, id); ()
            }
            .option("checkpointLocation", cpDir.toString)
            .start()
          ship(raw.where(col("doc_id") % 2 === 0), "day1")
          val q1 = start()
          try q1.processAllAvailable() finally q1.stop() // planned "crash"
          // simulate dying BETWEEN the sink commit and the checkpoint
          // advance: with commits/0 gone, the restarted query RE-DELIVERS
          // batch 0 to foreachBatch — the manifest's batchId guard must
          // swallow the replay. (The .crc sibling must go too: Hadoop's
          // ChecksumFileSystem otherwise fails the re-write of commits/0
          // against the stale checksum.)
          assert(Files.deleteIfExists(cpDir.resolve("commits").resolve("0")))
          Files.deleteIfExists(cpDir.resolve("commits").resolve(".0.crc"))
          ship(raw.where(col("doc_id") % 2 === 1), "day2")
          val q2 = start()
          try q2.processAllAvailable() finally q2.stop()
          val published = AtomicPublish.readStreamPublished(spark, root)
            .select("doc_id").as[Long].collect().sorted.toSeq
          val want = raw.select("doc_id").as[Long].collect().sorted.toSeq
          assert(published == want,
            s"published ${published.length} rows, want ${want.length} — " +
              "replay duplicated or dropped a batch")
        }
      }
    }
  }

  test("the streamed publish gate equals its batch projection") {
    withRoot { root =>
      graft.streaming.StreamingOps.replayPublishStream(spark, sf, root)
      val streamed = AtomicPublish.readStreamPublished(spark, root)
        .orderBy("doc_id").collect().toSeq
      val batch = Tables.load(spark, sf, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id").collect().toSeq
      assert(streamed == batch)
    }
  }

  test("concurrent duplicated writers serialize on the root lock — " +
      "every batch commits exactly once, none is dropped") {
    // 4 writers race the SAME ascending batch sequence at one root
    // (the misconfigured two-queries-one-root case the writer lock
    // exists for). Each manifest read-modify-write runs under the
    // lock, so exactly one writer wins each id and no interleaving can
    // drop a committed dir from the manifest; the rest skip on the
    // replay guard. Ascending order is preserved by induction: an id
    // is only ever skipped after a higher one committed, and a higher
    // one commits only after its writer saw every lower id committed.
    withRoot { root =>
      val df = Seq(1L).toDF("x")
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 4).map { _ =>
        new Thread(() => {
          try (0 until 6).foreach(b =>
            AtomicPublish.publishStreamBatch(df, root, b))
          catch { case _: Throwable => failures.incrementAndGet() }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(failures.get() == 0)
      val st = AtomicPublish.currentStream(root).get
      assert(st.lastBatch == 5L)
      assert(st.dirs == (0 until 6).map(b => s"batch-$b"))
      assert(AtomicPublish.readStreamPublished(spark, root).count() == 6L)
    }
  }

  test("published-version diff: retained v(N-1) vs vN classify " +
      "added/changed/removed/unchanged exactly") {
    withRoot { root =>
      AtomicPublish.publish(
        Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("doc_id", "n_chars"),
        root, keepVersions = 2)
      AtomicPublish.publish(
        Seq((1L, 10L), (2L, 21L), (4L, 40L)).toDF("doc_id", "n_chars"),
        root, keepVersions = 2)
      val (v, _) = AtomicPublish.current(root).get
      val diff = graft.operators.CdcOps.diffByKey(
        AtomicPublish.readVersion(spark, root, v - 1),
        AtomicPublish.readVersion(spark, root, v), "doc_id", "n_chars")
        .as[(String, Long, Long)].collect().toSeq
      assert(diff == Seq(("added", 1L, 4L), ("changed", 1L, 2L),
        ("removed", 1L, 3L), ("unchanged", 1L, 1L)))
      // a version outside the retention window fails loudly
      intercept[IllegalStateException] {
        AtomicPublish.readVersion(spark, root, v - 2)
      }
    }
  }
}
