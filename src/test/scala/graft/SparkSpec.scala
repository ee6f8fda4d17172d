package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object SparkTestSession {
  lazy val spark: SparkSession = Harness.session(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Runs `body` on a fresh temp directory, then deletes the directory
    * and everything in it, whether `body` passed or failed.
    */
  def withTempDir[A](prefix: String)(body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  /** Spark jobs `body` submits from this thread (and threads it starts).
    * Jobs are tagged with a local property, and a tagged sentinel job
    * run last marks the point where the listener has seen every one.
    */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"spec-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val seenAll = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.spec.tag")) match {
          case Some(t) if t == tag + "-end" => seenAll.countDown()
          case Some(t) if t == tag => jobs.incrementAndGet()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.tag", tag)
      try body finally sc.setLocalProperty("graft.spec.tag", tag + "-end")
      sc.parallelize(Seq(1), 1).count()
      assert(seenAll.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      jobs.get()
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }
}
