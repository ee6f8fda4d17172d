package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object SparkTestSession {
  lazy val spark: SparkSession = Harness.session(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
}
