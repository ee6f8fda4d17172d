package graft

/** Benchmark entry point: one JSON line of per-query wall-clock over
  * the SPARK_GRAFT_SF_DIR fixtures, then the `total_tail` line
  * (BASELINE.md). See the `bench` mode of [[Harness]].
  */
object Bench {
  def main(args: Array[String]): Unit = Harness.main("bench" +: args)
}
