package graft

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`).
  * Usage: `graft.Verify <sf_dir> <out_dir> [queries]`; see the `verify`
  * mode of [[Harness]].
  */
object Verify {
  def main(args: Array[String]): Unit = Harness.main("verify" +: args)
}
