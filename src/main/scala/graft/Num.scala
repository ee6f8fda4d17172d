package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Determinism helpers for float aggregates (SURVEY §2.3 determinism
  * rules). Summing doubles is order-dependent; Spark's partial
  * aggregation order differs from any single-threaded oracle. Casting to
  * DECIMAL first makes the sum exact (money fixtures carry ≤2 decimals,
  * so DECIMAL(18,2) is lossless), and the final DOUBLE cast is exact for
  * totals below 2^53 units — so Spark and DuckDB agree bit-for-bit
  * regardless of partitioning. This also holds on a 1000-executor
  * cluster: decimal sums are associative/commutative, so map-side
  * partial aggregation stays enabled.
  */
object Num {
  /** Exact sum of a ≤2-decimal double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")
}
