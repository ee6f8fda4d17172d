package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Scored row for per-key top-k: ordered by (score DESC, id ASC). */
final case class Scored(score: Double, id: Long)

/** Bounded-buffer helpers shared by the typed selectors: the buffer is
  * kept sorted (best first), so a new row is an O(1) reject once the
  * buffer is saturated and the row loses to the current worst — the
  * overwhelming majority of rows once k rows have been seen — and a
  * binary-search insert (one array copy, no re-sort) otherwise. Partial
  * buffers merge with a single linear pass capped at the bound. The old
  * `(buf :+ x).sortWith(...)` form paid an O(k log k) sort + allocation
  * per input row, which dominates at quota in the thousands.
  */
private[functions] object BoundedSorted {

  /** Insert `x` into sorted `buf` (strict total order `better`), keeping
    * at most `cap` elements. Matches the stable-sort-then-take semantics
    * of the naive form: `x` lands after any element it doesn't beat.
    */
  def insert[T >: Null <: AnyRef](
      buf0: Seq[T], x: T, cap: Int, better: (T, T) => Boolean)(
      implicit ct: scala.reflect.ClassTag[T]): Seq[T] = {
    if (cap <= 0) return ArraySeq.empty
    // Defensive clamp: callers maintain buf.length <= cap (QuotaMinK's
    // per-group-constant quota holds by construction), but if that
    // invariant were ever violated the binary-search insert below would
    // index past the output array; degrade to a capped buffer instead,
    // matching the old take(cap) behavior.
    val buf = if (buf0.length > cap) buf0.take(cap) else buf0
    val n = buf.length
    if (n >= cap && !better(x, buf(n - 1))) return buf
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (better(x, buf(mid))) hi = mid else lo = mid + 1
    }
    val outLen = math.min(n + 1, cap)
    val out = new Array[T](outLen)
    var i = 0
    while (i < lo) { out(i) = buf(i); i += 1 }
    if (lo < outLen) out(lo) = x
    i = lo + 1
    while (i < outLen) { out(i) = buf(i - 1); i += 1 }
    ArraySeq.unsafeWrapArray(out)
  }

  /** Merge two sorted buffers into one, keeping at most `cap` elements —
    * one linear pass, no sort.
    */
  def merge[T >: Null <: AnyRef](
      a: Seq[T], b: Seq[T], cap: Int, better: (T, T) => Boolean)(
      implicit ct: scala.reflect.ClassTag[T]): Seq[T] = {
    if (a.isEmpty) return if (b.length <= cap) b else b.take(cap)
    if (b.isEmpty) return if (a.length <= cap) a else a.take(cap)
    val outLen = math.min(a.length + b.length, cap)
    val out = new Array[T](outLen)
    var i = 0
    var j = 0
    var o = 0
    while (o < outLen) {
      out(o) =
        if (j >= b.length || (i < a.length && better(a(i), b(j)))) {
          val r = a(i); i += 1; r
        } else {
          val r = b(j); j += 1; r
        }
      o += 1
    }
    ArraySeq.unsafeWrapArray(out)
  }
}

/** Heap-style typed Aggregator keeping the top-k rows per group.
  *
  * The window-function formulation (row_number over partitionBy/orderBy
  * + filter rn<=k) SORTS every group in full; this Aggregator carries
  * at most k rows per group through partial aggregation, so the
  * shuffle moves k rows per key instead of all of them — the
  * difference between sorting 100 TB and sorting k·|keys| rows. Same
  * semantics (proved by the shared oracle with e_window_rank's query).
  * Per-row cost is O(1) after saturation (reject against the current
  * worst) via [[BoundedSorted]].
  */
class TopKAggregator(k: Int)
    extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {

  private def better(a: Scored, b: Scored): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  override def zero: Seq[Scored] = Seq.empty
  override def reduce(buf: Seq[Scored], x: Scored): Seq[Scored] =
    BoundedSorted.insert(buf, x, k, better)
  override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] =
    BoundedSorted.merge(a, b, k, better)
  override def finish(buf: Seq[Scored]): Seq[Scored] = buf

  override def bufferEncoder: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  override def outputEncoder: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
}

object TopK {
  def aggregator(k: Int): TopKAggregator = new TopKAggregator(k)
}

/** Hash-ranked row for per-stratum quota selection: ordered by
  * (h ASC, id ASC). The 60-bit hash doesn't fit a Double mantissa, so
  * this is a Long-scored sibling of [[Scored]]; `quota` rides along
  * because the cap varies per stratum (every row of a group carries the
  * same quota, derived from its key).
  */
final case class Hashed(h: Long, id: Long, quota: Int)

/** Per-group MIN-k with a group-supplied cap: keeps the `quota`
  * smallest (h, id) rows through partial aggregation — the bounded
  * form of "rank ascending, keep rank <= quota" where quota differs
  * per group (the mixture-sampling shape). The shuffle carries at most
  * quota rows per stratum instead of the stratum. Per-row cost is O(1)
  * after saturation via [[BoundedSorted]].
  */
class QuotaMinKAggregator
    extends Aggregator[Hashed, Seq[Hashed], Seq[Hashed]] {

  private def better(a: Hashed, b: Hashed): Boolean =
    a.h < b.h || (a.h == b.h && a.id < b.id)

  override def zero: Seq[Hashed] = Seq.empty
  override def reduce(buf: Seq[Hashed], x: Hashed): Seq[Hashed] =
    BoundedSorted.insert(buf, x, x.quota, better)
  override def merge(a: Seq[Hashed], b: Seq[Hashed]): Seq[Hashed] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else BoundedSorted.merge(a, b, a.head.quota, better)
  override def finish(buf: Seq[Hashed]): Seq[Hashed] = buf

  override def bufferEncoder: Encoder[Seq[Hashed]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Hashed]]()
  override def outputEncoder: Encoder[Seq[Hashed]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Hashed]]()
}

object QuotaMinK {
  def aggregator: QuotaMinKAggregator = new QuotaMinKAggregator
}
