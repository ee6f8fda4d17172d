package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

final case class DocEvent(fingerprint: Long, doc_id: Long, text: String)

/** Stateful streaming dedup: first-seen wins per content fingerprint,
  * implemented with flatMapGroupsWithState — the custom-state operator
  * for semantics windowed aggregations can't express.
  *
  * State is one boolean per fingerprint key, partitioned by key across
  * the cluster; at 100 TB of stream history the state store holds one
  * entry per distinct document, which is why the key is the 64-bit
  * fingerprint rather than the text. [[firstSeenOnly]] keeps state
  * unbounded (deterministic fixture demo); [[firstSeenWithTtl]] bounds
  * the store with a processing-time TTL — the production variant: a
  * key not seen for `ttl` is evicted, so the same fingerprint re-emits
  * after the window, trading exactness past the horizon for bounded
  * state.
  */
object StreamingDedup {

  def firstSeenOnly(events: Dataset[DocEvent]): Dataset[DocEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.fingerprint)
      .flatMapGroupsWithState[Boolean, DocEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[DocEvent], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // several duplicates may arrive in one batch: emit min doc_id
            Iterator.single(rows.minBy(_.doc_id))
          }
      }
  }

  /** TTL-bounded first-seen dedup. Each batch that sees a key refreshes
    * its timeout; once no batch has carried the key for `ttl`, Spark
    * invokes this function with `state.hasTimedOut` and an empty row
    * iterator, and removing the state re-opens the key. The timeout
    * must be re-armed on every invocation — Spark clears it each time
    * the group is processed.
    */
  def firstSeenWithTtl(events: Dataset[DocEvent],
      ttl: java.time.Duration): Dataset[DocEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.fingerprint)
      .flatMapGroupsWithState[Boolean, DocEvent](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (_: Long, rows: Iterator[DocEvent], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove() // evict: the key may re-emit from now on
            Iterator.empty
          } else if (state.exists) {
            state.setTimeoutDuration(ttl.toMillis)
            Iterator.empty
          } else {
            state.update(true)
            state.setTimeoutDuration(ttl.toMillis)
            Iterator.single(rows.minBy(_.doc_id))
          }
      }
  }
}
