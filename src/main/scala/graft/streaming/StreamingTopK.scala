package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.SpaceSavingKernel

/** Serialized SpaceSaving state for one group key — parallel arrays so
  * the state store gets a flat product encoder (no Kryo blobs). */
case class TopKState(keys: Array[String], counts: Array[Long], errs: Array[Long])

/** Streaming HEAVY HITTERS: per event_type, the running top-k user_ids
  * by event count, maintained as a SpaceSaving summary inside
  * flatMapGroupsWithState — the streaming twin of the batch
  * `space_saving_topk` aggregate (q74), sharing [[SpaceSavingKernel]]
  * verbatim so stream ≡ batch agreement holds by construction, not by
  * reimplementation (StreamingTopKSpec pins it anyway).
  *
  * Why this shape at scale: the state per group is EXACTLY m counters
  * regardless of stream length or key cardinality — the state store
  * holds #event_types × m entries, never the user stream; each
  * micro-batch shuffles only (event_type, user_id) pairs to their
  * group. Output mode Update emits each group's refreshed top-k only
  * when the group saw traffic in the batch.
  */
object StreamingTopK {

  /** Rehydrates checkpointed state, ENFORCING the current m: a query
    * checkpointed with a larger m would otherwise carry its old
    * state size forever (insert's eviction swaps 1-for-1, so a buffer
    * above m never shrinks) — keep the m highest-count counters, the
    * standard SpaceSaving truncation (per-key error bounds loosen to
    * the dropped counters' max count, exactly like starting a fresh
    * summary mid-stream; the ≤ m memory bound is what the file
    * promises). */
  private[graft] def toBuf(s: TopKState, m: Int): SpaceSavingKernel.Buf = {
    val buf = SpaceSavingKernel.empty
    val order = s.counts.indices.sortBy(i => -s.counts(i)).take(m)
    order.foreach(i => buf.put(s.keys(i), Array(s.counts(i), s.errs(i))))
    buf
  }

  /** events must carry event_type + user_id (streaming or batch-test
    * micro-batches via MemoryStream). Emits (event_type, key, est,
    * err, rank) for the current top k of every group that changed.
    * NULL user_ids are skipped — the batch twin's SQL-aggregate
    * convention (SketchAgg ignores null inputs), so stream ≡
    * batch holds on nullable streams too. */
  def topKPerType(events: DataFrame, m: Int, k: Int): Dataset[(String, String, Long, Long, Int)] = {
    SpaceSavingKernel.checkCapacity(m)
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id").cast("string").as("key"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (eventType: String, rows: Iterator[(String, String)],
         state: GroupState[TopKState]) =>
          val buf = state.getOption.map(toBuf(_, m)).getOrElse(SpaceSavingKernel.empty)
          rows.foreach { case (_, key) => SpaceSavingKernel.insert(buf, key, m) }
          // ONE sorted readout feeds both the state write and the
          // emission — top() is the per-group hot path
          val entries = SpaceSavingKernel.top(buf)
          state.update(TopKState(entries.map(_._1).toArray,
            entries.map(_._2).toArray, entries.map(_._3).toArray))
          entries.take(k).zipWithIndex.iterator
            .map { case ((key, est, err), i) => (eventType, key, est, err, i + 1) }
      }
  }
}
