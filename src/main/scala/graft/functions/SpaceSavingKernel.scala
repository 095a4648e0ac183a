package graft.functions

import scala.collection.mutable

/** The SpaceSaving counter logic (Metwally et al. 2005), factored out
  * of [[SpaceSavingTopK]] so the batch aggregate and the streaming
  * stateful operator ([[graft.streaming.StreamingTopK]]) share ONE
  * implementation of the insert/evict invariant and the mergeable-
  * summaries union — the stream ≡ batch agreement test is meaningful
  * only because both sides run this exact code.
  *
  * Buffer layout: key → Array(count, err) — est count and overestimate
  * bound, maintaining true ≤ count ≤ true + err ≤ true + N/m.
  */
object SpaceSavingKernel {
  type Buf = mutable.HashMap[String, Array[Long]]

  def empty: Buf = mutable.HashMap.empty

  /** The one capacity rule of the batch aggregate and the streaming
    * operator: fewer than 2 counters cannot evict and keep a newcomer. */
  def checkCapacity(m: Int): Unit =
    require(m >= 2, s"SpaceSaving needs m >= 2 counters, got $m")

  def minCount(buf: Buf, m: Int): Long =
    if (buf.size < m) 0L else buf.valuesIterator.map(_(0)).min

  /** One occurrence of `key`; evicts the minimum counter at capacity
    * (the newcomer inherits its count as the overestimate bound). */
  def insert(buf: Buf, key: String, m: Int): Unit =
    buf.get(key) match {
      case Some(ce) => ce(0) += 1
      case None if buf.size < m => buf.put(key, Array(1L, 0L))
      case None =>
        val (evictKey, evictCe) = buf.minBy { case (k, ce) => (ce(0), k) }
        buf.remove(evictKey)
        buf.put(key, Array(evictCe(0) + 1, evictCe(0)))
    }

  /** Mergeable-summaries union (Agarwal et al., PODS 2012): a key
    * absent from one summary contributes that summary's minimum
    * counter as both count and error bound; the union truncates back
    * to the top m. */
  def merge(b1: Buf, b2: Buf, m: Int): Buf = {
    val min1 = minCount(b1, m)
    val min2 = minCount(b2, m)
    val merged: Buf = mutable.HashMap.empty
    (b1.keySet ++ b2.keySet).foreach { k =>
      val a = b1.get(k)
      val b = b2.get(k)
      val count = a.map(_(0)).getOrElse(min1) + b.map(_(0)).getOrElse(min2)
      val err = a.map(_(1)).getOrElse(min1) + b.map(_(1)).getOrElse(min2)
      merged.put(k, Array(count, err))
    }
    if (merged.size <= m) merged
    else {
      val kept = merged.toSeq.sortBy { case (k, ce) => (-ce(0), k) }.take(m)
      mutable.HashMap(kept: _*)
    }
  }

  /** Counters by descending count (key tie-break) — the top-k view. */
  def top(buf: Buf): Seq[(String, Long, Long)] =
    buf.toSeq.sortBy { case (k, ce) => (-ce(0), k) }
      .map { case (k, ce) => (k, ce(0), ce(1)) }
}
