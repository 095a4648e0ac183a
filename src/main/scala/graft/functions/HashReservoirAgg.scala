package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The bounded sorted buffer both reservoir declarations keep: the k
  * (key, id) entries that win, in winning order, merged as a sorted
  * k-truncated union (associative and commutative, so the result does
  * not depend on the partitioning). */
sealed abstract class Reservoir[K](k: Int) extends Sketch[ArrayBuffer[(K, Long)]] {
  require(k >= 1, s"reservoir size must be >= 1, got $k")

  /** Whether entry `a` wins over entry `b`: a total order. */
  protected def wins(a: (K, Long), b: (K, Long)): Boolean

  /** Inserts keeping winning order, capped at k. The common case on a
    * big group — a row losing to a full reservoir's worst entry — is
    * one comparison. */
  def insert(buf: ArrayBuffer[(K, Long)], e: (K, Long)): Unit = {
    if (buf.length == k && !wins(e, buf.last)) return
    var i = buf.length
    while (i > 0 && wins(e, buf(i - 1))) i -= 1
    buf.insert(i, e)
    if (buf.length > k) buf.remove(buf.length - 1)
  }

  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def create(): ArrayBuffer[(K, Long)] = ArrayBuffer.empty
  def merge(b1: ArrayBuffer[(K, Long)], b2: ArrayBuffer[(K, Long)]): ArrayBuffer[(K, Long)] = {
    b2.foreach(insert(b1, _))
    b1
  }
  def eval(buf: ArrayBuffer[(K, Long)]): Any = new GenericArrayData(buf.map(_._2).toArray)
}

/** `hash_reservoir(rank, id)`: deterministic bounded sampling — per
  * group, keep the k ids with the SMALLEST (rank, id) — rank being any
  * deterministic hash string (q84's md5 recipe) — and return them in
  * rank order.
  *
  * Honest comparison with q84's window form on Spark 4: the optimizer
  * already inserts a PARTIAL WindowGroupLimit below the exchange
  * there, so both plans shuffle only ~k rows per group per mapper.
  * What the window form still pays and this aggregate does not: a
  * FULL per-partition sort of the fact by (group, rank) feeding the
  * group-limit (O(n log n) per map task vs this buffer's O(n·cmp)
  * with an O(1) reject for rows below a full reservoir), a second
  * exchange + sort for the Final window, and k output rows per group
  * where this emits one array row. It is also a reusable AGGREGATE —
  * composable into rollups/pivots/other aggs in the same pass, where
  * a window top-k cannot be. Merge is a sorted k-truncated union
  * (associative + commutative, so the result is partitioning-
  * independent — exactly q84's rows, which the oracle and the
  * agreement test pin).
  *
  * Determinism: the hash rank replaces rand() (the q117/q84 portable-
  * randomness discipline), ties break on id, and both sides of the
  * comparison are binary UTF8 — the same order DuckDB gives hex
  * varchars. */
case class HashReservoir(k: Int) extends Reservoir[UTF8String](k) {
  def prettyName: String = "hash_reservoir"
  def accepts(in: Seq[DataType]): Boolean = in == Seq(StringType, LongType)
  def typeError(got: String): String =
    s"$prettyName expects (string rank, bigint id), got $got"

  protected def wins(a: (UTF8String, Long), b: (UTF8String, Long)): Boolean = {
    val c = a._1.compareTo(b._1)
    c < 0 || (c == 0 && a._2 < b._2)
  }

  def update(buf: ArrayBuffer[(UTF8String, Long)], in: Array[Any],
             types: Seq[DataType]): ArrayBuffer[(UTF8String, Long)] = {
    // clone: the evaluated UTF8String may point into a reused row buffer
    insert(buf, (in(0).asInstanceOf[UTF8String].clone(), in(1).asInstanceOf[Long]))
    buf
  }

  def toBytes(buf: ArrayBuffer[(UTF8String, Long)]): Array[Byte] =
    SketchCodec.write(buf) { case (out, (r, v)) =>
      SketchCodec.putBytes(out, r.getBytes)
      out.writeLong(v)
    }

  def fromBytes(bytes: Array[Byte]): ArrayBuffer[(UTF8String, Long)] =
    ArrayBuffer.from(SketchCodec.read(bytes)(in =>
      (UTF8String.fromBytes(SketchCodec.getBytes(in)), in.readLong())))
}

/** [[HashReservoir]]'s WEIGHTED sibling, `weighted_reservoir(prio,
  * id)` — Efraimidis–Spirakis A-ES sampling as a mergeable aggregate:
  * keep the k ids with the LARGEST (priority, −id) where priority =
  * u^(1/w) (q103's deterministic md5-derived form). Same bounded sorted-buffer state, same
  * partitioning-independent k-truncated merge, same shuffle shape;
  * the only differences are the double rank and the descending order
  * (a larger priority wins; ties still break on the SMALLER id,
  * matching q103's `ORDER BY prio DESC, doc_id`). */
case class WeightedReservoir(k: Int) extends Reservoir[Double](k) {
  def prettyName: String = "weighted_reservoir"
  def accepts(in: Seq[DataType]): Boolean = in == Seq(DoubleType, LongType)
  def typeError(got: String): String =
    s"$prettyName expects (double priority, bigint id), got $got"

  /** "a wins over b": larger priority, then smaller id — via
    * Double.compare's TOTAL order, so NaN (which IEEE `>` makes
    * incomparable — a NaN at the buffer tail would block every later
    * insert under one partitioning and lose under another, breaking
    * the partitioning-independence guarantee; round-12 review) sorts
    * deterministically greatest. q179's priorities are u^(1/w) with
    * u ∈ (0,1), which cannot produce NaN; a caller feeding NaN gets
    * deterministic, partitioning-independent behavior, not silence. */
  protected def wins(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  def update(buf: ArrayBuffer[(Double, Long)], in: Array[Any],
             types: Seq[DataType]): ArrayBuffer[(Double, Long)] = {
    insert(buf, (in(0).asInstanceOf[Double], in(1).asInstanceOf[Long]))
    buf
  }

  def toBytes(buf: ArrayBuffer[(Double, Long)]): Array[Byte] =
    SketchCodec.write(buf) { case (out, (p, v)) =>
      out.writeDouble(p)
      out.writeLong(v)
    }

  def fromBytes(bytes: Array[Byte]): ArrayBuffer[(Double, Long)] =
    ArrayBuffer.from(SketchCodec.read(bytes)(in => (in.readDouble(), in.readLong())))
}

object HashReservoirAgg {
  /** Aggregate Column: the k ids with the smallest (rank, id), in
    * rank order — the shuffle-light form of per-group exact-k
    * deterministic sampling. */
  def hashReservoir(rank: Column, id: Column, k: Int): Column =
    SketchAgg.column(HashReservoir(k), rank, id)

  /** Aggregate Column: the k ids with the LARGEST (priority, −id) —
    * A-ES weighted sampling without replacement as an aggregate. */
  def weightedReservoir(prio: Column, id: Column, k: Int): Column =
    SketchAgg.column(WeightedReservoir(k), prio, id)
}
