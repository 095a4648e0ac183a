package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count–Min sketch (Cormode & Muthukrishnan 2005), declared on
  * [[SketchAgg]] — point-frequency estimation with FIXED
  * state, completing the sketch family (HLL = distinct, MinHash = set
  * overlap, SimHash = near-dup, SpaceSaving = top-k, CMS = arbitrary
  * point queries).
  *
  * Where SpaceSaving answers "what are the heavy tokens", CMS answers
  * "how often does THIS token occur" for any token chosen after the
  * scan — the shape a curation pipeline needs for blocklist-term
  * frequencies, probe-set leakage counts, or per-source rates of a
  * vocabulary fixed by someone else.
  *
  * 100 TB shape: the buffer is one depth×width long array (d=4,
  * w=1024 → 32 KB) regardless of stream length or vocabulary; update
  * is d array increments computed from one shared double-hash kernel
  * ([[SketchKernels.cmsIndex]]); merge is elementwise ADD, which makes
  * partial aggregation exact — any partitioning of the input yields
  * the bit-identical sketch (pinned by CmsSpec), so the exchange
  * carries one 32 KB summary per group per mapper, never tokens.
  * Guarantee: true ≤ est, and P[est > true + εN] ≤ δ with ε = e/w,
  * δ = e^−d.
  */
case class CountMin(depth: Int, width: Int) extends Sketch[Array[Long]] {
  require(depth >= 1 && width >= 2, s"need depth >= 1, width >= 2; got $depth x $width")
  // depth*width overflowing Int would wrap to a zero/negative buffer
  // size and die per-row in running tasks instead of here
  require(depth.toLong * width <= Int.MaxValue,
    s"depth x width must fit an Int array: $depth x $width")

  def prettyName: String = "count_min_sketch_agg"
  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def accepts(in: Seq[DataType]): Boolean = in == Seq(StringType)
  def typeError(got: String): String =
    s"$prettyName expects a string column (cast first), got $got"

  def create(): Array[Long] = new Array[Long](depth * width)

  def update(buf: Array[Long], in: Array[Any], types: Seq[DataType]): Array[Long] = {
    val key = in(0).asInstanceOf[UTF8String]
    var r = 0
    while (r < depth) {
      buf(r * width + SketchKernels.cmsIndex(key, r, width)) += 1L
      r += 1
    }
    buf
  }

  def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  def eval(buf: Array[Long]): Any = new GenericArrayData(buf)
  def toBytes(buf: Array[Long]): Array[Byte] = SketchCodec.longs(buf)
  def fromBytes(bytes: Array[Byte]): Array[Long] = SketchCodec.fromLongs(bytes)
}

object CountMinAgg {
  /** Aggregate Column: the depth×width CMS of `c`, flattened
    * row-major as array<bigint>. */
  def countMinSketch(c: Column, depth: Int, width: Int): Column =
    SketchAgg.column(CountMin(depth, width), c)

  /** Scalar Column: estimated count of `key` in `sketch` (must have
    * been built with the same depth/width). */
  def cmsEstimate(sketch: Column, key: Column, depth: Int, width: Int): Column =
    ColumnBridge.column(
      CmsEstimate(ColumnBridge.expression(sketch), ColumnBridge.expression(key),
        depth, width))
}
