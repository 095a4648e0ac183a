package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count–Min sketch (Cormode & Muthukrishnan 2005) as a Catalyst
  * TypedImperativeAggregate — point-frequency estimation with FIXED
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
case class CountMinAgg(child: Expression, depth: Int, width: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(depth >= 1 && width >= 2, s"need depth >= 1, width >= 2; got $depth x $width")
  // depth*width overflowing Int would wrap to a zero/negative buffer
  // size and die per-row in running tasks instead of here
  require(depth.toLong * width <= Int.MaxValue,
    s"depth x width must fit an Int array: $depth x $width")

  // analysis-time guard (the HashReservoirAgg/HdrQuantileAgg class):
  // update casts straight to UTF8String, so a non-string child died
  // per-row as a ClassCastException in running tasks
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"count_min_sketch_agg expects a string column (cast first), " +
        s"got ${other.catalogString}")
  }

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "count_min_sketch_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String]
      var r = 0
      while (r < depth) {
        buf(r * width + SketchKernels.cmsIndex(key, r, width)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = new Array[Byte](buf.length * 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    buf.foreach(bb.putLong)
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): CountMinAgg =
    copy(child = cs.head)
}

/** Point-query probe over a CMS produced by [[CountMinAgg]] with the
  * SAME depth/width: min over the d counter rows, computed by the
  * kernel the aggregate's update shares ([[SketchKernels.cmsEstimate]]).
  *
  * The (depth, width) pair is a CREATION-TIME contract (the layoutKeys
  * rule): a register array whose length does not equal depth×width is
  * ALWAYS a build/probe wiring bug, so the kernel FAILS the query with
  * a named error instead of nulling silently (round-14 verdict ask — a
  * silent null read as "key absent", hiding the miswiring). The check
  * still cannot distinguish two factorizations of the same product (a
  * 4×1024 sketch probed as 2×2048 reads aliased cells and can
  * under-estimate, breaking the true ≤ est guarantee). Embedding a
  * shape header in the array was considered and rejected — the raw
  * register array is what makes persisted sketches roll up with plain
  * elementwise addition (CmsSpec's stored-rollup contract); keep build
  * and probe wired to one shared constant pair, as
  * [[graft.ops.Text.cmsProbe]] does. */
case class CmsEstimate(left: Expression, right: Expression, depth: Int, width: Int)
    extends BinaryExpression with NativeKernel {
  require(depth >= 1 && width >= 2 && depth.toLong * width <= Int.MaxValue,
    s"need depth >= 1, width >= 2, depth x width <= Int.MaxValue; got $depth x $width")
  override def prettyName: String = "cms_estimate"
  protected def inputTypes = Seq(Seq(ArrayType(LongType), StringType))
  override def dataType: DataType = LongType
  protected def kernel = "cmsEstimate"
  override protected def operands = Seq(depth, width)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsEstimate =
    copy(left = l, right = r)
}

object CountMinAgg {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Aggregate Column: the depth×width CMS of `c`, flattened
    * row-major as array<bigint>. */
  def countMinSketch(c: Column, depth: Int, width: Int): Column =
    ColumnBridge.column(
      CountMinAgg(ColumnBridge.expression(c), depth, width).toAggregateExpression())

  /** Scalar Column: estimated count of `key` in `sketch` (must have
    * been built with the same depth/width). */
  def cmsEstimate(sketch: Column, key: Column, depth: Int, width: Int): Column =
    ColumnBridge.column(
      CmsEstimate(ColumnBridge.expression(sketch), ColumnBridge.expression(key),
        depth, width))
}
