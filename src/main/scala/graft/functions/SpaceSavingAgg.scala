package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving heavy-hitters sketch (Metwally et al. 2005), declared
  * on [[SketchAgg]] — the bounded-memory alternative to exact top-k
  * term frequency, rounding out the sketch family (HLL = distinct,
  * MinHash = set overlap, SimHash = near-dup, SpaceSaving = frequency).
  *
  * Why this shape at 100 TB: exact per-group top-k tokens needs the
  * full (group, token) wordcount shuffle — O(distinct tokens) state.
  * SpaceSaving keeps exactly `m` counters per group with the
  * guarantee true ≤ est ≤ true + N/m, Spark partially aggregates the
  * counter maps map-side, and the exchange moves one m-entry summary
  * per group per mapper, never the token stream.
  *
  * Merge follows the mergeable-summaries discipline (Agarwal et al.,
  * PODS 2012): a key absent from one summary contributes that
  * summary's minimum counter as both count and error upper bound,
  * then the union truncates back to the top m — associative enough
  * that the estimate bounds survive any partitioning (pinned by the
  * partition-independence test; when m exceeds the true distinct
  * count the sketch is EXACT and partitioning-invariant bit-for-bit).
  *
  * The per-insert eviction scan is O(m) (m is tens-to-hundreds); a
  * production Stream-Summary linked structure makes it O(1) — noted,
  * not needed at this m.
  */
case class SpaceSavingTopK(m: Int) extends Sketch[SpaceSavingKernel.Buf] {
  SpaceSavingKernel.checkCapacity(m)

  def prettyName: String = "space_saving_topk"
  def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("err", LongType, nullable = false))), containsNull = false)

  // update() keys the counter map on the value's toString, which is
  // well-defined for string and atomic-numeric input (UTF8String /
  // boxed Int/Long/Short/Byte/Boolean toString are stable, canonical
  // renderings) but silently produces unsafe-representation garbage
  // ("[0,2000000005,...]") for struct/array/map children — every such
  // value would count as a distinct "token" with no error surfaced
  def accepts(in: Seq[DataType]): Boolean = in.head match {
    case StringType | ByteType | ShortType | IntegerType | LongType | BooleanType => true
    case _ => false
  }
  def typeError(got: String): String = s"$prettyName expects a string or integral column, " +
    s"got $got (cast explicitly for other types — tokens are keyed on the rendered string)"

  def create(): SpaceSavingKernel.Buf = SpaceSavingKernel.empty

  // insert/evict and mergeable-summaries union live in
  // SpaceSavingKernel, shared verbatim with the streaming stateful
  // operator (StreamingTopK) so stream ≡ batch agreement is by
  // construction
  def update(buf: SpaceSavingKernel.Buf, in: Array[Any],
             types: Seq[DataType]): SpaceSavingKernel.Buf = {
    SpaceSavingKernel.insert(buf, in(0).toString, m)
    buf
  }

  def merge(b1: SpaceSavingKernel.Buf, b2: SpaceSavingKernel.Buf): SpaceSavingKernel.Buf =
    SpaceSavingKernel.merge(b1, b2, m)

  def eval(buf: SpaceSavingKernel.Buf): Any =
    new GenericArrayData(SpaceSavingKernel.top(buf)
      .map { case (k, c, e) => InternalRow(UTF8String.fromString(k), c, e) }.toArray[Any])

  def toBytes(buf: SpaceSavingKernel.Buf): Array[Byte] =
    SketchCodec.write(buf) { case (out, (k, ce)) =>
      SketchCodec.putBytes(out, k.getBytes(StandardCharsets.UTF_8))
      out.writeLong(ce(0))
      out.writeLong(ce(1))
    }

  def fromBytes(bytes: Array[Byte]): SpaceSavingKernel.Buf =
    SpaceSavingKernel.empty ++= SketchCodec.read(bytes) { in =>
      new String(SketchCodec.getBytes(in), StandardCharsets.UTF_8) ->
        Array(in.readLong(), in.readLong())
    }
}

object SpaceSavingAgg {
  /** Aggregate Column: the m-counter SpaceSaving summary of `c`,
    * returned as array<struct<token, count, err>> sorted by
    * (count desc, token). */
  def spaceSavingTopK(c: Column, m: Int): Column = SketchAgg.column(SpaceSavingTopK(m), c)
}
