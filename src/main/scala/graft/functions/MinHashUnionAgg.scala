package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Unions per-document MinHash signatures into one corpus-level sketch
  * (elementwise min — the MinHash of a set union IS the slotwise min of
  * the sets' signatures), declared on [[SketchAgg]]. Lets a pipeline
  * estimate Jaccard overlap BETWEEN WHOLE CORPORA (per source, per
  * crawl, per language) from fixed 512-byte states: partial
  * aggregation does the heavy merge map-side, the shuffle carries one
  * sketch per group per partition. A null signature (MinHashSig of a
  * null-text document) contributes nothing. */
case class MinHashUnion(slots: Int) extends Sketch[Array[Long]] {
  require(slots >= 1, s"a signature needs slots >= 1, got $slots")

  // the name unaliased result columns carry: minhashunionagg(sig)
  def prettyName: String = "minhashunionagg"
  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def accepts(in: Seq[DataType]): Boolean = in.head match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  def typeError(got: String): String =
    s"$prettyName expects an array<bigint> signature column, got $got"

  def create(): Array[Long] = Array.fill(slots)(Long.MaxValue)

  def update(buf: Array[Long], in: Array[Any], types: Seq[DataType]): Array[Long] = {
    val sig = in(0).asInstanceOf[ArrayData]
    // a SHORT signature would leave trailing slots at Long.MaxValue,
    // and sigMatches counts MaxValue==MaxValue as matching slots — a
    // slots/SigLen wiring drift must fail loudly, not inflate Jaccard
    require(sig.numElements() >= slots,
      s"MinHashUnion($slots) fed a ${sig.numElements()}-slot signature")
    var i = 0
    while (i < slots) { if (sig.getLong(i) < buf(i)) buf(i) = sig.getLong(i); i += 1 }
    buf
  }

  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < slots) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  def eval(buf: Array[Long]): Any = new GenericArrayData(buf)
  def toBytes(buf: Array[Long]): Array[Byte] = SketchCodec.longs(buf)
  def fromBytes(bytes: Array[Byte]): Array[Long] = SketchCodec.fromLongs(bytes)
}

object MinHashUnionAgg {
  /** Aggregate Column: the slotwise-min union of the `slots`-slot
    * MinHash signatures in `sig`. */
  def minHashUnion(sig: Column, slots: Int): Column = SketchAgg.column(MinHashUnion(slots), sig)
}
