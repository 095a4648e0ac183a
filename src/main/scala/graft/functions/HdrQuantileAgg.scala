package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mergeable QUANTILE sketch, declared on [[SketchAgg]] — the
  * quantile member of the suite's sketch family (HLL distincts,
  * Count-Min frequencies, SpaceSaving heavy hitters, hash reservoirs;
  * quantiles were the gap). Spark's percentile_approx answers one
  * query but its state is not a PERSISTABLE column, so it cannot play
  * the q173 stored-sketch-rollup game; this one can.
  *
  * Design: an HdrHistogram-style log-bucketed counter array over
  * non-negative longs. Values below 2^SubBits land in exact unit
  * buckets; above, each power-of-two octave splits into 2^SubBits
  * sub-buckets, so the relative width of any bucket is ≤ 2^-SubBits
  * (1.5625% at SubBits=6). A quantile readout walks the cumulative
  * counts and returns the target bucket's LOWER bound — a
  * deterministic under-estimate by at most one bucket width, which
  * makes the estimate independent of partitioning and merge order
  * (HdrSpec pins both), unlike interpolation-based summaries.
  *
  * Why this shape at 100 TB: state is a fixed ≤ ~[[Hdr.Size]]·8-byte
  * long array that Spark partially aggregates map-side; the exchange
  * moves one array per group per mapper, never the values. Merge is
  * element-wise addition — associative, commutative, and LOSSLESS
  * (unlike HLL/CMS the histogram itself is exact; only the readout
  * rounds to a bucket edge), so persisted per-vintage sketches roll
  * up to exactly the histogram a full re-scan would have built.
  */
private[graft] object Hdr {
  /** Sub-bucket precision bits: relative bucket width ≤ 2^-6. */
  val SubBits = 6
  private val SubCount = 1 << SubBits // 64
  /** Largest tracked exponent; values ≥ 2^MaxExp saturate into the
    * top bucket (n_chars/token counts sit far below 2^40). */
  val MaxExp = 40
  /** Counter slots: the exact unit range + one sub-bucketed octave
    * per exponent in (SubBits, MaxExp]. */
  val Size: Int = SubCount + (MaxExp - SubBits) * SubCount

  def indexOf(v0: Long): Int = {
    val v = if (v0 < 0) 0L else v0
    if (v < SubCount) v.toInt
    else {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      // saturate: everything ≥ 2^MaxExp lands in the LAST bucket (the
      // sub-position bits of an out-of-range value are meaningless, and
      // clamping to the top keeps order: saturated ≥ every tracked value)
      if (e >= MaxExp) Size - 1
      else {
        val sp = ((v >> (e - SubBits)) & (SubCount - 1)).toInt
        SubCount + (e - SubBits) * SubCount + sp
      }
    }
  }

  /** Lower bound of bucket `idx` — the deterministic readout value. */
  def lowerBound(idx: Int): Long =
    if (idx < SubCount) idx.toLong
    else {
      val block = idx - SubCount
      val e = SubBits + block / SubCount
      val sp = (block % SubCount).toLong
      (1L << e) + (sp << (e - SubBits))
    }

  def update(buf: Array[Long], v: Long): Unit = buf(indexOf(v)) += 1L

  /** The readout's type: one lower bound per requested quantile. */
  val QuantilesType: DataType = ArrayType(LongType, containsNull = false)

  def checkQuantiles(qs: Seq[Double]): Unit =
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must sit in (0, 1], got $qs")

  def mergeInto(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    require(b1.length == b2.length,
      s"HDR width mismatch: ${b1.length} vs ${b2.length} — " +
        "sketches built at different precisions cannot merge")
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  /** Lower-bound value at quantile q (0 < q ≤ 1): the value of the
    * bucket containing rank ⌈q·n⌉. Empty sketch → 0. */
  def quantile(buf: Array[Long], q: Double): Long = {
    var total = 0L
    var i = 0
    while (i < buf.length) { total += buf(i); i += 1 }
    if (total == 0L) return 0L
    val target = math.max(1L, math.ceil(q * total).toLong)
    var cum = 0L
    i = 0
    while (i < buf.length) {
      cum += buf(i)
      if (cum >= target) return lowerBound(i)
      i += 1
    }
    lowerBound(buf.length - 1)
  }

  /** One-pass readout of SEVERAL quantiles — the aggregate eval hot
    * path: the per-q form re-sums and re-walks the full Size-slot
    * histogram once per requested quantile, per group (round-14
    * review). Results positionally match `qs`; empty sketch → zeros,
    * like [[quantile]]. */
  def quantiles(buf: Array[Long], qs: Seq[Double]): Array[Long] = {
    var total = 0L
    var i = 0
    while (i < buf.length) { total += buf(i); i += 1 }
    val out = new Array[Long](qs.length)
    if (total == 0L) return out
    val order = qs.indices.sortBy(qs(_)).toArray
    val targets = order.map(j => math.max(1L, math.ceil(qs(j) * total).toLong))
    var k = 0
    var cum = 0L
    i = 0
    while (i < buf.length && k < order.length) {
      cum += buf(i)
      while (k < order.length && cum >= targets(k)) {
        out(order(k)) = lowerBound(i); k += 1
      }
      i += 1
    }
    while (k < order.length) { out(order(k)) = lowerBound(buf.length - 1); k += 1 }
    out
  }

  /** Sparse serialization: (int idx, long count) pairs for non-zero
    * slots — a near-empty group costs bytes, not Size·8. */
  def toBytes(buf: Array[Long]): Array[Byte] = {
    var nz = 0
    var i = 0
    while (i < buf.length) { if (buf(i) != 0L) nz += 1; i += 1 }
    // leading Size header: persisted sketches outlive the build that
    // wrote them, and a SubBits/MaxExp change re-maps every bucket
    // index — without the header a stored sketch from another
    // precision would deserialize into silently-wrong buckets (the
    // HLL family gets this check for free because register width IS
    // the array length; here the sparse encoding hides it)
    val bb = java.nio.ByteBuffer.allocate(8 + nz * 12)
    bb.putInt(Size)
    bb.putInt(nz)
    i = 0
    while (i < buf.length) {
      if (buf(i) != 0L) { bb.putInt(i); bb.putLong(buf(i)) }
      i += 1
    }
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](Size)
    addBytesInto(buf, bytes)
  }

  /** Adds a serialized sketch's sparse (idx, count) pairs STRAIGHT
    * into `buf` — the rollup hot path: fromBytes + mergeInto
    * allocated a dense Size-long (~18 KB) array and scanned every
    * slot per input ROW, where a stored per-group sketch typically
    * holds a handful of non-zero buckets (round-13 review). */
  def addBytesInto(buf: Array[Long], bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val size = bb.getInt
    require(size == Size,
      s"HDR sketch layout mismatch: stored Size=$size, this build Size=$Size " +
        "(SubBits/MaxExp changed) — rebuild the stored sketches")
    val nz = bb.getInt
    // validate BEFORE mutating buf: a truncated byte string (valid
    // header, pairs cut short) threw a raw BufferUnderflowException
    // mid-add, and a corrupt pair index an AIOOBE — the
    // stored-sketch-outlives-the-build case deserves the same named
    // failure as the Size header (round-14 review)
    require(nz >= 0 && bytes.length == 8 + nz.toLong * 12,
      s"HDR sketch truncated/corrupt: header says $nz pair(s) but " +
        s"${bytes.length} bytes (expected ${8 + nz.toLong * 12})")
    var k = 0
    while (k < nz) {
      val i = bb.getInt
      require(i >= 0 && i < Size,
        s"HDR sketch corrupt: bucket index $i outside [0, $Size)")
      buf(i) += bb.getLong; k += 1
    }
    buf
  }
}

/** The histogram the three HDR declarations share: [[Hdr.Size]]
  * counters, element-wise-add merge, the validated sparse byte form.
  * One definition, so the persisted rollup identity (HdrSpec) cannot
  * drift between them. */
sealed abstract class HdrCounts extends Sketch[Array[Long]] {
  def create(): Array[Long] = new Array[Long](Hdr.Size)
  def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = Hdr.mergeInto(b1, b2)
  def toBytes(buf: Array[Long]): Array[Byte] = Hdr.toBytes(buf)
  def fromBytes(bytes: Array[Byte]): Array[Long] = Hdr.fromBytes(bytes)
}

/** The sketch-BUILDING side (raw integral values in) of
  * `hdr_quantiles` and `hdr_sketch`. A non-integral child would
  * otherwise fail per row (ClassCastException) — or WORSE, a double
  * would silently truncate 3.7→3 and skew every quantile readout. */
sealed abstract class HdrBuild extends HdrCounts {
  def accepts(in: Seq[DataType]): Boolean = in.head match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  def typeError(got: String): String = s"$prettyName expects an integral column (cast " +
    s"explicitly — a silent double truncation would skew quantiles), got $got"
  def update(buf: Array[Long], in: Array[Any], types: Seq[DataType]): Array[Long] = {
    Hdr.update(buf, in(0).asInstanceOf[Number].longValue())
    buf
  }
}

/** `hdr_quantiles(x, [q…])` → ARRAY<BIGINT> of bucket-lower-bound
  * values, one per requested quantile. */
case class HdrQuantiles(qs: Seq[Double]) extends HdrBuild {
  Hdr.checkQuantiles(qs)
  def prettyName: String = "hdr_quantiles"
  def dataType: DataType = Hdr.QuantilesType
  def eval(buf: Array[Long]): Any = new GenericArrayData(Hdr.quantiles(buf, qs))
}

/** `hdr_sketch(x)`: the serialized histogram (BINARY) — the column a
  * pipeline PERSISTS per (vintage, group) so later rollups merge
  * sketches instead of re-scanning (q173's pattern, for quantiles). */
case object HdrSketch extends HdrBuild {
  def prettyName: String = "hdr_sketch"
  def dataType: DataType = BinaryType
  def eval(buf: Array[Long]): Any = Hdr.toBytes(buf)
}

/** `hdr_merge(sk, [q…])`: quantiles of STORED sketches merged —
  * element-wise addition makes the rolled-up histogram IDENTICAL to
  * one built by a direct pass (HdrSpec pins the identity). */
case class HdrMerge(qs: Seq[Double]) extends HdrCounts {
  Hdr.checkQuantiles(qs)
  def prettyName: String = "hdr_merge"
  def dataType: DataType = Hdr.QuantilesType
  def accepts(in: Seq[DataType]): Boolean = in == Seq(BinaryType)
  def typeError(got: String): String =
    s"$prettyName expects a binary sketch column (from hdr_sketch), got $got"
  // sparse add, no dense intermediate (see Hdr.addBytesInto)
  def update(buf: Array[Long], in: Array[Any], types: Seq[DataType]): Array[Long] =
    Hdr.addBytesInto(buf, in(0).asInstanceOf[Array[Byte]])
  def eval(buf: Array[Long]): Any = new GenericArrayData(Hdr.quantiles(buf, qs))
}

object HdrQuantileAgg {
  /** Aggregate Column: quantile lower-bound values of a non-negative
    * BIGINT column, one per entry of `qs`. */
  def hdrQuantiles(c: Column, qs: Seq[Double]): Column = SketchAgg.column(HdrQuantiles(qs), c)

  /** Aggregate Column: the sketch ITSELF (sparse histogram bytes) —
    * the persistable form; roll up later with [[hdrMergeQuantiles]]. */
  def hdrSketch(c: Column): Column = SketchAgg.column(HdrSketch, c)

  /** Aggregate Column: quantiles from MERGED stored sketches (a
    * binary column produced by [[hdrSketch]]). */
  def hdrMergeQuantiles(c: Column, qs: Seq[Double]): Column = SketchAgg.column(HdrMerge(qs), c)
}
