package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types._

/** HyperLogLog distinct-count sketch — the user-controlled-precision
  * complement to Spark's built-in approx_count_distinct (ROADMAP #4),
  * declared on [[SketchAgg]] three ways: the estimate
  * ([[HllDistinct]]), the persistable registers ([[HllSketch]]) and
  * the rollup of stored registers ([[HllMerge]]).
  *
  * The state is a fixed 2^p-byte register array (4 KiB at the default
  * p=12), merged slot-wise-max, so the estimate is independent of
  * partitioning (pinned by HllSpec's repartition test).
  *
  * Algorithm: standard HLL (Flajolet et al. 2007) with the small-range
  * linear-counting correction; 64-bit xxhash64 input hashing makes the
  * large-range correction unnecessary. Estimate standard error ≈
  * 1.04/√(2^p) — 1.6% at p=12.
  */
private[functions] object Hll {
  def updateValue(buf: Array[Byte], v: Any, dt: DataType, p: Int): Unit = {
    val h = XxHash64Function.hash(v, dt, 42L)
    val idx = (h >>> (64 - p)).toInt
    // rank = leading-zero run length in the remaining 64-p bits, 1-based
    val w = h << p
    val rank = (if (w == 0) 64 - p else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (rank > buf(idx)) buf(idx) = rank.toByte
  }

  def mergeInto(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
    require(b1.length == b2.length,
      s"HLL register width mismatch: ${b1.length} vs ${b2.length} — " +
        "sketches built at different precisions cannot merge")
    var i = 0
    while (i < b1.length) {
      if (b2(i) > b1(i)) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  def estimate(buf: Array[Byte]): Long = {
    val m = buf.length
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += 1.0 / (1L << buf(i))
      if (buf(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha * m * m / sum
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    math.round(est)
  }

  /** Whether `dt` holds a map at any nesting depth (see
    * [[HllBuild.typeError]]). */
  def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}

/** The registers the three HLL declarations share: 2^p bytes,
  * slot-wise-max merge, stored as they are. One definition, so a
  * sketch persisted by `hll_sketch` and re-aggregated by `hll_merge`
  * is register-for-register the sketch a direct pass builds (HllSpec
  * pins that identity, the property the persisted-rollup pattern
  * rests on). */
sealed abstract class HllRegisters(p: Int) extends Sketch[Array[Byte]] {
  require(p >= 4 && p <= 18, s"precision p must be in [4, 18], got $p")
  def create(): Array[Byte] = new Array[Byte](1 << p)
  def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = Hll.mergeInto(b1, b2)
  def toBytes(buf: Array[Byte]): Array[Byte] = buf
  def fromBytes(bytes: Array[Byte]): Array[Byte] = bytes
}

/** The sketch-BUILDING side (raw values in): the hashability gate and
  * the register update of `hll_distinct` and `hll_sketch`. */
sealed abstract class HllBuild(p: Int) extends HllRegisters(p) {
  def accepts(in: Seq[DataType]): Boolean = !Hll.hasMap(in.head)
  // the hasher iterates MapData in STORED ENTRY ORDER, so two logically
  // equal maps built in different orders hash apart and inflate the
  // distinct estimate silently — Spark bans xxhash64 / exact
  // count-distinct on maps at analysis for exactly this reason
  def typeError(got: String): String =
    s"$prettyName cannot hash a map-bearing column ($got): " +
      "map entry order is undefined, so equal maps would count as " +
      "distinct — convert with map_entries + array_sort first"
  def update(buf: Array[Byte], in: Array[Any], types: Seq[DataType]): Array[Byte] = {
    Hll.updateValue(buf, in(0), types.head, p)
    buf
  }
}

/** `hll_distinct(x)`: the distinct-count estimate. */
case class HllDistinct(p: Int) extends HllBuild(p) {
  def prettyName: String = "hll_distinct"
  def dataType: DataType = LongType
  def eval(buf: Array[Byte]): Any = Hll.estimate(buf)
}

/** `hll_sketch(x)`: the registers themselves (BINARY) — the column a
  * 100 TB pipeline PERSISTS per (partition, group) so any later rollup
  * merges kilobyte sketches instead of re-scanning the corpus. */
case class HllSketch(p: Int) extends HllBuild(p) {
  def prettyName: String = "hll_sketch"
  def dataType: DataType = BinaryType
  // clone: the buffer object is mutable aggregation state
  def eval(buf: Array[Byte]): Any = buf.clone()
}

/** `hll_merge(sk)`: the distinct-count estimate of STORED sketches
  * merged — per-vintage sketches in a tiny table answer any grouping's
  * distinct count without touching the data they summarize. Fails fast
  * on register-width mismatch (sketches from different precisions are
  * not mergeable). */
case class HllMerge(p: Int) extends HllRegisters(p) {
  def prettyName: String = "hll_merge"
  def dataType: DataType = LongType
  def accepts(in: Seq[DataType]): Boolean = in == Seq(BinaryType)
  def typeError(got: String): String =
    s"$prettyName expects a binary register column (from hll_sketch), got $got"
  def update(buf: Array[Byte], in: Array[Any], types: Seq[DataType]): Array[Byte] =
    Hll.mergeInto(buf, in(0).asInstanceOf[Array[Byte]])
  def eval(buf: Array[Byte]): Any = Hll.estimate(buf)
}

object HllSketchAgg {
  /** Aggregate Column: approximate distinct count of `c` at 2^p
    * registers (default p=12 ⇒ ~1.6% standard error, 4 KiB state). */
  def hllDistinct(c: Column, p: Int = 12): Column = SketchAgg.column(HllDistinct(p), c)

  /** Aggregate Column: the sketch ITSELF (2^p register bytes) — the
    * persistable form; roll up later with [[hllMergeEstimate]]. */
  def hllSketch(c: Column, p: Int = 12): Column = SketchAgg.column(HllSketch(p), c)

  /** Aggregate Column: distinct-count estimate from MERGED stored
    * sketches (a binary column produced by [[hllSketch]]). */
  def hllMergeEstimate(c: Column, p: Int = 12): Column = SketchAgg.column(HllMerge(p), c)
}
