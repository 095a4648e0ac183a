package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's sketch/similarity hot
  * paths (SURVEY §2.9). These replace higher-order-function expression
  * trees (aggregate/zip_with/transform) that Spark evaluates
  * interpreted, per element, per pass:
  *
  *  - [[CosineSim]]: fused dot+norms in ONE codegen'd loop (the HOF
  *    formulation walks both arrays three times through interpreted
  *    lambdas). This sits inside the O(candidates × dim) re-rank loops
  *    of the similarity queries — the single hottest expression in the
  *    engine.
  *  - [[MinHashSig]]: 64-slot signature in ONE pass over the token
  *    array using double hashing h1 + j·h2 (Broder's minwise scheme;
  *    the HOF formulation hashes every token 64 times).
  *  - [[SimHash64]]: 63-bit simhash in ONE pass (vs 63 aggregate
  *    passes).
  *
  * All four implement doGenCode: CosineSim generates its fused loop
  * inline; the sketch expressions generate calls to the static JVM
  * kernels in [[SketchKernels]] — either way the surrounding operators
  * stay inside one whole-stage-codegen span (no CodegenFallback
  * interpreted-eval boundary).
  */
object NativeExprs {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column ↔ Expression bridge (Spark 4 classic API). */
  private def toCol(e: Expression): Column = ColumnBridge.column(e)
  private def toExpr(c: Column): Expression = ColumnBridge.expression(c)

  def cosineSim(a: Column, b: Column): Column =
    toCol(CosineSim(toExpr(a), toExpr(b)))
  def minhashSig(tokens: Column, slots: Int): Column =
    toCol(MinHashSig(toExpr(tokens), slots))
  def simhash64(tokens: Column): Column = toCol(SimHash64(toExpr(tokens)))
  def hyperplaneSig(e: Column, planes: Array[Array[Double]], bitsPerBand: Int): Column =
    toCol(HyperplaneSig(toExpr(e), planes, bitsPerBand))
  def nearestCentroid(e: Column, centroids: Array[Array[Double]]): Column =
    toCol(NearestCentroid(toExpr(e), centroids))
  def sampleDistSums(e: Column, samples: Array[Array[Array[Double]]]): Column =
    toCol(SampleDistSums(toExpr(e), samples))
  def centroidDists(e: Column, centroids: Array[Array[Double]], sqrt: Boolean): Column =
    toCol(CentroidDists(toExpr(e), centroids, sqrt))
  def dotW(x: Column, weights: Array[Double]): Column =
    toCol(DotW(toExpr(x), weights))
  def dotCols(a: Column, b: Column): Column =
    toCol(DotCols(toExpr(a), toExpr(b)))
  def normL2(a: Column): Column = toCol(NormL2(toExpr(a)))
  def applyBpeMerges(syms: Column, merges: Seq[(String, String)]): Column =
    toCol(ApplyBpeMerges(toExpr(syms), merges))
  def intersectCountLong(a: Column, b: Column): Column =
    toCol(IntersectCountLong(toExpr(a), toExpr(b)))
  def minSqDist(e: Column, centroids: Array[Array[Double]]): Column =
    toCol(MinSqDist(toExpr(e), centroids))
  def sigMatches(a: Column, b: Column): Column =
    toCol(SigMatches(toExpr(a), toExpr(b)))
  def shingleHashes(tokens: Column, n: Int): Column =
    toCol(ShingleHashes(toExpr(tokens), n))
  def sigBandKeys(sig: Column, bands: Int): Column =
    toCol(SigBandKeys(toExpr(sig), bands))
  def quantizeI8(e: Column): Column = toCol(QuantizeI8(toExpr(e)))
  def cosineSimI8(a: Column, b: Column): Column =
    toCol(CosineSimI8(toExpr(a), toExpr(b)))
  def pqEncode(e: Column, codebooks: Array[Array[Array[Double]]]): Column =
    toCol(PqEncode(toExpr(e), codebooks))
  def pqAdc(code: Column, lut: Array[Array[Double]]): Column =
    toCol(PqAdc(toExpr(code), lut))
  def deflateLen(c: Column): Column = toCol(DeflateLen(toExpr(c)))
  def runtimeLong(v: Long): Column = toCol(RuntimeLong(v))

  def bloomContainsLong(x: Column, filter: org.apache.spark.util.sketch.BloomFilter): Column =
    toCol(BloomContainsLong(toExpr(x), filter))

  /** One source of truth for the SQL function surface: (name, usage,
    * builder). Both registration paths — programmatic [[registerAll]]
    * and the config-wired [[GraftExtensions]] — iterate THIS list, so
    * argument validation cannot drift between them. */
  val sqlBuilders: Seq[(String, String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    Seq(
      ("cosine_sim",
        "cosine_sim(a, b) - fused cosine similarity of two array<double>",
        {
          case Seq(a, b) => CosineSim(a, b)
          case es => throw new IllegalArgumentException(
            s"cosine_sim expects exactly 2 arguments; got ${es.length}")
        }),
      ("minhash_sig",
        "minhash_sig(tokens[, slots]) - MinHash signature of array<string> " +
          "or pre-hashed array<bigint> (e.g. shingle_hashes output)",
        {
          case Seq(t) => MinHashSig(t, 64)
          case Seq(t, Literal(slots: Int, _)) => MinHashSig(t, slots)
          case es => throw new IllegalArgumentException(
            "minhash_sig expects (tokens[, slots INTEGER LITERAL]); got " +
              s"${es.length} argument(s) ${es.map(_.sql).mkString("(", ", ", ")")}")
        }),
      ("simhash64",
        "simhash64(tokens) - 63-bit SimHash of array<string>",
        {
          case Seq(t) => SimHash64(t)
          case es => throw new IllegalArgumentException(
            s"simhash64 expects exactly 1 argument; got ${es.length}")
        }),
      ("sig_matches",
        "sig_matches(a, b) - equal-slot count of two array<bigint> signatures",
        {
          case Seq(a, b) => SigMatches(a, b)
          case es => throw new IllegalArgumentException(
            s"sig_matches expects exactly 2 arguments; got ${es.length}")
        }),
      ("shingle_hashes",
        "shingle_hashes(tokens, n) - xxhash64 of each n-token sliding window",
        {
          case Seq(t, Literal(n: Int, _)) => ShingleHashes(t, n)
          case es => throw new IllegalArgumentException(
            "shingle_hashes expects (tokens, n INTEGER LITERAL); got " +
              s"${es.length} argument(s) ${es.map(_.sql).mkString("(", ", ", ")")}")
        }),
      ("sig_band_keys",
        "sig_band_keys(sig, bands) - LSH band bucket keys of an array<bigint> signature",
        {
          case Seq(t, Literal(b: Int, _)) => SigBandKeys(t, b)
          case es => throw new IllegalArgumentException(
            "sig_band_keys expects (sig, bands INTEGER LITERAL); got " +
              s"${es.length} argument(s) ${es.map(_.sql).mkString("(", ", ", ")")}")
        }),
      ("quantize_i8",
        "quantize_i8(e) - max-abs int8 quantization of array<double> to binary",
        {
          case Seq(e) => QuantizeI8(e)
          case es => throw new IllegalArgumentException(
            s"quantize_i8 expects exactly 1 argument; got ${es.length}")
        }),
      ("cosine_sim_i8",
        "cosine_sim_i8(a, b) - cosine of two int8-quantized binary vectors",
        {
          case Seq(a, b) => CosineSimI8(a, b)
          case es => throw new IllegalArgumentException(
            s"cosine_sim_i8 expects exactly 2 arguments; got ${es.length}")
        }),
      ("hll_distinct",
        "hll_distinct(x[, p]) - HyperLogLog approximate distinct count (2^p registers)",
        {
          case Seq(c) => HllSketchAgg(c, 12)
          case Seq(c, Literal(p: Int, _)) => HllSketchAgg(c, p)
          case es => throw new IllegalArgumentException(
            s"hll_distinct expects (col[, p INTEGER LITERAL]); got ${es.length} argument(s)")
        }),
    )
  }

  /** Exposes the native expressions to SQL (session-scoped). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlBuilders.foreach { case (name, _, builder) =>
      ColumnBridge.registerFunction(spark, name, builder)
    }
}

/** cosine(a, b) = dot(a,b) / (‖a‖·‖b‖), fused single pass, codegen'd.
  * Inputs are array<double>. Null when either input is null, when the
  * lengths differ, or when either norm is zero — malformed embeddings
  * surface as nulls instead of NaN/±Inf or a silent truncation (and a
  * length mismatch can't diverge from DuckDB's
  * list_cosine_similarity, which errors on it). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // analysis-time type gate: registry-exposed (cosine_sim in SQL), so
  // a wrong-typed argument must fail analysis — an array<int> would
  // otherwise MISREAD unsafe array bytes as doubles and return
  // plausible-looking garbage silently (the MinHashSig discipline)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects two array<double>, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** MinHash signature: slots longs, slot j = min over elements of
  * h1(e) + j·h2(e) (double hashing — one xxhash64 pair per element
  * instead of `slots` hashes per element). Empty array ⇒ MaxValue fill.
  *
  * Accepts array<string> tokens OR array<bigint> pre-hashed elements:
  * the long branch makes `minhash_sig(shingle_hashes(tokens, n))` an
  * n-gram MinHash with zero shingle strings materialized — the same
  * no-string-allocation discipline the decontamination path uses
  * ([[ShingleHashes]]), extended to signature computation. The two
  * branches produce different (incomparable) signatures for the "same"
  * data — callers must sketch both sides of a comparison through the
  * same branch. */
case class MinHashSig(child: Expression, slots: Int)
    extends UnaryExpression {

  require(slots >= 1, s"slots must be >= 1, got $slots")

  // analysis-time type gate (AbstractDataType/ExpectsInputTypes are
  // private[sql], so the check is spelled out): the SQL registry
  // exposes this to arbitrary input, which must fail analysis, not
  // NPE or misread a running scan
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string> or array<bigint>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  private lazy val hashedInput = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any =
    if (hashedInput) SketchKernels.minhashLongs(v.asInstanceOf[ArrayData], slots)
    else SketchKernels.minhash(v.asInstanceOf[ArrayData], slots)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (hashedInput) "minhashLongs" else "minhash"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.$kernel($c, $slots);")
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** LSH band bucket keys of an array<bigint> signature: band b = the
  * xxhash64 chain of its slots·(1/bands) slice, seeded with the band
  * index — replaces the xxhash64(concat_ws(',', slice(sig, …)), b)
  * formulation, whose comma-joined 16-long strings were pure allocator
  * load per doc per band on a 100 TB dedup shuffle. Same collision
  * structure: equal band slice ⟺ equal key (modulo hash collision).
  * Null when the signature length is not divisible by bands (a silent
  * truncated-band key would merge buckets wrongly). */
case class SigBandKeys(child: Expression, bands: Int)
    extends UnaryExpression {

  require(bands >= 1, s"bands must be >= 1, got $bands")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sig_band_keys expects array<bigint>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sig_band_keys"
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val sig = v.asInstanceOf[ArrayData]
    if (sig.numElements() % bands != 0) null
    else SketchKernels.sigBandKeys(sig, bands)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.numElements() % $bands != 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.SketchKernels.sigBandKeys($c, $bands); }
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): SigBandKeys = copy(child = c)
}

/** Random-hyperplane LSH signature: for each plane, bit = sign of the
  * projection ⟨e, plane⟩; bits packed per band into longs. ONE pass
  * over all planes per row (the Column formulation runs one interpreted
  * fold per plane). The plane matrix is expression-static data (~32 KB)
  * and ships with the serialized plan. */
case class HyperplaneSig(child: Expression, planes: Array[Array[Double]],
                         bitsPerBand: Int)
    extends UnaryExpression {

  require(bitsPerBand >= 1, s"bitsPerBand must be >= 1, got $bitsPerBand")
  // the kernel sizes its band array as planes/bitsPerBand and indexes
  // p / bitsPerBand — a non-divisible plane count would throw a
  // data-dependent AIOOBE mid-scan (only on rows with dot > 0)
  require(planes.length % bitsPerBand == 0,
    s"planes (${planes.length}) must be divisible by bitsPerBand ($bitsPerBand)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_sig"

  override def nullSafeEval(v: Any): Any =
    SketchKernels.hyperplane(v.asInstanceOf[ArrayData], planes, bitsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.hyperplane($c, $planesRef, $bitsPerBand);")
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneSig = copy(child = c)
}

/** xxhash64 fingerprints of n-token sliding windows — the
  * allocation-free twin of `transform(sequence…, concat_ws) → hash`:
  * decontamination (q72 / IncrementalDecontam) needs only the 8-byte
  * fingerprint of each shingle, never the shingle text, so the
  * concatenated strings the Column formulation materializes per window
  * are pure garbage-collector load on a 100 TB scan. One kernel pass:
  * each token hashed once, windows chain token hashes through the
  * xxhash64 seed (order-sensitive). */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  // analysis-time type check: the SQL registry exposes this to
  // arbitrary input, where a non-string array must fail analysis,
  // not NPE a running scan (null ELEMENTS hash as the empty string —
  // see SketchKernels.hashToken)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(v: Any): Any =
    SketchKernels.shingleHashes(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.shingleHashes($c, $n);")

  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** Symmetric max-abs int8 quantization: array<double> → binary (one
  * signed byte per dimension, per-vector scale cancelled by cosine's
  * normalization). 8× smaller scans for the ANN candidate pass —
  * the memory-bandwidth lever for 100 TB embedding tables. */
case class QuantizeI8(child: Expression) extends UnaryExpression {

  // registry-exposed: wrong-typed input must fail analysis (see CosineSim)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_i8 expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "quantize_i8"

  override def nullSafeEval(v: Any): Any =
    SketchKernels.quantizeI8(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.quantizeI8($c);")

  override protected def withNewChildInternal(c: Expression): QuantizeI8 = copy(child = c)
}

/** Product-quantization encoder: array<double> → binary of m subspace
  * centroid indices (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011). The codebook (m × k × dsub doubles —
  * ~a hundred KB) is expression-static data riding the plan. */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {

  // the dimensionality the codebooks were trained at; inputs of any
  // other length encode to null (same discipline as NearestCentroid —
  // a malformed embedding must not kill the scan or get a
  // plausible-but-wrong code from stale/overflowing subspace indexing)
  private val dim = if (codebooks.nonEmpty && codebooks(0).nonEmpty)
    codebooks.length * codebooks(0)(0).length else 0

  // analysis-time type gate: a wrong-typed child (array<float>) would
  // misread unsafe array bytes as doubles and encode plausible garbage
  // silently (the CosineSim discipline); the LENGTH check stays a
  // runtime null because it is data-dependent
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val e = v.asInstanceOf[ArrayData]
    if (e.numElements() != dim) null
    else SketchKernels.pqEncode(e, codebooks)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.numElements() != $dim) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.SketchKernels.pqEncode($c, $ref); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
}

/** PQ asymmetric-distance scorer: binary code → approximate inner
  * product against the query via per-subspace lookup tables (m
  * lookups per row — no floating-point vector math in the scan). */
case class PqAdc(child: Expression, lut: Array[Array[Double]])
    extends UnaryExpression {

  require(lut.nonEmpty && lut.forall(_.length == lut(0).length),
    "pq_adc needs a non-empty rectangular m x k lookup table")

  // input must be the binary output of PqEncode with matching m and
  // byte values < k — a mismatched code NULLs (sibling convention)
  // instead of an AIOOBE mid-scan on a foreign binary column; the
  // TYPE must be binary at analysis time (CosineSim discipline)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_adc expects binary, got ${other.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val code = v.asInstanceOf[Array[Byte]]
    if (!SketchKernels.pqAdcValid(code, lut.length, lut(0).length)) null
    else SketchKernels.pqAdc(code, lut)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lut", lut, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if (!graft.functions.SketchKernels.pqAdcValid($c, ${lut.length}, ${lut(0).length})) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.SketchKernels.pqAdc($c, $ref);
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): PqAdc = copy(child = c)
}

/** Cosine over int8-quantized vectors (binary × binary → double):
  * integer dot + norms in one pass. Null on length mismatch or zero
  * norm, like [[CosineSim]]. */
case class CosineSimI8(left: Expression, right: Expression)
    extends BinaryExpression {

  // registry-exposed: wrong-typed input must fail analysis (see CosineSim)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim_i8 expects two binary vectors, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim_i8"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[Array[Byte]]
    val b = r.asInstanceOf[Array[Byte]]
    if (a.length != b.length) return null
    val c = SketchKernels.cosineI8(a, b)
    if (java.lang.Double.isNaN(c)) null else c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val c = ctx.freshName("c")
      s"""
         |if ($a.length != $b.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $c = graft.functions.SketchKernels.cosineI8($a, $b);
         |  if (Double.isNaN($c)) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $c; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimI8 =
    copy(left = l, right = r)
}

/** Equal-slot count between two array<long> sketch signatures (the
  * MinHash agreement estimator's numerator), codegen'd. Replaces a
  * size(filter(zip_with(...))) HOF tree that Spark walks interpreted,
  * per element, per pass — this sits in the candidate re-rank loop of
  * the LSH dedup queries, O(candidates × slots). Null on signature
  * length mismatch — a truncated agreement count over min(len) would
  * silently deflate similarity estimates (same discipline as
  * [[CosineSim]]). */
case class SigMatches(left: Expression, right: Expression)
    extends BinaryExpression {

  // registry-exposed: wrong-typed input must fail analysis (see
  // CosineSim); length equality stays a runtime null (data-dependent)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sig_matches expects two array<bigint>, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_matches"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else SketchKernels.sigMatches(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.SketchKernels.sigMatches($a, $b); }
       """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigMatches =
    copy(left = l, right = r)
}

/** argmin-distance centroid assignment (IVF coarse quantization):
  * index of the squared-euclidean-nearest centroid for an array<double>
  * embedding. Codegen'd call into the static kernel — the assignment
  * pass stays inside whole-stage codegen (the previous formulation was
  * an interpreted Scala UDF with a per-row Seq conversion). */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {

  private val dim = if (centroids.nonEmpty) centroids(0).length else 0

  // input must be array<double> of the centroids' dimensionality;
  // null on mismatch (a min-length distance would assign a
  // plausible-but-wrong cluster to a malformed embedding); the TYPE
  // must be array<double> at analysis time (CosineSim discipline)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val e = v.asInstanceOf[ArrayData]
    if (e.numElements() != dim) null
    else SketchKernels.nearestCentroid(e, centroids)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.numElements() != $dim) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.SketchKernels.nearestCentroid($c, $ref); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroid = copy(child = c)
}

/** |a ∩ b| of two array<long> fingerprint-set columns — codegen'd
  * kernel call ([[SketchKernels.intersectCountLong]]) replacing
  * size(array_intersect(a, b)) in the containment scorer, which paid
  * a generic boxed hash set plus a materialized intersection array
  * per candidate pair. CONTRACT: both inputs are distinct-element
  * sets (the scorer array_distincts both sides), where the count
  * equals array_intersect's size exactly; a duplicated element on the
  * probe side would count once per occurrence. Null on null input
  * (like the HOF form); returns int, matching size(). */
case class IntersectCountLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"intersect_count_long expects two array<bigint>, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "intersect_count_long"

  override def nullSafeEval(l: Any, r: Any): Any =
    SketchKernels.intersectCountLong(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SketchKernels.intersectCountLong($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectCountLong =
    copy(left = l, right = r)
}

/** Rank-ordered BPE merge-table application over a symbol array
  * (q157 trainer iterations / q177 encode) in ONE codegen'd kernel
  * call — replaces a foldLeft of per-merge interpreted aggregate HOFs
  * whose inlined string literals ALSO forced a codegen recompile
  * every training round (the merge table now rides addReferenceObj,
  * so all rounds share one generated class). Greedy-leftmost
  * semantics per merge, merges applied in rank order — bit-identical
  * to the fold chain ([[SketchKernels.applyBpeMerges]]). An empty
  * table is the identity. */
case class ApplyBpeMerges(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  @transient private lazy val lefts: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1)).toArray
  @transient private lazy val rights: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._2)).toArray
  @transient private lazy val joined: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1 + m._2)).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"apply_bpe_merges expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = child.dataType
  override def prettyName: String = "apply_bpe_merges"

  override def nullSafeEval(v: Any): Any =
    SketchKernels.applyBpeMerges(v.asInstanceOf[ArrayData], lefts, rights, joined)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ut = "org.apache.spark.unsafe.types.UTF8String[]"
    val lRef = ctx.addReferenceObj("bpeLefts", lefts, ut)
    val rRef = ctx.addReferenceObj("bpeRights", rights, ut)
    val jRef = ctx.addReferenceObj("bpeJoined", joined, ut)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.applyBpeMerges($c, $lRef, $rRef, $jRef);")
  }

  override protected def withNewChildInternal(c: Expression): ApplyBpeMerges = copy(child = c)
}

/** Dot product of two array<double> COLUMNS in one codegen'd loop —
  * the column-column twin of [[DotW]] (q86 centroid scoring, PCA
  * projection: the centroid/component arrives per row from a join or
  * broadcast, not as a plan constant). Fold order matches the HOF
  * aggregate/zip_with form bit-for-bit ((0 + x₀y₀) + x₁y₁ + …); null
  * on length mismatch, exactly like zip_with's null-padding folded
  * into a null sum. */
case class DotCols(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dot_cols expects two array<double>, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_cols"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotCols =
    copy(left = l, right = r)
}

/** L2 norm of an array<double> column in one codegen'd loop — replaces
  * the interpreted HOF fold in [[graft.ops.Similarity.norm]] (paid per
  * vector by every unitVectors caller). Same fold order
  * (sqrt((0 + x₀²) + x₁² + …)) ⇒ bit-identical. */
case class NormL2(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"norm_l2 expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "norm_l2"

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  $s += $x * $x;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): NormL2 = copy(child = c)
}

/** Dot product against an expression-static weight vector (q105/q175
  * logistic regression: p = σ(w·x) map-side per GD iteration). The
  * weights ride addReferenceObj, so the generated source — and hence
  * the codegen class cache key — is identical across iterations;
  * scalar weight literals would recompile the stage once per
  * iteration. Fold order matches the HOF form (left fold from 0.0) so
  * the fit trajectory is bit-identical. Input must be array<double>
  * of at least the weights' length (the features builder emits fixed
  * Dim-length arrays; null input yields null). */
case class DotW(child: Expression, weights: Array[Double])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"dot_w expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_w"

  override def nullSafeEval(v: Any): Any =
    SketchKernels.dotW(v.asInstanceOf[ArrayData], weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("weights", weights, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.dotW($c, $ref);")
  }

  override protected def withNewChildInternal(c: Expression): DotW = copy(child = c)
}

/** Distance from the input vector to EVERY centroid (squared L2, or
  * L2 when `sqrt`) in one codegen'd kernel call — replaces K
  * interpreted aggregate/zip_with HOF chains per row in the
  * silhouette / seeding passes. Null contract matches
  * [[NearestCentroid]]: null on dimensionality mismatch. */
case class CentroidDists(child: Expression, centroids: Array[Array[Double]],
                         sqrt: Boolean)
    extends UnaryExpression {

  private val dim = if (centroids.nonEmpty) centroids(0).length else 0

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"centroid_dists expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "centroid_dists"
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val e = v.asInstanceOf[ArrayData]
    if (e.numElements() != dim) null
    else SketchKernels.centroidDists(e, centroids, sqrt)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.numElements() != $dim) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.SketchKernels.centroidDists($c, $ref, $sqrt); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): CentroidDists = copy(child = c)
}

/** Squared L2 distance to the NEAREST centroid — the value twin of
  * [[NearestCentroid]] (k-means assignment cost / farthest-point
  * seeding hot path), one codegen'd kernel call instead of K
  * interpreted HOF chains folded through `least`. Null on
  * dimensionality mismatch, like the HOF form (whose zip_with
  * null-pads a length mismatch into a null sum). */
case class MinSqDist(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {

  private val dim = if (centroids.nonEmpty) centroids(0).length else 0

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"min_sq_dist expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "min_sq_dist"
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val e = v.asInstanceOf[ArrayData]
    if (e.numElements() != dim) null
    else SketchKernels.minSqDist(e, centroids)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.numElements() != $dim) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.SketchKernels.minSqDist($c, $ref); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): MinSqDist = copy(child = c)
}

/** Per-cluster sums of L2 distances from the input vector to each
  * cluster's sampled vectors (q171 sampled silhouette). The K×m
  * sample (a few hundred vectors) is expression-static data riding the
  * serialized plan, exactly like [[NearestCentroid]]'s centroids; the
  * row cost is one fused loop in [[SketchKernels.sampleDistSums]].
  * Null on dimensionality mismatch (a truncated distance would score a
  * malformed embedding as plausibly clustered). */
case class SampleDistSums(child: Expression,
                          samples: Array[Array[Array[Double]]])
    extends UnaryExpression {

  // every sampled vector must share one dimensionality — otherwise the
  // first-vector-derived guard below would either null out healthy
  // rows (malformed vector sampled first) or silently truncate
  // distances (sampled later), the exact failure the null contract
  // exists to prevent (round-12 review)
  require(samples.iterator.flatten.map(_.length).distinct.size <= 1,
    "sampled vectors must share one dimensionality")

  private val dim =
    samples.iterator.flatten.map(_.length).nextOption().getOrElse(0)

  // analysis-time type gate (CosineSim discipline)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sample_dist_sums expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sample_dist_sums"
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val e = v.asInstanceOf[ArrayData]
    if (dim > 0 && e.numElements() != dim) null
    else SketchKernels.sampleDistSums(e, samples)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("samples", samples, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($dim > 0 && $c.numElements() != $dim) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.SketchKernels.sampleDistSums($c, $ref); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): SampleDistSums = copy(child = c)
}

/** 63-bit SimHash over a token array: per-bit ±1 votes of token
  * xxhash64 bits, packed into a non-negative long (bit 63 unused). */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(SketchKernels.simhash(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.simhash($c);")

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** Membership probe of a broadcast-style Bloom filter over BIGINT keys,
  * codegen'd. The filter (built once from the SMALL side — e.g. the
  * benchmark test-set fingerprints in q80) rides the serialized plan and
  * ships to every task like a broadcast variable; the probe is one
  * `mightContainLong` per row inside the scan's codegen span. This is
  * the map-side pre-screen that keeps a 100 TB corpus from shuffling
  * fingerprints that cannot possibly join: false positives are possible
  * (and are removed by the exact join that follows), false negatives are
  * not, so the rewrite `filter(bloom) → exact join` is semantically
  * invisible. Mirrors what Spark's InjectRuntimeFilter does for eligible
  * equi-joins, made explicit so the pre-screen survives any join shape. */
case class BloomContainsLong(child: Expression,
                             filter: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_contains_long expects bigint, got ${other.catalogString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_contains_long"

  override def nullSafeEval(v: Any): Any =
    java.lang.Boolean.valueOf(filter.mightContainLong(v.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", filter,
      "org.apache.spark.util.sketch.BloomFilter")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.mightContainLong($c);")
  }

  override protected def withNewChildInternal(c: Expression): BloomContainsLong =
    copy(child = c)
}

/** DEFLATE byte length of a string — the kernel expression behind the
  * q113 compressibility quality signal (see [[SketchKernels.deflateLen]]
  * for determinism notes). A plain UnaryExpression with defineCodeGen:
  * the projection stays inside the scan's whole-stage-codegen span, so
  * scoring 100 TB of documents is one codegen'd map-only pass. */
case class DeflateLen(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"deflate_len expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "deflate_len"

  override def nullSafeEval(v: Any): Any =
    SketchKernels.deflateLen(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.deflateLen($c)")

  override protected def withNewChildInternal(c: Expression): DeflateLen =
    copy(child = c)
}

/** A BIGINT that is fixed within one query but differs between
  * otherwise identical queries — a micro-batch id. A `Literal` is
  * inlined into the generated Java (`7L`), so every new value misses
  * Spark's compiled-class cache and recompiles each whole-stage class
  * it appears in, once per batch. This leaf reads the value through
  * addReferenceObj instead, so plans that differ only in the value
  * generate identical source and share one compiled class. Not
  * foldable: ConstantFolding would otherwise turn it back into a
  * Literal. Deterministic and non-null, so predicates over it plan
  * like predicates over a literal. */
case class RuntimeLong(value: Long) extends LeafExpression {

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "runtime_long"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("runtimeLong", java.lang.Long.valueOf(value),
      "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}
