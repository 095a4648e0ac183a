package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's sketch/similarity hot
  * paths (SURVEY §2.9). These replace higher-order-function expression
  * trees (aggregate/zip_with/transform) that Spark evaluates
  * interpreted, per element, per pass — e.g. [[CosineSim]] (fused
  * dot+norms in one pass, inside the O(candidates × dim) re-rank loops
  * of the similarity queries), [[MinHashSig]] (a 64-slot signature in
  * one pass over the tokens by double hashing h1 + j·h2, Broder's
  * minwise scheme) and [[SimHash64]] (one pass where the HOF form took
  * 63).
  *
  * Every scalar kernel expression here is a declaration on the
  * [[NativeKernel]] shape: its name, accepted input types, result
  * type, plan-static operands and the one [[SketchKernels]] method
  * that computes it, null rule included. Interpreted eval and the
  * generated code both call that method, so the surrounding operators
  * stay inside one whole-stage-codegen span (no CodegenFallback
  * interpreted-eval boundary) and the two paths cannot disagree. [[RuntimeLong]], the one leaf, is written out.
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

  /** One SQL function: its column arguments, then its INTEGER LITERAL
    * parameters (`Some(default)` when optional), then `make`, which
    * declares the expression. The registered name is that
    * expression's prettyName; usage, arity and literal checks all
    * follow from this one signature. */
  private def sqlFunction(columns: Seq[String], ints: (String, Option[Int])*)(
      description: String)(make: (Seq[Expression], Seq[Int]) => Expression)
      : (String, String, Seq[Expression] => Expression) = {
    val name = make(columns.map(_ => Literal(null)), ints.map(_._2.getOrElse(1))).prettyName
    val required = ints.count(_._2.isEmpty)
    def params(lit: String) = ints.map {
      case (p, None) => s", $p$lit"
      case (p, Some(_)) => s"[, $p$lit]"
    }.mkString(columns.mkString(", "), "", "")
    val n = columns.length
    val build: Seq[Expression] => Expression = { es =>
      val (cs, rest) = es.splitAt(n)
      val lits = rest.collect { case Literal(v: Int, _) => v }
      if (cs.length == n && lits.length == rest.length && rest.length >= required &&
          rest.length <= ints.length) make(cs, lits ++ ints.drop(rest.length).flatMap(_._2))
      else throw new IllegalArgumentException(
        if (ints.isEmpty) s"$name expects exactly $n argument${if (n == 1) "" else "s"}; got ${es.length}"
        else s"$name expects (${params(" INTEGER LITERAL")}); got ${es.length} argument(s) " +
          es.map(_.sql).mkString("(", ", ", ")"))
    }
    (name, s"$name(${params("")}) - $description", build)
  }

  /** One source of truth for the SQL function surface: (name, usage,
    * builder). Both registration paths — programmatic [[registerAll]]
    * and the config-wired [[GraftExtensions]] — iterate THIS list, so
    * argument validation cannot drift between them. */
  val sqlBuilders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    sqlFunction(Seq("a", "b"))("fused cosine similarity of two array<double>") {
      (cs, _) => CosineSim(cs(0), cs(1)) },
    sqlFunction(Seq("tokens"), "slots" -> Some(64))(
        "MinHash signature of array<string> or pre-hashed array<bigint> " +
          "(e.g. shingle_hashes output)") {
      (cs, is) => MinHashSig(cs(0), is(0)) },
    sqlFunction(Seq("tokens"))("63-bit SimHash of array<string>") {
      (cs, _) => SimHash64(cs(0)) },
    sqlFunction(Seq("a", "b"))("equal-slot count of two array<bigint> signatures") {
      (cs, _) => SigMatches(cs(0), cs(1)) },
    sqlFunction(Seq("tokens"), "n" -> None)("xxhash64 of each n-token sliding window") {
      (cs, is) => ShingleHashes(cs(0), is(0)) },
    sqlFunction(Seq("sig"), "bands" -> None)(
        "LSH band bucket keys of an array<bigint> signature") {
      (cs, is) => SigBandKeys(cs(0), is(0)) },
    sqlFunction(Seq("e"))("max-abs int8 quantization of array<double> to binary") {
      (cs, _) => QuantizeI8(cs(0)) },
    sqlFunction(Seq("a", "b"))("cosine of two int8-quantized binary vectors") {
      (cs, _) => CosineSimI8(cs(0), cs(1)) },
    sqlFunction(Seq("col"), "p" -> Some(12))(
        "HyperLogLog approximate distinct count (2^p registers)") {
      (cs, is) => SketchAgg(HllDistinct(is(0)), cs) })

  /** Exposes the native expressions to SQL (session-scoped). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlBuilders.foreach { case (name, _, builder) =>
      ColumnBridge.registerFunction(spark, name, builder)
    }
}

/** cosine(a, b) = dot(a,b) / (‖a‖·‖b‖), fused single pass
  * ([[SketchKernels.cosine]]). Inputs are array<double>. Null when
  * either input is null, when the lengths differ, or when either norm
  * is zero — malformed embeddings surface as nulls instead of NaN/±Inf
  * or a silent truncation (and a length mismatch can't diverge from
  * DuckDB's list_cosine_similarity, which errors on it). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {
  override def prettyName: String = "cosine_sim"
  protected def inputTypes = Seq(Seq(ArrayType(DoubleType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  protected def kernel = "cosine"
  override protected def nullRule = NullRule.Result
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
    extends UnaryExpression with NativeKernel {
  require(slots >= 1, s"slots must be >= 1, got $slots")
  override def prettyName: String = "minhash_sig"
  protected def inputTypes = Seq(Seq(ArrayType(StringType)), Seq(ArrayType(LongType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def kernel =
    if (child.dataType.asInstanceOf[ArrayType].elementType == LongType) "minhashLongs" else "minhash"
  override protected def operands = Seq(slots)
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
    extends UnaryExpression with NativeKernel {
  require(bands >= 1, s"bands must be >= 1, got $bands")
  override def prettyName: String = "sig_band_keys"
  protected def inputTypes = Seq(Seq(ArrayType(LongType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def kernel = "sigBandKeys"
  override protected def operands = Seq(bands)
  override protected def nullRule = NullRule.Result
  override protected def withNewChildInternal(c: Expression): SigBandKeys = copy(child = c)
}

/** Random-hyperplane LSH signature: for each plane, bit = sign of the
  * projection ⟨e, plane⟩; bits packed per band into longs. ONE pass
  * over all planes per row (the Column formulation runs one interpreted
  * fold per plane). The plane matrix is expression-static data (~32 KB)
  * and ships with the serialized plan. */
case class HyperplaneSig(child: Expression, planes: Array[Array[Double]],
                         bitsPerBand: Int)
    extends UnaryExpression with NativeKernel {
  require(bitsPerBand >= 1, s"bitsPerBand must be >= 1, got $bitsPerBand")
  // the kernel sizes its band array as planes/bitsPerBand and indexes
  // p / bitsPerBand — a non-divisible plane count would throw a
  // data-dependent AIOOBE mid-scan (only on rows with dot > 0)
  require(planes.length % bitsPerBand == 0,
    s"planes (${planes.length}) must be divisible by bitsPerBand ($bitsPerBand)")
  override def prettyName: String = "hyperplane_sig"
  protected def inputTypes = Seq(Seq(ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def kernel = "hyperplane"
  override protected def operands = Seq(planes, bitsPerBand)
  override protected def withNewChildInternal(c: Expression): HyperplaneSig = copy(child = c)
}

/** xxhash64 fingerprints of n-token sliding windows — the
  * allocation-free twin of `transform(sequence…, concat_ws) → hash`:
  * decontamination (q72 / IncrementalDecontam) needs only the 8-byte
  * fingerprint of each shingle, never the shingle text, so the
  * concatenated strings the Column formulation materializes per window
  * are pure garbage-collector load on a 100 TB scan. One kernel pass:
  * each token hashed once, windows chain token hashes through the
  * xxhash64 seed (order-sensitive). Null ELEMENTS hash as the empty
  * string (see SketchKernels.hashToken). */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with NativeKernel {
  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def prettyName: String = "shingle_hashes"
  protected def inputTypes = Seq(Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def kernel = "shingleHashes"
  override protected def operands = Seq(n)
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** Symmetric max-abs int8 quantization: array<double> → binary (one
  * signed byte per dimension, per-vector scale cancelled by cosine's
  * normalization). 8× smaller scans for the ANN candidate pass —
  * the memory-bandwidth lever for 100 TB embedding tables. */
case class QuantizeI8(child: Expression) extends UnaryExpression with NativeKernel {
  override def prettyName: String = "quantize_i8"
  protected def inputTypes = Seq(Seq(ArrayType(DoubleType)))
  override def dataType: DataType = BinaryType
  protected def kernel = "quantizeI8"
  override protected def withNewChildInternal(c: Expression): QuantizeI8 = copy(child = c)
}

/** Product-quantization encoder: array<double> → binary of m subspace
  * centroid indices (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011). The codebook (m × k × dsub doubles —
  * ~a hundred KB) is expression-static data riding the plan. An input
  * of any length other than the codebooks' dimensionality encodes to
  * null (the NearestCentroid discipline). */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression with NativeKernel {
  override def prettyName: String = "pq_encode"
  protected def inputTypes = Seq(Seq(ArrayType(DoubleType)))
  override def dataType: DataType = BinaryType
  protected def kernel = "pqEncode"
  override protected def operands = Seq(codebooks)
  override protected def nullRule = NullRule.Result
  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
}

/** PQ asymmetric-distance scorer: binary code → approximate inner
  * product against the query via per-subspace lookup tables (m
  * lookups per row — no floating-point vector math in the scan). A
  * code that is not PqEncode's output for this m and k is null
  * ([[SketchKernels.pqAdcValid]]). */
case class PqAdc(child: Expression, lut: Array[Array[Double]])
    extends UnaryExpression with NativeKernel {
  require(lut.nonEmpty && lut.forall(_.length == lut(0).length),
    "pq_adc needs a non-empty rectangular m x k lookup table")
  override def prettyName: String = "pq_adc"
  protected def inputTypes = Seq(Seq(BinaryType))
  override def dataType: DataType = DoubleType
  protected def kernel = "pqAdc"
  override protected def operands = Seq(lut)
  override protected def nullRule = NullRule.Guard("pqAdcValid")
  override protected def withNewChildInternal(c: Expression): PqAdc = copy(child = c)
}

/** Cosine over int8-quantized vectors (binary × binary → double):
  * integer dot + norms in one pass. Null on length mismatch or zero
  * norm, like [[CosineSim]]. */
case class CosineSimI8(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {
  override def prettyName: String = "cosine_sim_i8"
  protected def inputTypes = Seq(Seq(BinaryType, BinaryType))
  override def dataType: DataType = DoubleType
  protected def kernel = "cosineI8"
  override protected def nullRule = NullRule.Result
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimI8 =
    copy(left = l, right = r)
}

/** Equal-slot count between two array<long> sketch signatures (the
  * MinHash agreement estimator's numerator). Replaces a
  * size(filter(zip_with(...))) HOF tree that Spark walks interpreted,
  * per element, per pass — this sits in the candidate re-rank loop of
  * the LSH dedup queries, O(candidates × slots). Null on signature
  * length mismatch — a truncated agreement count over min(len) would
  * silently deflate similarity estimates. */
case class SigMatches(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {
  override def prettyName: String = "sig_matches"
  protected def inputTypes = Seq(Seq(ArrayType(LongType), ArrayType(LongType)))
  override def dataType: DataType = IntegerType
  protected def kernel = "sigMatches"
  override protected def nullRule = NullRule.Guard("sameLength")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigMatches =
    copy(left = l, right = r)
}

/** argmin-distance centroid assignment (IVF coarse quantization):
  * index of the squared-euclidean-nearest centroid for an array<double>
  * embedding (the previous formulation was an interpreted Scala UDF
  * with a per-row Seq conversion). Null when the input's
  * dimensionality is not the centroids' (a min-length distance would
  * assign a plausible-but-wrong cluster to a malformed embedding). */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with NativeKernel {
  override def prettyName: String = "nearest_centroid"
  protected def inputTypes = Seq(Seq(ArrayType(DoubleType)))
  override def dataType: DataType = IntegerType
  protected def kernel = "nearestCentroid"
  override protected def operands = Seq(centroids)
  override protected def nullRule = NullRule.Guard("fitsDim")
  override protected def withNewChildInternal(c: Expression): NearestCentroid = copy(child = c)
}

/** |a ∩ b| of two array<long> fingerprint-set columns
  * ([[SketchKernels.intersectCountLong]]) replacing
  * size(array_intersect(a, b)) in the containment scorer, which paid
  * a generic boxed hash set plus a materialized intersection array
  * per candidate pair. CONTRACT: both inputs are distinct-element
  * sets (the scorer array_distincts both sides), where the count
  * equals array_intersect's size exactly; a duplicated element on the
  * probe side would count once per occurrence. Null on null input
  * (like the HOF form); returns int, matching size(). */
case class IntersectCountLong(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {
  override def prettyName: String = "intersect_count_long"
  protected def inputTypes = Seq(Seq(ArrayType(LongType), ArrayType(LongType)))
  override def dataType: DataType = IntegerType
  protected def kernel = "intersectCountLong"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectCountLong =
    copy(left = l, right = r)
}

/** Rank-ordered BPE merge-table application over a symbol array
  * (q157 trainer iterations / q177 encode) in ONE kernel call —
  * replaces a foldLeft of per-merge interpreted aggregate HOFs whose
  * inlined string literals ALSO forced a codegen recompile every
  * training round (the merge table now rides addReferenceObj, so all
  * rounds share one generated class). Greedy-leftmost semantics per
  * merge, merges applied in rank order — bit-identical to the fold
  * chain ([[SketchKernels.applyBpeMerges]]). An empty table is the
  * identity. */
case class ApplyBpeMerges(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with NativeKernel {
  override def prettyName: String = "apply_bpe_merges"
  protected def inputTypes = Seq(Seq(ArrayType(StringType)))
  override def dataType: DataType = child.dataType
  protected def kernel = "applyBpeMerges"
  @transient override protected lazy val operands =
    Seq[Seq[String]](merges.map(_._1), merges.map(_._2), merges.map(m => m._1 + m._2))
      .map(_.map(UTF8String.fromString).toArray)
  override protected def withNewChildInternal(c: Expression): ApplyBpeMerges = copy(child = c)
}

/** Dot product of two array<double> COLUMNS — the column-column twin
  * of [[DotW]] (q86 centroid scoring, PCA projection: the
  * centroid/component arrives per row from a join or broadcast, not
  * as a plan constant). Fold order matches the HOF aggregate/zip_with
  * form bit-for-bit ((0 + x₀y₀) + x₁y₁ + …); null on length mismatch,
  * exactly like zip_with's null-padding folded into a null sum. */
case class DotCols(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {
  override def prettyName: String = "dot_cols"
  protected def inputTypes = Seq(Seq(ArrayType(DoubleType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  protected def kernel = "dotCols"
  override protected def nullRule = NullRule.Guard("sameLength")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotCols =
    copy(left = l, right = r)
}

/** L2 norm of an array<double> column — replaces the interpreted HOF
  * fold in [[graft.ops.Similarity.norm]] (paid per vector by every
  * unitVectors caller). Same fold order (sqrt((0 + x₀²) + x₁² + …)) ⇒
  * bit-identical. */
case class NormL2(child: Expression) extends UnaryExpression with NativeKernel {
  override def prettyName: String = "norm_l2"
  protected def inputTypes = Seq(Seq(ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  protected def kernel = "normL2"
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
    extends UnaryExpression with NativeKernel {
  override def prettyName: String = "dot_w"
  protected def inputTypes = Seq(Seq(ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  protected def kernel = "dotW"
  override protected def operands = Seq(weights)
  override protected def withNewChildInternal(c: Expression): DotW = copy(child = c)
}

/** Distance from the input vector to EVERY centroid (squared L2, or
  * L2 when `sqrt`) in one kernel call — replaces K interpreted
  * aggregate/zip_with HOF chains per row in the silhouette / seeding
  * passes. Null contract matches [[NearestCentroid]]: null on
  * dimensionality mismatch. */
case class CentroidDists(child: Expression, centroids: Array[Array[Double]],
                         sqrt: Boolean)
    extends UnaryExpression with NativeKernel {
  override def prettyName: String = "centroid_dists"
  protected def inputTypes = Seq(Seq(ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  protected def kernel = "centroidDists"
  override protected def operands = Seq(centroids, sqrt)
  override protected def nullRule = NullRule.Guard("fitsDim")
  override protected def withNewChildInternal(c: Expression): CentroidDists = copy(child = c)
}

/** Squared L2 distance to the NEAREST centroid — the value twin of
  * [[NearestCentroid]] (k-means assignment cost / farthest-point
  * seeding hot path), one kernel call instead of K interpreted HOF
  * chains folded through `least`. Null on dimensionality mismatch,
  * like the HOF form (whose zip_with null-pads a length mismatch into
  * a null sum). */
case class MinSqDist(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with NativeKernel {
  override def prettyName: String = "min_sq_dist"
  protected def inputTypes = Seq(Seq(ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  protected def kernel = "minSqDist"
  override protected def operands = Seq(centroids)
  override protected def nullRule = NullRule.Guard("fitsDim")
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
    extends UnaryExpression with NativeKernel {
  // every sampled vector must share one dimensionality — otherwise the
  // kernel's first-vector-derived guard would either null out healthy
  // rows (malformed vector sampled first) or silently truncate
  // distances (sampled later), the exact failure the null contract
  // exists to prevent (round-12 review)
  require(samples.iterator.flatten.map(_.length).distinct.size <= 1,
    "sampled vectors must share one dimensionality")
  override def prettyName: String = "sample_dist_sums"
  protected def inputTypes = Seq(Seq(ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  protected def kernel = "sampleDistSums"
  override protected def operands = Seq(samples)
  override protected def nullRule = NullRule.Result
  override protected def withNewChildInternal(c: Expression): SampleDistSums = copy(child = c)
}

/** 63-bit SimHash over a token array: per-bit ±1 votes of token
  * xxhash64 bits, packed into a non-negative long (bit 63 unused). */
case class SimHash64(child: Expression) extends UnaryExpression with NativeKernel {
  override def prettyName: String = "simhash64"
  protected def inputTypes = Seq(Seq(ArrayType(StringType)))
  override def dataType: DataType = LongType
  protected def kernel = "simhash"
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** Membership probe of a broadcast-style Bloom filter over BIGINT keys.
  * The filter (built once from the SMALL side — e.g. the benchmark
  * test-set fingerprints in q80) rides the serialized plan and ships
  * to every task like a broadcast variable; the probe is one
  * `mightContainLong` per row inside the scan's codegen span. This is
  * the map-side pre-screen that keeps a 100 TB corpus from shuffling
  * fingerprints that cannot possibly join: false positives are possible
  * (and are removed by the exact join that follows), false negatives are
  * not, so the rewrite `filter(bloom) → exact join` is semantically
  * invisible. Mirrors what Spark's InjectRuntimeFilter does for eligible
  * equi-joins, made explicit so the pre-screen survives any join shape. */
case class BloomContainsLong(child: Expression,
                             filter: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression with NativeKernel {
  override def prettyName: String = "bloom_contains_long"
  protected def inputTypes = Seq(Seq(LongType))
  override def dataType: DataType = BooleanType
  protected def kernel = "bloomContainsLong"
  override protected def operands = Seq(filter)
  override protected def withNewChildInternal(c: Expression): BloomContainsLong = copy(child = c)
}

/** DEFLATE byte length of a string — the kernel expression behind the
  * q113 compressibility quality signal (see [[SketchKernels.deflateLen]]
  * for determinism notes): the projection stays inside the scan's
  * whole-stage-codegen span, so scoring 100 TB of documents is one
  * map-only pass. */
case class DeflateLen(child: Expression) extends UnaryExpression with NativeKernel {
  override def prettyName: String = "deflate_len"
  protected def inputTypes = Seq(Seq(StringType))
  override def dataType: DataType = IntegerType
  protected def kernel = "deflateLen"
  override protected def withNewChildInternal(c: Expression): DeflateLen = copy(child = c)
}

/** Point-query probe over a CMS produced by [[CountMin]] with the
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
