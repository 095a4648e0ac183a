package graft.functions

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** JVM kernels for the native expressions: each [[NativeKernel]]
  * declaration names one method here, which both its interpreted eval
  * and its generated code call. Top-level object ⇒ static forwarders,
  * so generated Java (whole-stage codegen) calls these directly: the
  * expressions keep their operators inside one codegen stage instead
  * of a CodegenFallback interpreted-eval boundary. A kernel's null rule
  * lives here too — a null reference or NaN result, or a boolean guard
  * such as [[sameLength]] — so the two paths cannot disagree on it. */
object SketchKernels {

  /** Null array elements hash as the empty string across every token
    * kernel here (minhash / simhash / shingleHashes): the SQL registry
    * exposes these functions to arbitrary array<string> input, where a
    * null element must not NPE the scan — and the choice is consistent
    * on both sides of any join keyed on the result. split() output
    * (every internal caller) never contains nulls, so internal results
    * are unaffected. */
  private def hashToken(s: UTF8String, seed: Long): Long =
    XxHash64Function.hash(if (s == null) UTF8String.EMPTY_UTF8 else s, StringType, seed)

  /** DEFLATE length of a UTF-8 string — the compressibility kernel
    * behind the q113 quality signal (compression ratio ≈ redundancy;
    * boilerplate/templated text compresses far better than natural
    * prose). Level 6, raw deflate (nowrap): deterministic for a fixed
    * zlib build, which this container pins via the JDK. The Deflater
    * is reused per-thread (reset() between rows) — allocating one per
    * row would dominate the scan; the output buffer is thrown away,
    * only the length escapes, so the expression stays allocation-free
    * after warmup. */
  private val deflaterTl: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() => new java.util.zip.Deflater(6, true))
  private val deflateBufTl: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](64 * 1024))

  def deflateLen(s: UTF8String): Int = {
    val in = s.getBytes
    val d = deflaterTl.get()
    d.reset()
    d.setInput(in)
    d.finish()
    val buf = deflateBufTl.get()
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  def minhash(arr: ArrayData, slots: Int): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(slots)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h1 = hashToken(s, 42L)
      val h2 = hashToken(s, 0x9E3779B9L) | 1L
      var j = 0
      var h = h1
      while (j < slots) {
        if (h < sig(j)) sig(j) = h
        h += h2
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** MinHash over PRE-HASHED elements (array<long> — e.g. the output
    * of [[shingleHashes]]): the same double-hashing scheme with the
    * xxhash64 pair derived from the 8-byte fingerprint instead of the
    * token text. Composing shingle_hashes(tokens, n) → minhash_sig
    * yields an n-gram MinHash signature with ZERO shingle strings
    * materialized — each token hashed once, each window one chained
    * hash, each fingerprint one pair. */
  def minhashLongs(arr: ArrayData, slots: Int): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(slots)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      val h1 = XxHash64Function.hash(v, LongType, 42L)
      val h2 = XxHash64Function.hash(v, LongType, 0x9E3779B9L) | 1L
      var j = 0
      var h = h1
      while (j < slots) {
        if (h < sig(j)) sig(j) = h
        h += h2
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** LSH band bucket keys of a fixed-length signature: band b is the
    * xxhash64 chain of its slots seeded with the band index — the
    * string-free twin of xxhash64(concat_ws(',', slice(sig, …)), b).
    * Two signatures land in the same (band, bucket) iff that band's
    * slots are all equal (modulo 64-bit hash collision), exactly the
    * banded-LSH collision structure; no comma-joined strings are
    * materialized. Null when the slots do not divide evenly into bands
    * (callers pass SigLen/Bands constants; a silent truncated-band key
    * would merge buckets wrongly). */
  def sigBandKeys(sig: ArrayData, bands: Int): ArrayData = {
    val slots = sig.numElements()
    if (slots % bands != 0) return null
    val rows = slots / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b.toLong
      var j = 0
      while (j < rows) {
        h = XxHash64Function.hash(sig.getLong(b * rows + j), LongType, h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** xxhash64 fingerprints of the n-token sliding windows of a token
    * array — ONE pass, no shingle strings materialized: each token is
    * hashed once, then each window chains its token hashes through the
    * seed (order-sensitive), distinguishing everything the
    * concatenated-string shingle would. Arrays shorter than n yield an
    * empty array (the same guard as the string-shingle window). */
  def shingleHashes(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](len)
    var i = 0
    while (i < len) {
      th(i) = hashToken(arr.getUTF8String(i), 42L)
      i += 1
    }
    val out = new Array[Long](len - n + 1)
    var w = 0
    while (w < out.length) {
      var h = 42L
      var j = 0
      while (j < n) {
        h = XxHash64Function.hash(th(w + j), LongType, h)
        j += 1
      }
      out(w) = h
      w += 1
    }
    new GenericArrayData(out)
  }

  def simhash(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](63)
    var i = 0
    while (i < n) {
      val h = hashToken(arr.getUTF8String(i), 42L)
      var j = 0
      while (j < 63) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 63) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Symmetric max-abs int8 quantization of an array<double> embedding:
    * byte i = round(e[i] / maxAbs · 127). The per-vector scale is NOT
    * stored — cosine is invariant to per-vector scaling, so the
    * quantized form supports similarity directly at 1/8 the bytes. */
  def quantizeI8(e: ArrayData): Array[Byte] = {
    val n = e.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(e.getDouble(i))
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val out = new Array[Byte](n)
    if (maxAbs > 0) {
      i = 0
      while (i < n) {
        out(i) = math.round(e.getDouble(i) / maxAbs * 127.0).toByte
        i += 1
      }
    }
    out
  }

  /** Product-quantization encode: the L2-normalized vector is split
    * into `codebooks.length` subvectors; each maps to the index of its
    * nearest subspace centroid. 64-dim double vector → m bytes. Null
    * when the input's length is not the dimensionality the codebooks
    * were trained at (a malformed embedding must not kill the scan or
    * get a plausible-but-wrong code from stale/overflowing subspace
    * indexing). */
  def pqEncode(e: ArrayData, codebooks: Array[Array[Array[Double]]]): Array[Byte] = {
    val dim = e.numElements()
    val m = codebooks.length
    if (dim != (if (m > 0 && codebooks(0).nonEmpty) m * codebooks(0)(0).length else 0)) return null
    val dsub = dim / m
    var norm = 0.0
    var i = 0
    while (i < dim) { val x = e.getDouble(i); norm += x * x; i += 1 }
    norm = math.sqrt(norm)
    val inv = if (norm == 0.0) 0.0 else 1.0 / norm
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val cents = codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val diff = e.getDouble(s * dsub + j) * inv - cent(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** Shape guard for [[pqAdc]]: the code must carry exactly m bytes
    * and every byte must index inside the k-entry tables of the m × k
    * `lut` — a foreign
    * binary column (say a 64-byte int8 vector against an 8-subspace
    * LUT, or codes trained with a larger k) otherwise dies mid-scan
    * with an ArrayIndexOutOfBoundsException where every sibling
    * expression nulls (round-14 review). */
  def pqAdcValid(code: Array[Byte], lut: Array[Array[Double]]): Boolean = {
    val k = lut(0).length
    if (code.length != lut.length) return false
    var s = 0
    while (s < code.length) {
      if ((code(s) & 0xFF) >= k) return false
      s += 1
    }
    true
  }

  /** Asymmetric distance computation: approximate inner product of the
    * (normalized) query against a PQ code — m table lookups, no
    * vector math at scan time. lut(s)(c) = ⟨query_sub_s, centroid_c⟩.
    * Callers guard with [[pqAdcValid]] first. */
  def pqAdc(code: Array[Byte], lut: Array[Array[Double]]): Double = {
    var acc = 0.0
    var s = 0
    while (s < code.length) {
      acc += lut(s)(code(s) & 0xFF)
      s += 1
    }
    acc
  }

  /** Cosine of two array<double> vectors: dot and both norms in one
    * pass. NaN (null) when the lengths differ or either norm is zero. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return Double.NaN
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) Double.NaN else dot / denom
  }

  /** a·b of two equal-length array<double> columns, left fold from 0.0
    * ((0 + a₀b₀) + a₁b₁ + …, the HOF aggregate/zip_with order);
    * callers guard with [[sameLength]]. */
  def dotCols(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** ‖a‖₂ in the HOF fold's order: sqrt((0 + a₀²) + a₁² + …). */
  def normL2(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** Guard of the pairwise kernels ([[sigMatches]], [[dotCols]]): a
    * truncated count or sum over min(len) would read as a plausible
    * value. */
  def sameLength(a: ArrayData, b: ArrayData): Boolean = a.numElements() == b.numElements()

  /** Guard of the centroid kernels: the input has the centroids'
    * dimensionality (a min-length distance would assign a
    * plausible-but-wrong cluster to a malformed embedding). */
  def fitsDim(e: ArrayData, centroids: Array[Array[Double]]): Boolean =
    e.numElements() == (if (centroids.nonEmpty) centroids(0).length else 0)

  /** Cosine over two int8-quantized vectors (integer dot + norms). NaN
    * (null) on length mismatch or zero norm, like [[cosine]]. */
  def cosineI8(a: Array[Byte], b: Array[Byte]): Double = {
    if (a.length != b.length) return Double.NaN
    val n = a.length
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = a(i).toInt; val y = b(i).toInt
      dot += x * y; na += x.toLong * x; nb += y.toLong * y
      i += 1
    }
    dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Number of equal slots between two fixed-length long signatures
    * (MinHash agreement count — est. Jaccard = count / slots). */
  def sigMatches(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** Index of the squared-euclidean-nearest centroid (IVF coarse
    * quantization). Centroids are expression-static data (k×dim
    * doubles — kilobytes) riding the serialized plan. */
  def nearestCentroid(e: ArrayData, centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val n = math.min(e.numElements(), cent.length)
      var s = 0.0
      var i = 0
      while (i < n) { val d = cent(i) - e.getDouble(i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** |a ∩ b| for two array<long> fingerprint sets in one pass — open
    * addressing over primitive longs (no boxing, no materialized
    * intersection array; `array_intersect` + `size` pays a generic
    * boxed hash set AND an output ArrayData per row). Inputs are
    * distinct-element fingerprint sets (the containment scorer's ts
    * columns), for which the count equals array_intersect's size
    * exactly. The table is sized 2× the smaller side (next power of
    * two) and probes the larger, so the per-row cost is
    * O(|a| + |b|). */
  def intersectCountLong(a: ArrayData, b: ArrayData): Int = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val ns = small.numElements()
    if (ns == 0) return 0
    var cap = 2
    while (cap < ns * 2) cap <<= 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val mask = cap - 1
    var i = 0
    while (i < ns) {
      val v = small.getLong(i)
      var idx = (java.lang.Long.hashCode(v) * 0x9E3779B9) & mask
      while (used(idx) && table(idx) != v) idx = (idx + 1) & mask
      if (!used(idx)) { used(idx) = true; table(idx) = v }
      i += 1
    }
    var cnt = 0
    val nl = large.numElements()
    var j = 0
    while (j < nl) {
      val v = large.getLong(j)
      var idx = (java.lang.Long.hashCode(v) * 0x9E3779B9) & mask
      while (used(idx) && table(idx) != v) idx = (idx + 1) & mask
      if (used(idx)) cnt += 1
      j += 1
    }
    cnt
  }

  /** Greedy-leftmost application of a rank-ordered BPE merge table to
    * a symbol array — the kernel behind [[graft.functions.ApplyBpeMerges]].
    * Each merge (a, b) → ab replays EXACTLY the old per-merge
    * interpreted fold (append x, unless the last emitted symbol is `a`
    * and x is `b`, in which case the last becomes `ab`), merge after
    * merge in rank order, so "aaa" under (a,a) is [aa, a] and the full
    * table's output is bit-identical to the foldLeft-of-applyMerge
    * chain it replaces (TextStatsSpec pins the trainer against a
    * reference implementation). Null symbols never compare equal to a
    * merge side (the old `===` yielded null ⇒ the append branch) and
    * pass through unchanged. */
  def applyBpeMerges(syms: ArrayData, lefts: Array[UTF8String],
                     rights: Array[UTF8String],
                     merged: Array[UTF8String]): ArrayData = {
    val n = syms.numElements()
    val cur = new Array[AnyRef](n)
    var i = 0
    while (i < n) { cur(i) = syms.getUTF8String(i); i += 1 }
    var curLen = n
    var m = 0
    while (m < lefts.length) {
      val a = lefts(m); val b = rights(m); val ab = merged(m)
      var w = 0
      var rd = 0
      while (rd < curLen) {
        val x = cur(rd)
        if (w > 0 && a.equals(cur(w - 1)) && b.equals(x)) cur(w - 1) = ab
        else { cur(w) = x; w += 1 }
        rd += 1
      }
      curLen = w
      m += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(cur, curLen))
  }

  /** w·x against an expression-static weight vector — ((0 + x₀w₀) +
    * x₁w₁) + … left fold, bit-identical to the HOF aggregate/zip_with
    * form it replaces (q105/q175 logreg). The weights ride the
    * serialized plan via addReferenceObj, so the generated source is
    * IDENTICAL across gradient-descent iterations and the codegen
    * cache compiles the per-iteration plan once, not once per
    * iteration (scalar literals recompiled it every iteration — the
    * measured per-iteration floor). Mismatched lengths fold over the
    * shorter prefix, like zip_with's null-pad + null-skipping sum
    * never happens for the fixed-Dim feature arrays this serves;
    * length equality is the caller's contract. */
  def dotW(x: ArrayData, w: Array[Double]): Double = {
    val n = math.min(x.numElements(), w.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * w(i); i += 1 }
    s
  }

  /** Squared L2 distance from `e` to EACH centroid, optionally √'d —
    * one fused loop replacing K interpreted HOF aggregate/zip_with
    * chains per row (the q168 all-centroid distance pass). Same
    * per-element fold order as [[nearestCentroid]] (and as the HOF
    * form it replaces), so the sums are bit-identical. */
  def centroidDists(e: ArrayData, centroids: Array[Array[Double]],
                    sqrt: Boolean): ArrayData = {
    val out = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val n = math.min(e.numElements(), cent.length)
      var s = 0.0
      var i = 0
      while (i < n) { val d = cent(i) - e.getDouble(i); s += d * d; i += 1 }
      out(c) = if (sqrt) math.sqrt(s) else s
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Squared L2 distance from `e` to the NEAREST centroid — the value
    * twin of [[nearestCentroid]]'s argmin (the k-means assignment /
    * seeding hot path). Identical scan order ⇒ identical min. */
  def minSqDist(e: ArrayData, centroids: Array[Array[Double]]): Double = {
    // `least` semantics on the degenerate doubles (the HOF fold this
    // replaces): NaN is greater than any number, so the min is over
    // the non-NaN distances and only an all-NaN input yields NaN;
    // +Infinity seeds the min so an all-infinite input returns Inf
    var bestD = Double.PositiveInfinity
    var seen = false
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val n = math.min(e.numElements(), cent.length)
      var s = 0.0
      var i = 0
      while (i < n) { val d = cent(i) - e.getDouble(i); s += d * d; i += 1 }
      if (!java.lang.Double.isNaN(s)) {
        seen = true
        if (s < bestD) bestD = s
      }
      c += 1
    }
    if (!seen) Double.NaN else bestD
  }

  /** Per-cluster SUM of L2 distances from `e` to each cluster's
    * sampled vectors — the q171 sampled-silhouette kernel: one tight
    * loop over K×m expression-static vectors (a few hundred — rides
    * the serialized plan like the centroids) replaces K×m interpreted
    * HOF evaluations per row. Returns sums (not means) so the caller
    * can self-exclude a sampled row from its own cluster's mean. Null
    * when the input's dimensionality is not the sampled vectors'. */
  def sampleDistSums(e: ArrayData,
                     samples: Array[Array[Array[Double]]]): ArrayData = {
    val dim = e.numElements()
    val sampledDim = samples.find(_.nonEmpty).fold(0)(_(0).length)
    if (sampledDim > 0 && sampledDim != dim) return null
    val out = new Array[Double](samples.length)
    var c = 0
    while (c < samples.length) {
      val svs = samples(c)
      var s = 0.0
      var j = 0
      while (j < svs.length) {
        val v = svs(j)
        val n = math.min(dim, v.length)
        var d2 = 0.0
        var i = 0
        while (i < n) { val dx = e.getDouble(i) - v(i); d2 += dx * dx; i += 1 }
        s += math.sqrt(d2)
        j += 1
      }
      out(c) = s
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Count–Min row index for key `s` in row `r`: double hashing with
    * the same xxhash64 pair the minhash chain uses, so update
    * (aggregate) and probe (scalar expression) derive identical
    * indices from one shared kernel. */
  def cmsIndex(s: UTF8String, r: Int, width: Int): Int = {
    val h1 = hashToken(s, 42L)
    val h2 = hashToken(s, 0x9E3779B9L) | 1L
    java.lang.Math.floorMod(h1 + r.toLong * h2, width.toLong).toInt
  }

  /** Point estimate: min over the depth rows of the flattened
    * depth×width counter array (CMS guarantee: true ≤ est). A register
    * array that is not exactly depth×width longs can only mean the
    * probe is wired to a different build: it fails with the wiring
    * spelled out rather than return a value that reads as a count. */
  def cmsEstimate(sketch: ArrayData, s: UTF8String, depth: Int, width: Int): Long = {
    if (sketch.numElements() != depth * width)
      throw new IllegalArgumentException(
        s"cms_estimate layout mismatch: probe declared ${depth}x$width " +
          s"(${depth * width} registers) but the sketch has ${sketch.numElements()} — " +
          "build and probe must share one (depth, width) pair")
    val key = if (s == null) UTF8String.EMPTY_UTF8 else s
    var est = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = sketch.getLong(r * width + cmsIndex(key, r, width))
      if (c < est) est = c
      r += 1
    }
    est
  }

  /** Bloom-filter membership of a BIGINT key (false positives
    * possible, false negatives not). */
  def bloomContainsLong(x: Long, filter: BloomFilter): Boolean = filter.mightContainLong(x)

  def hyperplane(e: ArrayData, planes: Array[Array[Double]],
                 bitsPerBand: Int): ArrayData = {
    val dim = e.numElements()
    val bands = new Array[Long](planes.length / bitsPerBand)
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      var dot = 0.0
      var i = 0
      val n = math.min(dim, plane.length)
      while (i < n) { dot += e.getDouble(i) * plane(i); i += 1 }
      if (dot > 0) bands(p / bitsPerBand) |= (1L << (p % bitsPerBand))
      p += 1
    }
    new GenericArrayData(bands)
  }
}
