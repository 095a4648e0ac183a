package graft.geo

/** Pure geospatial functions for the mapwarper pipeline (SURVEY §2.6).
  *
  * All algorithms are re-implementations of public, documented formulas:
  *  - geodesic polygon area: the WGS84 spherical-excess approximation
  *    used by `turf.area` / Mapbox geojson-area (reference dependency at
  *    /root/reference/package.json:21) — published in Chamberlain &
  *    Duquette, "Some algorithms for polygons on a sphere" (JPL, 2007).
  *  - self-intersection (kink) detection: classic O(n²) pairwise
  *    segment-intersection sweep, semantics of `turf.kinks` (reference
  *    dependency /root/reference/package.json:23, used at
  *    /root/reference/mapwarper.js:250-257).
  *  - GCP fitting: the full GDAL warp model family the reference
  *    invokes through mask-to-geojson (/root/reference/mapwarper.js:
  *    84-97): polynomial order 1 (affine) / 2 / 3 by least squares on
  *    the normal equations, and thin plate spline (`-tps`) via the
  *    standard radial-basis interpolation system (Bookstein 1989,
  *    "Principal warps" — the same U(r) = r² log r² kernel GDAL's
  *    tps transformer uses). All solved with a dense Gaussian
  *    elimination here — no native libs; the systems are tiny
  *    (≤ 10×10 for polynomials, (n+3)×(n+3) for TPS with n = #GCPs,
  *    dozens at most for scanned-map control points).
  *
  * Everything operates on GeoJSON-shaped nested arrays:
  * ring = Seq[Seq[Double]] of [lon, lat] points (closed: first == last).
  */
object Geo {

  val WGS84Radius = 6378137.0

  private def rad(x: Double): Double = x * math.Pi / 180.0

  /** Coordinate accessor with the reference's JS semantics for
    * malformed points: a missing element (`p[0]` on a short/empty
    * array) is `undefined` in JS, and every arithmetic or comparison
    * involving it behaves like NaN — geojson-area yields NaN,
    * turf.kinks detects nothing, bounds checks are false. The Scala
    * translation previously THREW (IndexOutOfBounds / NoSuchElement)
    * on the same inputs, killing the whole job inside a UDF before
    * validation could route the record (round-14 review). NaN
    * reproduces the JS propagation exactly for that case: all
    * comparisons with NaN are false on both sides of the translation.
    *
    * A literal NULL point is the one deliberate divergence: the
    * reference JS would throw a TypeError on `p[0]` of null and crash
    * the whole process, whereas here null propagates as NaN too — a
    * strict superset that dead-letters the record instead of crashing
    * the job, which is the safer behavior at cluster scale. */
  private def coord(p: Seq[Double], i: Int): Double =
    if (p == null || p.length <= i) Double.NaN else p(i)

  /** Spherical ring area (signed) — Chamberlain–Duquette approximation
    * on the WGS84 sphere; same semantics as Mapbox geojson-area
    * (malformed points propagate NaN, as JS undefined does). One pass
    * over the ring's iterator, so it is O(v) for any `Seq` (Spark hands
    * UDFs `List`s, whose `apply(i)` is O(i)); each vertex's sine is
    * computed once and reused for both edges that touch it. A null
    * ring has no points to measure and is NaN, like a ring of
    * malformed points (the reference would throw on it). */
  def ringArea(ring: Seq[Seq[Double]]): Double = {
    if (ring == null) return Double.NaN
    if (ring.length <= 2) return 0.0
    val it = ring.iterator
    val first = it.next()
    val x0 = coord(first, 0)
    val sin0 = math.sin(rad(coord(first, 1)))
    var area = 0.0
    var px = x0
    var pSin = sin0
    while (it.hasNext) {
      val p = it.next()
      val x = coord(p, 0)
      val pointSin = math.sin(rad(coord(p, 1)))
      area += (rad(x) - rad(px)) * (2 + pSin + pointSin)
      px = x; pSin = pointSin
    }
    area += (rad(x0) - rad(px)) * (2 + pSin + sin0) // closing edge back to the first point
    area * WGS84Radius * WGS84Radius / 2.0
  }

  /** Geodesic polygon area in m²: |outer ring| − Σ|holes|
    * (turf.area semantics for a GeoJSON Polygon's coordinates). */
  def polygonArea(coordinates: Seq[Seq[Seq[Double]]]): Double =
    coordinates match {
      case outer +: holes =>
        math.abs(ringArea(outer)) - holes.map(h => math.abs(ringArea(h))).sum
      case _ => 0.0
    }

  // NOTE: there is deliberately no `areaM2` Long helper here. The
  // rounded-to-whole-m² form (Math.round(turf.area(...)),
  // /root/reference/mapwarper.js:364) lives ONLY in GeoUdfs.areaM2,
  // which guards the NaN-from-malformed-geometry case by returning
  // null — a bare math.round(polygonArea(...)) silently rounds NaN
  // to 0 m², the exact bug class the round-14 geo sweep closed.

  /** lon ∈ [-180, 180] ∧ lat ∈ [-90, 90]
    * (/root/reference/mapwarper.js:261-266). */
  def coordValid(lon: Double, lat: Double): Boolean =
    lon >= -180.0 && lon <= 180.0 && lat >= -90.0 && lat <= 90.0

  def allCoordsValid(coordinates: Seq[Seq[Seq[Double]]]): Boolean =
    coordinates.forall(r => r != null && r.forall(p => coordValid(coord(p, 0), coord(p, 1))))

  /** A ring's coordinates as primitive x/y arrays, read in one pass
    * through [[coord]] (malformed and null points become NaN). The kink
    * check indexes these arrays instead of the ring itself: Spark hands
    * UDFs `List`s, whose `apply(i)` is O(i), so indexing the ring
    * directly turned the O(v²) check into O(v³). A null ring yields
    * empty arrays: like a ring of malformed points, it has no kinks. */
  private def ringXY(ring: Seq[Seq[Double]]): (Array[Double], Array[Double]) = {
    if (ring == null) return (Array.emptyDoubleArray, Array.emptyDoubleArray)
    val n = ring.length
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    val it = ring.iterator
    var i = 0
    while (i < n) {
      val p = it.next()
      xs(i) = coord(p, 0); ys(i) = coord(p, 1)
      i += 1
    }
    (xs, ys)
  }

  /** Proper-intersection test between segments p1-p2 and p3-p4,
    * including collinear-overlap and endpoint-touch cases, but the
    * caller excludes adjacent segments (which legitimately share an
    * endpoint in a ring). */
  private def segmentsIntersect(x1: Double, y1: Double, x2: Double, y2: Double,
                                x3: Double, y3: Double, x4: Double, y4: Double): Boolean = {
    def cross(ox: Double, oy: Double, ax: Double, ay: Double, bx: Double, by: Double): Double =
      (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)
    val d1 = cross(x3, y3, x4, y4, x1, y1)
    val d2 = cross(x3, y3, x4, y4, x2, y2)
    val d3 = cross(x1, y1, x2, y2, x3, y3)
    val d4 = cross(x1, y1, x2, y2, x4, y4)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) return true
    def onSeg(ax: Double, ay: Double, bx: Double, by: Double, px: Double, py: Double): Boolean =
      math.min(ax, bx) <= px && px <= math.max(ax, bx) &&
      math.min(ay, by) <= py && py <= math.max(ay, by)
    (d1 == 0 && onSeg(x3, y3, x4, y4, x1, y1)) ||
    (d2 == 0 && onSeg(x3, y3, x4, y4, x2, y2)) ||
    (d3 == 0 && onSeg(x1, y1, x2, y2, x3, y3)) ||
    (d4 == 0 && onSeg(x1, y1, x2, y2, x4, y4))
  }

  /** Count of self-intersection features, turf.kinks semantics: turf
    * compares every ORDERED pair of segments (i vs j AND j vs i,
    * /root/reference/package.json:23 → @turf/kinks), so each crossing
    * contributes 2 features — the reference's log message embeds that
    * feature count, hence the ×2 here. Adjacent segments (sharing a
    * ring vertex) and the ring-closing adjacency are skipped. O(v²)
    * per ring of v vertices, whatever `Seq` the ring arrives as. */
  def selfIntersections(coordinates: Seq[Seq[Seq[Double]]]): Int = {
    var count = 0
    for (ring <- coordinates) {
      val (xs, ys) = ringXY(ring)
      val n = xs.length - 1 // closed ring: last point == first
      var i = 0
      while (i < n) {
        var j = i + 2
        while (j < n) {
          val adjacentViaClosure = i == 0 && j == n - 1
          if (!adjacentViaClosure &&
              segmentsIntersect(xs(i), ys(i), xs(i + 1), ys(i + 1),
                                xs(j), ys(j), xs(j + 1), ys(j + 1)))
            count += 2 // one kink feature per segment ordering
          j += 1
        }
        i += 1
      }
    }
    count
  }

  /** Dense Gaussian elimination with partial pivoting; None on a
    * (near-)singular system. Clones its inputs. */
  private[geo] def solveN(a: Array[Array[Double]], b: Array[Double]): Option[Array[Double]] = {
    val n = b.length
    val aa = a.map(_.clone()); val bb = b.clone()
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(aa(r)(col)) > math.abs(aa(piv)(col))) piv = r; r += 1 }
      if (math.abs(aa(piv)(col)) < 1e-12) return None
      val tmp = aa(col); aa(col) = aa(piv); aa(piv) = tmp
      val tb = bb(col); bb(col) = bb(piv); bb(piv) = tb
      r = col + 1
      while (r < n) {
        val f = aa(r)(col) / aa(col)(col)
        var c = col
        while (c < n) { aa(r)(c) -= f * aa(col)(c); c += 1 }
        bb(r) -= f * bb(col)
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = bb(i)
      var j = i + 1
      while (j < n) { s -= aa(i)(j) * x(j); j += 1 }
      x(i) = s / aa(i)(i)
      i -= 1
    }
    Some(x)
  }

  // --- GCP transforms (GDAL -order 1/2/3 and -tps) --------------------

  /** Monomial count of a 2-D polynomial of `order`: 3 / 6 / 10. */
  def polyTermCount(order: Int): Int = (order + 1) * (order + 2) / 2

  /** Monomial basis [1, x, y, x², xy, y², x³, x²y, xy², y³] truncated
    * to the order's term count — GDAL's polynomial warp basis. */
  private def polyTerms(x: Double, y: Double, order: Int): Array[Double] = {
    val t = new Array[Double](polyTermCount(order))
    t(0) = 1.0; t(1) = x; t(2) = y
    if (order >= 2) { t(3) = x * x; t(4) = x * y; t(5) = y * y }
    if (order >= 3) { t(6) = x * x * x; t(7) = x * x * y; t(8) = x * y * y; t(9) = y * y * y }
    t
  }

  /** Polynomial GCP model: per-dimension weights in [[polyTerms]]
    * order over NORMALIZED pixel coordinates ((x − xOff)/scale). The
    * normalization is part of the model: raw scanned-map pixels run
    * to 10³-10⁴, so order-3 monomials hit 10⁹-10¹² and the normal
    * equations (squared again: 10¹⁸+) lose all double precision —
    * centering and scaling to O(1) keeps the system conditioned (the
    * same trick GDAL applies before its polynomial solve). */
  final case class PolyModel(order: Int, xOff: Double, yOff: Double, scale: Double,
                             lonW: Array[Double], latW: Array[Double])

  /** Polynomial GCP fit of order 1 (affine) / 2 / 3 by least squares
    * (normal equations AᵀA w = Aᵀv per target dimension, on normalized
    * coordinates). GCP rows are [pixelX, pixelY, lat, lon] (the
    * reference's gcps shape, /root/reference/mapwarper.js:95 +
    * mapwarper.dataset.json:123-149). None when there are fewer GCPs
    * than terms or the configuration is degenerate (e.g. collinear
    * points). */
  def gcpPolyFit(gcps: Seq[Seq[Double]], order: Int): Option[PolyModel] = {
    require(order >= 1 && order <= 3, s"polynomial order must be 1..3, got $order")
    val k = polyTermCount(order)
    if (gcps.length < k) return None
    val xOff = gcps.map(_.head).sum / gcps.length
    val yOff = gcps.map(_(1)).sum / gcps.length
    val spread = gcps.map(g => math.max(math.abs(g.head - xOff), math.abs(g(1) - yOff))).max
    val scale = if (spread > 0) spread else 1.0
    val ata = Array.fill(k)(new Array[Double](k))
    val atLon = new Array[Double](k)
    val atLat = new Array[Double](k)
    gcps.foreach { g =>
      val t = polyTerms((g.head - xOff) / scale, (g(1) - yOff) / scale, order)
      val lat = g(2); val lon = g(3)
      var i = 0
      while (i < k) {
        var j = 0
        while (j < k) { ata(i)(j) += t(i) * t(j); j += 1 }
        atLon(i) += t(i) * lon
        atLat(i) += t(i) * lat
        i += 1
      }
    }
    for {
      lonW <- solveN(ata, atLon)
      latW <- solveN(ata, atLat)
    } yield PolyModel(order, xOff, yOff, scale, lonW, latW)
  }

  /** Applies a polynomial model to pixel-space rings → lon/lat rings. */
  def applyPoly(m: PolyModel, pixelRings: Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Double]]] =
    pixelRings.map(_.map { p =>
      val t = polyTerms((p.head - m.xOff) / m.scale, (p(1) - m.yOff) / m.scale, m.order)
      var lon = 0.0; var lat = 0.0; var i = 0
      while (i < t.length) { lon += m.lonW(i) * t(i); lat += m.latW(i) * t(i); i += 1 }
      Seq(lon, lat)
    })

  /** Thin-plate-spline model: source points + per-dimension weights
    * laid out [w_1..w_n, a0, ax, ay] (Bookstein's affine + warp). */
  final case class TpsModel(px: Array[Double], py: Array[Double],
                            lonW: Array[Double], latW: Array[Double])

  /** TPS kernel U as a function of squared distance: r² log r²
    * (0 at r = 0) — constant factors are absorbed into the weights. */
  private def tpsU(r2: Double): Double = if (r2 <= 0.0) 0.0 else r2 * math.log(r2)

  /** Thin-plate-spline GCP fit (GDAL `-tps`): exact interpolation
    * through every control point with minimal bending energy. Solves
    * the standard (n+3)×(n+3) system [K P; Pᵀ 0][w; a] = [v; 0] per
    * target dimension. Duplicate pixel coordinates are collapsed
    * (first wins — K would be singular otherwise); needs ≥ 3 distinct
    * non-collinear points. */
  def gcpTpsFit(gcps: Seq[Seq[Double]]): Option[TpsModel] = {
    val distinct = gcps.groupBy(g => (g.head, g(1))).map(_._2.head).toSeq
      .sortBy(g => (g.head, g(1))) // deterministic regardless of input order
    val n = distinct.length
    if (n < 3) return None
    val px = distinct.map(_.head).toArray
    val py = distinct.map(_(1)).toArray
    val m = n + 3
    val a = Array.fill(m)(new Array[Double](m))
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        val dx = px(i) - px(j); val dy = py(i) - py(j)
        a(i)(j) = tpsU(dx * dx + dy * dy)
        j += 1
      }
      a(i)(n) = 1.0; a(i)(n + 1) = px(i); a(i)(n + 2) = py(i)
      a(n)(i) = 1.0; a(n + 1)(i) = px(i); a(n + 2)(i) = py(i)
      i += 1
    }
    val bLon = new Array[Double](m)
    val bLat = new Array[Double](m)
    i = 0
    while (i < n) { bLat(i) = distinct(i)(2); bLon(i) = distinct(i)(3); i += 1 }
    for {
      lonW <- solveN(a, bLon)
      latW <- solveN(a, bLat)
    } yield TpsModel(px, py, lonW, latW)
  }

  /** Applies a TPS model to pixel-space rings → lon/lat rings. */
  def applyTps(model: TpsModel, pixelRings: Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Double]]] = {
    val n = model.px.length
    def eval(w: Array[Double], x: Double, y: Double): Double = {
      var s = w(n) + w(n + 1) * x + w(n + 2) * y
      var i = 0
      while (i < n) {
        val dx = x - model.px(i); val dy = y - model.py(i)
        s += w(i) * tpsU(dx * dx + dy * dy)
        i += 1
      }
      s
    }
    pixelRings.map(_.map(p =>
      Seq(eval(model.lonW, p.head, p(1)), eval(model.latW, p.head, p(1)))))
  }
}
