package graft

import scala.collection.immutable.ArraySeq

import org.scalatest.funsuite.AnyFunSuite

import graft.geo.{Geo, GeoUdfs}

class GeoSpec extends AnyFunSuite {

  // ~0.1°×0.1° square near NYC: closed ring, [lon, lat]
  val square: Seq[Seq[Double]] = Seq(
    Seq(-74.0, 40.8), Seq(-73.9, 40.8), Seq(-73.9, 40.7),
    Seq(-74.0, 40.7), Seq(-74.0, 40.8))

  test("geodesic area of 0.1-degree square near 40.75N is ~93.7 km2") {
    val a = Geo.polygonArea(Seq(square))
    // 0.1° lon at 40.75N ≈ 8.43 km; 0.1° lat ≈ 11.1 km ⇒ ~93.6e6 m²
    assert(a > 88e6 && a < 100e6, s"area was $a")
  }

  test("area is invariant under ring rotation") {
    val rotated = square.drop(1) ++ Seq(square(1)) // rotate closed ring
    val r = rotated.dropRight(1)
    val closed = (r.drop(2) ++ r.take(2)) :+ r(2)
    assert(math.abs(Geo.polygonArea(Seq(square)) -
      math.abs(Geo.ringArea(closed))) / Geo.polygonArea(Seq(square)) < 1e-9)
  }

  test("area of polygon with hole subtracts the hole") {
    val hole = Seq(Seq(-73.98, 40.78), Seq(-73.92, 40.78), Seq(-73.92, 40.72),
                   Seq(-73.98, 40.72), Seq(-73.98, 40.78))
    val withHole = Geo.polygonArea(Seq(square, hole))
    assert(withHole < Geo.polygonArea(Seq(square)))
    assert(math.abs(withHole - (Geo.polygonArea(Seq(square)) - Geo.polygonArea(Seq(hole)))) < 1.0)
  }

  test("degenerate rings have zero area") {
    assert(Geo.ringArea(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0))) == 0.0)
  }

  test("square has no self-intersections; bowtie does") {
    assert(Geo.selfIntersections(Seq(square)) == 0)
    val bowtie = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.0, 0.0))
    assert(Geo.selfIntersections(Seq(bowtie)) > 0)
  }

  test("coordinate validity bounds") {
    assert(Geo.coordValid(-180, -90) && Geo.coordValid(180, 90) && Geo.coordValid(0, 0))
    assert(!Geo.coordValid(-180.01, 0) && !Geo.coordValid(0, 90.5))
    assert(Geo.allCoordsValid(Seq(square)))
    assert(!Geo.allCoordsValid(Seq(Seq(Seq(200.0, 40.0), Seq(0.0, 0.0)))))
  }

  test("malformed points behave like JS undefined: NaN math, no crash") {
    // a point with a missing element is `undefined` in the reference's
    // JS — geojson-area yields NaN, turf.kinks finds nothing, bounds
    // checks are false; the Scala translation used to THROW instead
    val shortPoint = Seq(Seq(0.0, 0.0), Seq(10.0), Seq(10.0, 10.0),
                         Seq(0.0, 10.0), Seq(0.0, 0.0))
    val nullPoint = Seq(Seq(0.0, 0.0), null, Seq(10.0, 10.0),
                        Seq(0.0, 10.0), Seq(0.0, 0.0))
    assert(Geo.polygonArea(Seq(shortPoint)).isNaN)
    assert(Geo.polygonArea(Seq(nullPoint)).isNaN)
    assert(Geo.selfIntersections(Seq(shortPoint)) == 0)
    assert(Geo.selfIntersections(Seq(nullPoint)) == 0)
    assert(!Geo.allCoordsValid(Seq(shortPoint)))
    assert(!Geo.allCoordsValid(Seq(nullPoint)))
  }

  test("areaM2 UDF: NaN area surfaces as null, never a silent 0 m2") {
    // JS Math.round(NaN) is NaN (JSON null); Scala math.round(NaN) is
    // 0 — the UDF must catch NaN BEFORE the round (round-14 review)
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      Seq(square),                                             // healthy
      Seq(Seq(Seq(0.0, 0.0), Seq(10.0), Seq(0.0, 10.0), Seq(0.0, 0.0)))) // malformed
      .toDF("coords")
    val out = df.select(GeoUdfs.areaM2(org.apache.spark.sql.functions.col("coords")))
      .collect()
    assert(!out(0).isNullAt(0) && out(0).getLong(0) > 0)
    assert(out(1).isNullAt(0), "malformed geometry must area to null")
  }

  test("affine GCP fit recovers an exact affine mapping") {
    // lon = 1e-4·x − 74, lat = −1.25e-4·y + 40.8  (gcps are [x, y, lat, lon])
    val gcps = Seq(
      Seq(0.0, 0.0, 40.8, -74.0), Seq(1000.0, 0.0, 40.8, -73.9),
      Seq(1000.0, 800.0, 40.7, -73.9), Seq(0.0, 800.0, 40.7, -74.0))
    val fit = Geo.gcpAffineFit(gcps).get
    val out = Geo.applyAffine(fit, Seq(Seq(Seq(500.0, 400.0))))
    assert(math.abs(out.head.head.head - (-73.95)) < 1e-9)
    assert(math.abs(out.head.head(1) - 40.75) < 1e-9)
  }

  test("affine fit rejects < 3 or collinear gcps") {
    assert(Geo.gcpAffineFit(Seq(Seq(0.0, 0.0, 1.0, 1.0), Seq(1.0, 1.0, 2.0, 2.0))).isEmpty)
    val collinear = Seq(
      Seq(0.0, 0.0, 1.0, 1.0), Seq(1.0, 1.0, 2.0, 2.0), Seq(2.0, 2.0, 3.0, 3.0))
    assert(Geo.gcpAffineFit(collinear).isEmpty)
  }

  test("order-2 polynomial fit recovers a planted quadratic exactly") {
    // lon = -74 + 1e-4·x + 2e-8·x², lat = 40.8 − 1.25e-4·y + 3e-8·xy
    def lon(x: Double, y: Double) = -74.0 + 1e-4 * x + 2e-8 * x * x
    def lat(x: Double, y: Double) = 40.8 - 1.25e-4 * y + 3e-8 * x * y
    val pts = for (x <- Seq(0.0, 300.0, 700.0, 1000.0); y <- Seq(0.0, 400.0, 800.0))
      yield Seq(x, y, lat(x, y), lon(x, y))
    val fit = Geo.gcpPolyFit(pts, 2).get
    val out = Geo.applyPoly(fit, Seq(Seq(Seq(512.0, 333.0)))).head.head
    assert(math.abs(out.head - lon(512.0, 333.0)) < 1e-9, s"lon ${out.head}")
    assert(math.abs(out(1) - lat(512.0, 333.0)) < 1e-9, s"lat ${out(1)}")
  }

  test("order-3 polynomial fit recovers a planted cubic exactly") {
    def lon(x: Double, y: Double) = -74.0 + 1e-4 * x + 5e-12 * x * x * x
    def lat(x: Double, y: Double) = 40.8 - 1.25e-4 * y + 4e-12 * x * y * y
    // a full 4×4 grid: order-3 needs ≥ 4 distinct values PER AXIS or
    // the cubic column (y³) is linearly dependent and the fit is
    // rightly rejected as rank-deficient
    val pts = for (x <- Seq(0.0, 250.0, 500.0, 1000.0); y <- Seq(0.0, 266.0, 533.0, 800.0))
      yield Seq(x, y, lat(x, y), lon(x, y))
    val fit = Geo.gcpPolyFit(pts, 3).get
    val out = Geo.applyPoly(fit, Seq(Seq(Seq(637.0, 215.0)))).head.head
    assert(math.abs(out.head - lon(637.0, 215.0)) < 1e-9)
    assert(math.abs(out(1) - lat(637.0, 215.0)) < 1e-9)
  }

  test("polynomial fit needs at least as many gcps as terms") {
    val five = (1 to 5).map(i => Seq(i * 37.0 % 7, i * 13.0 % 5, i * 1.0, i * 2.0))
    assert(Geo.gcpPolyFit(five, 2).isEmpty)   // 6 terms
    assert(Geo.gcpPolyFit(five ++ Seq(Seq(9.0, 3.0, 1.0, 2.0)), 3).isEmpty) // 10 terms
  }

  test("TPS interpolates every control point exactly and matches affine on affine data") {
    // non-affine control data: a planted local warp on one corner
    val gcps = Seq(
      Seq(0.0, 0.0, 40.8, -74.0), Seq(1000.0, 0.0, 40.8, -73.9),
      Seq(1000.0, 800.0, 40.7, -73.9), Seq(0.0, 800.0, 40.7, -74.0),
      Seq(500.0, 400.0, 40.76, -73.96)) // center pulled off the affine fit
    val m = Geo.gcpTpsFit(gcps).get
    gcps.foreach { g =>
      val out = Geo.applyTps(m, Seq(Seq(Seq(g.head, g(1))))).head.head
      assert(math.abs(out.head - g(3)) < 1e-8, s"lon at (${g.head},${g(1)}): ${out.head}")
      assert(math.abs(out(1) - g(2)) < 1e-8, s"lat at (${g.head},${g(1)}): ${out(1)}")
    }
    // exactly-affine control points: TPS must reproduce the affine map
    // (zero bending energy solution) at a non-control point too
    val affineGcps = Seq(
      Seq(0.0, 0.0, 40.8, -74.0), Seq(1000.0, 0.0, 40.8, -73.9),
      Seq(1000.0, 800.0, 40.7, -73.9), Seq(0.0, 800.0, 40.7, -74.0))
    val mA = Geo.gcpTpsFit(affineGcps).get
    val out = Geo.applyTps(mA, Seq(Seq(Seq(250.0, 600.0)))).head.head
    assert(math.abs(out.head - (-73.975)) < 1e-6)
    assert(math.abs(out(1) - 40.725) < 1e-6)
  }

  test("maskToGeometry dispatches on transform spec; unknown specs error in-band") {
    val gcps = Seq(
      Seq(0.0, 0.0, 40.8, -74.0), Seq(1000.0, 0.0, 40.8, -73.9),
      Seq(1000.0, 800.0, 40.7, -73.9), Seq(0.0, 800.0, 40.7, -74.0))
    val tps = GeoUdfs.maskToGeometry("0,0 1000,0 1000,800 0,800", gcps, "tps")
    assert(tps.error == null && tps.geometry.`type` == "Polygon")
    // order-2 with only 4 gcps → in-band error naming the requirement
    val p2 = GeoUdfs.maskToGeometry("0,0 1000,0 1000,800 0,800", gcps, "2")
    assert(p2.error != null && p2.error.contains("need >= 6"))
    val unk = GeoUdfs.maskToGeometry("0,0 1000,0 1000,800 0,800", gcps, "projective")
    assert(unk.error != null && unk.error.contains("projective"))
    // order-2 with enough gcps on a quadratic surface → geometry
    def lonF(x: Double, y: Double) = -74.0 + 1e-4 * x + 2e-8 * x * x
    def latF(x: Double, y: Double) = 40.8 - 1.25e-4 * y
    val nine = for (x <- Seq(0.0, 500.0, 1000.0); y <- Seq(0.0, 400.0, 800.0))
      yield Seq(x, y, latF(x, y), lonF(x, y))
    val p2ok = GeoUdfs.maskToGeometry("0,0 1000,0 1000,800 0,800", nine, "order2")
    assert(p2ok.error == null)
    assert(math.abs(p2ok.geometry.coordinates.head(1).head - lonF(1000, 0)) < 1e-9)
  }

  test("maskToGeometry end-to-end: pixel mask + gcps -> lon/lat polygon") {
    val gcps = Seq(
      Seq(0.0, 0.0, 40.8, -74.0), Seq(1000.0, 0.0, 40.8, -73.9),
      Seq(1000.0, 800.0, 40.7, -73.9))
    val res = GeoUdfs.maskToGeometry("0,0 1000,0 1000,800 0,800", gcps)
    assert(res.error == null)
    assert(res.geometry.`type` == "Polygon")
    val ring = res.geometry.coordinates.head
    assert(ring.length == 5) // auto-closed
    assert(math.abs(ring.head.head - (-74.0)) < 1e-9)
    assert(math.abs(ring(2)(1) - 40.7) < 1e-9)
  }

  test("maskToGeometry error channel: too few gcps, bad mask") {
    assert(GeoUdfs.maskToGeometry("0,0 1,0 1,1", Seq(Seq(0.0, 0.0, 1.0, 1.0))).error != null)
    assert(GeoUdfs.maskToGeometry("", Seq()).error != null)
    assert(GeoUdfs.maskToGeometry("not,numbers oops", Seq(
      Seq(0.0, 0.0, 40.8, -74.0), Seq(1000.0, 0.0, 40.8, -73.9),
      Seq(1000.0, 800.0, 40.7, -73.9))).error != null)
  }

  test("kernels give identical results for List, Vector and ArraySeq rings") {
    // Spark passes Seq UDF arguments in as List, whose apply(i) is O(i);
    // the kernels must read any Seq the same way, malformed points included
    type Poly = Seq[Seq[Seq[Double]]]
    val asList: Poly => Poly = _.map(_.map(p => if (p == null) null else p.toList).toList).toList
    val asVector: Poly => Poly =
      _.map(_.map(p => if (p == null) null else p.toVector).toVector).toVector
    val asArraySeq: Poly => Poly =
      _.map(_.map(p => if (p == null) null else ArraySeq.from(p)).to(ArraySeq)).to(ArraySeq)
    val bowtie = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.0, 0.0))
    val hole = Seq(Seq(-73.98, 40.78), Seq(-73.92, 40.78), Seq(-73.92, 40.72),
                   Seq(-73.98, 40.72), Seq(-73.98, 40.78))
    val shortPoint = Seq(Seq(0.0, 0.0), Seq(10.0), Seq(10.0, 10.0), Seq(0.0, 10.0), Seq(0.0, 0.0))
    val nullPoint = Seq(Seq(0.0, 0.0), null, Seq(10.0, 10.0), Seq(0.0, 10.0), Seq(0.0, 0.0))
    val polys: Seq[(String, Poly)] = Seq("square" -> Seq(square), "bowtie" -> Seq(bowtie),
      "hole" -> Seq(square, hole), "shortPoint" -> Seq(shortPoint), "nullPoint" -> Seq(nullPoint))
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    for ((name, poly) <- polys) {
      val forms = Seq(asList(poly), asVector(poly), asArraySeq(poly))
      val kinks = forms.map(Geo.selfIntersections)
      val rings = forms.map(p => bits(Geo.ringArea(p.head)))
      val areas = forms.map(p => bits(Geo.polygonArea(p)))
      assert(kinks.distinct.length == 1, s"$name kinks: $kinks")
      assert(rings.distinct.length == 1, s"$name ringArea: $rings")
      assert(areas.distinct.length == 1, s"$name polygonArea: $areas")
    }
    // and ringArea is bit-identical to the indexed textbook formula
    def indexedArea(ring: Seq[Seq[Double]]): Double = {
      def rad(d: Double) = d * math.Pi / 180.0
      val r = ring.toVector
      val sum = r.indices.map { i =>
        val (p1, p2) = (r(i), r((i + 1) % r.length))
        (rad(p2(0)) - rad(p1(0))) * (2 + math.sin(rad(p1(1))) + math.sin(rad(p2(1))))
      }.foldLeft(0.0)(_ + _)
      sum * Geo.WGS84Radius * Geo.WGS84Radius / 2.0
    }
    for (ring <- Seq(square, bowtie, hole))
      assert(bits(Geo.ringArea(asList(Seq(ring)).head)) == bits(indexedArea(ring)))
    assert(Geo.selfIntersections(asList(Seq(bowtie))) == 2)
    assert(Geo.polygonArea(asList(Seq(shortPoint))).isNaN)
    assert(Geo.polygonArea(asList(Seq(nullPoint))).isNaN)

    // a long List-backed ring: 2,000 seeded random points cross often
    val rnd = new scala.util.Random(7)
    val open = Seq.fill(2000)(Seq(rnd.nextDouble(), rnd.nextDouble()))
    val long: Poly = Seq(open :+ open.head)
    val listKinks = Geo.selfIntersections(asList(long))
    assert(listKinks > 0)
    assert(listKinks == Geo.selfIntersections(asVector(long)))
  }
}
