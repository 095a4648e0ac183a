package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.geo.Geo

/** Property-based tests for the pure geo kernel (SURVEY §5.3). */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  // star-shaped (hence simple, non-self-intersecting) rings around a center
  val ringGen: Gen[Seq[Seq[Double]]] = for {
    cx <- Gen.choose(-90.0, 90.0)
    cy <- Gen.choose(-45.0, 45.0)
    n <- Gen.choose(3, 12)
    radii <- Gen.listOfN(n, Gen.choose(0.01, 2.0))
  } yield {
    val pts = radii.zipWithIndex.map { case (r, i) =>
      val a = 2 * math.Pi * i / n
      Seq(cx + r * math.cos(a), cy + r * math.sin(a))
    }
    pts :+ pts.head
  }

  test("polygon area is non-negative for simple rings") {
    check(Prop.forAll(ringGen) { ring => Geo.polygonArea(Seq(ring)) >= 0.0 })
  }

  test("ring area magnitude is invariant under starting-point rotation") {
    check(Prop.forAll(ringGen, Gen.choose(1, 10)) { (ring, k) =>
      val open = ring.dropRight(1)
      val rot = open.drop(k % open.length) ++ open.take(k % open.length)
      val closed = rot :+ rot.head
      val a = math.abs(Geo.ringArea(ring))
      val b = math.abs(Geo.ringArea(closed))
      a == 0.0 || math.abs(a - b) / math.max(a, 1.0) < 1e-9
    })
  }

  test("ring area magnitude is invariant under orientation reversal") {
    check(Prop.forAll(ringGen) { ring =>
      math.abs(math.abs(Geo.ringArea(ring)) - math.abs(Geo.ringArea(ring.reverse))) <=
        1e-9 * math.max(math.abs(Geo.ringArea(ring)), 1.0)
    })
  }

  test("star-shaped rings have no self-intersections") {
    check(Prop.forAll(ringGen) { ring => Geo.selfIntersections(Seq(ring)) == 0 })
  }

  val affineGen: Gen[(Double, Double, Double, Double, Double, Double)] = for {
    a <- Gen.choose(-2.0, 2.0); b <- Gen.choose(-2.0, 2.0); c <- Gen.choose(-100.0, 100.0)
    d <- Gen.choose(-2.0, 2.0); e <- Gen.choose(-2.0, 2.0); f <- Gen.choose(-100.0, 100.0)
  } yield (a, b, c, d, e, f)

  test("order-1 gcpPolyFit recovers an exact affine map from non-collinear gcps") {
    val pts = Seq((0.0, 0.0), (100.0, 0.0), (0.0, 80.0), (100.0, 80.0), (37.0, 59.0))
    check(Prop.forAll(affineGen) { case (a, b, c, d, e, f) =>
      // degenerate transforms (near-zero determinant) are excluded
      math.abs(a * e - b * d) < 1e-3 || {
        val gcps = pts.map { case (x, y) =>
          Seq(x, y, d * x + e * y + f, a * x + b * y + c) // [x, y, lat, lon]
        }
        Geo.gcpPolyFit(gcps, 1).exists { fit =>
          val got = Geo.applyPoly(fit, Seq(Seq(Seq(50.0, 40.0)))).head.head
          math.abs(got.head - (a * 50 + b * 40 + c)) < 1e-6 &&
          math.abs(got(1) - (d * 50 + e * 40 + f)) < 1e-6
        }
      }
    })
  }

  test("coordValid is the rectangle [-180,180]x[-90,90]") {
    check(Prop.forAll(Gen.choose(-400.0, 400.0), Gen.choose(-200.0, 200.0)) { (lon, lat) =>
      Geo.coordValid(lon, lat) ==
        (lon >= -180 && lon <= 180 && lat >= -90 && lat <= 90)
    })
  }
}
