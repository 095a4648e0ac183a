package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.model.{Geometry, MaskTransformResult}

/** Column-level wrappers over the pure geo functions (SURVEY §2.6 A2,
  * F11, F12). Scalar UDFs for the genuinely custom math; everything
  * simpler (bounds checks, counts) stays as built-in expressions in
  * Validate so it remains inside whole-stage codegen. Each UDF carries
  * a name (`kinks`, `area_m2`, `mask_to_geometry`), so plans and plan
  * tests can tell them apart. */
object GeoUdfs {

  /** Geodesic WGS84 area in m², rounded to whole m²
    * (turf.area + Math.round semantics, /root/reference/mapwarper.js:364).
    * A malformed point propagates NaN through turf.area in JS, and
    * Math.round(NaN) is NaN — serialized as null. Scala's
    * math.round(NaN) is 0, so the NaN case must be caught BEFORE the
    * round or a broken geometry silently reports a 0 m² area
    * (round-14 review). */
  val areaM2Udf: UserDefinedFunction =
    udf((coords: Seq[Seq[Seq[Double]]]) =>
      if (coords == null) null
      else {
        val a = Geo.polygonArea(coords)
        if (a.isNaN) null else java.lang.Long.valueOf(math.round(a))
      }).withName("area_m2")

  /** Count of polygon self-intersections (turf.kinks semantics,
    * /root/reference/mapwarper.js:250-257). */
  val kinksUdf: UserDefinedFunction =
    udf((coords: Seq[Seq[Seq[Double]]]) =>
      if (coords == null) null else Integer.valueOf(Geo.selfIntersections(coords)))
      .withName("kinks")

  /** F12: pixel mask + GCPs → lon/lat GeoJSON Polygon via the GCP
    * transform the map's transform_options requests — the GDAL-free
    * re-implementation of mask-to-geojson
    * (/root/reference/mapwarper.js:84-97), supporting the same model
    * family GDAL warps with: polynomial order 1/2/3 and thin plate
    * spline. The mask string is "x1,y1 x2,y2 …" pixel pairs; errors
    * (unknown spec, too few GCPs, degenerate fit, parse failure) are
    * returned in-band (maskError channel), never thrown. */
  val maskToGeometryUdf: UserDefinedFunction =
    udf((mask: String, gcps: Seq[Seq[Double]], transform: String) =>
      maskToGeometry(mask, gcps, transform)).withName("mask_to_geometry")

  /** transform_options spec → fit arity: Right(order 1/2/3), Right(0)
    * for TPS, Left(error) for anything unrecognized. The accepted
    * spellings cover mapwarper's stored values (bare order numbers)
    * plus common aliases; blank/auto means order 1, GDAL's default for
    * small GCP counts. */
  private def parseTransform(transform: String): Either[String, Int] =
    Option(transform).map(_.trim.toLowerCase).getOrElse("") match {
      case "" | "auto" | "1" | "p1" | "poly1" | "order1" => Right(1)
      case "2" | "p2" | "poly2" | "order2" => Right(2)
      case "3" | "p3" | "poly3" | "order3" => Right(3)
      case "tps" => Right(0)
      case other =>
        Left(s"unsupported transform_options '$other': expected order 1/2/3 or tps")
    }

  def maskToGeometry(mask: String, gcps: Seq[Seq[Double]],
                     transform: String = null): MaskTransformResult = {
    if (mask == null || mask.trim.isEmpty)
      return MaskTransformResult(null, "empty mask")
    val spec = parseTransform(transform) match {
      case Left(err) => return MaskTransformResult(null, err)
      case Right(s) => s
    }
    val minGcps = if (spec == 0) 3 else Geo.polyTermCount(spec)
    if (gcps == null || gcps.length < minGcps)
      return MaskTransformResult(null,
        s"need >= $minGcps gcps, got ${if (gcps == null) 0 else gcps.length}")
    try {
      val pts = mask.trim.split("\\s+").toSeq.map { pair =>
        val xy = pair.split(",")
        Seq(xy(0).toDouble, xy(1).toDouble)
      }
      if (pts.length < 3) return MaskTransformResult(null, s"mask has ${pts.length} points")
      val closed = if (pts.head == pts.last) pts else pts :+ pts.head
      val warped: Option[Seq[Seq[Seq[Double]]]] =
        if (spec == 0) Geo.gcpTpsFit(gcps).map(m => Geo.applyTps(m, Seq(closed)))
        else if (spec == 1) Geo.gcpAffineFit(gcps).map(f => Seq(Geo.applyAffine(f, Seq(closed)).head))
        else Geo.gcpPolyFit(gcps, spec).map(m => Geo.applyPoly(m, Seq(closed)))
      warped match {
        case None => MaskTransformResult(null, "degenerate gcps: transform fit unsolvable")
        case Some(rings) => MaskTransformResult(Geometry("Polygon", rings), null)
      }
    } catch {
      case e: Exception => MaskTransformResult(null, s"mask parse failed: ${e.getMessage}")
    }
  }

  def areaM2(c: Column): Column = areaM2Udf(c)
  def kinks(c: Column): Column = kinksUdf(c)
  def maskToGeom(mask: Column, gcps: Column, transform: Column): Column =
    maskToGeometryUdf(mask, gcps, transform)
}
