package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Mapwarper, MapwarperFixture}

class MapwarperSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val out = Mapwarper.pipeline(
    Mapwarper.parseRecords(spark, MapwarperFixture.allLines)).cache()

  def objs: Seq[Row] = out.filter(col("type") === "object").select(col("obj.*")).collect().toSeq
  def logs: Seq[Row] = out.filter(col("type") === "log").select(col("obj.*")).collect().toSeq
  def rels: Seq[Row] = out.filter(col("type") === "relation").select(col("obj.*")).collect().toSeq

  /** Validation dead-letters only (layer_error logs are provenance,
    * not routing — the map still projects to an object). */
  def deadLogs: Seq[Row] = logs.filterNot(r =>
    r.getSeq[Row](r.fieldIndex("logs")).forall(_.getAs[String]("type") == "layer_error"))

  test("routing: clean maps become objects, dirty maps become logs, ineligible dropped") {
    val objIds = objs.map(_.getAs[String]("id")).toSet
    assert(objIds == Set("1", "13", "14", "15", "16", "18", "19", "20",
                         "layer-10", "layer-11", "layer-12"))
    val logIds = deadLogs.map(_.getAs[String]("id")).toSet
    assert(logIds == Set("2", "3", "4", "5", "6", "7", "8", "9", "10", "17", "21"))
    // 11 (is_atlas) and 12 (no bbox) appear nowhere
  }

  test("every getLogs rule fires with the reference's type tag") {
    val byId = logs.map(r => r.getAs[String]("id") ->
      r.getSeq[Row](r.fieldIndex("logs")).map(_.getAs[String]("type"))).toMap
    assert(byId("2") == Seq("missing_uuid"))
    assert(byId("3") == Seq("mask_coordinates_count"))
    assert(byId("4") == Seq("self_intersection"))
    assert(byId("5") == Seq("invalid_coordinates"))
    assert(byId("6") == Seq("multipolygon"))
    assert(byId("7") == Seq("mask_to_geojson"))
    assert(byId("8") == Seq("warped_but_unmasked"))
    assert(byId("9") == Seq("unwarped_but_masked"))
    assert(byId("10") == Seq("mask_missing"))
    assert(byId("17") == Seq("mask_to_geojson")) // F12 error channel
    assert(byId("21") == Seq("mask_to_geojson")) // unrecognized transform_options
  }

  test("unwarped_but_masked fires for a NULL status, matching JS !== semantics") {
    // the reference's `map.status !== 'warped'` is TRUE for undefined;
    // Spark's =!= evaluated to NULL and the rule silently never fired,
    // shipping the dirty map as a clean object (round-13 review)
    val spark = TestSpark.spark
    val lines = Seq(
      // status field ABSENT → null after from_json; masked + geometry
      """{"type":"map","data":{"id":"n1","uuid":"u-n1","bbox":"-74,40,-73,41",""" +
        """"map_type":"is_map","mask_status":"masked","status_mask_geojson":""" +
        """"{\"type\":\"Polygon\",\"coordinates\":[[[0,0],[10,0],[10,10],[0,10],[0,0]]]}"}}""")
    val out = graft.ops.Mapwarper.pipeline(
      graft.ops.Mapwarper.parseRecords(spark, lines)).collect()
    val log = out.filter(_.getAs[String]("type") == "log")
    assert(log.length == 1, s"null-status map must dead-letter: ${out.toSeq}")
    val types = log.head.getAs[Row]("obj").getSeq[Row](
      log.head.getAs[Row]("obj").fieldIndex("logs")).map(_.getAs[String]("type"))
    assert(types.contains("unwarped_but_masked"), s"got $types")
  }

  test("invalid_coordinates fires for a malformed point, matching JS undefined semantics") {
    // a point with a missing element ([10] instead of [10,0]) is
    // `undefined` in the reference's coordValid — `lon >= -180` is
    // FALSE and the rule fires (mapwarper.js:261-276). Spark's
    // three-valued logic made the predicate NULL, forall propagated
    // it, and the rule silently never fired; worse, the kinks UDF
    // threw on the same point and killed the job before validation
    // could route the record (round-14 review).
    val spark = TestSpark.spark
    val lines = Seq(
      """{"type":"map","data":{"id":101,"uuid":"u-m1","bbox":"-74,40,-73,41",""" +
        """"map_type":"is_map","status":"warped","mask_status":"masked","maskGeometry":""" +
        """{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]]]}}}""")
    val out = graft.ops.Mapwarper.pipeline(
      graft.ops.Mapwarper.parseRecords(spark, lines)).collect()
    val log = out.filter(_.getAs[String]("type") == "log")
    assert(log.length == 1, s"malformed-point map must dead-letter: ${out.toSeq}")
    val types = log.head.getAs[Row]("obj").getSeq[Row](
      log.head.getAs[Row]("obj").fieldIndex("logs")).map(_.getAs[String]("type"))
    assert(types.contains("invalid_coordinates"), s"got $types")
  }

  test("ANSI-cast hazards: overflowing year and non-numeric bbox element never kill the job") {
    val spark = TestSpark.spark
    // year digits past Int.MaxValue: JS parseInt returns a double the
    // INT schema cannot hold — year lands null (engine's documented
    // safe superset); the job survives
    val mapLine =
      """{"type":"map","data":{"id":103,"uuid":"u-m3","bbox":"-74,40,-73,41",""" +
        """"map_type":"is_map","status":"warped","mask_status":"masked",""" +
        """"depicts_year":"99999999999999999999","maskGeometry":""" +
        """{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]]]}}}"""
    // layer bbox with a non-numeric element: JS parseFloat gives NaN,
    // which JSON.stringify renders null — the try_cast's null element
    // is byte-identical to the reference's serialized output
    val layerLine =
      """{"type":"layer","data":{"id":9001,"name":"L","bbox":"1.5,abc,3"}}"""
    val out = graft.ops.Mapwarper.pipeline(
      graft.ops.Mapwarper.parseRecords(spark, Seq(mapLine, layerLine))).collect()
    val objs = out.filter(_.getAs[String]("type") == "object").map(_.getAs[Row]("obj"))
    val mapObj = objs.find(_.getAs[String]("id") == "103").get
    assert(mapObj.isNullAt(mapObj.fieldIndex("validSince")),
      "overflowing year must land null, not crash")
    val layerObj = objs.find(_.getAs[String]("id") == "layer-9001").get
    val bbox = layerObj.getAs[Row]("data").getSeq[Any](
      layerObj.getAs[Row]("data").fieldIndex("bbox"))
    assert(bbox == Seq(1.5, null, 3.0), s"NaN element must serialize as null, got $bbox")
  }

  test("EMPTY coordinates dead-letter through the multipolygon rule, never kill the job") {
    // "coordinates": [] made element_at(mgc, 1) throw
    // INVALID_ARRAY_INDEX under ANSI inside the validation chain — the
    // last malformed-input job-killer in the rule set (round-15
    // review; the reference also crashes, coordinates[0].length
    // TypeError, but the engine routes instead: the null ringLen
    // skips mask_coordinates_count and size([]) != 1 fires
    // multipolygon with "0 polygons")
    val spark = TestSpark.spark
    val lines = Seq(
      """{"type":"map","data":{"id":102,"uuid":"u-m2","bbox":"-74,40,-73,41",""" +
        """"map_type":"is_map","status":"warped","mask_status":"masked","maskGeometry":""" +
        """{"type":"Polygon","coordinates":[]}}}""")
    val out = graft.ops.Mapwarper.pipeline(
      graft.ops.Mapwarper.parseRecords(spark, lines)).collect()
    val log = out.filter(_.getAs[String]("type") == "log")
    assert(log.length == 1, s"empty-coordinates map must dead-letter: ${out.toSeq}")
    val entries = log.head.getAs[Row]("obj").getSeq[Row](
      log.head.getAs[Row]("obj").fieldIndex("logs"))
    assert(entries.map(_.getAs[String]("type")).contains("multipolygon"),
      s"got ${entries.map(_.getAs[String]("type"))}")
    assert(entries.find(_.getAs[String]("type") == "multipolygon").get
      .getAs[String]("message").contains("0 polygons"))
  }

  test("turf.kinks parity: bowtie reports 2 features (one per segment ordering)") {
    val l4 = deadLogs.find(_.getAs[String]("id") == "4").get
    val msg = l4.getSeq[Row](l4.fieldIndex("logs")).head.getAs[String]("message")
    assert(msg == "Mask has 2 self-intersections")
  }

  test("transform_options: tps warps to a geometry; unrecognized specs dead-letter, never a silent fit") {
    // map 19 (tps, 4 exact GCPs at the mask corners): TPS interpolates
    // the control points exactly, so the mask maps to the GCP square
    val o19 = objs.find(_.getAs[String]("id") == "19").get
    val geom = o19.getStruct(o19.fieldIndex("geometry"))
    val ring = geom
      .getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](geom.fieldIndex("coordinates"))
      .head
    assert(ring.length == 5, "mask closes to a 5-point ring")
    assert(ring.exists(p => math.abs(p.head - -74.0) < 1e-6 && math.abs(p(1) - 40.8) < 1e-6),
      s"TPS must hit the (0,0) GCP exactly, ring: $ring")
    assert(ring.exists(p => math.abs(p.head - -73.9) < 1e-6 && math.abs(p(1) - 40.7) < 1e-6))
    // map 21 (unknown spec) dead-letters with the spec named
    val l21 = deadLogs.find(_.getAs[String]("id") == "21").get
    val msg = l21.getSeq[Row](l21.fieldIndex("logs")).head.getAs[String]("message")
    assert(msg.contains("transform_options 'projective'"), msg)
    assert(!objs.exists(_.getAs[String]("id") == "21"))
  }

  test("layerErrors channel: fetch failures surface as layer_error logs without dead-lettering") {
    val l20 = logs.find(r => r.getAs[String]("id") == "20").get
    val entries = l20.getSeq[Row](l20.fieldIndex("logs"))
    assert(entries.map(_.getAs[String]("type")) == Seq("layer_error"))
    assert(entries.head.getAs[String]("message") ==
      "Request timed out (http://maps.nypl.org/warper/api/v1/maps/20/layers.json)")
    assert(l20.getAs[String]("imageId") == "img-20")
    // the map itself still projects to a clean object
    assert(objs.exists(_.getAs[String]("id") == "20"))
  }

  test("F12 enrichment: mask + gcps -> computed geometry, clean route") {
    val m16 = objs.find(_.getAs[String]("id") == "16").get
    val g = m16.getStruct(m16.fieldIndex("geometry"))
    assert(g.getAs[String]("type") == "Polygon")
    val d = m16.getStruct(m16.fieldIndex("data"))
    // same affine square as map 1 (0.1°×0.1° at ~40.75N) ⇒ same area ballpark
    val area = d.getAs[Double]("area")
    assert(area > 88 && area < 100, s"area was $area")
  }

  test("log records carry imageId and messages") {
    val l7 = logs.find(_.getAs[String]("id") == "7").get
    assert(l7.getAs[String]("imageId") == "img-7")
    val msgs = l7.getSeq[Row](l7.fieldIndex("logs")).map(_.getAs[String]("message"))
    assert(msgs == Seq("mask-to-geojson: GDAL transform failed"))
  }

  test("map object projection matches the reference contract") {
    val m1 = objs.find(_.getAs[String]("id") == "1").get
    assert(m1.getAs[String]("type") == "st:Map")
    assert(m1.getAs[String]("name") == "Map One")
    assert(m1.getAs[Int]("validSince") == 1893) // depicts_year wins the coalesce
    assert(m1.getAs[Int]("validUntil") == 1893)
    val d = m1.getStruct(m1.fieldIndex("data"))
    assert(d.getAs[String]("imageId") == "img-1")
    assert(d.getAs[String]("uuid") == "uuid-1")
    assert(d.getAs[String]("parentUuid") == "parent-1")
    assert(!d.getAs[Boolean]("inset"))
    assert(d.getAs[Boolean]("masked"))
    assert(d.getAs[String]("nyplUrl") == "http://digitalcollections.nypl.org/items/uuid-1")
    assert(d.getAs[String]("tileUrl") == "http://maps.nypl.org/warper/maps/tile/1/{z}/{x}/{y}.png")
    // 0.1°×0.1° square near 40.75N ≈ 93.7 km², 5 decimals
    val area = d.getAs[Double]("area")
    assert(area > 88 && area < 100, s"area was $area")
    assert(d.getSeq[Seq[Double]](d.fieldIndex("gcps")).length == 4)
    val g = m1.getStruct(m1.fieldIndex("geometry"))
    assert(g.getAs[String]("type") == "Polygon")
  }

  test("inset flag from uuid prefix; issue_year fallback") {
    val m13 = objs.find(_.getAs[String]("id") == "13").get
    assert(m13.getStruct(m13.fieldIndex("data")).getAs[Boolean]("inset"))
    val m14 = objs.find(_.getAs[String]("id") == "14").get
    assert(m14.getAs[Int]("validSince") == 1920)
  }

  test("getYear: unparseable-but-truthy depicts_year yields null, never the fallback") {
    val m18 = objs.find(_.getAs[String]("id") == "18").get
    // reference: ('ca. 1880' || '1885') → parseInt('ca. 1880') → NaN →
    // undefined; the YEAR MUST NOT fall through to 1885
    assert(m18.isNullAt(m18.fieldIndex("validSince")))
    assert(m18.isNullAt(m18.fieldIndex("validUntil")))
  }

  test("relations: one st:in edge per (map, layerId); none without layerIds") {
    val edges = rels.map(r => (r.getAs[String]("from"), r.getAs[String]("to"))).toSet
    assert(edges == Set(("1", "layer-10"), ("1", "layer-11")))
    assert(rels.forall(_.getAs[String]("type") == "st:in"))
  }

  test("layer objects: id prefix, mapCount, bbox parse, undefined-safe") {
    val l10 = objs.find(_.getAs[String]("id") == "layer-10").get
    assert(l10.getAs[String]("name") == "Manhattan 1893")
    assert(l10.getAs[Int]("validSince") == 1893)
    val d10 = l10.getStruct(l10.fieldIndex("data"))
    assert(d10.getAs[Int]("mapCount") == 12)
    assert(d10.getSeq[Double](d10.fieldIndex("bbox")) == Seq(-74.03, 40.68, -73.9, 40.88))
    assert(d10.getAs[String]("tileUrl") == "http://maps.nypl.org/warper/layers/tile/10/{z}/{x}/{y}.png")
    val l11 = objs.find(_.getAs[String]("id") == "layer-11").get
    val d11 = l11.getStruct(l11.fieldIndex("data"))
    assert(d11.isNullAt(d11.fieldIndex("bbox"))) // no bbox ⇒ null (≡ JS undefined)
    assert(l11.getAs[Int]("validSince") == 1900) // issue_year fallback
  }

  test("routing partition: every eligible map is in exactly one branch") {
    val eligible = Mapwarper.eligibleMaps(
      Mapwarper.parseRecords(spark, MapwarperFixture.allLines))
    val mapObjIds = objs.map(_.getAs[String]("id")).filterNot(_.startsWith("layer-"))
    val logIds = deadLogs.map(_.getAs[String]("id"))
    assert(eligible.count() == (mapObjIds.length + logIds.length))
    assert(mapObjIds.toSet.intersect(logIds.toSet).isEmpty)
  }

  test("J1/A4 offline: membership join attaches sorted layerIds; counts aggregate") {
    import spark.implicits._
    val memberships = Seq((1L, 11L), (1L, 10L), (15L, 12L))
      .toDF("map_id", "layer_id")
    val maps = Mapwarper.eligibleMaps(
      Mapwarper.parseRecords(spark, MapwarperFixture.allLines))
    val attached = Mapwarper.attachLayerIds(maps, memberships)
      .select("id", "layerIds").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    assert(attached(1L).get == Seq(10L, 11L)) // sorted, deterministic
    assert(attached(15L).get == Seq(12L))
    assert(attached(14L).isEmpty) // no membership ⇒ null (≡ undefined)
    val counts = Mapwarper.layerMapCounts(memberships).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(counts == Map(10L -> 1, 11L -> 1, 12L -> 1))
  }

  test("NDJSON file scan path: same output as in-memory parse") {
    val dir = Files.createTempDirectory("mapwarper-ndjson")
    Files.write(dir.resolve("maps.ndjson"),
      (MapwarperFixture.mapLines.mkString("\n") + "\n\n").getBytes) // incl. blank line
    Files.write(dir.resolve("layers.ndjson"),
      MapwarperFixture.layerLines.mkString("\n").getBytes)
    val fromFiles = Mapwarper.transformFiles(spark, dir.toString)
    assert(fromFiles.count() == out.count())
    val a = fromFiles.select(to_json(struct(col("type"), col("obj"))).as("j"))
      .collect().map(_.getString(0)).sorted
    val b = out.select(to_json(struct(col("type"), col("obj"))).as("j"))
      .collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
  }

  test("typed Dataset surface: case-class views round-trip the contract") {
    import graft.model.Typed
    val objects = Typed.objects(spark, out).collect()
    assert(objects.length == 11)
    val m1 = objects.find(_.id == "1").get
    assert(m1.`type` == "st:Map" && m1.validSince.contains(1893))
    assert(m1.data.masked.contains(true) && m1.geometry.`type` == "Polygon")
    val l11 = objects.find(_.id == "layer-11").get
    assert(l11.data.bbox == null && l11.data.mapCount.contains(7))
    val rels = Typed.relations(spark, out).collect()
    assert(rels.map(r => (r.from, r.to)).toSet == Set(("1", "layer-10"), ("1", "layer-11")))
    val logRecs = Typed.logs(spark, out).collect()
    assert(logRecs.length == 12) // 11 dead-letters + 1 layer_error record
    assert(logRecs.find(_.id == "7").get.logs.head.`type` == "mask_to_geojson")
  }

  test("golden end-to-end: tagged JSON output matches the checked-in file") {
    val got = out.select(to_json(struct(col("type"), col("obj"))).as("j"))
      .collect().map(_.getString(0)).sorted
    val golden = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/mapwarper_golden.jsonl")).getLines().toArray
    assert(got.length == golden.length)
    got.zip(golden).foreach { case (g, e) => assert(g == e) }
  }

  test("JSON sink drops nulls (JS undefined ≡ absent key)") {
    val sample = out.filter(col("type") === "relation").limit(1)
      .select(to_json(col("obj")).as("j")).collect().head.getString(0)
    assert(!sample.contains("\"name\"")) // null fields absent from JSON
    assert(sample.contains("\"from\""))
  }

  test("pipeline plan: one file scan, no union, no checkpoint scan, one kink UDF") {
    // the transform parses each record once and routes every output
    // from one projection, like the reference's single dispatch stream
    val dir = Files.createTempDirectory("mapwarper-plan")
    Files.write(dir.resolve("maps.ndjson"), MapwarperFixture.mapLines.mkString("\n").getBytes)
    Files.write(dir.resolve("layers.ndjson"), MapwarperFixture.layerLines.mkString("\n").getBytes)
    val tagged = Mapwarper.pipeline(Mapwarper.readRecords(spark,
      Seq(s"$dir/maps.ndjson", s"$dir/layers.ndjson")))
    tagged.collect() // settles the adaptive plan
    object Plans extends AdaptiveSparkPlanHelper
    val nodes = Plans.collect(tagged.queryExecution.executedPlan) { case p => p }
    val plan = tagged.queryExecution.executedPlan.toString
    assert(nodes.count(_.isInstanceOf[FileSourceScanExec]) == 1, s"one file scan:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[UnionExec]), s"no union:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[RDDScanExec]), s"no checkpointed-RDD scan:\n$plan")
    val kinkUdfs = nodes.flatMap(_.expressions).flatMap(_.collect {
      case u: ScalaUDF if u.udfName.contains("kinks") => u })
    assert(kinkUdfs.length == 1, s"kink UDF once per map:\n$plan")
  }
}
