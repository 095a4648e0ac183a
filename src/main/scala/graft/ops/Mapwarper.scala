package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.GeoUdfs
import graft.model.Schemas

/** The mapwarper transform pipeline — the reference's flagship surface
  * (SURVEY §3.2), Spark-first:
  *
  *   read NDJSON (declared schema) → eligibility flag (P2) → mask
  *   enrichment (F12) and validation rule chain (§2.7 getLogs) on
  *   eligible maps → one generator emitting every record's outputs:
  *   st:Map object or dead-letter log (P6, §2.7 routing), st:in
  *   relations (J2), layer_error logs, layer objects (P7).
  *
  * One scan, one projection: like the reference's single dispatch
  * stream, each record is parsed once and all its outputs come from
  * one `inline` over an array of tagged structs — no union of branches
  * re-reading the input, and no cache or checkpoint to make the
  * validation run once (SURVEY §7.4). Each expensive value (fitted
  * mask, kink count, logs array) is projected once as its own column
  * and read by reference. All validation rules are codegen'd column
  * expressions except the genuinely custom scalar functions (geodesic
  * area, kink count, mask fit), which are named scalar UDFs.
  *
  * Reference behavior citations: /root/reference/mapwarper.js —
  * eligibility 354-356, getLogs 221-321, routing 358-361, map object
  * 362-396, layer object 399-415, relations 333-346, stream dispatch
  * 417-437.
  */
object Mapwarper {

  import Schemas._

  private val logEntryType =
    "struct<type:string,message:string>"

  /** NDJSON multi-file scan with the declared tagged-union schema
    * (S6: blank-line drop + parse are built into Spark's JSON source). */
  def readRecords(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(recordType).json(paths: _*)

  /** Parse already-loaded NDJSON lines (e.g. the embedded fixture). */
  def parseRecords(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.createDataset(lines).toDF("line")
      .select(from_json(col("line"), recordType).as("rec"))
      .select(col("rec.*"))
  }

  /** JS-truthiness for strings: null and "" are both falsy. */
  private def truthy(c: Column): Column = c.isNotNull && c =!= ""

  /** getYear (F1): `(depicts_year || issue_year)` FIRST, then parseInt
    * (/root/reference/mapwarper.js:323-329). The truthiness pick happens
    * BEFORE parsing, so an unparseable-but-truthy depicts_year (e.g.
    * "ca. 1880") yields null (JS: parseInt → NaN → dropped on
    * stringify) and never falls through to issue_year. */
  private def yearCol(dy: Column, iy: Column): Column = {
    val y = when(truthy(dy), dy).otherwise(iy)
    val parsed = when(truthy(y), regexp_extract(y, "^\\s*([+-]?\\d+)", 1))
      .otherwise(lit(null))
    // try_: a digit run past Int.MaxValue made the ANSI cast THROW
    // and kill the job (round-15 review). JS parseInt returns the
    // out-of-range value as a double; the INT schema cannot represent
    // it, so null (year absent) is the engine's documented safe
    // superset — dead-letter-grade data never crashes the pipeline.
    when(truthy(parsed), parsed.try_cast("int")).otherwise(lit(null).cast("int"))
  }

  /** The 9-rule validation chain (§2.7) as one `logs` array column.
    * Rules evaluate in the reference's order; the mask_missing fallback
    * fires only when no other rule did and no mask geometry exists. */
  def withLogs(maps: DataFrame): DataFrame = validate(maps, lit(true))

  /** [[withLogs]] for the rows where `gate` holds; `logs` is null on
    * the others, and no rule (the kink UDF included) runs for them. */
  private def validate(maps: DataFrame, gate: Column): DataFrame = {
    val mg = col("maskGeometry")
    val mgc = col("maskGeometry.coordinates")
    val hasGeom = mg.isNotNull && mgc.isNotNull

    def entry(cond: Column, typ: String, msg: Column): Column =
      when(cond, struct(lit(typ).as("type"), msg.as("message")))
        .otherwise(lit(null).cast(logEntryType))

    // get() (0-based, null on out-of-bounds), NOT element_at(mgc, 1):
    // under ANSI a mask with EMPTY coordinates ([]) made element_at
    // throw INVALID_ARRAY_INDEX inside the validation chain — the one
    // remaining malformed-input job-killer in the rule set (round-15
    // review; the reference ALSO crashes there, coordinates[0].length
    // TypeError, but a crash is not semantics worth preserving at
    // 100 TB). With the null ringLen this rule simply doesn't fire
    // and the record still dead-letters through the multipolygon rule
    // ("MultiPolygon with 0 polygons") — routed, never fatal.
    val ringLen = size(get(mgc, lit(0)))
    // The kink count is its own column, computed once per map: the
    // rule's condition and its message both read it. Inline, each
    // would call the UDF, since subexpression elimination does not
    // reach into CASE WHEN branches; Catalyst never collapses a UDF
    // column read twice back into its reader.
    val kinkCount = col("_kinks")
    // Each point predicate is coalesced to FALSE: a malformed point
    // (null element, [] or [x] — JS undefined) makes `p[0] >= -180`
    // evaluate to false in the reference (undefined comparisons are
    // false) so invalid_coordinates FIRES; Spark's three-valued logic
    // instead yields NULL, forall propagates it, and the rule silently
    // never fired, shipping a broken mask as clean (round-14 review,
    // same class as the r13 `!==` fix below).
    // get() instead of p[i]: ANSI array indexing THROWS on a too-short
    // point, killing the job before routing; get() yields NULL, which
    // the coalesce maps to the JS false.
    val allValid = expr(
      """forall(flatten(maskGeometry.coordinates),
        | p -> coalesce(get(p, 0) >= -180D AND get(p, 0) <= 180D
        |               AND get(p, 1) >= -90D AND get(p, 1) <= 90D, false))""".stripMargin)

    val ruleEntries = array(
      entry(!truthy(col("uuid")), "missing_uuid", lit("Map has no UUID")),
      entry(hasGeom && ringLen < 4, "mask_coordinates_count",
        concat(lit("Mask has "), ringLen.cast("string"),
               lit(" coordinates (should have at least 4)"))),
      entry(hasGeom && kinkCount > 0, "self_intersection",
        concat(lit("Mask has "), kinkCount.cast("string"), lit(" self-intersections"))),
      entry(hasGeom && !allValid, "invalid_coordinates", lit("Mask has invalid coordinates")),
      entry(hasGeom && size(mgc) =!= 1, "multipolygon",
        concat(lit("Mask is a MultiPolygon with "), size(mgc).cast("string"), lit(" polygons"))),
      entry(truthy(col("maskError")), "mask_to_geojson", col("maskError")),
      entry(col("status") === "warped" && col("mask_status") === "unmasked",
        "warped_but_unmasked", lit("Map is warped, but not masked")),
      // null-SAFE inequality (<=>): the reference's `!==`
      // (mapwarper.js:301) is TRUE for an undefined status or
      // mask_status, while Spark's =!= evaluates to NULL and the rule
      // silently never fires — shipping a dirty map as a clean object
      // (round-13 review). Rule 7 above needs no change: JS === is
      // false for undefined, matching ===/null's non-fire.
      entry(!(col("status") <=> "warped") && !(col("status") <=> "published") &&
              !(col("mask_status") <=> "unmasked"),
        "unwarped_but_masked", lit("Map is masked, but not warped")))

    val firing = filter(ruleEntries, x => x.isNotNull)
    val logs = when(size(firing) === 0 && !hasGeom,
        array(struct(lit("mask_missing").as("type"), lit("Map is unmasked").as("message"))))
      .otherwise(firing)

    maps.withColumn("_kinks", when(gate && hasGeom, GeoUdfs.kinks(mgc)))
      .withColumn("logs", when(gate, logs))
      .drop("_kinks")
  }

  /** The flattened `data` of the map records. */
  private def mapsOf(records: DataFrame): DataFrame =
    records.filter(col("type") === "map").select(col("data.*"))

  /** P2 over a map's flattened fields: bbox truthy ∧ map_type = 'is_map'. */
  private def isEligible: Column = truthy(col("bbox")) && col("map_type") === "is_map"

  private def hasLayerErrors: Column =
    col("layerErrors").isNotNull && size(col("layerErrors")) > 0

  /** Eligible map records (P2). */
  def eligibleMaps(records: DataFrame): DataFrame = mapsOf(records).filter(isEligible)

  /** J1, offline form (/root/reference/mapwarper.js:57-77): the per-map
    * layer-membership enrichment. The reference makes one API call per
    * map (sequential, 200 ms apart); offline it is a left join against
    * a membership table, grouped back to a sorted array — broadcast the
    * membership side when it is dimension-sized, shuffle otherwise
    * (Catalyst/AQE decides; the code is declarative). */
  def attachLayerIds(maps: DataFrame, memberships: DataFrame): DataFrame = {
    val grouped = memberships
      .groupBy(col("map_id"))
      .agg(sort_array(collect_list(col("layer_id"))).as("_layerIds"))
    maps.drop("layerIds")
      .join(grouped, maps("id") === grouped("map_id"), "left_outer")
      .drop("map_id")
      .withColumnRenamed("_layerIds", "layerIds")
  }

  /** A4, offline form (/root/reference/mapwarper.js:409): layer.maps_count
    * arrives pre-aggregated from the remote API; the engine computes it
    * as a real grouped count over memberships. */
  def layerMapCounts(memberships: DataFrame): DataFrame =
    memberships.groupBy(col("layer_id"))
      .agg(count(lit(1)).cast("int").as("maps_count"))

  /** F12, the download-step enrichment (/root/reference/mapwarper.js:79-110):
    * maps that are masked/masking but carry no geometry get one computed
    * from the pixel mask + GCPs; failures land in the in-band maskError
    * channel (→ the mask_to_geojson rule), never throw.
    *
    * transform_options passthrough (/root/reference/mapwarper.js:86): the
    * reference forwards the map's transform spec to GDAL; this engine
    * implements the same model family natively — polynomial order 1/2/3
    * least squares and thin plate spline (Geo.gcpPolyFit/gcpTpsFit) —
    * so every transform the warper stores produces a geometry. An
    * unrecognized spec still routes to maskError (→ the mask_to_geojson
    * log) instead of silently fitting the wrong model. */
  def enrichMasks(maps: DataFrame): DataFrame = enrich(maps, lit(true))

  /** [[enrichMasks]] for the rows where `gate` holds. */
  private def enrich(maps: DataFrame, gate: Column): DataFrame = {
    val need = gate && col("maskGeometry").isNull &&
      col("mask_status").isin("masked", "masking") &&
      col("mask").isNotNull && col("gcps").isNotNull
    maps
      .withColumn("mt", when(need,
        GeoUdfs.maskToGeom(col("mask"), col("gcps"), col("transform_options"))))
      .withColumn("maskGeometry",
        coalesce(col("maskGeometry"), col("mt.geometry").cast(geometryType)))
      .withColumn("maskError", coalesce(col("maskError"), col("mt.error")))
      .drop("mt")
  }

  // --- output record assembly ---------------------------------------
  //
  // Every output row is a tagged struct <type, obj>. `outRecord` is the
  // one place its layout is defined; each per-kind function below
  // fills in its fields, and both `pipeline` and the public per-kind
  // projections build their rows from those functions.

  private def nullS = lit(null).cast("string")
  private def nullI = lit(null).cast("int")

  private def outRecord(kind: String,
                        id: Column = nullS, typ: Column = nullS, name: Column = nullS,
                        validSince: Column = nullI,
                        data: Column = lit(null).cast(objDataType),
                        geometry: Column = lit(null).cast(geometryType),
                        from: Column = nullS, to: Column = nullS, imageId: Column = nullS,
                        logs: Column = lit(null).cast(s"array<$logEntryType>")): Column =
    struct(lit(kind).as("type"), struct(
      id.as("id"), typ.as("type"), name.as("name"),
      validSince.as("validSince"), validSince.as("validUntil"),
      data.as("data"), geometry.as("geometry"),
      from.as("from"), to.as("to"), imageId.as("imageId"),
      logs.as("logs")).as("obj"))

  /** A clean map's st:Map object (P6). */
  private def mapObject: Column = {
    val area = GeoUdfs.areaM2(col("maskGeometry.coordinates"))
    val data = struct(
      col("description").as("description"),
      col("nypl_digital_id").as("imageId"),
      col("uuid").as("uuid"),
      col("parent_uuid").as("parentUuid"),
      coalesce(col("uuid").startsWith("inset"), lit(false)).as("inset"),
      col("mask_status").isin("masked", "masking").as("masked"),
      concat(lit("http://digitalcollections.nypl.org/items/"), col("uuid")).as("nyplUrl"),
      concat(lit("http://maps.nypl.org/warper/maps/tile/"), col("id").cast("string"),
             lit("/{z}/{x}/{y}.png")).as("tileUrl"),
      round(area * 1e-6, 5).as("area"),
      col("gcps").as("gcps"),
      nullI.as("mapCount"),
      lit(null).cast("array<double>").as("bbox"))
    outRecord("object", id = col("id").cast("string"), typ = lit("st:Map"),
      name = col("title"), validSince = yearCol(col("depicts_year"), col("issue_year")),
      data = data, geometry = col("maskGeometry"))
  }

  /** A clean map's st:in relations, one per entry of `layerIds` (J2). */
  private def mapRelationsOf(layerIds: Column): Column =
    transform(layerIds, layerId => outRecord("relation", typ = lit("st:in"),
      from = col("id").cast("string"),
      to = concat(lit("layer-"), layerId.cast("string"))))

  /** A dead-lettered map's log record (§2.7 routing). */
  private def mapLog: Column =
    outRecord("log", id = col("id").cast("string"),
      imageId = col("nypl_digital_id"), logs = col("logs"))

  /** A map's layer-fetch errors as one log record. */
  private def layerErrorLog: Column =
    outRecord("log", id = col("id").cast("string"), imageId = col("nypl_digital_id"),
      logs = transform(col("layerErrors"), le => struct(
        lit("layer_error").as("type"),
        concat(le("error"), lit(" ("), le("url"), lit(")")).as("message"))))

  /** A layer's st:Map object (P7). */
  private def layerObject: Column = {
    val data = struct(
      nullS.as("description"), nullS.as("imageId"), nullS.as("uuid"),
      nullS.as("parentUuid"),
      lit(null).cast("boolean").as("inset"),
      lit(null).cast("boolean").as("masked"),
      nullS.as("nyplUrl"),
      concat(lit("http://maps.nypl.org/warper/layers/tile/"), col("id").cast("string"),
             lit("/{z}/{x}/{y}.png")).as("tileUrl"),
      lit(null).cast("double").as("area"),
      lit(null).cast("array<array<double>>").as("gcps"),
      col("maps_count").as("mapCount"),
      // try_: a non-numeric bbox element made the ANSI cast THROW and
      // kill the job (round-15 review). The reference's parseFloat
      // yields NaN there, and JSON.stringify renders NaN as null — so
      // the try_cast's null ELEMENT is byte-identical to the
      // reference's serialized output, not merely safer.
      when(truthy(col("bbox")), split(col("bbox"), ",").try_cast("array<double>"))
        .otherwise(lit(null).cast("array<double>")).as("bbox"))
    outRecord("object", id = concat(lit("layer-"), col("id").cast("string")),
      typ = lit("st:Map"), name = col("name"),
      validSince = yearCol(col("depicts_year"), col("issue_year")), data = data)
  }

  /** One output row per input row, from a tagged-struct column. */
  private def emit(rows: DataFrame, record: Column): DataFrame =
    rows.select(record.as("out")).select(col("out.type"), col("out.obj"))

  /** Clean maps → st:Map objects (P6). */
  def mapObjects(clean: DataFrame): DataFrame = emit(clean, mapObject)

  /** Clean maps → st:in relations, one per layer membership (J2). */
  def mapRelations(clean: DataFrame): DataFrame =
    clean.select(inline(mapRelationsOf(col("layerIds"))))

  /** Dead-lettered maps → log records (§2.7 routing). */
  def logRecords(dead: DataFrame): DataFrame = emit(dead, mapLog)

  /** Per-map layer-fetch errors → log records. In the reference these
    * ride in-band on the map (`layerErrors`,
    * mapwarper.js:64-69, assembled from {type:'error'}
    * page records, mapwarper.js:123-129); the transform step never
    * surfaces them. Here they become first-class `log` records — one
    * per map, one entry per failed fetch — WITHOUT dead-lettering the
    * map itself (a layer-fetch failure is provenance, not a validation
    * failure; the map still projects to an object if clean). */
  def layerErrorLogs(records: DataFrame): DataFrame =
    emit(mapsOf(records).filter(hasLayerErrors), layerErrorLog)

  /** Layer records → st:Map objects (P7). */
  def layerObjects(records: DataFrame): DataFrame =
    emit(records.filter(col("type") === "layer").select(col("data.*")), layerObject)

  /** The full transform step: the tagged union of objects, relations
    * and logs, in one pass over `records`. Each record is flattened
    * once and flagged eligible (P2); enrichment and validation run on
    * the eligible maps only; then one `inline` over an array of tagged
    * structs emits everything the record yields — an object or a log
    * for an eligible map, one st:in relation per `layerIds` entry of a
    * clean map, a layer_error log for a map with `layerErrors`, an
    * object for a layer. The plan is a single scan → project →
    * generate: no union, no cache or checkpoint, one write job. The
    * rows equal the union of the per-kind projections above. */
  def pipeline(records: DataFrame): DataFrame = {
    val isMap = col("_record") === "map"
    val eligible = col("_eligible")
    val flagged = records.select(col("type").as("_record"), col("data.*"))
      .withColumn("_eligible", coalesce(isMap && isEligible, lit(false)))
    val validated = validate(enrich(flagged, eligible), eligible)
    val clean = eligible && size(col("logs")) === 0
    val outputs = concat(
      array(
        when(eligible, when(clean, mapObject).otherwise(mapLog)),
        when(isMap && hasLayerErrors, layerErrorLog),
        when(col("_record") === "layer", layerObject)),
      mapRelationsOf(coalesce(when(clean, col("layerIds")), typedLit(Seq.empty[Long]))))
    validated.select(inline(filter(outputs, _.isNotNull)))
  }

  /** Transform from NDJSON files on disk (the reference's step shape:
    * maps.ndjson + layers.ndjson from the previous stage's dir). */
  def transformFiles(spark: SparkSession, dir: String): DataFrame =
    pipeline(readRecords(spark, Seq(s"$dir/maps.ndjson", s"$dir/layers.ndjson")))

  /** S7, the framework object sink: tagged records written as NDJSON
    * partitioned by record type (objects/relations/logs each land in
    * their own directory, ≙ tools.writer.writeObject routing,
    * /root/reference/mapwarper.js:432-434). Spark's JSON writer drops
    * null fields — matching JS dropping undefined on stringify. */
  def writeTagged(tagged: DataFrame, outDir: String): Unit =
    tagged.write.mode("overwrite").partitionBy("type").json(outDir)
}
