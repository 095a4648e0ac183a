package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators for the three workloads. Every input is a
  * pure function of (seed, size): the same seed gives byte-identical
  * inputs. Each generator also returns the ground truth the output
  * checks compare against, derived from the planted classes — never
  * from running the engine. */
object Gen {

  /** An independent random stream per (seed, stream). Seeding
    * SplittableRandom directly would make seeds one increment apart
    * replay the same sequence shifted by one draw. */
  private def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(new SplittableRandom(seed * 31 + stream).nextLong())

  // ------------------------------------------------------------ maps

  /** The validation rule a generated dead-lettered map is built to
    * trigger (exactly one rule per map). */
  val DeadRules: Seq[String] = Seq(
    "missing_uuid", "mask_coordinates_count", "self_intersection",
    "invalid_coordinates", "multipolygon", "mask_to_geojson",
    "warped_but_unmasked", "unwarped_but_masked", "mask_missing")

  /** Expected transform-step outcome of one generated map input set. */
  final case class MapTruth(
      maps: Long, layers: Long, eligible: Long, dropped: Long,
      cleanMaps: Long, deadMaps: Long, pixelMaskMaps: Long,
      layerErrorMaps: Long, relations: Long,
      logRules: Map[String, Long]) {
    def objects: Long = cleanMaps + layers
    def logs: Long = deadMaps + layerErrorMaps
    def records: Long = maps + layers
  }

  /** A pixel mask + GCP set + transform spec, as the geo layer's
    * mask fit consumes it. */
  final case class MaskFit(mask: String, gcps: Seq[Seq[Double]], transform: String)

  /** Generated Map Warper API items (already in the transform step's
    * `{type, data}` record shape), the truth tallies, and the
    * geometries the geo layer is measured over. */
  final case class MapCorpus(
      mapItems: Array[String], layerItems: Array[String], truth: MapTruth,
      rings: Array[Seq[Seq[Seq[Double]]]], maskFits: Array[MaskFit])

  private def num(x: Double): String = {
    val r = math.rint(x * 1e7) / 1e7
    if (r == math.rint(r) && math.abs(r) < 1e15) r.toLong.toString else r.toString
  }

  private def ringJson(ring: Seq[Seq[Double]]): String =
    ring.map(p => s"[${num(p(0))},${num(p(1))}]").mkString("[", ",", "]")

  private def polygonJson(rings: Seq[Seq[Seq[Double]]]): String =
    rings.map(ringJson).mkString("""{"type":"Polygon","coordinates":[""", ",", "]}")

  /** Closed convex ring of `v` distinct vertices on an ellipse: simple
    * (no self-intersection) by construction. */
  private def convexRing(r: SplittableRandom, cx: Double, cy: Double,
                         rx: Double, ry: Double, v: Int): Seq[Seq[Double]] = {
    val step = 2 * math.Pi / v
    val pts = (0 until v).map { i =>
      val a = i * step + r.nextDouble() * step * 0.5
      Seq(cx + rx * math.cos(a), cy + ry * math.sin(a))
    }
    pts :+ pts.head
  }

  /** Reverses an inner run of a convex ring (a 2-opt move): the chords
    * (i, j) and (i+1, j+1) interleave on the hull, so they cross —
    * at least one self-intersection, guaranteed. */
  private def kinked(ring: Seq[Seq[Double]], r: SplittableRandom): Seq[Seq[Double]] = {
    val open = ring.init
    val v = open.length
    val i = 1 + r.nextInt(v / 2 - 1)
    val j = i + 2 + r.nextInt(v - i - 3)
    val out = open.take(i + 1) ++ open.slice(i + 1, j + 1).reverse ++ open.drop(j + 1)
    out :+ out.head
  }

  private def ringSize(r: SplittableRandom): Int = 8 + r.nextInt(57) // 8..64

  /** One map's mask polygon in lon/lat around a New York-area center. */
  private def lonLatRing(r: SplittableRandom): Seq[Seq[Double]] = {
    val cx = -74.25 + r.nextDouble() * 0.5
    val cy = 40.5 + r.nextDouble() * 0.4
    val rad = 0.002 + r.nextDouble() * 0.01
    convexRing(r, cx, cy, rad, rad * (0.6 + r.nextDouble() * 0.4), ringSize(r))
  }

  /** Pixel mask + exact-affine GCPs: every transform family the engine
    * fits (polynomial order 1/2/3, thin plate spline) recovers the
    * affine map, so the warped mask stays a simple polygon. */
  private def pixelMask(r: SplittableRandom, transform: String, nGcps: Int): MaskFit = {
    val w = 3000 + r.nextInt(3000); val h = 2000 + r.nextInt(2000)
    val lon0 = -74.25 + r.nextDouble() * 0.4; val lat0 = 40.9 - r.nextDouble() * 0.3
    val sx = 1e-5 * (0.8 + r.nextDouble() * 0.4); val sy = 1e-5 * (0.8 + r.nextDouble() * 0.4)
    val shear = 1e-7 * (r.nextDouble() - 0.5)
    def lonOf(x: Double, y: Double) = lon0 + x * sx + y * shear
    def latOf(x: Double, y: Double) = lat0 - y * sy + x * shear
    val ring = convexRing(r, w / 2.0, h / 2.0, w * 0.4, h * 0.4, ringSize(r)).init
      .map(p => Seq(math.rint(p(0) * 10) / 10, math.rint(p(1) * 10) / 10))
    val mask = ring.map(p => s"${num(p(0))},${num(p(1))}").mkString(" ")
    // a jittered 4×3 grid, first nGcps of it: never collinear
    val grid = for (gy <- 0 until 3; gx <- 0 until 4) yield {
      val x = math.rint((gx + 0.2 + r.nextDouble() * 0.6) * w / 4)
      val y = math.rint((gy + 0.2 + r.nextDouble() * 0.6) * h / 3)
      Seq(x, y, math.rint(latOf(x, y) * 1e7) / 1e7, math.rint(lonOf(x, y) * 1e7) / 1e7)
    }
    MaskFit(mask, grid.take(nGcps), transform)
  }

  private def gcpsJson(g: Seq[Seq[Double]]): String =
    g.map(_.map(num).mkString("[", ",", "]")).mkString("[", ",", "]")

  private def q(s: String): String = "\"" + s + "\""

  private val Transforms = Array("", "1", "2", "3", "tps")

  /** `nMaps` map items (ids 1..nMaps) and `nLayers` layer items. Class
    * mix per map: ~2 % not eligible (dropped), ~2.2 % for each of the
    * nine dead-letter rules, the rest clean; ~10 % of all maps carry a
    * pixel mask + GCPs instead of a geometry. */
  def maps(seed: Long, nMaps: Int, nLayers: Int): MapCorpus = {
    val r = rng(seed, 1)
    val items = new Array[String](nMaps)
    val rings = ArrayBuffer.empty[Seq[Seq[Seq[Double]]]]
    val fits = ArrayBuffer.empty[MaskFit]
    var eligible, dropped, clean, dead, pixel, layerErr, relations = 0L
    val rules = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (i <- 0 until nMaps) {
      val id = i + 1L
      val f = scala.collection.mutable.LinkedHashMap[String, String](
        "id" -> id.toString, "title" -> q(s"Map $id"),
        "description" -> q(s"Survey sheet $id"),
        "uuid" -> q(f"5e1a$id%08x-c6d4-012f-$seed%04x"),
        "nypl_digital_id" -> q(s"img-$id"),
        "bbox" -> q("-74.3,40.4,-73.6,41.0"),
        "map_type" -> q("is_map"), "status" -> q(if (r.nextBoolean()) "warped" else "published"),
        "mask_status" -> q(if (r.nextInt(4) == 0) "masking" else "masked"))
      r.nextInt(3) match {
        case 0 => f("depicts_year") = q((1850 + r.nextInt(100)).toString)
        case 1 => f("issue_year") = q((1850 + r.nextInt(100)).toString)
        case _ => f("depicts_year") = q("ca. 1880"); f("issue_year") = q("1885")
      }
      val nLayer = r.nextInt(4)
      if (nLayer > 0) {
        val ids = Iterator.continually(1L + r.nextInt(nLayers)).distinct.take(nLayer).toSeq.sorted
        f("layerIds") = ids.mkString("[", ",", "]")
      }
      def geometry(g: Seq[Seq[Seq[Double]]]): Unit = {
        f("maskGeometry") = polygonJson(g); rings += g
      }
      val roll = r.nextInt(1000)
      if (roll < 20) {
        // not eligible: silently dropped before validation
        if (r.nextBoolean()) f("map_type") = q("is_atlas") else f.remove("bbox")
        geometry(Seq(lonLatRing(r)))
        dropped += 1
      } else {
        eligible += 1
        val deadIdx = (roll - 20) / 22 // 9 rules × 22‰
        if (deadIdx < DeadRules.length) {
          val rule = DeadRules(deadIdx)
          rules(rule) += 1; dead += 1
          rule match {
            case "missing_uuid" =>
              if (r.nextBoolean()) f.remove("uuid") else f("uuid") = q("")
              geometry(Seq(lonLatRing(r)))
            case "mask_coordinates_count" =>
              val ring = lonLatRing(r)
              geometry(Seq(Seq(ring(0), ring(1), ring(0))))
            case "self_intersection" => geometry(Seq(kinked(lonLatRing(r), r)))
            case "invalid_coordinates" =>
              geometry(Seq(lonLatRing(r).map(p => Seq(p(0) + 260.0, p(1)))))
            case "multipolygon" =>
              val a = lonLatRing(r)
              geometry(Seq(a, a.map(p => Seq(p(0) + 0.05, p(1)))))
            case "mask_to_geojson" => r.nextInt(3) match {
              case 0 => f("maskError") = q("mask-to-geojson: GDAL transform failed")
              case 1 => // too few GCPs for the fit
                val m = pixelMask(r, "", 2)
                f("mask") = q(m.mask); f("gcps") = gcpsJson(m.gcps)
              case _ => // a transform family the engine does not fit
                val m = pixelMask(r, "projective", 12)
                f("mask") = q(m.mask); f("gcps") = gcpsJson(m.gcps)
                f("transform_options") = q(m.transform)
            }
            case "warped_but_unmasked" =>
              f("status") = q("warped"); f("mask_status") = q("unmasked")
              geometry(Seq(lonLatRing(r)))
            case "unwarped_but_masked" =>
              f("status") = q("unwarped")
              geometry(Seq(lonLatRing(r)))
            case "mask_missing" =>
              f("status") = q("published"); f("mask_status") = q("unmasked")
          }
        } else {
          clean += 1
          relations += nLayer
          if (r.nextInt(10) == 0) {
            val m = pixelMask(r, Transforms(r.nextInt(Transforms.length)), 10 + r.nextInt(3))
            f("mask") = q(m.mask); f("gcps") = gcpsJson(m.gcps)
            if (m.transform.nonEmpty) f("transform_options") = q(m.transform)
            fits += m; pixel += 1
          } else geometry(Seq(lonLatRing(r)))
          if (r.nextInt(50) == 0) {
            val n = 1 + r.nextInt(2)
            val errs = (1 to n).map(k => s"""{"error":"Request timed out ($k)","url":"http://maps.nypl.org/warper/api/v1/maps/$id/layers.json"}""")
            f("layerErrors") = errs.mkString("[", ",", "]")
            layerErr += 1; rules("layer_error") += n
          }
          if (r.nextInt(100) == 0) f("uuid") = q(s"inset-$id")
        }
      }
      items(i) = f.iterator.map { case (k, v) => s""""$k":$v""" }
        .mkString("""{"type":"map","data":{""", ",", "}}")
    }
    val layerItems = Array.tabulate(nLayers) { i =>
      val id = i + 1
      s"""{"type":"layer","data":{"id":$id,"name":"Layer $id","depicts_year":"${1850 + r.nextInt(100)}","maps_count":${r.nextInt(500)},"bbox":"-74.1,40.6,-73.8,40.9"}}"""
    }
    MapCorpus(items, layerItems,
      MapTruth(nMaps, nLayers, eligible, dropped, clean, dead, pixel, layerErr,
        relations, rules.toMap),
      rings.toArray, fits.toArray)
  }

  /** `{"items":[…]}` page bodies of `perPage` items. A crawl requests
    * pages until the first short one, so when the items divide evenly
    * an extra empty page ends it. */
  def pages(items: Array[String], perPage: Int): Array[String] = {
    val full = items.grouped(perPage).map(_.mkString("""{"items":[""", ",", "]}")).toArray
    if (items.length % perPage == 0) full :+ """{"items":[]}""" else full
  }

  /** Seeded choice of the requests that fail once: ~1 % of the pages,
    * at least one, so the retry path always runs. */
  def failingPages(seed: Long, nPages: Int): Set[Int] = {
    val r = rng(seed, 2)
    val n = math.max(1, math.round(nPages * 0.01).toInt)
    Iterator.continually(r.nextInt(nPages)).distinct.take(n).toSet
  }

  // ------------------------------------------------------------ docs

  /** Log-uniform (Zipf-like) token over a `vocab`-word vocabulary:
    * frequent words are shared by most docs, yet two unrelated docs
    * share far too little to collide in a 16-row MinHash band. */
  private def token(r: SplittableRandom, vocab: Int): String =
    "w" + (math.exp(r.nextDouble() * math.log(vocab.toDouble)).toInt - 1)

  private def background(r: SplittableRandom, vocab: Int): Array[String] =
    Array.fill(60 + r.nextInt(81))(token(r, vocab))

  /** A set-preserving edit: two adjacent tokens swapped and one token
    * repeated. The text differs (an exact-text hash misses it) but the
    * token set — what MinHash signs — is unchanged, so the copy is a
    * Jaccard-1.0 near-duplicate for any hash seed. */
  private def setPreservingEdit(t: Array[String], r: SplittableRandom): Array[String] = {
    val a = t.clone()
    val i = r.nextInt(a.length - 1)
    val tmp = a(i); a(i) = a(i + 1); a(i + 1) = tmp
    val k = r.nextInt(a.length)
    (a.take(k + 1) :+ a(k)) ++ a.drop(k + 1)
  }

  /** ~4 % of tokens substituted: a genuine near-duplicate whose MinHash
    * banding is probabilistic, so the checks leave its membership free. */
  private def fuzzyEdit(t: Array[String], r: SplittableRandom, vocab: Int): Array[String] =
    t.map(w => if (r.nextInt(25) == 0) token(r, vocab) else w)

  /** A near-dup corpus: `docs(i)` has id `ids(i)`. Each planted group
    * has an original plus 1–4 copies; `required(g)` are the original
    * and its exact / set-preserving copies, `fuzzy(g)` its fuzzy
    * copies. Within a group the original holds the smallest id, so a
    * correct clustering keeps exactly the original. */
  final case class DocCorpus(ids: Array[Long], texts: Array[String],
                             required: Array[Array[Long]], fuzzy: Array[Array[Long]]) {
    def size: Int = ids.length
    def textBytes: Long = texts.iterator.map(_.length.toLong).sum
  }

  val Vocab = 50000

  /** `n` docs, `dupFraction` of them planted copies. */
  def docs(seed: Long, n: Int, dupFraction: Double): DocCorpus = {
    val r = rng(seed, 3)
    val texts = ArrayBuffer.empty[Array[String]]
    val groups = ArrayBuffer.empty[(Int, Seq[Int], Seq[Int])] // original, required, fuzzy positions
    val copies = (n * dupFraction).toInt
    var planted = 0
    while (texts.length < n) {
      if (planted < copies && texts.length + 2 <= n) {
        val orig = background(r, Vocab)
        val o = texts.length; texts += orig
        val k = math.min(1 + r.nextInt(4), n - texts.length)
        val req = ArrayBuffer.empty[Int]; val fz = ArrayBuffer.empty[Int]
        for (_ <- 0 until k) {
          val pos = texts.length
          r.nextInt(3) match {
            case 0 => texts += orig; req += pos
            case 1 => texts += setPreservingEdit(orig, r); req += pos
            case _ => texts += fuzzyEdit(orig, r, Vocab); fz += pos
          }
        }
        planted += k
        groups += ((o, req.toSeq, fz.toSeq))
      } else texts += background(r, Vocab)
    }
    // ids: a seeded permutation of 0 until n, then within each group the
    // smallest of its ids moves to the original
    val ids = (0L until n.toLong).toArray
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    val required = ArrayBuffer.empty[Array[Long]]; val fuzzy = ArrayBuffer.empty[Array[Long]]
    for ((o, req, fz) <- groups) {
      val members = (o +: (req ++ fz)).sortBy(ids(_))
      val sortedIds = members.map(ids(_)).sorted
      val minPos = members.head
      if (minPos != o) { val t = ids(o); ids(o) = ids(minPos); ids(minPos) = t }
      assert(ids(o) == sortedIds.head)
      required += (o +: req).map(ids(_)).toArray
      fuzzy += fz.map(ids(_)).toArray
    }
    DocCorpus(ids, texts.map(_.mkString(" ")).toArray, required.toArray, fuzzy.toArray)
  }

  /** The incremental-ingest stream over an indexed corpus: `batches`
    * batches of `batchSize` docs. From the second batch on, ~5 % of
    * each batch are planted: re-deliveries (an indexed background doc's
    * id and text again) and copies (a new id with the text of an
    * indexed background doc, exact or set-preserving). `expected(b)`
    * maps every planted doc of batch b to the indexed doc it must
    * match. Background docs are the sources because a correct dedup
    * pass keeps every one of them. */
  final case class IngestStream(batchIds: Array[Array[Long]], batchTexts: Array[Array[String]],
                                expected: Array[Map[Long, Long]])

  def ingest(seed: Long, index: DocCorpus, batches: Int, batchSize: Int): IngestStream = {
    val r = rng(seed, 4)
    val planted = (index.required.iterator.flatten ++ index.fuzzy.iterator.flatten).toSet
    val sources = index.ids.indices.filterNot(i => planted(index.ids(i))).toArray
    var nextId = index.size.toLong
    val ids = new Array[Array[Long]](batches)
    val texts = new Array[Array[String]](batches)
    val expected = new Array[Map[Long, Long]](batches)
    for (b <- 0 until batches) {
      val bi = ArrayBuffer.empty[Long]; val bt = ArrayBuffer.empty[String]
      val exp = scala.collection.mutable.Map.empty[Long, Long]
      val used = scala.collection.mutable.Set.empty[Int]
      for (_ <- 0 until batchSize) {
        if (b > 0 && r.nextInt(20) == 0) {
          var src = sources(r.nextInt(sources.length))
          while (used(src)) src = sources(r.nextInt(sources.length))
          used += src
          val srcId = index.ids(src)
          r.nextInt(3) match {
            case 0 => bi += srcId; bt += index.texts(src)
            case 1 => bi += nextId; bt += index.texts(src); nextId += 1
            case _ =>
              bi += nextId; nextId += 1
              bt += setPreservingEdit(index.texts(src).split(" "), r).mkString(" ")
          }
          exp(bi.last) = srcId
        } else {
          bi += nextId; nextId += 1
          bt += background(r, Vocab).mkString(" ")
        }
      }
      ids(b) = bi.toArray; texts(b) = bt.toArray; expected(b) = exp.toMap
    }
    IngestStream(ids, texts, expected)
  }
}
