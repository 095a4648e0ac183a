package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, IncrementalDedup, Ingest, Mapwarper}

/** One unit of timed work: a full pass (batch workloads) or one ingest
  * batch. `errors` are failed output checks; a thrown exception is
  * recorded as an error too. */
final case class UnitResult(seconds: Double, rows: Long, errors: Seq[String])

/** A benchmark workload over one generated input set. */
trait Workload {
  def name: String
  /** Stages the generated inputs under `dir` (untimed). */
  def stage(spark: SparkSession, dir: String): Unit = ()
  /** The generator's ground truth as JSON, saved beside the inputs. */
  def truth: String
  /** Units of timed work (passes or batches) per second of --seconds.
    * A run does a fixed number of units, so every run of a workload
    * times the same sequence of work; the rate is set so a run takes
    * about --seconds on a 4-core box. */
  def unitsPerSecond: Double
  /** `units` timed units of work, each checked after its timer stops. */
  def run(spark: SparkSession, dir: String, units: Int): Seq[UnitResult]
  /** One short round of the workload's own work, run by set-up. */
  def warmUp(spark: SparkSession, dir: String): UnitResult
  /** Wall seconds of the untraced twin of [[traced]]'s work. */
  def untracedTwin(spark: SparkSession, dir: String): UnitResult
  /** The traced run: spans around every layer call, each layer's output
    * materialized before the next call. Returns the root span's wall
    * seconds, the layer metrics, and any check failures. */
  def traced(spark: SparkSession, dir: String, t: Tracer): (Span, Map[String, Double], Seq[String])
  /** Leading units of [[run]] that are not latency samples. */
  def latencyFrom: Int = 0
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs one unit; an exception becomes a failed unit, not a crash. */
  def attempt(body: => UnitResult): UnitResult = Try(body) match {
    case Success(u) => u
    case Failure(e) => UnitResult(0.0, 0L, Seq(s"threw ${e.getClass.getName}: ${e.getMessage}"))
  }

  /** The `part-*` data files under `dir` (checksums and markers excluded). */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else {
      val it = java.nio.file.Files.walk(dir.toPath)
      try it.iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.startsWith("part-")).toList
      finally it.close()
    }

  def medianSelf(t: Tracer, name: String): Double = Stats.median(t.named(name).map(t.selfS))

  /** Several units as one. */
  def total(units: Seq[UnitResult]): UnitResult =
    UnitResult(units.map(_.seconds).sum, units.map(_.rows).sum, units.flatMap(_.errors))
}

import Workload._

// ---------------------------------------------------------------- mapwarper_etl

/** The paper's two steps: crawl Map Warper pages into the page spool,
  * then transform them into st:Map objects, st:in relations and logs. */
final class MapwarperEtl(seed: Long, nMaps: Int, nLayers: Int) extends Workload {
  val name = "mapwarper_etl"
  val PerPage = 250
  val Retries = 2
  private val BaseUrl = "http://mapwarper.invalid/warper/"

  val corpus: Gen.MapCorpus = Gen.maps(seed, nMaps, nLayers)
  private val mapPages = Gen.pages(corpus.mapItems, PerPage)
  private val layerPages = Gen.pages(corpus.layerItems, PerPage)
  private val failMaps = Gen.failingPages(seed, mapPages.length)
  private val failLayers = Gen.failingPages(seed + 1, layerPages.length)
  def rows: Long = corpus.truth.records

  def truth: String = {
    val t = corpus.truth
    def n(v: Long) = v.toString
    Json.obj(Seq("maps" -> n(t.maps), "layers" -> n(t.layers), "eligible" -> n(t.eligible),
      "clean_maps" -> n(t.cleanMaps), "dead_maps" -> n(t.deadMaps),
      "pixel_mask_maps" -> n(t.pixelMaskMaps), "objects" -> n(t.objects),
      "relations" -> n(t.relations), "logs" -> n(t.logs),
      "log_rules" -> Json.obj(t.logRules.toSeq.sorted.map { case (k, v) => k -> n(v) }),
      "pages" -> n(mapPages.length + layerPages.length),
      "injected_failures" -> n(failMaps.size + failLayers.size)))
  }

  /** Serves the pre-built pages from memory; each page listed in
    * `failing` fails its first request. */
  private final class Transport(pages: Array[String], failing: Set[Int]) extends Ingest.HttpTransport {
    var requests, failures = 0L
    private val failed = mutable.Set.empty[Int]
    private val PageParam = "[?&]page=(\\d+)".r
    def get(url: String): Try[String] = {
      requests += 1
      val page = PageParam.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(1) - 1
      if (failing(page) && failed.add(page)) {
        failures += 1
        Failure(new java.io.IOException(s"injected failure for $url"))
      } else Success(if (page < pages.length) pages(page) else """{"items":[]}""")
    }
  }

  private def crawl(dir: String): (Checks.CrawlCounts, Seq[String]) = {
    val tm = new Transport(mapPages, failMaps)
    val tl = new Transport(layerPages, failLayers)
    val fm = Ingest.crawlToSpool(s"$dir/spool/maps", PerPage, Retries, tm,
      Ingest.mapsPageUrl(BaseUrl, PerPage))
    val fl = Ingest.crawlToSpool(s"$dir/spool/layers", PerPage, Retries, tl,
      p => s"${BaseUrl}layers.json?per_page=$PerPage&page=${p + 1}")
    val files = fm ++ fl
    (Checks.CrawlCounts(files.length, tm.requests + tl.requests, tm.failures + tl.failures,
      files.map(_.length).sum), files.map(_.getPath))
  }

  private def check(out: String, crawl: Checks.CrawlCounts): Seq[String] =
    Checks.mapwarper(corpus.truth, Checks.readMapOutput(out), crawl,
      mapPages.length + layerPages.length, failMaps.size + failLayers.size)

  private def outDir(dir: String) = s"$dir/out"

  private def pass(spark: SparkSession, dir: String): UnitResult = attempt {
    val (counts, s) = timed {
      val (counts, files) = crawl(dir)
      Mapwarper.writeTagged(Mapwarper.pipeline(Mapwarper.readRecords(spark, files)), outDir(dir))
      counts
    }
    UnitResult(s, rows, check(outDir(dir), counts))
  }

  val unitsPerSecond = 0.4

  def run(spark: SparkSession, dir: String, units: Int): Seq[UnitResult] =
    (1 to units).map(_ => pass(spark, dir))

  /** Two passes: the JIT is still speeding passes up after one. */
  def warmUp(spark: SparkSession, dir: String): UnitResult = total(Seq.fill(2)(pass(spark, dir)))
  def untracedTwin(spark: SparkSession, dir: String): UnitResult = pass(spark, dir)

  def traced(spark: SparkSession, dir: String, t: Tracer): (Span, Map[String, Double], Seq[String]) = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val out = outDir(dir)
    var errors = Seq.empty[String]
    t.span(s"$name.pass") {
      val (counts, files) = t.span("ingest.crawl") { crawl(dir) }
      val records = t.span("mapwarper.parse") {
        val r = Mapwarper.readRecords(spark, files).persist()
        m("mapwarper.records_in") = r.count().toDouble; r
      }
      val enriched = t.span("mapwarper.enrich") {
        val e = Mapwarper.enrichMasks(Mapwarper.eligibleMaps(records)).persist()
        m("mapwarper.eligible") = e.count().toDouble; e
      }
      val validated = t.span("mapwarper.validate") {
        val v = Mapwarper.withLogs(enriched).persist(); v.count(); v
      }
      // the projection step of Mapwarper.pipeline, over the
      // materialized validated frame
      val tagged = t.span("mapwarper.project") {
        val clean = validated.filter(size(col("logs")) === 0)
        val dead = validated.filter(size(col("logs")) > 0)
        val tg = Mapwarper.mapObjects(clean)
          .unionByName(Mapwarper.mapRelations(clean))
          .unionByName(Mapwarper.logRecords(dead))
          .unionByName(Mapwarper.layerErrorLogs(records))
          .unionByName(Mapwarper.layerObjects(records)).persist()
        val byType = tg.groupBy("type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
        m("mapwarper.objects_out") = byType.getOrElse("object", 0.0)
        m("mapwarper.relations_out") = byType.getOrElse("relation", 0.0)
        m("mapwarper.logs_out") = byType.getOrElse("log", 0.0)
        tg
      }
      t.span("mapwarper.write") { Mapwarper.writeTagged(tagged, out) }
      Seq(tagged, validated, enriched, records).foreach(_.unpersist())
      errors = check(out, counts)
      m("ingest.pages") = counts.pages.toDouble
      m("ingest.requests") = counts.requests.toDouble
      m("ingest.retries") = counts.retries.toDouble
      m("ingest.bytes_spooled") = counts.bytesSpooled.toDouble
    }
    val root = t.named(s"$name.pass").last
    m("ingest.busy_s") = t.named("ingest.crawl").last.wallS
    for (step <- Seq("parse", "enrich", "validate", "project", "write"))
      m(s"mapwarper.${step}_s") = t.selfS(t.named(s"mapwarper.$step").last)
    m("mapwarper.bytes_out") = Checks.readMapOutput(out).bytes.toDouble
    m("mapwarper.dead_letter_ratio") = m("mapwarper.logs_out") / m("mapwarper.eligible")
    (root, m.toMap ++ geo(t), errors)
  }

  /** The geo layer, by direct single-threaded calls over this input's
    * geometries: median of three timed sweeps each. */
  private def geo(t: Tracer): Map[String, Double] = t.span("geo.direct") {
    import graft.geo.{Geo, GeoUdfs}
    val polys = corpus.rings
    val nRings = polys.map(_.length).sum.toDouble
    var sink = 0.0
    def sweep(f: => Unit): Double = Stats.median((1 to 3).map(_ => timed(f)._2))
    val kinks = sweep(polys.foreach(p => sink += Geo.selfIntersections(p)))
    val area = sweep(polys.foreach(p => sink += Geo.polygonArea(p)))
    val fit = sweep(corpus.maskFits.foreach { f =>
      sink += Option(GeoUdfs.maskToGeometry(f.mask, f.gcps, f.transform).geometry).size
    })
    require(!sink.isNaN)
    Map("geo.rings" -> nRings,
      "geo.vertices" -> polys.map(_.map(_.length).sum).sum.toDouble,
      "geo.kinks_us_per_ring" -> kinks * 1e6 / nRings,
      "geo.area_us_per_ring" -> area * 1e6 / nRings,
      "geo.mask_fit_us_per_map" -> fit * 1e6 / math.max(1, corpus.maskFits.length))
  }
}

// ---------------------------------------------------------------- neardup_ingest

/** The LLM-corpus dedup pipeline in two phases over one corpus:
  *  1. the batch near-dup pass: MinHash signatures, banded candidate
  *     pairs, connected components, keep one doc per cluster, write the
  *     deduplicated corpus (the shuffle-heavy path);
  *  2. incremental ingest against it: build the signature index over
  *     the pass's output, then a closed loop of small batches, each
  *     probed against the index, its survivors written and appended to
  *     the index (the shuffle-free index path, growing every batch).
  * Two passes and the build are the run's first units; the batches are
  * its latency samples. */
final class NeardupIngest(seed: Long, nDocs: Int, dupFraction: Double, batchSize: Int,
                          maxBatches: Int, tracedBatches: Int) extends Workload {
  val name = "neardup_ingest"
  val corpus: Gen.DocCorpus = Gen.docs(seed, nDocs, dupFraction)
  val stream: Gen.IngestStream = Gen.ingest(seed, corpus, maxBatches, batchSize)
  val Threshold = 0.8
  /** Index buckets: one per core. The engine's default (32) is sized
    * for larger indexes; at this size it is per-task overhead. */
  val Buckets = 4
  override def latencyFrom: Int = 3
  private var tables = 0

  private def input(dir: String) = s"$dir/docs"
  private def cleaned(dir: String) = s"$dir/clean"

  def truth: String = {
    def ids(a: Array[Long]) = a.mkString("[", ",", "]")
    Json.obj(Seq(
      "planted_groups" -> corpus.required.map(ids).mkString("[", ",", "]"),
      "fuzzy_copies" -> corpus.fuzzy.map(ids).mkString("[", ",", "]"),
      "batch_matches" -> stream.expected.map(e =>
        Json.obj(e.toSeq.sorted.map { case (k, v) => k.toString -> v.toString })).mkString("[", ",", "]")))
  }

  override def stage(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    corpus.ids.zip(corpus.texts).toSeq.toDF("doc_id", "text").repartition(4)
      .write.mode("overwrite").parquet(input(dir))
  }

  // ---- phase 1: batch near-dup pass

  private def nodes(docs: DataFrame) = docs.select(col("doc_id").as("id"))
  private def edges(pairs: DataFrame) = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
  private def keepOnePerCluster(docs: DataFrame, labels: DataFrame) =
    docs.join(labels.filter(col("id") === col("label")).select(col("id").as("doc_id")), "doc_id")

  private def checkClean(spark: SparkSession, dir: String): Seq[String] = {
    import spark.implicits._
    Checks.neardup(corpus, spark.read.parquet(cleaned(dir)).select("doc_id").as[Long].collect())
  }

  private def passUnit(spark: SparkSession, dir: String): UnitResult = attempt {
    val (_, s) = timed {
      val docs = spark.read.parquet(input(dir))
      val pairs = Dedup.minhashCandidatePairsOf(docs, Threshold)
      val labels = Dedup.connectedComponents(nodes(docs), edges(pairs))
      keepOnePerCluster(docs, labels).write.mode("overwrite").parquet(cleaned(dir))
    }
    UnitResult(s, nDocs, checkClean(spark, dir))
  }

  // ---- phase 2: incremental ingest

  /** A fresh index table per build, so no build meets an earlier
    * build's files. */
  private def freshTable(): String = { tables += 1; s"perfbench_dedup_idx_$tables" }

  private def build(spark: SparkSession, dir: String, table: String): Unit =
    IncrementalDedup.buildIndex(spark.read.parquet(cleaned(dir)), table, Buckets)

  private def buildUnit(spark: SparkSession, dir: String, table: String): UnitResult = attempt {
    UnitResult(timed(build(spark, dir, table))._2, 0L, Nil)
  }

  private def batchFrame(spark: SparkSession, b: Int): DataFrame = {
    import spark.implicits._
    stream.batchIds(b).zip(stream.batchTexts(b)).toSeq.toDF("doc_id", "text")
  }

  private def probe(spark: SparkSession, batch: DataFrame, table: String, b: Int): Seq[(Long, Long)] =
    IncrementalDedup.probeBatch(spark, batch, table, Threshold, batchId = b.toLong)
      .select(col("new_id"), col("match_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def survivors(batch: DataFrame, matches: Seq[(Long, Long)]): DataFrame = {
    val dup = matches.map(_._1).distinct
    if (dup.isEmpty) batch else batch.filter(!col("doc_id").isin(dup: _*))
  }

  private def batchOut(dir: String, b: Int) = s"$dir/ingested/batch_id=$b"

  private def batchUnit(spark: SparkSession, dir: String, table: String, b: Int): UnitResult = attempt {
    val batch = batchFrame(spark, b)
    val (matches, s) = timed {
      val matches = probe(spark, batch, table, b)
      val keep = survivors(batch, matches)
      keep.write.mode("overwrite").parquet(batchOut(dir, b))
      IncrementalDedup.appendToIndex(keep, table, srcBatch = b.toLong)
      matches
    }
    UnitResult(s, batchSize, Checks.ingestBatch(b, stream.expected(b), matches))
  }

  val unitsPerSecond = 0.5

  def run(spark: SparkSession, dir: String, units: Int): Seq[UnitResult] = {
    val table = freshTable()
    // two passes: one pass is a single, noisy sample of the throughput
    Seq(passUnit(spark, dir), passUnit(spark, dir), buildUnit(spark, dir, table)) ++
      (0 until math.min(units, maxBatches)).map(b => batchUnit(spark, dir, table, b))
  }

  /** The pass, a build and the first `batches` batches, as one unit. */
  private def prefix(spark: SparkSession, dir: String, batches: Int): UnitResult = {
    val table = freshTable()
    total(Seq(passUnit(spark, dir), buildUnit(spark, dir, table)) ++
      (0 until batches).map(b => batchUnit(spark, dir, table, b)))
  }

  def warmUp(spark: SparkSession, dir: String): UnitResult = prefix(spark, dir, 3)
  def untracedTwin(spark: SparkSession, dir: String): UnitResult = prefix(spark, dir, tracedBatches)

  def traced(spark: SparkSession, dir: String, t: Tracer): (Span, Map[String, Double], Seq[String]) = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    val table = freshTable()
    val root = t.span(s"$name.run") {
      t.span(s"$name.pass") {
        val docs = t.span("spark.scan") {
          val d = spark.read.parquet(input(dir)).persist(); d.count(); d
        }
        t.span("functions.minhash") {
          Dedup.withMinhash(docs).write.format("noop").mode("overwrite").save()
        }
        t.span("dedup.candidates_all") {
          m("dedup.candidate_pairs") = Dedup.minhashCandidatePairsOf(docs, 0.0).count().toDouble
        }
        val pairs = t.span("dedup.candidates") {
          val p = Dedup.minhashCandidatePairsOf(docs, Threshold).persist()
          m("dedup.pairs_kept") = p.count().toDouble; p
        }
        val labels = t.span("dedup.components") {
          val l = Dedup.connectedComponents(nodes(docs), edges(pairs)).persist()
          val r = l.filter(col("id") =!= col("label"))
            .agg(count(lit(1)), countDistinct(col("label"))).head()
          m("dedup.docs_dropped") = r.getLong(0).toDouble
          m("dedup.clusters") = r.getLong(1).toDouble
          l
        }
        t.span("dedup.write") {
          keepOnePerCluster(docs, labels).write.mode("overwrite").parquet(cleaned(dir))
        }
        Seq(labels, pairs, docs).foreach(_.unpersist())
      }
      errors ++= checkClean(spark, dir)
      t.span("index.build") { build(spark, dir, table) }
      for (b <- 0 until tracedBatches) t.span("index.batch") {
        val batch = batchFrame(spark, b)
        val ms = t.span("index.probe") { probe(spark, batch, table, b) }
        val keep = survivors(batch, ms)
        t.span("index.write") { keep.write.mode("overwrite").parquet(batchOut(dir, b)) }
        t.span("index.append") { IncrementalDedup.appendToIndex(keep, table, srcBatch = b.toLong) }
        m("index.matches") = m.getOrElse("index.matches", 0.0) + ms.length
        errors ++= Checks.ingestBatch(b, stream.expected(b), ms)
      }
      t.named(s"$name.run").last
    }
    val minhashS = t.selfS(t.named("functions.minhash").last)
    m("functions.minhash_s") = minhashS
    m("functions.minhash_docs_per_s") = nDocs / minhashS
    for (step <- Seq("candidates", "components", "write"))
      m(s"dedup.${step}_s") = t.selfS(t.named(s"dedup.$step").last)
    m("dedup.pair_yield") =
      if (m("dedup.candidate_pairs") > 0) m("dedup.pairs_kept") / m("dedup.candidate_pairs") else 0.0
    val files = dataFiles(new File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table))
    val indexedBytes = spark.read.parquet(cleaned(dir)).select(sum(length(col("text")))).head().getLong(0) +
      (0 until tracedBatches).map(b => stream.batchTexts(b).map(_.length.toLong).sum).sum
    m ++= Seq(
      "index.build_s" -> t.selfS(t.named("index.build").last),
      "index.probe_s" -> medianSelf(t, "index.probe"),
      "index.write_s" -> medianSelf(t, "index.write"),
      "index.append_s" -> medianSelf(t, "index.append"),
      "index.rows" -> spark.table(table).count().toDouble,
      "index.files" -> files.length.toDouble,
      "index.bytes_per_input_byte" -> files.map(_.length).sum.toDouble / indexedBytes)
    (root, m.toMap, errors.toSeq)
  }
}
