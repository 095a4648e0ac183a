package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Highest heap in use right after a GC, while `armed`: the live
  * footprint of the timed work, read from GC notifications. */
object HeapWatch {
  @volatile private var armed = false
  @volatile private var peak = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed
          }.sum
          if (used > peak) peak = used
        }
      }, null, null)
    case _ =>
  }

  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def arm(): Unit = { System.gc(); peak = 0L; armed = true }
  /** Stops watching; a final GC makes sure a short run still has a sample. */
  def disarm(): Long = { System.gc(); armed = false; peak }
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, result: String, spans: String)

  val Cores = 4
  val SetupCycles = 3

  // Input sizes, one place. Run lengths are set by --seconds.
  def workload(name: String, seed: Long): Workload = name match {
    case "mapwarper_etl" => new MapwarperEtl(seed, nMaps = 1500, nLayers = 150)
    case "neardup_ingest" => new NeardupIngest(seed, nDocs = 3000, dupFraction = 0.1,
      batchSize = 100, maxBatches = 40, tracedBatches = 6)
  }

  val Workloads = Seq("mapwarper_etl", "neardup_ingest")

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; expected one of ${Workloads.mkString(", ")}")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("result"), kv.getOrElse("spans", ""))
  }

  private def session(work: String, cycle: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.warehouse.dir", new File(work, s"warehouse-$cycle").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    // process start, on the nanoTime clock
    val processStartNs = System.nanoTime() -
      ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val o = parse(args)
    HeapWatch.install()

    // set-up: from process start (first cycle) or from stopping the
    // previous session (later cycles) until a new session has run one
    // warm-up round of the workload. Generating and staging the inputs
    // is not counted.
    val dir = s"${o.work}/${o.workload}"
    val genStart = System.nanoTime()
    val w = workload(o.workload, o.seed)
    var untimed = System.nanoTime() - genStart
    var spark: SparkSession = null
    // a traced run reports no set-up time, so it sets up once
    val setupS = (0 until (if (o.trace) 1 else SetupCycles)).map { c =>
      val t0 = if (c == 0) processStartNs else System.nanoTime()
      if (spark != null) stop(spark)
      spark = session(o.work, c)
      if (c == 0) {
        val s0 = System.nanoTime()
        w.stage(spark, dir)
        writeFile(s"$dir/truth.json", w.truth)
        untimed += System.nanoTime() - s0
      }
      val errs = w.warmUp(spark, dir).errors
      require(errs.isEmpty, s"warm-up failed its checks: ${errs.mkString("; ")}")
      val s = (System.nanoTime() - t0 - (if (c == 0) untimed else 0L)) / 1e9
      System.err.println(f"[perfbench] set-up cycle ${c + 1}: $s%.3f s")
      s
    }

    def phase(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.nanoTime() - processStartNs) / 1e9}%.1f s")
    phase("set-up done")
    val result =
      if (!o.trace) timedRun(spark, w, o, setupS)
      else tracedRun(spark, w, o)
    phase("measured")
    stop(spark)
    writeFile(o.result, result)
    phase("stopped")
  }

  private def writeFile(path: String, body: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }

  private def resultJson(attempted: Int, failed: Int, errors: Seq[String],
                         metrics: Seq[(String, Double)], extra: Seq[(String, String)]): String =
    Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "errors" -> errors.map(Json.str).mkString("[", ", ", "]")) ++ extra)

  private def timedRun(spark: SparkSession, w: Workload, o: Opts, setupS: Seq[Double]): String = {
    val dir = s"${o.work}/${w.name}"
    HeapWatch.arm()
    val units = w.run(spark, dir, math.max(3, math.round(o.seconds * w.unitsPerSecond).toInt))
    val peak = HeapWatch.disarm()
    val latencies = units.drop(w.latencyFrom).map(_.seconds).sorted
    System.err.println("[perfbench] unit seconds: " + units.map(u => f"${u.seconds}%.3f").mkString(" "))
    val failed = units.filter(_.errors.nonEmpty)
    val ok = units.filter(_.errors.isEmpty)
    val metrics = Seq(
      "setup_s" -> Stats.median(setupS),
      "input_rows_per_s" -> ok.map(_.rows).sum / units.map(_.seconds).sum,
      "batch_p50_s" -> Stats.quantile(latencies, 0.5),
      "batch_p75_s" -> Stats.quantile(latencies, 0.75),
      "peak_heap_mb" -> peak / 1048576.0)
    resultJson(units.length, failed.length, failed.map(_.errors.mkString("; ")), metrics, Seq(
      "failed_ratio" -> Json.num(failed.length.toDouble / units.length),
      "samples" -> latencies.length.toString,
      "setup_cycles_s" -> setupS.map(Json.num).mkString("[", ", ", "]")))
  }

  /** Every per-layer metric. A layer the workload does not call
    * reports 0: it did no work and took no time. */
  val LayerMetrics: Seq[String] = Seq(
    "ingest.busy_s", "ingest.pages", "ingest.requests", "ingest.retries", "ingest.bytes_spooled",
    "mapwarper.parse_s", "mapwarper.enrich_s", "mapwarper.validate_s", "mapwarper.project_s",
    "mapwarper.write_s", "mapwarper.records_in", "mapwarper.eligible", "mapwarper.objects_out",
    "mapwarper.relations_out", "mapwarper.logs_out", "mapwarper.bytes_out",
    "mapwarper.dead_letter_ratio",
    "geo.rings", "geo.vertices", "geo.kinks_us_per_ring", "geo.area_us_per_ring",
    "geo.mask_fit_us_per_map",
    "functions.minhash_s", "functions.minhash_docs_per_s",
    "dedup.candidates_s", "dedup.components_s", "dedup.write_s", "dedup.candidate_pairs",
    "dedup.pairs_kept", "dedup.clusters", "dedup.docs_dropped", "dedup.pair_yield",
    "index.build_s", "index.probe_s", "index.append_s", "index.write_s", "index.matches",
    "index.rows", "index.files", "index.bytes_per_input_byte",
    "spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.cpu_util", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.input_bytes", "spark.output_bytes", "spark.task_skew",
    "trace.overhead_s")

  /** The untraced twin of the traced work first, then the traced work;
    * tracing overhead is the difference of their wall times. */
  private def tracedRun(spark: SparkSession, w: Workload, o: Opts): String = {
    val dir = s"${o.work}/${w.name}"
    val t = new Tracer(spark.sparkContext,
      s"${w.name}-seed${o.seed}-pid${ProcessHandle.current().pid()}", w.name, Cores)
    val twin = w.untracedTwin(spark, dir)
    val (root, m, errs) = w.traced(spark, dir, t)
    val measured = m ++ t.sparkTotals(root) + ("trace.overhead_s" -> (root.wallS - twin.seconds))
    require(measured.keySet.subsetOf(LayerMetrics.toSet),
      s"unlisted layer metrics: ${(measured.keySet -- LayerMetrics).mkString(", ")}")
    writeFile(o.spans, t.json)
    val errors = twin.errors.map(e => s"untraced: $e") ++ errs.map(e => s"traced: $e")
    val failed = Seq(twin.errors, errs).count(_.nonEmpty)
    resultJson(2, failed, errors, LayerMetrics.map(k => k -> measured.getOrElse(k, 0.0)), Seq(
      "traced_s" -> Json.num(root.wallS), "untraced_s" -> Json.num(twin.seconds)))
  }
}
