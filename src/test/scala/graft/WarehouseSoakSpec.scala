package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{IncrementalDedup, IncrementalNovelty, IncrementalSpans}
import graft.streaming.{StreamingDedup, StreamingLedger, StreamingNovelty,
  StreamingQuantiles, StreamingSpans}

/** The multi-sink warehouse soak (round-16 verdict Next #4): every
  * persisted-sink contract is spec'd ALONE in its own suite — this
  * composes them. ONE warehouse carries the additive ledger, the
  * span/dedup/novelty ingest streams, and the quantile store across
  * two checkpoint lifetimes: a legitimate restart (same checkpoints —
  * batch ids continue, state accumulates), then a wipe on two of the
  * five (ledger + dedup), whose restart on the old dirs must refuse
  * loudly while the documented remedy — a FRESH dir per new lineage,
  * reads composing as the union of lineage dirs — actually composes.
  * The HealthRun vintage loop (corpus families + store_fsck +
  * idx_fsck) rides the same transitions: sink content churn must NOT
  * page it (no cross-family false pages), and the remedy dirs page
  * exactly once, as family-added store rows. */
class WarehouseSoakSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def stamp(dir: String, t: Long): Unit =
    new java.io.File(dir).listFiles().foreach(_.setLastModified(t))

  private def resetTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = new java.io.File(s"/tmp/graft-test-warehouse/$name")
    if (wh.exists()) {
      java.nio.file.Files.walk(wh.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  private def wipeDir(path: String): Unit = {
    val d = new java.io.File(path)
    if (d.exists()) {
      java.nio.file.Files.walk(d.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  private def causeChain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
    .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse("")).mkString("|")

  // ------------------------------------------------------- stream inputs
  private val docSchema = StructType(Seq(
    StructField("source", StringType), StructField("doc_id", LongType),
    StructField("text", StringType)))
  private val ledgerSchema = StructType(Seq(
    StructField("word", StringType), StructField("n", LongType)))
  private val eventSchema = StructType(Seq(
    StructField("ts", TimestampType), StructField("value", DoubleType)))

  private def docsDF(rows: (String, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("source", "doc_id", "text")
  }
  private def docStream(dir: String) = spark.readStream.schema(docSchema)
    .option("maxFilesPerTrigger", "1").parquet(s"$dir/f*")

  private val Run = "one two three four five six seven eight"
  private val text100 = "totally new content about maps and layers today"
  private val text200 = "another brand new document entirely here now folks"
  private val text300 = "third lineage fresh arrival with original words only"

  test("warehouse soak: five sinks, restart + wipe-and-remedy lifetimes, one vintage loop") {
    Seq("soak_dedup_idx", "soak_spans_idx", "soak_novelty_idx")
      .foreach(resetTable)
    import spark.implicits._

    // --- warehouse layout: one root, one dir per sink -----------------
    val root = tmp("soak_wh")
    val ledgerA = s"$root/ledger"
    val dedupOutA = s"$root/dedup"
    val spansOut = s"$root/spans"
    val novOut = s"$root/novelty"
    val qStore = s"$root/quantiles"

    // --- seed the probe indexes (documents schema where doc-keyed) ----
    val seed = docsDF(("a", 0L, "alpha beta gamma delta epsilon zeta"))
    IncrementalDedup.buildIndex(seed.select("doc_id", "text"), "soak_dedup_idx")
    IncrementalSpans.buildIndex(
      docsDF(("a", 1L, s"seed preamble $Run seed tail portion"))
        .select("doc_id", "text"), "soak_spans_idx")
    IncrementalNovelty.buildIndex(seed, "soak_novelty_idx")

    // --- wave 1 into every stream dir ---------------------------------
    val t0 = System.currentTimeMillis() - 600000
    val dedupIn = tmp("soak_dedup_in")
    docsDF(("a", 100L, text100), ("a", 101L, "alpha beta gamma delta epsilon zeta"))
      .coalesce(1).write.parquet(s"$dedupIn/f1")
    stamp(s"$dedupIn/f1", t0)
    val spansIn = tmp("soak_spans_in")
    docsDF(("a", 110L, s"arrival says $Run with unique vocabulary trailing"))
      .coalesce(1).write.parquet(s"$spansIn/f1")
    stamp(s"$spansIn/f1", t0)
    val novIn = tmp("soak_nov_in")
    docsDF(("a", 120L, (1 to 10).map(i => s"x$i").mkString(" ")))
      .coalesce(1).write.parquet(s"$novIn/f1")
    stamp(s"$novIn/f1", t0)
    val ledgerIn = tmp("soak_led_in")
    Seq(("a", 1L), ("b", 1L), ("a", 1L)).toDF("word", "n")
      .coalesce(1).write.parquet(s"$ledgerIn/f1")
    stamp(s"$ledgerIn/f1", t0)
    val evT0 = 1700000400L
    val evIn = tmp("soak_ev_in")
    Seq(evT0 + 10 -> 1.0, evT0 + 20 -> 2.0, (evT0 + 4200) -> 0.7)
      .toDF("secs", "value")
      .select(timestamp_seconds(col("secs")).as("ts"), col("value"))
      .coalesce(1).write.parquet(s"$evIn/f1")
    stamp(s"$evIn/f1", t0)

    // --- lifetime 1, phase 1: all five sinks run CONCURRENTLY ---------
    def startAll() = Seq(
      StreamingDedup.dedupedIngest(spark, docStream(dedupIn)
        .select("doc_id", "text"), "soak_dedup_idx", dedupOutA),
      StreamingSpans.spanIngest(spark, docStream(spansIn)
        .select("doc_id", "text"), "soak_spans_idx", spansOut),
      StreamingNovelty.scoredIngest(spark, docStream(novIn),
        "soak_novelty_idx", novOut),
      StreamingLedger.ledgerSink(spark,
        spark.readStream.schema(ledgerSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$ledgerIn/f*"),
        Seq("word"), Seq("n"), ledgerA, buckets = 4),
      StreamingQuantiles.sketchStoreSink(spark,
        spark.readStream.schema(eventSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$evIn/f*"), qStore))
    val qs1 = startAll()
    qs1.foreach(_.processAllAvailable()); qs1.foreach(_.stop())

    // --- vintage A: corpus families + BOTH fsck families --------------
    // store_fsck rides the BucketStore-backed ledger; idx_fsck rides a
    // live digested index family over the same corpus (the HealthSpec
    // pattern: what matters here is that it shares the loop)
    val idxPrefix = "graft_soak_idx_v1_"
    val dataDir = TestSpark.sf0001
    graft.ops.IndexTables.gcTables(spark, idxPrefix, dataDir)
    val fp = graft.ops.IndexTables.dataFingerprint(spark, dataDir)
    val idxTable = graft.ops.IndexTables.tableName(idxPrefix, dataDir, fp)
    graft.ops.Bucketing.writeBucketed(
      Tables.documents(spark, dataDir).limit(10)
        .select(xxhash64(col("text")).as("fp"), col("doc_id").as("first_doc")),
      idxTable, "fp", 4)
    val storeArgs = List(s"ledger=$ledgerA", s"idx:$idxPrefix=$dataDir")
    val vA = tmp("soak_vA")
    assert(HealthRun.run(spark, "write" :: dataDir :: vA :: storeArgs) == 0)

    // --- lifetime 1, phase 2: legitimate restart on the SAME
    // checkpoints — wave 2 appends, batch ids continue ------------------
    docsDF(("a", 200L, text200), ("a", 201L, text100)) // 201 dups 100
      .coalesce(1).write.parquet(s"$dedupIn/f2")
    stamp(s"$dedupIn/f2", t0 + 60000)
    docsDF(("a", 210L, s"second arrival repeats $Run and fresh suffix tokens"))
      .coalesce(1).write.parquet(s"$spansIn/f2")
    stamp(s"$spansIn/f2", t0 + 60000)
    docsDF(("a", 220L, (1 to 10).map(i => s"x$i").mkString(" "))) // dup of 120
      .coalesce(1).write.parquet(s"$novIn/f2")
    stamp(s"$novIn/f2", t0 + 60000)
    Seq(("b", 1L), ("c", 1L)).toDF("word", "n")
      .coalesce(1).write.parquet(s"$ledgerIn/f2")
    stamp(s"$ledgerIn/f2", t0 + 60000)
    Seq((evT0 + 3100) -> 5.0, (evT0 + 86400) -> 0.4).toDF("secs", "value")
      .select(timestamp_seconds(col("secs")).as("ts"), col("value"))
      .coalesce(1).write.parquet(s"$evIn/f2")
    stamp(s"$evIn/f2", t0 + 60000)

    val qs2 = startAll()
    qs2.foreach(_.processAllAvailable()); qs2.foreach(_.stop())

    // lifetime-1 state: accumulated across the restart, ids continued
    val dedupA = spark.read.parquet(dedupOutA).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(dedupA == Set(100L, 200L),
      s"dedup survivors across the restart must be the two fresh docs: $dedupA")
    val dedupBatches = new java.io.File(dedupOutA).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    assert(dedupBatches == Set("batch_id=0", "batch_id=1"),
      s"restart must CONTINUE batch ids, not restart them: $dedupBatches")
    val ledgerRowsA = StreamingLedger.readLedger(spark, ledgerA).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("n")).toMap
    assert(ledgerRowsA == Map("a" -> 2L, "b" -> 2L, "c" -> 1L),
      s"ledger must hold both waves' sums: $ledgerRowsA")
    val spanDocs = spark.read.parquet(spansOut).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(spanDocs == Set(110L, 210L),
      s"both arrivals repeat the seeded run — both carry spans: $spanDocs")
    val novScores = spark.read.parquet(s"$novOut/scores")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("novelty")).toMap
    assert(novScores.keySet == Set(120L, 220L))
    assert(novScores(220L) < novScores(120L),
      s"the wave-2 duplicate must read less novel than its wave-1 original: $novScores")
    val qRows = StreamingQuantiles.readSketchStore(spark, qStore).count()
    assert(qRows == 3L, // windows at evT0, evT0+3000, evT0+4200 closed
      s"expected the three watermark-closed windows in the store, got $qRows")

    // --- vintage B: sink content churned, health inputs did not -------
    // the loop must NOT page — store_fsck reads integrity (still ok),
    // idx_fsck reads the live family (untouched), corpus families read
    // the same dataDir. Cross-family false pages = the composition bug
    // this soak exists to catch.
    val vB = tmp("soak_vB")
    assert(HealthRun.run(spark, "write" :: dataDir :: vB :: storeArgs) == 0)
    val capAB = new java.io.ByteArrayOutputStream()
    val exitAB = Console.withOut(new java.io.PrintStream(capAB)) {
      HealthRun.run(spark, List("diff", vA, vB, "0.10"))
    }
    assert(exitAB == 0,
      s"sink content churn must not page the vintage loop: ${capAB.toString("UTF-8")}")

    // --- lifetime 2: wipe the ledger and dedup checkpoints ------------
    wipeDir(s"$ledgerA/_checkpoint")
    wipeDir(s"$dedupOutA/_checkpoint")

    // restart on the OLD dirs refuses loudly (both), state untouched
    val ledgerIn2 = tmp("soak_led_in2")
    Seq(("a", 1L), ("c", 1L)).toDF("word", "n")
      .coalesce(1).write.parquet(s"$ledgerIn2/f1")
    stamp(s"$ledgerIn2/f1", t0 + 120000)
    val qLedBad = StreamingLedger.ledgerSink(spark,
      spark.readStream.schema(ledgerSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$ledgerIn2/f*"),
      Seq("word"), Seq("n"), ledgerA, buckets = 4)
    val exLed = intercept[Exception] { qLedBad.processAllAvailable() }
    qLedBad.stop()
    assert(causeChain(exLed).contains("lineage"), causeChain(exLed))
    assert(StreamingLedger.readLedger(spark, ledgerA).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("n")).toMap == ledgerRowsA,
      "refusal must leave the old-lineage ledger byte-identical")

    val dedupIn2 = tmp("soak_dedup_in2")
    docsDF(("a", 300L, text300), ("a", 301L, text100)) // 301 redelivers 100
      .coalesce(1).write.parquet(s"$dedupIn2/f1")
    stamp(s"$dedupIn2/f1", t0 + 120000)
    val qDedBad = StreamingDedup.dedupedIngest(spark, docStream(dedupIn2)
      .select("doc_id", "text"), "soak_dedup_idx", dedupOutA)
    val exDed = intercept[Exception] { qDedBad.processAllAvailable() }
    qDedBad.stop()
    assert(causeChain(exDed).contains("lineage"), causeChain(exDed))

    // --- the remedy: FRESH dir per new lineage, reads compose as the
    // union of lineage dirs -------------------------------------------
    val ledgerB = s"$root/ledger_l2"
    val dedupOutB = s"$root/dedup_l2"
    val qLed2 = StreamingLedger.ledgerSink(spark,
      spark.readStream.schema(ledgerSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$ledgerIn2/f*"),
      Seq("word"), Seq("n"), ledgerB, buckets = 4)
    val qDed2 = StreamingDedup.dedupedIngest(spark, docStream(dedupIn2)
      .select("doc_id", "text"), "soak_dedup_idx", dedupOutB)
    Seq(qLed2, qDed2).foreach(_.processAllAvailable())
    Seq(qLed2, qDed2).foreach(_.stop())

    // union-of-lineages ledger = both lifetimes' sums, no skip/double
    val composed = StreamingLedger.readLedger(spark, ledgerA)
      .unionByName(StreamingLedger.readLedger(spark, ledgerB))
      .groupBy("word").agg(sum("n").as("n")).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("n")).toMap
    assert(composed == Map("a" -> 3L, "b" -> 2L, "c" -> 2L),
      s"union-of-lineages ledger must carry all three waves once each: $composed")
    // union-of-lineages corpus: the cross-lineage redelivery (301)
    // matched its lineage-1 index entry and was DROPPED — the union
    // holds each unique doc exactly once
    val dedupUnion = spark.read.parquet(dedupOutA)
      .unionByName(spark.read.parquet(dedupOutB))
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(dedupUnion == Seq(100L, 200L, 300L),
      s"composed corpus must hold each unique doc exactly once: $dedupUnion")
    // untouched sinks are oblivious to the neighbors' transition
    assert(spark.read.parquet(spansOut).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(110L, 210L))
    assert(StreamingQuantiles.readSketchStore(spark, qStore).count() == 3L)

    // --- vintage C: the remedy dirs JOIN the loop — pages exactly
    // once, as added store rows; every other family stays quiet -------
    val vC = tmp("soak_vC")
    val argsC = List(s"ledger=$ledgerA", s"ledger_l2=$ledgerB",
      s"idx:$idxPrefix=$dataDir")
    assert(HealthRun.run(spark, "write" :: dataDir :: vC :: argsC) == 0)
    val capBC = new java.io.ByteArrayOutputStream()
    val exitBC = Console.withOut(new java.io.PrintStream(capBC)) {
      HealthRun.run(spark, List("diff", vB, vC, "0.10"))
    }
    assert(exitBC == 1, "a store family joining the loop must page once")
    val paged = capBC.toString("UTF-8").linesIterator.toSeq
    assert(paged.nonEmpty && paged.forall(_.contains("\"store_fsck\"")),
      s"ONLY the store family may page on the remedy transition " +
        s"(no cross-family false pages), got: $paged")

    spark.sql(s"DROP TABLE IF EXISTS $idxTable")
    Seq("soak_dedup_idx", "soak_spans_idx", "soak_novelty_idx")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("attest-then-continue: a marker-less ledger+dedup warehouse refuses, then continues exactly-once after the operator attests") {
    // The OTHER documented remedy (round-17 verdict Next #5): the
    // operator ATTESTS a contentful marker-less warehouse — original
    // checkpoint intact — by writing the query id to _lineage, and
    // the continuation must preserve the ledger's exactly-once
    // watermarks and the dedup stream's later-batch redelivery match.
    import graft.streaming.StreamEpoch
    resetTable("soak_upg_idx")
    import spark.implicits._

    val root = tmp("soak_upg")
    val dedupOut = s"$root/dedup"
    val ledgerDir = s"$root/ledger"
    val t0 = System.currentTimeMillis() - 600000

    // ---- phase 0: a legitimate warehouse written before markers ------
    IncrementalDedup.buildIndex(
      docsDF(("a", 0L, "alpha beta gamma delta epsilon zeta"))
        .select("doc_id", "text"), "soak_upg_idx")
    val dedupIn = tmp("soak_upg_in")
    docsDF(("a", 100L, text100)).coalesce(1).write.parquet(s"$dedupIn/f1")
    stamp(s"$dedupIn/f1", t0)
    val q0 = StreamingDedup.dedupedIngest(spark, docStream(dedupIn)
      .select("doc_id", "text"), "soak_upg_idx", dedupOut)
    q0.processAllAvailable(); q0.stop()
    val ledgerIn = tmp("soak_upg_led_in")
    Seq(("a", 1L), ("b", 1L)).toDF("word", "n")
      .coalesce(1).write.parquet(s"$ledgerIn/f1")
    stamp(s"$ledgerIn/f1", t0)
    val ql0 = StreamingLedger.ledgerSink(spark,
      spark.readStream.schema(ledgerSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$ledgerIn/f*"),
      Seq("word"), Seq("n"), ledgerDir, buckets = 4)
    ql0.processAllAvailable(); ql0.stop()

    // drop the _lineage markers: the state a build without lineage
    // guarding leaves behind
    java.nio.file.Files.delete(java.nio.file.Paths.get(dedupOut, "_lineage"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(ledgerDir, "_lineage"))

    // the dedup stream's next batch: one fresh doc + one redelivery of
    // doc 100 (must match its earlier index entry)
    docsDF(("a", 300L, text300), ("a", 301L, text100))
      .coalesce(1).write.parquet(s"$dedupIn/f2")
    stamp(s"$dedupIn/f2", t0 + 60000)
    // ledger's crashed batch 1: applyBatch landed, commit didn't
    Seq(("b", 1L), ("c", 1L)).toDF("word", "n")
      .coalesce(1).write.parquet(s"$ledgerIn/f2")
    stamp(s"$ledgerIn/f2", t0 + 60000)
    StreamingLedger.applyBatch(spark,
      Seq(("b", 1L), ("c", 1L)).toDF("word", "n"),
      Seq("word"), Seq("n"), ledgerDir, buckets = 4, batchId = 1L)
    Seq(("c", 1L)).toDF("word", "n")
      .coalesce(1).write.parquet(s"$ledgerIn/f3")
    stamp(s"$ledgerIn/f3", t0 + 120000)

    // ---- phase 1: marker-less contentful dirs REFUSE; operator attests
    val qBad = StreamingDedup.dedupedIngest(spark, docStream(dedupIn)
      .select("doc_id", "text"), "soak_upg_idx", dedupOut)
    val exBad = intercept[Exception] { qBad.processAllAvailable() }
    qBad.stop()
    assert(causeChain(exBad).contains("_lineage"), causeChain(exBad))
    val qLedBad = StreamingLedger.ledgerSink(spark,
      spark.readStream.schema(ledgerSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$ledgerIn/f*"),
      Seq("word"), Seq("n"), ledgerDir, buckets = 4)
    val exLedBad = intercept[Exception] { qLedBad.processAllAvailable() }
    qLedBad.stop()
    assert(causeChain(exLedBad).contains("_lineage"), causeChain(exLedBad))
    // checkpoints are INTACT → attest both dirs with their query ids
    Seq(dedupOut, ledgerDir).foreach { d =>
      val qid = StreamEpoch.queryId(spark, s"$d/_checkpoint")
      java.nio.file.Files.write(java.nio.file.Paths.get(d, "_lineage"),
        qid.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    // ---- phase 2: the attested lineages continue ---------------------
    val qUp = StreamingDedup.dedupedIngest(spark, docStream(dedupIn)
      .select("doc_id", "text"), "soak_upg_idx", dedupOut)
    val qLedUp = StreamingLedger.ledgerSink(spark,
      spark.readStream.schema(ledgerSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$ledgerIn/f*"),
      Seq("word"), Seq("n"), ledgerDir, buckets = 4)
    Seq(qUp, qLedUp).foreach(_.processAllAvailable())
    Seq(qUp, qLedUp).foreach(_.stop())
    val b1 = spark.read.parquet(s"$dedupOut/batch_id=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(b1 == Set(300L),
      s"redelivered doc 301(=100's text) must match its earlier entry: $b1")
    // ledger watermarks held through the attestation: the replayed
    // batch 1 SKIPPED (already applied), batch 2 applied once
    val led = StreamingLedger.readLedger(spark, ledgerDir).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("n")).toMap
    assert(led == Map("a" -> 1L, "b" -> 2L, "c" -> 2L),
      s"exactly-once totals through the attested continuation: $led")

    spark.sql("DROP TABLE IF EXISTS soak_upg_idx")
  }
}
