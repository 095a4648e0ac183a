package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{IncrementalSpans, IncrementalDedup}
import graft.streaming.StreamingSpans

class IncrementalSpansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = new java.io.File(s"/tmp/graft-test-warehouse/$t")
    if (wh.exists()) {
      java.nio.file.Files.walk(wh.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  // an 8-token run shared verbatim; surrounding text unique per doc
  private val Run = "one two three four five six seven eight"

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("planted case: the arriving doc's repeated run is found with exact positions") {
    freshTable("spans_idx_planted")
    val seed = docsDf(
      1L -> s"unique seed preamble here $Run and a unique seed tail portion",
      2L -> "completely unrelated content with nothing shared at all anywhere truly")
    IncrementalSpans.buildIndex(seed, "spans_idx_planted")
    // batch doc: 3 unique tokens, then the 8-token run, then tail
    val batch = docsDf(10L -> s"fresh arriving document now $Run plus fresh trailing words")
    val got = IncrementalSpans.probeBatch(spark, batch, "spans_idx_planted").collect()
    assert(got.length == 1, s"exactly one span expected, got ${got.toSeq}")
    val r = got.head
    assert(r.getLong(0) == 10L && r.getInt(2) == 4 && r.getInt(3) == 12,
      s"span must cover tokens [4, 12) — the planted run — got $r")
    assert(r.getLong(5) == 1L, "one duplicated shingle in the run")
    // a doc with nothing seen emits no spans
    val clean = docsDf(11L -> "entirely novel words never appearing anywhere else in any corpus")
    assert(IncrementalSpans.probeBatch(spark, clean, "spans_idx_planted").count() == 0)
  }

  test("doc_id-ordered batch replay ≡ one-shot probe (the corpus-wide stale rule)") {
    // the decomposition contract the novelty twin keeps with q180:
    // screening ordered batches against the growing index accumulates
    // exactly the one-shot verdicts of the whole corpus as one batch
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(120)
      .collect().map(r => (r.getLong(0), r.getString(1)))

    freshTable("spans_idx_oneshot"); freshTable("spans_idx_replay")
    // one-shot: whole corpus as a single batch against an empty index
    IncrementalSpans.buildIndex(docsDf(), "spans_idx_oneshot")
    val oneShot = IncrementalSpans
      .probeBatch(spark, docsDf(docs.toIndexedSeq: _*), "spans_idx_oneshot")
      .collect().map(_.toString).toSeq

    // replay: three doc_id-ordered batches, probe-then-append
    IncrementalSpans.buildIndex(docsDf(), "spans_idx_replay")
    val chunks = docs.grouped(40).toSeq
    val accumulated = chunks.zipWithIndex.flatMap { case (chunk, i) =>
      val b = docsDf(chunk.toIndexedSeq: _*)
      val out = IncrementalSpans
        .probeBatch(spark, b, "spans_idx_replay", batchId = i.toLong)
        .collect().map(_.toString).toSeq
      IncrementalSpans.appendToIndex(b, "spans_idx_replay", srcBatch = i.toLong)
      out
    }
    assert(accumulated == oneShot,
      s"replayed spans must equal the one-shot probe row-for-row " +
        s"(${accumulated.length} vs ${oneShot.length})")
    assert(oneShot.nonEmpty, "corpus slice must actually contain stale spans")
  }

  test("property: random dense corpora, random ordered splits — replay ≡ one-shot (3 seeds)") {
    // a tiny vocabulary forces heavy cross-doc shingle collision, so
    // island merging, within-batch windows, and index hits all fire
    // constantly; random split boundaries exercise every decomposition
    // point of the corpus-wide smaller-doc_id rule
    for (seed <- Seq(11, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b") // 2^8 = 256 possible 8-gram shingles: collisions guaranteed dense
      val docs = (1L to 60L).map { id =>
        val len = 8 + rnd.nextInt(25)
        id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      freshTable(s"spans_prop_one_$seed"); freshTable(s"spans_prop_rep_$seed")
      IncrementalSpans.buildIndex(docsDf(), s"spans_prop_one_$seed")
      val oneShot = IncrementalSpans
        .probeBatch(spark, docsDf(docs: _*), s"spans_prop_one_$seed")
        .collect().map(_.toString).toSeq
      IncrementalSpans.buildIndex(docsDf(), s"spans_prop_rep_$seed")
      // random ordered split into 1..6 batches
      val cuts = (0 until rnd.nextInt(5)).map(_ => rnd.nextInt(docs.size)).sorted
      val batches = (Seq(0) ++ cuts ++ Seq(docs.size)).distinct.sliding(2)
        .map { case Seq(a, b) => docs.slice(a, b) }.filter(_.nonEmpty).toSeq
      val accumulated = batches.zipWithIndex.flatMap { case (chunk, i) =>
        val b = docsDf(chunk: _*)
        val out = IncrementalSpans
          .probeBatch(spark, b, s"spans_prop_rep_$seed", batchId = i.toLong)
          .collect().map(_.toString).toSeq
        IncrementalSpans.appendToIndex(b, s"spans_prop_rep_$seed", srcBatch = i.toLong)
        out
      }
      assert(accumulated == oneShot,
        s"seed $seed (${batches.size} batches): replay diverged from one-shot " +
          s"(${accumulated.length} vs ${oneShot.length} spans)")
      assert(oneShot.nonEmpty, s"seed $seed: dense corpus must produce spans")
    }
  }

  test("append is idempotent; replay-after-append emits the same spans (self-match exclusion)") {
    freshTable("spans_idx_replay2")
    val seed = docsDf(1L -> s"the indexed document contains $Run inside it for later")
    IncrementalSpans.buildIndex(seed, "spans_idx_replay2")
    val batch = docsDf(
      20L -> s"first arrival says $Run and some unique twenty tail",
      21L -> "second arrival is fully unique with distinct vocabulary throughout entirely")
    val before = IncrementalSpans
      .probeBatch(spark, batch, "spans_idx_replay2", batchId = 7L)
      .collect().map(_.toString).toSeq
    IncrementalSpans.appendToIndex(batch, "spans_idx_replay2", srcBatch = 7L)
    val count1 = spark.table("spans_idx_replay2").count()
    // replayed append adds nothing
    IncrementalSpans.appendToIndex(batch, "spans_idx_replay2", srcBatch = 7L)
    assert(spark.table("spans_idx_replay2").count() == count1, "append must be idempotent")
    // replayed probe (same batchId, index now holds the batch's own
    // fps) must NOT read its own entries as staleness
    val after = IncrementalSpans
      .probeBatch(spark, batch, "spans_idx_replay2", batchId = 7L)
      .collect().map(_.toString).toSeq
    assert(after == before,
      s"replay-after-append must emit identical spans:\n$after\nvs\n$before")
    // but a LATER batch redelivering doc 20 matches its own earlier
    // entries: the re-ingested copy reads fully stale
    val redelivered = IncrementalSpans
      .probeBatch(spark, docsDf(20L -> s"first arrival says $Run and some unique twenty tail"),
        "spans_idx_replay2", batchId = 8L)
      .collect()
    // the doc is 16 tokens; full staleness = one span [0, 16) made of
    // all 16-8+1 = 9 of its shingles
    assert(redelivered.length == 1 &&
      redelivered.head.getInt(2) == 0 && redelivered.head.getInt(3) == 16 &&
      redelivered.head.getLong(5) == 9L,
      s"cross-batch redelivery must read fully stale, got ${redelivered.toSeq}")
  }

  test("default-srcBatch appends stay matchable by a later batch redelivering the same doc_id") {
    // claims written with the DEFAULT srcBatch = NoBatch are not any
    // batch's own claims, so a real batch redelivering doc 20 must
    // still read them as stale (the batch API's redelivery semantics)
    freshTable("spans_idx_default_src")
    val seed = docsDf(1L -> s"the indexed document contains $Run inside it for later")
    IncrementalSpans.buildIndex(seed, "spans_idx_default_src")
    val batch = docsDf(
      20L -> s"first arrival says $Run and some unique twenty tail")
    IncrementalSpans.appendToIndex(batch, "spans_idx_default_src") // srcBatch = NoBatch
    val redelivered = IncrementalSpans
      .probeBatch(spark, batch, "spans_idx_default_src", batchId = 9L)
      .collect()
    assert(redelivered.nonEmpty,
      "default-append rows must stay matchable by later batches")
  }

  test("probe plan never shuffles the index side; index scan is bucket-aligned") {
    freshTable("spans_idx_plan")
    IncrementalSpans.buildIndex(
      Tables.documents(spark, TestSpark.sf0001).select(col("doc_id"), col("text")),
      "spans_idx_plan")
    val batch = docsDf(900L -> s"arriving probe document with $Run within it somewhere")
    val p = IncrementalSpans.probeBatch(spark, batch, "spans_idx_plan")
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(joins.nonEmpty, s"expected a merge join probing the index:\n$p")
    joins.foreach { j =>
      val indexSides = Seq(j.left, j.right)
        .filter(_.toString.contains("spans_idx_plan"))
      assert(indexSides.nonEmpty, s"index table must feed the merge join:\n$j")
      indexSides.foreach { side =>
        val ex = side.collect { case e: ShuffleExchangeExec => e }
        assert(ex.isEmpty,
          s"index side must stay unshuffled (bucketed layout):\n$side")
      }
    }
    assert(p.toString.contains("SelectedBucketsCount"),
      s"index scan must be bucket-aligned:\n$p")
  }

  test("probe and append compile once per stream: batch ids 7 and 8 generate identical source") {
    // StreamingSpans passes a per-trigger StreamEpoch tag as the batch
    // id; a literal id would recompile the probe's and the append's
    // whole-stage classes on every batch
    freshTable("spans_idx_compile")
    val docs = Tables.documents(spark, TestSpark.sf0001).select(col("doc_id"), col("text"))
    IncrementalSpans.buildIndex(docs.filter(col("doc_id") < 200), "spans_idx_compile", buckets = 4)
    // one earlier append first, so both appends below read the same
    // multi-file bucket layout (a single-file bucket plans sort-free)
    IncrementalSpans.appendToIndex(docs.filter(col("doc_id") >= 300), "spans_idx_compile")
    val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 260)
    def probe(id: Long): Seq[String] = {
      val p = IncrementalSpans.probeBatch(spark, batch, "spans_idx_compile", batchId = id)
      p.collect()
      GeneratedSource.of(p)
    }
    val (p7, p8) = (probe(7L), probe(8L))
    assert(p7.nonEmpty)
    GeneratedSource.firstDifference(p7, p8)
      .foreach(d => fail(s"probe source depends on the batch id:\n$d"))
    def append(id: Long): Seq[String] = GeneratedSource.ofInsert(spark, "spans_idx_compile")(
      IncrementalSpans.appendToIndex(batch, "spans_idx_compile", srcBatch = id))
    val (a7, a8) = (append(7L), append(8L))
    GeneratedSource.firstDifference(a7, a8)
      .foreach(d => fail(s"append source depends on the batch id:\n$d"))
    // batch 7 claimed the batch's new fps; batch 8's replay added none
    val tags = spark.table("spans_idx_compile").select("src_batch").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(tags == Set(IncrementalSpans.NoBatch, 7L), s"src_batch tags: $tags")
    spark.sql("DROP TABLE IF EXISTS spans_idx_compile")
  }

  test("streaming restart on the durable checkpoint continues batch ids instead of replaying") {
    freshTable("spans_idx_restart")
    IncrementalSpans.buildIndex(
      docsDf(1L -> s"seed document holding $Run for later batches to repeat"),
      "spans_idx_restart")
    val streamDir = java.nio.file.Files.createTempDirectory("sspans_rs_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sspans_rs_out").toString + "/spans"
    import spark.implicits._
    def writeFile(name: String, id: Long): Unit =
      Seq((id, s"batch doc $id repeats $Run with its own unique tail $id"))
        .toDF("doc_id", "text").coalesce(1).write.parquet(s"$streamDir/$name")
    def batchDirs(): Set[String] =
      Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def start() = StreamingSpans.spanIngest(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/f*"),
      "spans_idx_restart", outDir)

    writeFile("f1", 500L); writeFile("f2", 501L)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(new java.io.File(s"$outDir/_checkpoint").exists(),
      "checkpoint must default to a durable location under outDir")
    assert(batchDirs() == Set("batch_id=0", "batch_id=1"))

    // a third file lands while the stream is down; the RESTARTED query
    // must number it after the processed batches — a fresh temp
    // checkpoint would restart at 0 and stomp the first sink dir
    writeFile("f3", 502L)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(batchDirs() == Set("batch_id=0", "batch_id=1", "batch_id=2"),
      "restart must continue numbering, not replay from zero")
    // every batch doc repeats the seed run exactly once — one span per
    // doc, no duplicates or losses across the restart
    val docs = spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(docs == Seq(500L, 501L, 502L), s"one span per doc, got $docs")
  }

  test("checkpoint wipe: cross-lineage redelivery reads fully stale; outDir re-use fails loudly") {
    // batch-id reuse across a wiped checkpoint (round-15 verdict sweep
    // target #1): the index holds rows tagged by the OLD lineage's
    // batch 0; a raw-id exclusion would let the NEW lineage's batch 0
    // treat them as its own replay and under-flag. With the epoch tag
    // the redelivered doc reads FULLY stale — it was all seen before.
    freshTable("spans_idx_wipe")
    IncrementalSpans.buildIndex(
      docsDf(1L -> s"seed document holding $Run for later batches to repeat"),
      "spans_idx_wipe")
    val streamDir = java.nio.file.Files.createTempDirectory("sspans_wipe_in").toString
    val outDirA = java.nio.file.Files.createTempDirectory("sspans_wipe_outA").toString + "/spans"
    import spark.implicits._
    // 17 tokens: 4 unique + the 8-token Run + 5 unique
    Seq((600L, s"batch doc 600 repeats $Run with its own unique tail"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$streamDir/f1")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/f*")
    val q1 = StreamingSpans.spanIngest(spark, stream(), "spans_idx_wipe", outDirA)
    q1.processAllAvailable(); q1.stop()
    def spansIn(dir: String): Seq[(Long, Int, Int, Long)] =
      spark.read.parquet(dir).select("doc_id", "start_tok", "end_tok", "n_dup_shingles")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq.sorted
    // first lineage: only the planted Run is stale — [4, 12), 1 shingle
    assert(spansIn(outDirA) == Seq((600L, 4, 12, 1L)), s"got ${spansIn(outDirA)}")

    // wipe the checkpoint → new lineage; same outDir must fail loudly
    val cpA = new java.io.File(s"$outDirA/_checkpoint")
    java.nio.file.Files.walk(cpA.toPath)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    val q2 = StreamingSpans.spanIngest(spark, stream(), "spans_idx_wipe", outDirA)
    val ex = intercept[Exception] { q2.processAllAvailable() }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse("")).mkString("|")
    assert(msgs(ex).contains("lineage"), s"expected the lineage guard, got: ${msgs(ex)}")
    q2.stop()
    assert(spansIn(outDirA) == Seq((600L, 4, 12, 1L)),
      "the guard must fire before the old lineage's output is touched")

    // fresh outDir: doc 600's whole text was ingested by the first
    // lineage, so the redelivered copy reads as ONE full-doc span —
    // [0, 17) made of all 10 of its 8-gram shingles (a raw-id
    // exclusion would have re-emitted the first lineage's [4, 12))
    val outDirB = java.nio.file.Files.createTempDirectory("sspans_wipe_outB").toString + "/spans"
    val q3 = StreamingSpans.spanIngest(spark, stream(), "spans_idx_wipe", outDirB)
    q3.processAllAvailable(); q3.stop()
    assert(spansIn(outDirB) == Seq((600L, 0, 17, 10L)), s"got ${spansIn(outDirB)}")
  }

  test("arrival-order contract: ingestion order across batches, id order within a batch") {
    // the stale rule is INGESTION-order across batches (an occurrence
    // is stale iff its fp was seen by ANY earlier batch), id-order
    // only WITHIN a batch (batch_first < doc_id — micro-batches have
    // no internal arrival order). So a later-arriving SMALLER doc_id
    // that repeats an earlier batch's text IS flagged, and it never
    // retroactively changes the earlier batch's verdicts.
    freshTable("spans_idx_order")
    IncrementalSpans.buildIndex(docsDf(), "spans_idx_order")
    val t = "alpha bravo charlie delta echo foxtrot golf hotel"
    // batch 0: doc 50 introduces run t — nothing seen yet, no spans
    val b0 = docsDf(50L -> s"doc fifty presents $t as original content here")
    val out0 = IncrementalSpans.probeBatch(spark, b0, "spans_idx_order", batchId = 0L)
      .collect()
    assert(out0.isEmpty, s"first introduction must not flag, got ${out0.toSeq}")
    IncrementalSpans.appendToIndex(b0, "spans_idx_order", srcBatch = 0L)
    // batch 1: doc 10 — SMALLER id, LATER arrival — repeats t: stale
    // (under the retrospective id-order rule it would be the keeper)
    val b1 = docsDf(10L -> s"late arriving small id repeats $t verbatim")
    val out1 = IncrementalSpans.probeBatch(spark, b1, "spans_idx_order", batchId = 1L)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3))).toSeq
    assert(out1 == Seq((10L, 5, 13)),
      s"later-arriving smaller id must read stale against ingestion history, got $out1")
    IncrementalSpans.appendToIndex(b1, "spans_idx_order", srcBatch = 1L)
    // batch 0's verdict is immutable: re-probing doc 50 AS ITS REPLAY
    // (same batch id) still emits nothing — doc 10's arrival did not
    // retroactively flag it
    assert(IncrementalSpans.probeBatch(spark, b0, "spans_idx_order", batchId = 0L)
      .collect().isEmpty, "earlier batch's replay verdict must be unchanged")
    // within one batch there IS no arrival order — the id rule keeps
    // the smaller id regardless of row order in the frame
    val fresh = "india juliett kilo lima mike november oscar papa"
    val b2 = docsDf(
      80L -> s"doc eighty shares $fresh with its batch sibling",
      70L -> s"doc seventy also carries $fresh inside this batch")
    val out2 = IncrementalSpans.probeBatch(spark, b2, "spans_idx_order", batchId = 2L)
      .collect().map(_.getLong(0)).toSet
    assert(out2 == Set(80L),
      s"within-batch rule is id-order: 70 keeps, 80 flags — got $out2")
  }

  test("index rebuilt between micro-batches with a DIFFERENT bucket count: probe re-aligns, stream continues") {
    // PlanBridge.numBuckets is read per batch from live catalog
    // metadata — a maintenance rebuild (e.g. re-bucketing for growth)
    // between batches must be picked up by the next probe, both for
    // correctness and for the exchange fusion (round-15 verdict sweep
    // target: a stale bucket count would mis-align the batch side)
    freshTable("spans_idx_rebkt")
    val seed = docsDf(1L -> s"seed document holding $Run for later batches to repeat")
    IncrementalSpans.buildIndex(seed, "spans_idx_rebkt", buckets = 4)
    val streamDir = java.nio.file.Files.createTempDirectory("sspans_rb_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sspans_rb_out").toString + "/spans"
    import spark.implicits._
    val doc1 = "batch one text alpha beta gamma delta epsilon zeta eta theta"
    Seq((100L, doc1)).toDF("doc_id", "text").coalesce(1).write.parquet(s"$streamDir/f1")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def start() = StreamingSpans.spanIngest(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/f*"),
      "spans_idx_rebkt", outDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$outDir/batch_id=0").count() == 0,
      "batch 1 is fresh content — no spans")

    // maintenance rebuild while the stream is down and all batches are
    // committed: same logical content (seed + everything ingested),
    // DOUBLE the buckets. The rebuild resets src_batch tags to
    // NoBatch, which can never equal a lineage tag — safe because no
    // uncommitted batch is in flight.
    spark.sql("DROP TABLE IF EXISTS spans_idx_rebkt")
    IncrementalSpans.buildIndex(
      seed.union(docsDf(100L -> doc1)), "spans_idx_rebkt", buckets = 8)
    assert(org.apache.spark.sql.graftbridge.PlanBridge
      .numBuckets(spark, "spans_idx_rebkt").contains(8))

    // batch 2 repeats batch 1's run — found via the rebuilt 8-bucket
    // index, restarted on the SAME checkpoint (same lineage)
    Seq((200L, s"later doc repeats alpha beta gamma delta epsilon zeta eta theta entirely"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$streamDir/f2")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(s"$outDir/batch_id=1")
      .select("doc_id", "start_tok", "end_tok")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got == Seq((200L, 3, 11)),
      s"probe after the re-bucketing rebuild must find batch 1's run, got $got")
  }

  test("streaming twin: micro-batched stream ≡ batch q198-shape accumulation") {
    freshTable("spans_idx_stream"); freshTable("spans_idx_streamref")
    val seed = docsDf(1L -> s"seed document holding $Run for the stream to find later")
    IncrementalSpans.buildIndex(seed, "spans_idx_stream")
    IncrementalSpans.buildIndex(seed, "spans_idx_streamref")

    val fileA = Seq(
      (100L, s"stream batch one repeats $Run then adds its own unique ending"),
      (101L, "stream batch one also carries a fully unique second document here"))
    val fileB = Seq(
      // repeats fileA's unique doc → stale only via the index append
      (200L, "stream batch one also carries a fully unique second document here"),
      (201L, "nothing here has ever been seen before by anything at all"))
    val streamDir = java.nio.file.Files.createTempDirectory("sspans_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sspans_out").toString + "/spans"
    import spark.implicits._
    fileA.toDF("doc_id", "text").coalesce(1).write.parquet(streamDir + "/f1")
    fileB.toDF("doc_id", "text").coalesce(1).write.parquet(streamDir + "/f2")

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir + "/f*")
    val q = StreamingSpans.spanIngest(spark, stream, "spans_idx_stream", outDir)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "span_idx", "start_tok", "end_tok", "span_tokens", "n_dup_shingles")
      .orderBy("doc_id", "span_idx").collect().map(_.toString).toSeq

    // reference: the same two batches through the batch API
    val ref = Seq(fileA, fileB).zipWithIndex.flatMap { case (rows, i) =>
      val b = docsDf(rows: _*)
      val out = IncrementalSpans
        .probeBatch(spark, b, "spans_idx_streamref", batchId = i.toLong)
        .collect().map(_.toString).toSeq
      IncrementalSpans.appendToIndex(b, "spans_idx_streamref", srcBatch = i.toLong)
      out
    }
    assert(streamed == ref,
      s"stream output must equal the batch replay row-for-row:\n$streamed\nvs\n$ref")
    // the cross-batch dependency actually fired: doc 200's staleness
    // exists only because batch A's append reached batch B's probe
    assert(streamed.exists(_.startsWith("[200,")),
      s"doc 200 must carry a span (repeats batch A's doc 101): $streamed")
  }
}
