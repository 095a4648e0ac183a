package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, IncrementalDedup}
import graft.streaming.StreamingDedup

class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  test("micro-batches dedup against the index AND earlier batches; uniques append") {
    spark.sql("DROP TABLE IF EXISTS stream_dedup_index")
    val wh = new java.io.File("/tmp/graft-test-warehouse/stream_dedup_index")
    if (wh.exists()) {
      java.nio.file.Files.walk(wh.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    import spark.implicits._

    // seed corpus (indexed before the stream starts)
    val seed = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "one two three four five six seven")).toDF("doc_id", "text")
    IncrementalDedup.buildIndex(seed, "stream_dedup_index")

    // two stream files = two micro-batches (maxFilesPerTrigger=1):
    //  batch A: a fresh doc + an exact dup of seed doc 0
    //  batch B: a fresh doc + an exact dup of batch A's fresh doc
    val streamDir = java.nio.file.Files.createTempDirectory("sdedup_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sdedup_out").toString + "/uniques"
    Seq((100L, "totally new content about maps and layers"),
        (101L, "alpha beta gamma delta epsilon zeta")) // dup of seed 0
      .toDF("doc_id", "text").coalesce(1).write.parquet(streamDir + "/f1")
    Seq((200L, "another brand new document entirely here"),
        (201L, "totally new content about maps and layers")) // dup of 100
      .toDF("doc_id", "text").coalesce(1).write.parquet(streamDir + "/f2")

    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir + "/f*")
    val q = StreamingDedup.dedupedIngest(spark, stream, "stream_dedup_index", outDir)
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(100L, 200L),
      s"expected only the two fresh docs to survive, got $got")
    // the index absorbed exactly the survivors
    val indexed = spark.table("stream_dedup_index")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(0L, 1L, 100L, 200L))
  }

  test("replay against an index already holding the batch's own docs converges — no self-match data loss") {
    // the crash window: a batch's appendToIndex lands, the process
    // dies BEFORE the streaming checkpoint commits, and the replay
    // probes an index containing the batch's own signatures. Without
    // probeBatch's self-match exclusion every survivor matches itself
    // at est_jaccard 1.0 and the overwrite-by-batch-id replay rewrites
    // the batch dir EMPTY. Simulated FAITHFULLY (round 16): same
    // checkpoint with its commit log truncated — a real crash keeps
    // the checkpoint (same query id, same epoch tag); a FRESH
    // checkpoint is a new LINEAGE, which is the wipe test below, not
    // a replay.
    spark.sql("DROP TABLE IF EXISTS stream_dedup_index3")
    val wh = new java.io.File("/tmp/graft-test-warehouse/stream_dedup_index3")
    if (wh.exists()) {
      java.nio.file.Files.walk(wh.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    import spark.implicits._
    IncrementalDedup.buildIndex(
      Seq((0L, "seed document with some words")).toDF("doc_id", "text"),
      "stream_dedup_index3")
    val streamDir = java.nio.file.Files.createTempDirectory("sdedup3_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sdedup3_out").toString + "/uniques"
    Seq((400L, "fresh content the index has never seen"),
        (401L, "other new words entirely distinct again"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(streamDir + "/f1")
    val cp = java.nio.file.Files.createTempDirectory("sdedup3_cp").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir + "/f*")
      val q = StreamingDedup.dedupedIngest(spark, stream,
        "stream_dedup_index3", outDir, checkpointDir = Some(cp))
      q.processAllAvailable()
      q.stop()
    }
    run()
    def corpus(): Set[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpus() == Set(400L, 401L))
    // crash-before-commit: the offset WAL survives, the commit record
    // does not — the restarted query re-runs batch 0 against an index
    // already holding the batch's own signatures
    val commit0 = new java.io.File(s"$cp/commits/0")
    assert(commit0.exists(), "test setup: batch 0 commit record expected")
    assert(commit0.delete())
    // the local-FS checksum sibling too, or the replay's commit write
    // fails its rename with FileAlreadyExists
    new java.io.File(s"$cp/commits/.0.crc").delete()
    run() // the replay
    assert(corpus() == Set(400L, 401L),
      "a replayed batch must not be deleted by its own index entries")
    // doubled index rows are allowed; the distinct doc set is not
    val indexed = spark.table("stream_dedup_index3")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(0L, 400L, 401L))
  }

  test("checkpoint WIPE is a new lineage: outDir re-use fails loudly, fresh-outDir redelivery dedups") {
    // the round-15 verdict sweep target: after a checkpoint wipe the
    // batch id sequence restarts, so a NEW batch 0 claims the same id
    // as the long-gone batch 0 whose rows the index still holds. With
    // the raw-id exclusion a redelivered doc skipped its own
    // historical entries ("my replay's rows") and landed duplicated;
    // the epoch tag scopes exclusion to the checkpoint lineage.
    spark.sql("DROP TABLE IF EXISTS stream_dedup_index5")
    val wh = new java.io.File("/tmp/graft-test-warehouse/stream_dedup_index5")
    if (wh.exists()) {
      java.nio.file.Files.walk(wh.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    import spark.implicits._
    IncrementalDedup.buildIndex(
      Seq((0L, "seed document with some words")).toDF("doc_id", "text"),
      "stream_dedup_index5")
    val streamDir = java.nio.file.Files.createTempDirectory("sdedup5_in").toString
    val outDirA = java.nio.file.Files.createTempDirectory("sdedup5_outA").toString + "/uniques"
    Seq((600L, "lineage test fresh content never seen"),
        (601L, "second fresh document of the first lineage"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(streamDir + "/f1")
    def stream() = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir + "/f*")
    val q1 = StreamingDedup.dedupedIngest(spark, stream(), "stream_dedup_index5", outDirA)
    q1.processAllAvailable(); q1.stop()
    def docsIn(dir: String): Set[Long] = spark.read.parquet(dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(docsIn(outDirA) == Set(600L, 601L))

    // wipe the checkpoint; re-using the SAME outDir must fail loudly
    // (the new lineage's restarted ids would stomp batch_id=0)
    val cpA = new java.io.File(s"$outDirA/_checkpoint")
    java.nio.file.Files.walk(cpA.toPath)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    val q2 = StreamingDedup.dedupedIngest(spark, stream(), "stream_dedup_index5", outDirA)
    val ex = intercept[Exception] { q2.processAllAvailable() }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse("")).mkString("|")
    assert(msgs(ex).contains("lineage"), s"expected the lineage guard, got: ${msgs(ex)}")
    q2.stop()
    assert(docsIn(outDirA) == Set(600L, 601L),
      "the guard must fire BEFORE anything of the old lineage's output is touched")

    // a fresh outDir under the new lineage: the re-served docs match
    // their own first-lineage index entries and drop as duplicates
    val outDirB = java.nio.file.Files.createTempDirectory("sdedup5_outB").toString + "/uniques"
    val q3 = StreamingDedup.dedupedIngest(spark, stream(), "stream_dedup_index5", outDirB)
    q3.processAllAvailable(); q3.stop()
    assert(docsIn(outDirB) == Set.empty,
      "cross-lineage redelivery must dedup against the retained index")
    assert(docsIn(outDirA) == Set(600L, 601L), "first lineage's corpus stays intact")
  }

  test("same doc_id redelivered in a LATER batch dedups against its own index entry") {
    // the OTHER redelivery mode (round-13 advice): an at-least-once
    // source re-sends a doc_id in a later batch — OUTSIDE checkpoint
    // replay, so the batch id differs. A blanket same-id self-match
    // filter (the round-13 fix's first form) made that doc invisible
    // to its own index entry and it landed duplicated across two
    // batch_id dirs; the batch-scoped exclusion must let it match.
    spark.sql("DROP TABLE IF EXISTS stream_dedup_index4")
    val wh = new java.io.File("/tmp/graft-test-warehouse/stream_dedup_index4")
    if (wh.exists()) {
      java.nio.file.Files.walk(wh.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    import spark.implicits._
    IncrementalDedup.buildIndex(
      Seq((0L, "seed document with some words")).toDF("doc_id", "text"),
      "stream_dedup_index4")
    val streamDir = java.nio.file.Files.createTempDirectory("sdedup4_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sdedup4_out").toString + "/uniques"
    Seq((500L, "content that will be redelivered later on"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(streamDir + "/f1")
    Seq((500L, "content that will be redelivered later on"), // redelivery
        (501L, "a genuinely new second batch document"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(streamDir + "/f2")
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir + "/f*")
    val q = StreamingDedup.dedupedIngest(spark, stream, "stream_dedup_index4", outDir)
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows.sorted == Seq(500L, 501L),
      s"redelivered doc_id must land exactly once across batch dirs, got $rows")
  }

  test("batch-internal dup (same micro-batch) is also dropped") {
    spark.sql("DROP TABLE IF EXISTS stream_dedup_index2")
    val wh = new java.io.File("/tmp/graft-test-warehouse/stream_dedup_index2")
    if (wh.exists()) {
      java.nio.file.Files.walk(wh.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    import spark.implicits._
    IncrementalDedup.buildIndex(
      Seq((0L, "seed document with some words")).toDF("doc_id", "text"),
      "stream_dedup_index2")

    val streamDir = java.nio.file.Files.createTempDirectory("sdedup2_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sdedup2_out").toString + "/uniques"
    Seq((300L, "identical twins inside one single batch"),
        (301L, "identical twins inside one single batch"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(streamDir + "/f1")

    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir + "/f*")
    val q = StreamingDedup.dedupedIngest(spark, stream, "stream_dedup_index2", outDir)
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(300L), s"lowest id should win within a batch, got $got")
  }

  /** Builds `table` over one unrelated seed doc, then runs `batches`
    * as consecutive micro-batches of a fresh dedupedIngest; returns
    * the survivors' doc_ids, one entry per landed row. */
  private def triggers(table: String,
                       batches: org.apache.spark.sql.DataFrame*): Seq[Long] = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new java.io.File(s"/tmp/graft-test-warehouse/$table")
    if (wh.exists()) {
      java.nio.file.Files.walk(wh.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    import spark.implicits._
    IncrementalDedup.buildIndex(
      Seq((0L, "seed document with some words")).toDF("doc_id", "text"), table)
    val streamDir = java.nio.file.Files.createTempDirectory(s"${table}_in").toString
    val outDir = java.nio.file.Files.createTempDirectory(s"${table}_out").toString + "/uniques"
    batches.zipWithIndex.foreach { case (docs, i) =>
      docs.coalesce(1).write.parquet(s"$streamDir/f${i + 1}") }
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir + "/f*")
    val q = StreamingDedup.dedupedIngest(spark, stream, table, outDir)
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(outDir).select("doc_id").collect().map(_.getLong(0)).toSeq
  }

  private def oneTrigger(table: String, docs: org.apache.spark.sql.DataFrame): Set[Long] =
    triggers(table, docs).toSet

  test("batch-internal drops are the batch pass's id_b set: one hop, lowest id wins") {
    import spark.implicits._
    // a near-dup chain A~B~C with A≁C (estimates 0.84, 0.86 and 0.70
    // under the seeded signatures), one exact pair, one singleton
    def words(idx: Range) = idx.map(i => s"t50w$i").mkString(" ")
    val batch = Seq(
      (1L, words(0 until 40)),
      (2L, words(3 until 43)),
      (3L, words(6 until 46)),
      (4L, "identical twins inside one single batch"),
      (5L, "identical twins inside one single batch"),
      (6L, "a singleton with nothing near it at all"))
      .toDF("doc_id", "text")
    val pass = Dedup.minhashCandidatePairsOf(batch, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pass == Set((1L, 2L), (2L, 3L), (4L, 5L)), s"planted pairs, got $pass")
    val dropped = Set(1L, 2L, 3L, 4L, 5L, 6L) -- oneTrigger("stream_dedup_index6", batch)
    assert(dropped == pass.map(_._2), s"stream dropped $dropped")
  }

  test("a dedup trigger leaves the batch pass's signature-cache slot in place") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
    Dedup.minhashCandidatePairsOf(docs, 0.8).count()
    // an equal plan finds the slot's registration (canonical equality)
    def slotCached = Dedup.withMinhash(docs).select(col("doc_id"), col("sig"), col("bands"))
      .storageLevel != org.apache.spark.storage.StorageLevel.NONE
    assert(slotCached, "setup: the batch pass registers its signature cache")
    val survivors = oneTrigger("stream_dedup_index7", Seq(
      (700L, "twins that the trigger's internal pass drops"),
      (701L, "twins that the trigger's internal pass drops")).toDF("doc_id", "text"))
    assert(survivors == Set(700L))
    assert(slotCached, "a stream trigger evicted the batch pass's signature cache")
  }

  test("a doc_id repeated within one trigger lands: its copies never pair with each other") {
    import spark.implicits._
    // an at-least-once source re-sending a doc inside the same
    // micro-batch: both copies band into the same buckets, and a
    // self-pair would score 1.0 and drop the doc outright
    val landed = triggers("stream_dedup_index8", Seq(
      (800L, "a document the source delivered twice in one batch"),
      (800L, "a document the source delivered twice in one batch"),
      (801L, "an unrelated neighbour that keeps its own place")).toDF("doc_id", "text"))
    assert(landed.toSet == Set(800L, 801L), s"got $landed")
    assert(landed.count(_ == 800L) == 2, s"every copy of a repeated doc_id lands, got $landed")
  }

  test("an exact flood over MaxBucket in one trigger keeps its lowest id and stays one index entry") {
    import spark.implicits._
    // more identical docs than the band-bucket cap admits: banded
    // alone, every bucket they share is skipped and all of them land
    val text = "the same boilerplate footer pasted into every page"
    val flood = (1000L until 1000L + Dedup.MaxBucket + 50).map(i => (i, text))
    val table = "stream_dedup_index9"
    val landed = triggers(table,
      flood.toDF("doc_id", "text"),
      Seq((5000L, text), (5001L, "a fresh page with its own words")).toDF("doc_id", "text"))
    assert(landed.sorted == Seq(1000L, 5001L),
      s"got ${landed.size} rows, first ${landed.sorted.take(5)}")
    val indexed = spark.table(table).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(indexed == Set(0L, 1000L, 5001L), s"the flood must enter the index once, got $indexed")
  }

  test("one trigger signs its documents once: one MinHashSig across the trigger's plans") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    // the probe, the batch-internal step and the index append all
    // need signatures; signing each time put three MinHashSig passes
    // in every trigger
    val table = "stream_dedup_index10"
    // the trigger's corpus write and index append: an AQE write hides
    // its command node inside the adaptive plan
    def triggerWrite(p: SparkPlan): Boolean = p.exists {
      case a: AdaptiveSparkPlanExec => triggerWrite(a.executedPlan)
      case q: QueryStageExec => triggerWrite(q.plan)
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          i.outputPath.toString.contains("batch_id=") ||
            i.catalogTable.exists(_.identifier.table == table)
        case _ => false
      }
      case _ => false
    }
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (triggerWrite(qe.executedPlan)) writes.add(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val landed = triggers(table, Seq(
        (1000L, "a fresh document about maps and their layers"),
        (1001L, "seed document with some words"), // dup of the index's seed
        (1002L, "twins that the trigger's internal pass drops"),
        (1003L, "twins that the trigger's internal pass drops")).toDF("doc_id", "text"))
      assert(landed.toSet == Set(1000L, 1002L), s"got $landed")
      // listener events arrive asynchronously
      def plans = writes.toArray(Array.empty[SparkPlan]).toSeq
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(plans.size == 2, s"expected the trigger's two writes, got ${plans.size}")
      val n = GeneratedSource.exprCount[graft.functions.MinHashSig](plans: _*)
      assert(n == 1, s"one trigger ran $n MinHashSig passes")
    } finally spark.listenerManager.unregister(listener)
  }
}
