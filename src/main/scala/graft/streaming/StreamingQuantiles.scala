package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming QUANTILE-SKETCH STORE — the persistence half of the
  * streaming quantile story: [[EventStream.windowedQuantileSketches]]
  * emits one HDR sketch per watermark-closed window; this sink LANDS
  * those sketches in a parquet store, and [[rollup]] merges the stored
  * kilobyte histograms into coarser windows (hourly → daily, per-window
  * → SLA report) without ever re-reading raw events — q185's
  * stored-rollup pattern with a stream as the producer.
  *
  * Idempotence: the windowed aggregate runs in APPEND output mode, so
  * a window is emitted exactly once, in the micro-batch where the
  * watermark passes its end — batches carry DISJOINT window sets. Each
  * batch overwrites its own `batch=<id>` directory ([[persistBatch]]);
  * foreachBatch batch ids are stable across a checkpoint restart, so
  * an at-least-once replay rewrites the same directory with the same
  * rows instead of double-counting (QuantileStreamSpec calls the hook
  * twice to pin it). Windows still open when the stream stops are NOT
  * in the store — the store is the finalized-window ledger, the same
  * contract a batch vintage table has.
  *
  * Scale shape: the stream's aggregation state is one fixed-size
  * histogram per open window; the store grows by one ~KB row per
  * closed window; a rollup reads sketches, never events. Merging is
  * element-wise addition — LOSSLESS, so a rolled-up readout is
  * IDENTICAL to a direct batch pass over the same rows (the spec pins
  * byte-level sketch equality and readout equality).
  */
object StreamingQuantiles {

  /** The store's row contract — what [[EventStream.windowedQuantileSketches]]
    * emits and what [[readSketchStore]] returns (QuantileStreamSpec pins
    * the producer's schema against this, so the two cannot drift). Reads
    * always declare it explicitly: schema inference over a store whose
    * only batch directory holds no committed files yet (crash
    * mid-overwrite) would otherwise throw instead of reading zero rows. */
  val storeSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("win_start", LongType),
      StructField("sk", BinaryType), StructField("n_events", LongType)))
  }

  /** One micro-batch of closed windows → `storeDir/batch=<id>`,
    * overwrite-by-batch-id for replay idempotence. Visible (not just
    * the stream hook) so the replay test drives the exact code the
    * stream runs. Empty batches (no window closed this trigger) write
    * nothing — an absent directory and an empty one read the same.
    * The batch is cached around the emptiness probe so the stateful
    * aggregation runs once per trigger, not once per action.
    *
    * Publication is write-to-dot-staging + RENAME (round-14 review —
    * the sibling ledger/snapshot sinks' discipline): a direct
    * mode(overwrite) commits part-files into the live dir one rename
    * at a time, so a crash mid-job-commit left a SUBSET of the
    * batch's windows readable as durable store content until the
    * replay. The dot-prefixed staging dir is invisible to both the
    * `batch=` listing probe and the parquet reader; crash debris
    * there is deleted by the replay before re-writing. The remaining
    * exposure is the delete→rename instant on the live dir — the
    * already-documented reads-as-zero-rows window — not a partial
    * batch. */
  def persistBatch(batch: DataFrame, batchId: Long, storeDir: String): Unit = {
    val cached = batch.persist()
    try {
      if (!cached.isEmpty) {
        val staging = new Path(s"$storeDir/.staging-batch=$batchId")
        val live = new Path(s"$storeDir/batch=$batchId")
        val fs = staging.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        fs.delete(staging, true)
        cached.write.mode("overwrite").parquet(staging.toString)
        fs.delete(live, true)
        if (!fs.rename(staging, live))
          throw new java.io.IOException(
            s"cannot publish $staging -> $live (rename returned false)")
      }
    } finally { cached.unpersist(); () }
  }

  /** The streaming hook: windowed HDR sketches of `events`, appended
    * to the store as they finalize, one `batch=<id>` dir per raw batch
    * id. Restart semantics are [[StreamEpoch.lineageSink]]'s. */
  def sketchStoreSink(spark: SparkSession, events: DataFrame,
                      storeDir: String,
                      checkpointDir: Option[String] = None): StreamingQuery =
    StreamEpoch.lineageSink(spark, EventStream.windowedQuantileSketches(events),
        storeDir, checkpointDir) { (batch, batchId, _) =>
      persistBatch(batch, batchId, storeDir)
    }

  /** Reads the persisted finalized-window sketches (win_start BIGINT
    * epoch-seconds, sk BINARY, n_events BIGINT). The `batch=<id>`
    * layout surfaces as a partition column — an implementation detail
    * of the idempotence contract, dropped here. An empty or absent
    * store reads as zero rows (a stream that never closed a window is
    * a valid vintage). */
  def readSketchStore(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasBatches = fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("batch="))
    if (!hasBatches)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], storeSchema)
    else
      // declared schema (+ the layout's partition column): no footer
      // inference, so a batch dir stranded file-less by a crash between
      // overwrite's delete and commit reads as zero rows, not an error
      spark.read
        .schema(StructType(storeSchema.fields :+ StructField("batch", LongType)))
        .option("basePath", storeDir).parquet(storeDir).drop("batch")
  }

  /** Rolls the stored per-window sketches up to `coarsenSeconds`
    * buckets: one merged histogram per coarse window, read out at the
    * requested quantiles (`qv[i]` = lower-bound value at `qs(i)`, in
    * the producer's fixed-point cents domain). Because the histogram
    * merge is lossless, each row EQUALS what a direct pass over that
    * coarse window's raw events would report — events that are long
    * gone. */
  def rollup(spark: SparkSession, storeDir: String,
             coarsenSeconds: Long, qs: Seq[Double]): DataFrame = {
    require(coarsenSeconds > 0, s"coarsenSeconds must be positive, got $coarsenSeconds")
    readSketchStore(spark, storeDir)
      .groupBy((col("win_start") - pmod(col("win_start"), lit(coarsenSeconds)))
        .as("bucket_start"))
      .agg(sum(col("n_events")).as("n_events"),
        graft.functions.HdrQuantileAgg.hdrMergeQuantiles(col("sk"), qs).as("qv"))
      .orderBy(col("bucket_start"))
  }

  /** Whole-store rollup: one row — total finalized events and the
    * merged-readout quantiles across every persisted window. */
  def rollupTotal(spark: SparkSession, storeDir: String,
                  qs: Seq[Double]): DataFrame =
    readSketchStore(spark, storeDir)
      // coalesce: sum over ZERO rows (absent/never-written store) is
      // null while qv is a real zero-quantile array — callers read
      // n_events as a long (the survivalCurve discipline)
      .agg(coalesce(sum(col("n_events")), lit(0L)).as("n_events"),
        graft.functions.HdrQuantileAgg.hdrMergeQuantiles(col("sk"), qs).as("qv"))
}
