package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{Dedup, IncrementalDedup}

/** Streaming ingest-with-dedup (ROADMAP #3): ties the persisted
  * signature index ([[graft.ops.IncrementalDedup]]) into a Structured
  * Streaming loop — the shape of a production training-data ingest:
  *
  *   for each micro-batch of documents:
  *     1. probe the bucketed index for near-duplicates (index side
  *        stays unshuffled — only the batch moves);
  *     2. batch-internal dedup: keep the lowest doc_id per duplicate
  *        pair within the batch;
  *     3. append surviving uniques to the corpus sink AND the index,
  *        so later batches dedup against them.
  *
  * foreachBatch is the right tool: the probe is a batch join against a
  * non-streaming table, which pure streaming operators can't express.
  * State lives in the index table, not executor memory — restartable
  * and unbounded-corpus-safe.
  */
object StreamingDedup {

  /** Starts the deduped-ingest stream: `streamingDocs` must carry the
    * documents schema (doc_id, text, ...). Uniques land in `outDir`
    * (one overwritten `batch_id=<id>/` per micro-batch) and are
    * folded into the index table. Restart semantics are
    * [[StreamEpoch.lineageSink]]'s.
    *
    * Batch-internal near-dups: exact copies of the cross-batch
    * survivors (equal signatures, so est_jaccard 1.0) first collapse
    * to their lowest doc_id in one linear window over the signature;
    * the representatives then go through the batch pass's capped LSH
    * core ([[Dedup.scoredPairs]]) over their own signatures, computed
    * once per trigger: one hop, and the higher id of every pair at
    * est_jaccard ≥ `threshold` is dropped, so the lowest id wins. A
    * band bucket with more than [[Dedup.MaxBucket]] representatives
    * in one batch is skipped — the recall trade
    * [[IncrementalDedup.probeBatch]] and the batch pass already make
    * — and the estimate is rounded to 4 places as the probe's is
    * (estimates are k/64, so no decision changes at 0.8). An exact
    * flood (boilerplate, spam) never meets the cap: it collapses
    * before banding and enters the index as one row per band. More
    * than MaxBucket DISTINCT near-copies sharing a band bucket do
    * meet it: they all land, their index rows take that bucket over
    * probeBatch's cap, and later batches skip the bucket as well. A
    * doc_id repeated within one batch is never paired with itself,
    * so every copy of it lands.
    *
    * Same-batch self-exclusion: index rows carry the [[StreamEpoch.tag]]
    * of the batch that wrote them, and probeBatch excludes exactly
    * the SAME-batch self-matches. A batch replayed after its own
    * appendToIndex landed would otherwise self-match at 1.0 and
    * rewrite its dir EMPTY; probeBatch returns one row per (new_id,
    * match_id), so doubled index rows change no dedup decision. An
    * at-least-once source re-sending a doc_id in a LATER batch still
    * matches its own earlier entry and is dropped, and after a
    * checkpoint wipe the new lineage's tags match nothing the old
    * one wrote, so a redelivered doc reads as the duplicate it is. */
  def dedupedIngest(spark: SparkSession, streamingDocs: DataFrame,
                    indexTable: String, outDir: String,
                    threshold: Double = 0.8,
                    checkpointDir: Option[String] = None): StreamingQuery =
    StreamEpoch.lineageSink(spark, streamingDocs, outDir, checkpointDir) {
      (batch, batchId, tag) =>
        // signed once per trigger: the probe, the representatives and
        // the index append all read this frame's sig and bands
        val b = Dedup.withMinhash(batch).persist()
        try {
          val crossBatchDups = IncrementalDedup
            .probeSigned(spark, b, indexTable, threshold, Dedup.MaxBucket, tag, Dedup.Bands)
            .select(col("new_id")).distinct()
          // the cross-batch survivors' exact-copy representatives, read
          // by the banding, both signature rejoins and the survivor
          // filter: persisted here, never through Dedup's one-slot
          // signature cache, which a trigger would evict from under a
          // concurrent batch pass
          val reps = b.join(crossBatchDups, b("doc_id") === crossBatchDups("new_id"), "left_anti")
            .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("sig"))))
            .filter(col("doc_id") === col("keep_id")).drop("keep_id")
            .persist()
          try {
            val internalDups = Dedup.scoredPairs(reps, threshold)
              .select(col("id_b")).distinct()
            val survivors = reps
              .join(internalDups, reps("doc_id") === internalDups("id_b"), "left_anti")
              .persist()
            // survivors' cache has its own finally: a failed corpus
            // write or index append must not pin it for the session
            try {
              survivors.drop("sig", "bands")
                .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
              IncrementalDedup.appendSigned(survivors, indexTable, tag)
              spark.catalog.refreshTable(indexTable)
            } finally survivors.unpersist()
          } finally reps.unpersist()
        } finally b.unpersist()
        ()
    }
}
