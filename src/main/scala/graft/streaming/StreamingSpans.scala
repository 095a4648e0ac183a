package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.IncrementalSpans

/** Streaming duplicate-SPAN finding (the q188 arc's streaming twin,
  * round-14 verdict #3): ties the persisted shingle-occurrence index
  * ([[graft.ops.IncrementalSpans]]) into a Structured Streaming loop —
  * per micro-batch of arriving documents:
  *
  *   1. probe the bucketed index: maximal token runs the batch
  *      repeats from everything already ingested (or from a
  *      smaller-doc_id doc of the same batch), emitted as q188-shaped
  *      remove-spans;
  *   2. land the batch's spans in `outDir/batch_id=<id>/`;
  *   3. append the batch's first-seen shingle fps to the index, so
  *      later batches cut against them.
  *
  * foreachBatch for the same reason as [[StreamingDedup]]: the probe
  * is a batch join against a non-streaming bucketed table. State
  * lives in the index table, not executor memory — restartable and
  * unbounded-corpus-safe. Restart semantics are
  * [[StreamEpoch.lineageSink]]'s; the index append is idempotent
  * (anti-joined), and probeBatch's same-batch self-match exclusion
  * (scoped by [[StreamEpoch.tag]]) keeps a replay-after-append
  * emitting the SAME spans it emitted the first time instead of
  * reading its own index entries as 100% staleness. */
object StreamingSpans {

  /** Starts the span-finding stream over `streamingDocs` (documents
    * schema: doc_id, text, ...). */
  def spanIngest(spark: SparkSession, streamingDocs: DataFrame,
                 indexTable: String, outDir: String,
                 checkpointDir: Option[String] = None): StreamingQuery =
    StreamEpoch.lineageSink(spark, streamingDocs, outDir, checkpointDir) {
      (batch, batchId, tag) =>
        val b = batch.persist()
        try {
          IncrementalSpans.probeBatch(spark, b, indexTable, batchId = tag)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
          IncrementalSpans.appendToIndex(b, indexTable, srcBatch = tag)
          spark.catalog.refreshTable(indexTable)
        } finally b.unpersist()
        ()
    }
}
