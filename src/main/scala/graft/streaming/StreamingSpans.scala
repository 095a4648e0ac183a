package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * unbounded-corpus-safe.
  *
  * Restart semantics (the StreamingDedup contract): durable
  * checkpoint by default; the span write is per-batch OVERWRITE into
  * `batch_id=<id>/`, so a replayed micro-batch rewrites its own
  * directory; the index append is idempotent (anti-joined), and
  * probeBatch's batch-scoped self-match exclusion keeps a
  * replay-after-append emitting the SAME spans it emitted the first
  * time instead of reading its own index entries as 100% staleness.
  * The exclusion is scoped to the CHECKPOINT LINEAGE via
  * [[StreamEpoch.tag]]: after a checkpoint wipe the restarted
  * id sequence would otherwise collide with the ids already in the
  * index, and a doc redelivered in a same-numbered batch would read
  * its own historical entries as "my replay" and silently skip them —
  * with the epoch tag it reads fully stale, the documented
  * cross-lineage-redelivery semantics. */
object StreamingSpans {

  /** Starts the span-finding stream over `streamingDocs` (documents
    * schema: doc_id, text, ...). */
  def spanIngest(spark: SparkSession, streamingDocs: DataFrame,
                 indexTable: String, outDir: String,
                 checkpointDir: Option[String] = None): StreamingQuery = {
    val cp = checkpointDir.getOrElse(s"$outDir/_checkpoint")
    streamingDocs.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qid = StreamEpoch.queryId(spark, cp)
        StreamEpoch.ensureLineage(spark, outDir, qid)
        val tag = StreamEpoch.tag(qid, batchId)
        val b = batch.persist()
        try {
          IncrementalSpans.probeBatch(spark, b, indexTable, batchId = tag)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
          IncrementalSpans.appendToIndex(b, indexTable, srcBatch = tag)
          // the StreamingNovelty discipline: foreachBatch binds to a
          // cloned session; refresh the OUTER session's listing so the
          // next batch's probe sees this append
          spark.catalog.refreshTable(indexTable)
        } finally { b.unpersist(); () }
        ()
      }
      .start()
  }
}
