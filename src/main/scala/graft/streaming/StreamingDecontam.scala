package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.IncrementalDecontam

/** Streaming ingest-with-decontamination: ties the persisted test-set
  * fingerprint index ([[graft.ops.IncrementalDecontam]]) into a
  * Structured Streaming loop — new training batches are screened
  * against the benchmark/eval sets as they arrive, so contaminated
  * documents never reach the training sink:
  *
  *   for each micro-batch of documents:
  *     1. probe the bucketed fingerprint index (index side stays
  *        unshuffled — only the batch moves);
  *     2. route: clean docs → the training sink; hit docs → a
  *        quarantine sink with their hit counts, for audit.
  *
  * foreachBatch is the right tool: the probe is a batch join against a
  * non-streaming table, which pure streaming operators can't express.
  * Unlike [[StreamingDedup]] the index is STATIC — screening a batch
  * never mutates it — so replays are trivially idempotent on the index,
  * the step needs no batch tag and no table refresh, and the per-batch
  * overwrite makes the sinks replay-safe too.
  */
object StreamingDecontam {

  /** Starts the screened-ingest stream: `streamingDocs` must carry the
    * documents schema (doc_id, text, ...). Clean docs land in
    * `outDir/clean/batch_id=<id>/`; contaminated docs (joined with
    * their distinct-shingle hit counts) in
    * `outDir/quarantine/batch_id=<id>/`. Restart semantics are
    * [[StreamEpoch.lineageSink]]'s. */
  def screenedIngest(spark: SparkSession, streamingDocs: DataFrame,
                     indexTable: String, outDir: String,
                     checkpointDir: Option[String] = None): StreamingQuery =
    StreamEpoch.lineageSink(spark, streamingDocs, outDir, checkpointDir) {
      (batch, batchId, _) =>
        val b = batch.persist()
        try {
          val hits = IncrementalDecontam.screenBatch(spark, b, indexTable)
            .persist()
          // hits' cache gets its own finally (the StreamingDedup
          // discipline): a failed quarantine write must not pin it —
          // the stream retries the batch and would stack a fresh
          // persist per attempt
          try {
            b.join(hits, Seq("doc_id"), "left_anti")
              .write.mode("overwrite").parquet(s"$outDir/clean/batch_id=$batchId")
            b.join(hits, Seq("doc_id"))
              .write.mode("overwrite").parquet(s"$outDir/quarantine/batch_id=$batchId")
          } finally hits.unpersist()
        } finally b.unpersist()
        ()
    }
}
