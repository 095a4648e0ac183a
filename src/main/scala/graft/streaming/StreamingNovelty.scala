package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.IncrementalNovelty

/** Streaming ingest-with-novelty-scoring: ties the persisted
  * seen-shingle index ([[graft.ops.IncrementalNovelty]]) into a
  * Structured Streaming loop — each arriving micro-batch of documents
  * is scored for first-occurrence novelty against everything ingested
  * before it, then its own new shingles join the index:
  *
  *   for each micro-batch:
  *     1. screenBatch — per-doc novelty vs the index (index side
  *        unshuffled; the batch aligns to its buckets);
  *     2. write the verdicts to `outDir/scores/batch_id=<id>/`;
  *     3. appendToIndex — the batch's first-seen shingles, deduped by
  *        the same merge anti-join.
  *
  * foreachBatch is the right tool (a batch join + table append that
  * pure streaming operators can't express). Unlike
  * [[StreamingDecontam]]'s STATIC index this one MUTATES per batch,
  * so at-least-once replay is handled structurally rather than by
  * immutability: the index rows carry the CLAIMING doc id, so a
  * replayed batch re-screened after its own append self-attributes
  * its first occurrences and reproduces identical scores (pinned by
  * StreamingNoveltySpec's screen-after-append test), and the append's
  * anti-join adds nothing the second time. Self-attribution is
  * doc_id-keyed, so the INDEX is wipe-safe too: a cross-lineage
  * redelivery reproduces its original verdicts, and the step needs
  * no batch tag. The rest of the restart semantics are
  * [[StreamEpoch.lineageSink]]'s. */
object StreamingNovelty {

  def scoredIngest(spark: SparkSession, streamingDocs: DataFrame,
                   indexTable: String, outDir: String,
                   checkpointDir: Option[String] = None): StreamingQuery =
    StreamEpoch.lineageSink(spark, streamingDocs, outDir, checkpointDir) {
      (batch, batchId, _) =>
        // shingle ONCE per trigger: the screen and the append both
        // consume the same (source, doc_id, fp) frame, and the
        // shingling explode over full text is the dominant batch-side
        // cost — caching the raw docs instead ran it twice (round-14
        // review)
        val sh = IncrementalNovelty.docShingles(batch).persist()
        try {
          // score BEFORE append: a crash between the two replays the
          // whole batch, and self-attribution keeps the re-screen
          // identical whether or not the append had landed
          IncrementalNovelty.screenShingled(spark, sh, indexTable)
            .write.mode("overwrite").parquet(s"$outDir/scores/batch_id=$batchId")
          IncrementalNovelty.appendShingled(sh, indexTable)
          spark.catalog.refreshTable(indexTable)
        } finally sh.unpersist()
        ()
    }
}
