package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NativeExprs

/** Incremental duplicate-SPAN finding against a persisted shingle-
  * occurrence index — the fourth member of the incremental-index
  * family (q78 contamination, q186 novelty, q189 near-dup, this one
  * sub-document exact-substring dedup), closing the one production
  * dedup family that had no incremental form (round-14 verdict #3).
  *
  * Semantics — the ASYMMETRIC (ingestion-order) twin of q188: q188's
  * corpus-wide rule flags a shingle when it appears in ≥ 2 distinct
  * docs, which is inherently retrospective (doc A's span exists
  * because a LATER doc B repeats it). An ingestion pipeline instead
  * cuts what each ARRIVING doc repeats from everything already
  * ingested: an occurrence `(doc, pos, fp)` is STALE iff its fp was
  * seen by the index (any earlier batch) or by a smaller-doc_id doc
  * of the same batch. Over doc_id-ordered batches this decomposes
  * the corpus-wide rule "fp occurs in a strictly smaller doc_id"
  * EXACTLY (IncrementalSpansSpec pins replay ≡ one-shot), the same
  * contract the novelty twin keeps with q180.
  *
  * ARRIVAL-ORDER CONTRACT: production ingestion is arrival-ordered,
  * not doc_id-ordered, and the rule is deliberately INGESTION-order
  * across batches — an occurrence is stale iff its fp was seen by any
  * EARLIER batch (regardless of the ids involved), and id-order
  * applies only WITHIN a batch, where rows have no arrival order. A
  * later-arriving smaller doc_id that repeats earlier-ingested text
  * is therefore flagged (it is the copy that arrived second), and it
  * never retroactively changes an earlier batch's emitted verdicts —
  * the doc_id-ordered decomposition above is the special case where
  * ingestion order and id order coincide. Spec-pinned
  * ("arrival-order contract" test).
  *
  * Index layout: the shared [[FirstSeenIndex]], one
  * `(fp, first_doc, src_batch)` row per DISTINCT shingle fp ever seen.
  *
  * `src_batch` follows the q189 replay discipline: a micro-batch
  * replayed AFTER its own append landed must not self-match the
  * entries it wrote (its docs would read 100% stale and the replay
  * would rewrite the batch output wrong), while a doc_id redelivered
  * by an at-least-once source in a LATER batch must still match its
  * own earlier entries (the re-ingested copy IS a full duplicate).
  * Scoping the exclusion to `src_batch === batchId` gives both —
  * with the caveat that ids must be unique for the index's lifetime,
  * which raw streaming batch ids are NOT across a checkpoint wipe;
  * the streaming layer therefore passes a checkpoint-lineage tag
  * ([[graft.streaming.StreamEpoch]]) instead of the raw id. That tag
  * is unique per trigger, so the id enters the probe and append plans
  * as [[graft.functions.RuntimeLong]], never as a literal that would
  * recompile their whole-stage classes on every batch. */
object IncrementalSpans {

  import Dedup.SpanN

  /** Batch id for index rows written outside any micro-batch: the
    * one sentinel, [[IncrementalDedup.NoBatch]]. */
  val NoBatch: Long = IncrementalDedup.NoBatch

  /** One row per shingle OCCURRENCE: `(doc_id, pos, fp)` — q188's
    * posexplode kernel (positions matter; no array_distinct). */
  private[graft] def occurrences(docs: DataFrame, n: Int = SpanN): DataFrame =
    docs.select(col("doc_id"),
      posexplode(NativeExprs.shingleHashes(
        split(col("text"), " "), n)).as(Seq("pos", "fp")))

  /** The writing batch's tag on every index row it adds. */
  private def srcBatchTag(srcBatch: Long) =
    NativeExprs.runtimeLong(srcBatch).as("src_batch")

  /** (Re)builds the persisted seen-shingle occurrence index. */
  def buildIndex(docs: DataFrame, table: String, buckets: Int = 32,
                 n: Int = SpanN, srcBatch: Long = NoBatch): Unit =
    FirstSeenIndex.build(occurrences(docs, n), table, buckets, srcBatchTag(srcBatch))

  /** STALE SPANS of an arriving batch: per batch doc, the maximal
    * token runs already seen by the index or by a smaller-doc_id doc
    * of the same batch — same output schema as q188
    * (doc_id, span_idx, start_tok, end_tok, span_tokens,
    * n_dup_shingles), islands merged by the shared
    * [[Dedup.islandSpans]] kernel over the [[FirstSeenIndex.seen]]
    * hits. */
  def probeBatch(spark: SparkSession, batch: DataFrame, table: String,
                 n: Int = SpanN, batchId: Long = NoBatch): DataFrame = {
    val hits = FirstSeenIndex.seen(spark, occurrences(batch, n), table)
      .filter(
        // index hit, excluding ONLY the claiming entry this very
        // batch wrote (replay-after-append; see object scaladoc).
        (col("idx_first_doc").isNotNull &&
          !(col("idx_first_doc") === col("doc_id") &&
            col("idx_src_batch") === NativeExprs.runtimeLong(batchId))) ||
        // or duplicated within the batch by an earlier doc
        col("batch_first") < col("doc_id"))
      .select(col("doc_id"), col("pos"))
    Dedup.islandSpans(hits, n)
      .orderBy(col("doc_id"), col("span_idx"))
  }

  /** Appends a batch's first-seen shingles to the index
    * ([[FirstSeenIndex.append]]). */
  def appendToIndex(batch: DataFrame, table: String,
                    n: Int = SpanN, srcBatch: Long = NoBatch): Unit =
    FirstSeenIndex.append(occurrences(batch, n), table, srcBatchTag(srcBatch))

  // ------------------------------------------------- q198 (bench form)

  /** Lifecycle via the shared [[IndexTables]] discipline. */
  private val TablePrefix = "graft_spans_idx_v1_"

  /** q198: the PERSISTED-index stale-span probe, bench-visible — what
    * ingestion pays per batch for sub-document exact-substring dedup:
    * the shingle-occurrence index over the md5-slice "existing
    * corpus" (doc hash < 'c0', ~3/4) is built once per (source dir,
    * data fingerprint); the timed work is shingling the remaining
    * ~1/4 slice and probing its fps — index side merge-joined in
    * place, batch-only window, islands over hits. Oracle-hash: the
    * stale rule (fp in train slice ∨ smaller-doc_id batch doc) and
    * the island merge are plain SQL; spans are pure integers. */
  def q198SpanProbeIndex(s: SparkSession, d: String): DataFrame = {
    val (corpus, batch) = IndexTables.corpusAndBatch(
      graft.Tables.documents(s, d).select(col("doc_id"), col("text")))
    val table = IndexTables.ensureTable(s, TablePrefix, d)(buildIndex(corpus, _))
    probeBatch(s, batch, table)
  }

  /** The q198 oracle: the same stale rule + island chain in DuckDB —
    * md5-of-shingle-text fps are equality-equivalent to the engine's
    * xxhash64 fps (the q188 oracle's identity), and the output is
    * fp-free integers. */
  val q198Sql: String = {
    val n = SpanN
    s"""WITH train AS (
      | SELECT doc_id, str_split(text, ' ') AS t FROM documents
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
      |), bt AS (
      | SELECT doc_id, str_split(text, ' ') AS t FROM documents
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'c0'
      |), fp_t AS (
      | SELECT DISTINCT md5(array_to_string(t[i:i+${n - 1}], ' ')) AS fp
      | FROM (SELECT t, unnest(range(1, len(t) - ${n - 2})) AS i
      |       FROM train WHERE len(t) >= $n)
      |), pos_b AS (
      | SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+${n - 1}], ' ')) AS fp
      | FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${n - 2})) AS i
      |       FROM bt WHERE len(t) >= $n)
      |), scored AS (
      | SELECT p.doc_id, p.pos, f.fp AS idx_fp,
      |  min(p.doc_id) OVER (PARTITION BY p.fp) AS batch_first
      | FROM pos_b p LEFT JOIN fp_t f USING (fp)
      |), hits AS (
      | SELECT doc_id, pos FROM scored
      | WHERE idx_fp IS NOT NULL OR batch_first < doc_id
      |), flagged AS (
      | SELECT doc_id, pos,
      |  CASE WHEN pos > coalesce(
      |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -1073741824) + $n
      |   THEN 1 ELSE 0 END AS ns
      | FROM hits
      |), isl AS (
      | SELECT doc_id, pos, sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      | FROM flagged
      |), spans AS (
      | SELECT doc_id, g, min(pos) AS start_tok, max(pos) + $n AS end_tok,
      |  CAST(count(*) AS BIGINT) AS n_dup_shingles
      | FROM isl GROUP BY doc_id, g
      |)
      |SELECT doc_id, CAST(g AS INT) AS span_idx,
      | CAST(start_tok AS INT) AS start_tok,
      | CAST(end_tok AS INT) AS end_tok,
      | CAST(end_tok - start_tok AS INT) AS span_tokens,
      | n_dup_shingles
      |FROM spans ORDER BY doc_id, span_idx""".stripMargin
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q198_span_probe_index", q198SpanProbeIndex _, Some(q198Sql)),
  )
}
