package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NativeExprs

/** Incremental near-dedup against a persisted signature index — the
  * shape a 100 TB ingestion pipeline actually runs: signatures are
  * computed ONCE per document ever; each new batch probes the index
  * by band bucket and only candidate pairs get scored.
  *
  * Index layout: the exploded (bucket, doc_id, sig) table is written
  * hash-bucketed + sorted on `bucket` (Bucketing.writeBucketed), so
  * the probe join against a batch's buckets is shuffle-free on the
  * index side — the index (the 100 TB side) never moves. Only the
  * batch (the small side) shuffles: into the probe join's alignment,
  * and into the bucket layout before an append
  * ([[Bucketing.appendBucketed]], which also says why there is no
  * Bloom sidecar here, unlike IncrementalDecontam).
  *
  * The batch id enters every plan as [[graft.functions.RuntimeLong]],
  * not as a literal: streaming ids are unique per trigger, and a
  * literal would recompile the probe's and the append's whole-stage
  * classes on every batch.
  */
object IncrementalDedup {

  import Dedup.withMinhash

  /** Batch id recorded on index rows written outside any micro-batch
    * (initial builds, ad-hoc appends). Spark streaming batch ids start
    * at 0, so -1 can never collide with a real micro-batch. */
  val NoBatch = -1L

  /** One row per (band bucket, doc): the probe index. `src_batch`
    * records WHICH micro-batch wrote the row — what lets probeBatch
    * distinguish a replay of the same batch (must not self-match, see
    * there) from a cross-batch redelivery of the same doc_id (must).
    * explode_outer plus the non-null filter, not explode, for the
    * reason on [[Dedup.bandedPairs]]: an inner explode signs each
    * document three times. */
  private def explodedSigs(signed: DataFrame, srcBatch: Long): DataFrame =
    signed.select(col("doc_id"), col("sig"), explode_outer(col("bands")).as("bucket"),
      NativeExprs.runtimeLong(srcBatch).as("src_batch"))
      .filter(col("bucket").isNotNull)

  /** (Re)builds the persisted index as a bucketed managed table. */
  def buildIndex(docs: DataFrame, table: String, buckets: Int = 32,
                 srcBatch: Long = NoBatch): Unit =
    Bucketing.writeBucketed(explodedSigs(withMinhash(docs), srcBatch), table, "bucket", buckets)

  /** Dedupes a new batch against the index: returns (new_id, match_id,
    * est_jaccard) for batch docs whose estimated Jaccard against an
    * indexed doc reaches `threshold` — one row per (new_id, match_id),
    * at the highest estimate over the match's indexed signatures.
    *
    * Degenerate index buckets (> `maxBucket` members — measured: the
    * hottest band bucket grows LINEARLY with the corpus, 879 members
    * already at sf0.1) are skipped, [[Dedup.MaxBucket]]'s recall
    * trade: without the cap the per-bucket candidate join goes
    * quadratic on exactly the boilerplate clusters whose members the
    * index already knows are mutual dups. The count-window runs on
    * the bucketed layout, so the guard costs NO exchange and no
    * second index pass: scan → window → filter → merge join is one
    * pipelined consumption of the same bucketed scan the probe join
    * reads anyway (the window adds per-bucket buffering). It is
    * sort-free only while every bucket is one file (a fresh
    * buildIndex); once appendToIndex has added a file to a bucket,
    * Spark no longer trusts the write-time order and the index side
    * plans a Sort, which the window and the merge join then share
    * (BucketingSpec pins that Sort). A persisted per-bucket size
    * digest would save the buffering but not I/O, and would have to
    * be kept transactionally consistent with appendToIndex. */
  def probeBatch(spark: SparkSession, batch: DataFrame, table: String,
                 threshold: Double = 0.8,
                 maxBucket: Int = Dedup.MaxBucket,
                 batchId: Long = NoBatch,
                 bandsUsed: Int = Dedup.Bands): DataFrame =
    probeSigned(spark, withMinhash(batch), table, threshold, maxBucket, batchId, bandsUsed)

  /** [[probeBatch]] over a batch already carrying [[Dedup.withMinhash]]'s
    * `sig` and `bands`, so a caller that also appends the batch signs
    * it once. */
  private[graft] def probeSigned(spark: SparkSession, signed: DataFrame, table: String,
                                 threshold: Double, maxBucket: Int, batchId: Long,
                                 bandsUsed: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bandsUsed >= 1 && bandsUsed <= Dedup.Bands,
      s"bandsUsed must be in [1, ${Dedup.Bands}], got $bandsUsed")
    // `bandsUsed` prunes the BATCH side's probe keys (the index side
    // is untouched — its rows keep all bands, so any future probe at
    // any threshold still works). Fewer bands = lower candidate
    // recall at a given est_jaccard, EXCEPT at threshold 1.0 where
    // one band is a sufficient witness: sig equality implies every
    // band collides, so probing a single band finds every est-1.0
    // pair at 1/Bands of the candidate-join fan-out (q199 passes 1;
    // a band-0 batch key can also collide with a DIFFERENT band's
    // index bucket, but such cross-band candidates die in the
    // sigMatches filter like any other false candidate).
    val batchSigs = signed
      .select(col("doc_id").as("new_id"), col("sig").as("new_sig"),
              explode(slice(col("bands"), 1, bandsUsed)).as("bucket"))
    // r20: Int.MaxValue is the UNCAPPED sentinel (q199's exact probe
    // must not drop boilerplate clusters) — skip the count window
    // entirely there instead of computing a per-bucket size every
    // probe only to compare it against infinity. The capped path is
    // unchanged.
    val index0 = spark.table(table)
    val index = if (maxBucket == Int.MaxValue) index0 else index0
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("bsz") <= maxBucket)
      .drop("bsz")
    val cands = batchSigs.join(index.hint("MERGE"), Seq("bucket"))
      // NEVER match a doc against the index entry ITS OWN batch wrote:
      // a micro-batch replayed AFTER its appendToIndex landed (crash
      // before the streaming checkpoint committed) probes an index
      // containing the batch's own rows — every survivor would
      // self-match at est_jaccard 1.0, dedupedIngest's anti-join would
      // drop them all, and the overwrite-by-batch-id replay would
      // rewrite the batch dir EMPTY: silent data loss. The exclusion
      // is scoped to src_batch === batchId (round-13 advice; a blanket
      // same-id filter also disabled the LEGITIMATE match when an
      // at-least-once source redelivers the same doc_id in a LATER
      // batch — that doc must still hit its own earlier index entry or
      // it lands duplicated across two batch_id dirs). q189's disjoint
      // hash slices can't produce a self-pair, so the bench is blind
      // to both cases; StreamingDedupSpec's replay-after-append and
      // cross-batch-redelivery tests pin them.
      .filter(!(col("new_id") === col("doc_id") &&
                col("src_batch") === NativeExprs.runtimeLong(batchId)))
      // r20 (guide §2.3 — shuffle fewer bytes): score and
      // threshold-filter MAP-SIDE, before the pair-dedup exchange.
      // Every cross-band repeat of one (batch sig, index sig) pair
      // scores identically, so the per-pair aggregation below returns
      // the rows a dedup-then-score would — but the exchange carries
      // (new_id, match_id, est) scalars for SURVIVING pairs only,
      // instead of two SigLen-slot signature arrays per colliding
      // band. The trade is one sigMatches kernel call per colliding
      // band instead of per unique pair (≤ bandsUsed× more, and
      // exactly 1× for q199's bandsUsed = 1) against orders of
      // magnitude less shuffle at index scale.
      .select(col("new_id"), col("doc_id").as("match_id"),
        Dedup.estJaccard(col("new_sig"), col("sig")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    // one row per (new_id, match_id): appendToIndex does not dedupe
    // doc_ids, so a doc re-appended with changed text holds two
    // signatures in the index; keep the strongest evidence
    cands.groupBy("new_id", "match_id").agg(max("est_jaccard").as("est_jaccard"))
  }

  /** Appends a batch's signatures to the index (after dedup
    * decisions) through [[Bucketing.appendBucketed]]. */
  def appendToIndex(docs: DataFrame, table: String,
                    srcBatch: Long = NoBatch): Unit =
    appendSigned(withMinhash(docs), table, srcBatch)

  /** [[appendToIndex]] over an already-signed batch; see [[probeSigned]]. */
  private[graft] def appendSigned(signed: DataFrame, table: String, srcBatch: Long): Unit =
    Bucketing.appendBucketed(explodedSigs(signed, srcBatch), table, "bucket")

  // ------------------------------------------------- q189 (bench form)

  /** Lifecycle via the shared [[IndexTables]] discipline. v2: the
    * src_batch column landed in the index schema (round-14) — the
    * bumped prefix keeps a v1 index from a prior session from being
    * probed with a column it doesn't have. */
  private val TablePrefix = "graft_dedup_idx_v2_"

  /** q189: the PERSISTED-index near-dup probe, bench-visible — the
    * third member of the incremental-index trio (q78 contamination,
    * q186 novelty, this one near-duplication). Builds the exploded
    * band-bucket signature index over the md5-slice "existing corpus"
    * (doc hash < 'c0', ~3/4) once per (source dir, data fingerprint),
    * then times what ingestion pays per batch: MinHash the remaining
    * ~1/4 slice and probe its band buckets against the index —
    * signatures computed once per doc EVER, index side merge-joined
    * in place (never shuffled, never re-derived). Rows-only (banded
    * LSH is not SQL-expressible); IncrementalDedupSpec pins the
    * planted-dup and append-reprobe semantics, and its plan test pins
    * the no-exchange-on-index-side invariant. */
  def q189DedupProbeIndex(s: SparkSession, d: String): DataFrame = {
    val (batch, table) = ensureQ189Index(s, d)
    probeBatch(s, batch, table)
      .orderBy(col("new_id"), col("match_id"))
  }

  /** Shared q189/q199 lifecycle: the bucketed signature index over the
    * `< 'c0'` corpus slice, built once per (source dir, fingerprint);
    * returns (batch slice, table name). */
  private def ensureQ189Index(s: SparkSession, d: String): (DataFrame, String) = {
    val (corpus, batch) = IndexTables.corpusAndBatch(
      graft.Tables.documents(s, d).select(col("doc_id"), col("text")))
    val table = IndexTables.ensureTable(s, TablePrefix, d) { t =>
      // retired schema generation (pre-src_batch); gcTables is
      // prefix-scoped, so the old family needs its own sweep or a
      // prior session's v1 table leaks warehouse disk forever
      IndexTables.gcTables(s, "graft_dedup_idx_v1_", d)
      buildIndex(corpus, t)
    }
    (batch, table)
  }

  /** q199: EXACT-duplicate detection via the q189 probe — the
    * standard LSH probe-then-CONFIRM arc, and the family's
    * oracle-hash-checkable twin (round-15 verdict ask #6; q189's
    * general banded output is not mirrorable — see the SURVEY note).
    *
    *   1. candidates: the same persisted index and merge-join probe
    *      as q189, threshold 1.0. Signature equality is NECESSARY for
    *      token-set equality (minhashSig is a function of the token
    *      set), so with the bucket cap lifted the candidate set is a
    *      guaranteed SUPERSET of the true exact-dup pairs. It is a
    *      strict superset in practice: a near-dup pair whose
    *      differing tokens never win any of the SigLen mins also
    *      reads est 1.0 — for |A∩B| = k, |A∪B| = k+1 that happens
    *      with probability (k/(k+1))^SigLen, ~0.53 at k = 100 (SigLen 64)
    *      (measured at sf0.01: 283 candidates over 192 true pairs);
    *   2. confirm: candidates join back to the two text slices and an
    *      exact sorted-distinct-token comparison keeps the true
    *      pairs. The candidate set is bounded by the corpus's dup
    *      spectrum, so both joins broadcast it — the exact pass costs
    *      two scans' worth of token-set derivation and no shuffle.
    *
    * A DuckDB mirror re-derives token-set equality directly; the
    * confirmed output is definitionally value-equivalent.
    *
    * maxBucket is uncapped HERE ONLY: the production probe's
    * degenerate-bucket guard (load-bearing at scale, r15 measurement)
    * would drop exact pairs inside boilerplate clusters larger than
    * the cap (first such cluster appears at sf0.1: 248 equal token
    * sets > MaxBucket 200) and break the superset guarantee; at an
    * exact-equality threshold the bucket joins stay within duplicate
    * clusters, bounded by the dup spectrum the corpus actually has. */
  def q199ExactDupProbeIndex(s: SparkSession, d: String): DataFrame = {
    val (batch, table) = ensureQ189Index(s, d)
    // bandsUsed = 1: at threshold 1.0 a single band is a sufficient
    // witness (see probeBatch) — 1/Bands of the candidate-join fan-out
    val cands = probeBatch(s, batch, table, threshold = 1.0,
        maxBucket = Int.MaxValue, bandsUsed = 1)
      .select(col("new_id"), col("match_id"))
    // token sets are derived AFTER the candidate joins: the
    // sort_array(array_distinct(split(...))) pass runs only over
    // candidate rows (bounded by the dup spectrum), not over every
    // document in both slices — strictly less total CPU. Measured
    // wall-NEUTRAL at the ×100 smoke (58 s both ways, r19): the
    // probe's minhash signature pass over the batch slice dominates
    // the critical path, so the saving shows up as cluster CPU-cost,
    // not local wall. The confirm filter itself is unchanged: exact
    // sorted-distinct-token equality on the joined pair.
    def tset(c: org.apache.spark.sql.Column) =
      sort_array(array_distinct(split(c, " ")))
    val newTexts = batch.select(col("doc_id").as("new_id"),
      col("text").as("text_new"))
    val trainTexts = IndexTables.corpusAndBatch(graft.Tables.documents(s, d))._1
      .select(col("doc_id").as("match_id"), col("text").as("text_match"))
    broadcast(newTexts.join(broadcast(cands), Seq("new_id")))
      .join(trainTexts, Seq("match_id"))
      .filter(tset(col("text_new")) === tset(col("text_match")))
      .select(col("new_id"), col("match_id"), lit(1.0).as("jaccard"))
      .orderBy(col("new_id"), col("match_id"))
  }

  val q199Sql: String =
    """WITH ts AS (
      | SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b,
      |        list_sort(list_distinct(str_split(text, ' '))) AS t
      | FROM documents
      |), batch AS (SELECT doc_id, t FROM ts WHERE b >= 'c0'
      |), train AS (SELECT doc_id, t FROM ts WHERE b < 'c0')
      |SELECT b.doc_id AS new_id, tr.doc_id AS match_id,
      |       CAST(1.0 AS DOUBLE) AS jaccard
      |FROM batch b JOIN train tr ON b.t = tr.t
      |ORDER BY new_id, match_id""".stripMargin

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q189_dedup_probe_index", q189DedupProbeIndex _, None),
    ("q199_exact_dup_probe_index", q199ExactDupProbeIndex _, Some(q199Sql)),
  )
}
