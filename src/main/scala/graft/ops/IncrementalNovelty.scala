package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental first-occurrence novelty against a persisted shingle
  * index — the production form of q180, which rescores the WHOLE
  * corpus per run. A 100 TB ingestion pipeline wants the q72→q78
  * shape instead: shingle fingerprints are computed once per document
  * ever; each arriving batch is scored against the set of shingles
  * the corpus has already seen, then its own new shingles join the
  * index.
  *
  * Index layout: the distinct seen-shingle fps, written bucketed +
  * sorted on `fp` (Bucketing.writeBucketed) — the probe's anti-join
  * and the append's dedup anti-join both merge-join WITHOUT shuffling
  * the index side (the 100 TB side never moves; only the batch
  * aligns). Like [[IncrementalDedup]] — and unlike the static
  * decontam index — this index is append-mutable, so NO Bloom
  * sidecar: a stale filter would report arriving shingles as unseen
  * and silently inflate novelty.
  *
  * Exact-replay contract (pinned by IncrementalNoveltySpec): feeding
  * doc_id-ordered batches through screen-then-append reproduces
  * q180's corpus-wide per-doc scores row-for-row — a shingle's
  * corpus-wide first occurrence is its first batch's intra-batch
  * first occurrence, and the intra-batch min-window plus the
  * index anti-join decompose exactly that way.
  */
object IncrementalNovelty {

  /** One row per (doc, distinct shingle fp) — q180's exact shingle
    * rule ([[Text.NoveltyN]]-gram xxhash64 fps). Exposed to
    * [[graft.streaming.StreamingNovelty]] so one trigger shingles its
    * batch ONCE (persisted) and feeds both the screen and the append —
    * the shingling explode is the dominant batch-side cost and ran
    * twice per trigger before (round-14 review). */
  private[graft] def docShingles(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("doc_id"),
      explode(array_distinct(graft.functions.NativeExprs.shingleHashes(
        split(col("text"), " "), Text.NoveltyN))).as("fp"))

  /** A corpus reduced to the index layout: one `(fp, first_doc)` row
    * per distinct shingle. Carrying the claiming doc id (not a bare fp
    * set) is what makes screening IDEMPOTENT under at-least-once
    * replay: a batch re-screened after its own append still
    * self-attributes its first occurrences ([[screenBatch]]). */
  private def fpOwners(docs: DataFrame): DataFrame =
    docShingles(docs).groupBy(col("fp"))
      .agg(min(col("doc_id")).as("first_doc"))

  /** (Re)builds the persisted seen-shingle index from a corpus. */
  def buildIndex(docs: DataFrame, table: String, buckets: Int = 32): Unit =
    Bucketing.writeBucketed(fpOwners(docs), table, "fp", buckets)

  /** Scores a batch against the index: `(source, doc_id, total,
    * novel, novelty)` where `novel` counts the doc's distinct
    * shingles that are first-occurring (min doc_id) within the batch
    * AND either unseen by the index or already claimed by THIS doc
    * (the self-attribution that makes a replayed screen-after-append
    * return identical scores). ONE shingling pass: the seen test is a
    * left-outer merge join against the bucketed index (no index-side
    * exchange), safe from row multiplication because the index is
    * invariantly distinct on fp — buildIndex aggregates per fp and
    * appendToIndex only appends anti-joined survivors; the min window
    * partitions by fp over the BATCH only. */
  def screenBatch(spark: SparkSession, batch: DataFrame, table: String): DataFrame =
    screenShingled(spark, docShingles(batch), table)

  /** [[screenBatch]] over a pre-shingled `(source, doc_id, fp)` frame
    * ([[docShingles]] output — possibly persisted by the caller). */
  private[graft] def screenShingled(spark: SparkSession, shingles: DataFrame,
                                    table: String): DataFrame = {
    // pre-align the batch to the index's bucket layout so the fp
    // window and the bucket-colocated join share ONE exchange (the
    // IncrementalSpans.probeBatch rationale; without it the batch
    // shingles shuffle twice whenever shuffle.partitions ≠ buckets)
    val aligned = org.apache.spark.sql.graftbridge.PlanBridge
      .numBuckets(spark, table)
      .map(b => shingles.repartition(b, col("fp"))).getOrElse(shingles)
    aligned
      .withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .join(spark.table(table).hint("MERGE")
          .select(col("fp"), col("first_doc").as("idx_first")),
        Seq("fp"), "left_outer")
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("total"),
        sum(when(col("first_doc") === col("doc_id") &&
            (col("idx_first").isNull || col("idx_first") === col("doc_id")), 1L)
          .otherwise(0L)).as("novel"))
      .withColumn("novelty",
        round(col("novel").cast("double") / col("total"), 4))
  }

  /** Appends a batch's shingles to the index, deduplicated against it
    * (one merge anti-join; the index side stays in place). Idempotent:
    * a replayed append finds its own fps present and adds nothing. */
  def appendToIndex(batch: DataFrame, table: String): Unit =
    appendShingled(docShingles(batch), table)

  /** [[appendToIndex]] over a pre-shingled frame; see [[docShingles]]. */
  private[graft] def appendShingled(shingles: DataFrame, table: String): Unit = {
    val s = shingles.sparkSession
    shingles.groupBy(col("fp")).agg(min(col("doc_id")).as("first_doc"))
      .join(s.table(table).hint("MERGE"), Seq("fp"), "left_anti")
      .write.mode("append").format("parquet").insertInto(table)
  }

  // ------------------------------------------------- q186 (bench form)

  // v2: the index layout gained first_doc — the v-bump invalidates
  // any v1 bare-fp table instead of mis-reading it. Lifecycle
  // (fingerprint, naming, collision-safe GC) is the shared
  // [[IndexTables]] discipline.
  private val TablePrefix = "graft_novelty_idx_v2_"

  /** q186: the PERSISTED-index novelty probe, bench-visible — q180's
    * q78 analogue. Builds the seen-shingle index over the md5-slice
    * "existing corpus" (doc hash < 'c0', ~3/4) once per (source dir,
    * data fingerprint), then times what ingestion pays per batch:
    * score the remaining ~1/4 slice as the arriving batch — per-doc
    * novelty verdicts against everything already ingested, index side
    * unmoved. Deterministic slices (q63's md5 rule, different cut) so
    * reruns and the spec see the same batch. ORACLE-HASH checkable
    * (round-15, the q198 precedent): the bucketed layout is
    * semantically invisible and the verdict rule — first-occurring
    * within the batch AND unseen by the train slice — is plain SQL
    * (the self-attribution clause is vacuous here: the md5 slices are
    * disjoint, so an index entry can never be claimed by a batch
    * doc). IncrementalNoveltySpec still pins the batch-replay ≡ q180
    * contract and the no-shuffle-on-index-side plan invariant. */
  def q186NoveltyProbeIndex(s: SparkSession, d: String): DataFrame = {
    import graft.Tables.documents
    import IndexTables.hashBucket
    val table = IndexTables.ensureTable(s, TablePrefix, d)(t =>
      buildIndex(documents(s, d)
        .filter(hashBucket(col("doc_id").cast("string")) < "c0"), t))
    val batch = documents(s, d)
      .filter(hashBucket(col("doc_id").cast("string")) >= "c0")
    screenBatch(s, batch, table).orderBy(col("doc_id"))
  }

  /** The q186 oracle: md5-of-shingle-text fps ≡ the engine's xxhash64
    * fps (the q188/q198 identity); per-doc novelty follows q180's
    * oracle shape restricted to the batch slice with the train-slice
    * membership test composed in. */
  val q186Sql: String = {
    val n = Text.NoveltyN
    s"""WITH train AS (
      | SELECT str_split(text, ' ') AS t FROM documents
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
      |), bt AS (
      | SELECT source, doc_id, str_split(text, ' ') AS t FROM documents
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'c0'
      |), fp_t AS (
      | SELECT DISTINCT md5(sh) AS fp FROM (
      |  SELECT unnest(list_distinct([array_to_string(t[i:i+${n - 1}], ' ')
      |    for i in range(1, len(t) - ${n - 2})])) AS sh
      |  FROM train WHERE len(t) >= $n)
      |), fp_b AS (
      | SELECT source, doc_id,
      |  md5(unnest(list_distinct([array_to_string(t[i:i+${n - 1}], ' ')
      |    for i in range(1, len(t) - ${n - 2})]))) AS fp
      | FROM bt WHERE len(t) >= $n
      |), scored AS (
      | SELECT b.source, b.doc_id, b.fp, t.fp AS idx_fp,
      |  min(b.doc_id) OVER (PARTITION BY b.fp) AS batch_first
      | FROM fp_b b LEFT JOIN fp_t t USING (fp)
      |), per_doc AS (
      | SELECT source, doc_id, CAST(count(*) AS BIGINT) AS total,
      |  CAST(sum(CASE WHEN batch_first = doc_id AND idx_fp IS NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS novel
      | FROM scored GROUP BY source, doc_id
      |)
      |SELECT source, doc_id, total, novel,
      | round(CAST(novel AS DOUBLE) / total, 4) AS novelty
      |FROM per_doc ORDER BY doc_id""".stripMargin
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q186_novelty_probe_index", q186NoveltyProbeIndex _, Some(q186Sql)),
  )
}
