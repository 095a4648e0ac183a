package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Training-data curation operators — the selection/splitting/packing
  * layer a large-scale pretraining pipeline runs after dedup (q30/q43)
  * and quality scoring (q33): deterministic train/val/test splitting,
  * per-source selection under a token budget, concat-and-chunk
  * sequence packing, and hash-Bernoulli data mixing.
  *
  * Everything here is deterministic arithmetic over md5/window
  * primitives that DuckDB evaluates identically, so every query is
  * hash-verified against the oracle (no RNG, no `rand()` — a split
  * or sample that changes between runs is useless for reproducible
  * training runs, and rand-based sampling can't be oracle-checked).
  *
  * Scale shape, per operator:
  *  - q63/q66 are MAP-ONLY over the corpus (a fingerprint comparison
  *    per row) followed by a tiny aggregation — no data movement at
  *    100 TB beyond the partial-agg exchange of a few dozen rows.
  *  - q64/q65 need a per-source PREFIX SUM. The naive form is one
  *    window partitioned by source — which serializes a giant source
  *    into a single task at 100 TB. Both queries therefore run the
  *    two-level (bucketed) scan [[bucketedCumSum]]: within-bucket
  *    prefix sums in parallel over (source, bucket) partitions, a
  *    tiny per-bucket-offset window over per-source bucket totals,
  *    then offset + within = exact global prefix sum. Identical
  *    output to the single window (oracle hash unchanged); max task
  *    size is bounded by the bucket width, not the source size.
  *  - q68 (greedy next-fit) is inherently order-sequential per source
  *    — each bin decision depends on the previous fill — so its
  *    per-source task cannot be split without changing the answer;
  *    q65 is the scale-safe packing and q68 the exact-semantics
  *    anchor. A giant source there bounds at one core per source.
  *
  * The reference (nypl-spacetime/etl-mapwarper) has no training-data
  * surface; these belong to the driver-mandated LLM-pipeline extension
  * suite (SURVEY §2.9).
  */
object Curation {
  import IndexTables.hashBucket

  /** Whitespace tokens — same convention as Text.q32 (`str_split(text,
    * ' ')` on the oracle side). */
  private def nTokens(c: Column): Column = size(split(c, " ")).cast("bigint")

  // ---------------------------------------------------------------- q63

  /** q63: deterministic train/val/test split. The split follows the
    * document fingerprint, NOT `rand()`: ~80/10/10 by the first md5
    * byte of the doc id ('00'..'cb' = 204/256 train, 'cc'..'e5' =
    * 26/256 val, rest test). Every re-run of the pipeline — and every
    * engine — assigns the same document to the same split, which is
    * the property that keeps eval sets uncontaminated across ingest
    * batches. Map-only at any scale. */
  /** The q63 split rule as a reusable column: 'train'/'val'/'test'
    * from the doc id's md5 bucket (engine-portable — q108's leakage
    * audit recomputes it in DuckDB byte-identically). */
  def splitLabel(id: Column): Column = {
    val b = hashBucket(id.cast("string"))
    when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
  }

  def q63HashSplit(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .select(splitLabel(col("doc_id")).as("split"), col("n_chars"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"))
  }

  val q63Sql: String =
    """WITH t AS (
      | SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'cc' THEN 'train'
      |             WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'e6' THEN 'val'
      |             ELSE 'test' END AS split, n_chars
      | FROM documents
      |)
      |SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM t GROUP BY split ORDER BY split""".stripMargin

  // ------------------------------------------- two-level prefix sum

  /** Docs per doc_id bucket (q65) / chars per quality bucket (q64) for
    * the two-level scan. Small enough that sf0.001 sources span
    * multiple buckets, so the merge path is exercised by every test
    * and oracle run — at 100 TB you'd raise it to ~10⁶. */
  val CumBucketWidth = 32L

  /** Exact per-source prefix sum of `n_tokens` without a per-source
    * serial task — the distributed two-level scan:
    *
    *  1. within-bucket prefix sums, windowed over (source, bucket) —
    *     parallel across buckets, task size bounded by bucket width;
    *  2. per-source bucket offsets: bucket totals aggregated off the
    *     windowed frame itself (sum of `value` over the same
    *     (source, bucket) grouping — sign-safe, unlike max(cum_in)
    *     which assumes non-negative values; no second aggregation of
    *     the INPUT, so both branches share one exchange and
    *     ReuseExchange evaluates the upstream once even when it is
    *     expensive, e.g. q71's dedup window), then one tiny window
    *     over |buckets| rows per source;
    *  3. cum = bucket_offset + within-bucket cum, joined back on
    *     (source, bucket) — co-partitioned with step 1's exchange.
    *
    * Requires `bucket` to be monotone non-decreasing along
    * `orderCols`, so that (bucket, orderCols) ordering equals the
    * global orderCols ordering; callers pick bucket = orderkey DIV
    * width. Output = input columns + `cum_tokens`, byte-identical to
    * `sum(value) OVER (PARTITION BY source ORDER BY orderCols)` —
    * `value` defaults to n_tokens; `lit(1)` turns the same scan into
    * a distributed row_number (q77). */
  def bucketedCumSum(in: DataFrame, orderCols: Seq[Column],
                     value: Column = col("n_tokens")): DataFrame = {
    val wIn = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = in.withColumn("cum_in", sum(value).over(wIn))
    val offsets = cum.groupBy(col("source"), col("bucket"))
      .agg(sum(value).as("bucket_tokens"))
      .withColumn("bucket_offset",
        coalesce(sum(col("bucket_tokens")).over(wOff), lit(0L)))
      .select(col("source"), col("bucket"), col("bucket_offset"))
    cum.join(offsets, Seq("source", "bucket"))
      .withColumn("cum_tokens", col("cum_in") + col("bucket_offset"))
      .drop("cum_in", "bucket_offset")
  }

  // ---------------------------------------------------------------- q64

  /** Per-source token budget for q64 — fixed so the selection semantics
    * ("best docs first until the budget fills") are scale-independent. */
  val TokenBudget = 400L

  /** q64 core over a pre-projected (source, doc_id, n_chars, n_tokens)
    * frame — split out so tests can plant synthetic skew. The rank
    * order is (n_chars DESC, doc_id): bucket = (-n_chars) DIV width is
    * monotone non-decreasing along it (trunc is monotone; ties share a
    * bucket), which is what [[bucketedCumSum]] needs. */
  def tokenBudgetSelect(docs: DataFrame): DataFrame = {
    val bucketed = docs.withColumn("bucket",
      expr(s"(0 - n_chars) DIV $CumBucketWidth"))
    bucketedCumSum(bucketed, Seq(col("n_chars").desc, col("doc_id").asc))
      .filter(col("cum_tokens") <= TokenBudget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_selected"), sum(col("n_tokens")).as("sel_tokens"))
      .orderBy(col("source"))
  }

  /** q64: selection under a token budget. Per source, documents are
    * ranked best-first (n_chars is the stand-in quality key; ties
    * break on doc_id so the cut is total-ordered) and taken until the
    * cumulative token count exceeds the budget — the "data selection"
    * step of a curated pretraining mix. The running sum is the
    * two-level scan, never a self-join and never one task per source. */
  def q64TokenBudget(s: SparkSession, d: String): DataFrame =
    tokenBudgetSelect(documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        nTokens(col("text")).as("n_tokens")))

  val q64Sql: String =
    s"""WITH t AS (
      | SELECT source, doc_id, n_chars,
      |        CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
      | FROM documents
      |), c AS (
      | SELECT source, n_tokens,
      |        sum(n_tokens) OVER (PARTITION BY source
      |          ORDER BY n_chars DESC, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      | FROM t
      |)
      |SELECT source, count(*) AS n_selected, CAST(sum(n_tokens) AS BIGINT) AS sel_tokens
      |FROM c WHERE cum_tokens <= $TokenBudget
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q65

  /** Fixed sequence length for q65's packing (tokens per chunk). */
  val SeqLen = 256L

  /** q65: concat-and-chunk sequence packing — the standard pretraining
    * layout: per source, documents are concatenated in doc_id order
    * and the token stream is cut every [[SeqLen]] tokens; a document
    * belongs to the chunk its FIRST token lands in (start-offset
    * attribution; long documents straddle the cut — exact splitting
    * happens at tokenization time downstream). chunk = prefix-sum DIV
    * SeqLen: one window over one exchange, no recursion, no
    * driver-side loop — the greedy first-fit alternative needs
    * sequential state and is deliberately rejected for the
    * scale-independent arithmetic form. */
  def q65PackChunks(s: SparkSession, d: String): DataFrame =
    packChunks(documents(s, d)
      .select(col("source"), col("doc_id"), nTokens(col("text")).as("n_tokens")))

  /** q65 core over a pre-projected (source, doc_id, n_tokens) frame —
    * split out so tests can plant synthetic skew. The prefix sum is
    * the two-level scan bucketed on doc_id DIV width (monotone in the
    * doc_id order by construction). */
  def packChunks(docs: DataFrame): DataFrame = {
    val bucketed = docs.withColumn("bucket", expr(s"doc_id DIV $CumBucketWidth"))
    bucketedCumSum(bucketed, Seq(col("doc_id").asc))
      .withColumn("chunk_id",
        expr(s"CAST((cum_tokens - n_tokens) DIV $SeqLen AS BIGINT)"))
      .groupBy(col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("chunk_tokens"))
      .orderBy(col("source"), col("chunk_id"))
  }

  /** The packing window CTE + chunk rollup over a prior CTE
    * `rel`(source, doc_id, n_tokens) — q65's oracle and q196's
    * (Dedup.q196Sql) share this ONE definition so the two cannot
    * drift, the same reason the span family single-sources spanCtes. */
  def packingSql(rel: String): String =
    s""", c AS (
      | SELECT source, n_tokens,
      |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      | FROM $rel
      |)
      |SELECT source, CAST((cum_tokens - n_tokens) // $SeqLen AS BIGINT) AS chunk_id,
      |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
      |FROM c GROUP BY source, chunk_id ORDER BY source, chunk_id""".stripMargin

  val q65Sql: String =
    s"""WITH t AS (
      | SELECT source, doc_id,
      |        CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
      | FROM documents
      |)""".stripMargin + packingSql("t")

  // ---------------------------------------------------------------- q66

  /** q66: hash-Bernoulli data mixing — per-source downsampling at a
    * deterministic rate, the way a training mix up/down-weights
    * sources. The keep decision is `md5(doc_id || ':mix') < threshold`
    * (salted so it is independent of q63's split hash), and the rate
    * class derives from md5(source) — no hard-coded source names, so
    * the query is corpus-agnostic: ~50% of sources keep 80% ('cc'),
    * ~25% keep 40% ('66'), the rest keep 20% ('33'). Map-only; the
    * same row is kept on every engine and every run. */
  def q66MixSample(s: SparkSession, d: String): DataFrame = {
    val u = hashBucket(concat(col("doc_id").cast("string"), lit(":mix")))
    val cls = substring(md5(col("source")), 1, 1)
    val thr = when(cls < "8", "cc").when(cls < "c", "66").otherwise("33")
    documents(s, d)
      .select(col("source"), (u < thr).cast("int").as("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_sampled"))
      .orderBy(col("source"))
  }

  val q66Sql: String =
    """WITH t AS (
      | SELECT source,
      |   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':mix'),1,2) <
      |     (CASE WHEN substr(md5(source),1,1) < '8' THEN 'cc'
      |           WHEN substr(md5(source),1,1) < 'c' THEN '66'
      |           ELSE '33' END)
      |   THEN 1 ELSE 0 END AS keep
      | FROM documents
      |)
      |SELECT source, count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_sampled
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q68

  /** q68: exact greedy next-fit packing — the bin-packing twin of
    * q65's arithmetic chunking: documents stay WHOLE (never straddle a
    * boundary); a document that would overflow the open bin closes it
    * and starts the next. This requires genuinely sequential per-key
    * state, which is exactly what the secondary-sort idiom delivers at
    * scale: `repartition(source)` co-locates each source,
    * `sortWithinPartitions(source, doc_id)` orders it, and ONE
    * streaming iterator pass assigns bins — no window wide enough to
    * express running-reset state, no driver loop, no groupByKey
    * materialization of a whole source in memory. Oversized documents
    * get a bin of their own (fill may exceed the cap only then).
    * Oracle: per-source recursive CTE in DuckDB walking rn = 1, 2, …
    * with the same (bin, fill) recurrence. */
  def q68GreedyPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cap = SeqLen
    val assigned = documents(s, d)
      .select(col("source"), col("doc_id"), nTokens(col("text")).as("n_tokens"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        // iterator-to-iterator: O(1) state (current source, open bin)
        var curSrc: String = null
        var bin = 0L
        var fill = 0L
        it.map { case (src, _, tok) =>
          if (src != curSrc) { curSrc = src; bin = 0L; fill = tok }
          else if (fill + tok > cap) { bin += 1; fill = tok }
          else fill += tok
          (src, bin, tok)
        }
      }
      .toDF("source", "bin_id", "n_tokens")
    assigned
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .orderBy(col("source"), col("bin_id"))
  }

  val q68Sql: String =
    s"""WITH RECURSIVE t AS (
      | SELECT source, doc_id,
      |        CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
      |        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      | FROM documents
      |), s(source, rn, bin, fill, n_tokens) AS (
      | SELECT source, rn, CAST(0 AS BIGINT), n_tokens, n_tokens
      | FROM t WHERE rn = 1
      | UNION ALL
      | SELECT t.source, t.rn,
      |        CASE WHEN s.fill + t.n_tokens > $SeqLen THEN s.bin + 1 ELSE s.bin END,
      |        CASE WHEN s.fill + t.n_tokens > $SeqLen THEN t.n_tokens
      |             ELSE s.fill + t.n_tokens END,
      |        t.n_tokens
      | FROM s JOIN t ON t.source = s.source AND t.rn = s.rn + 1
      |)
      |SELECT source, bin AS bin_id, count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
      |FROM s GROUP BY source, bin ORDER BY source, bin_id""".stripMargin

  // ---------------------------------------------------------------- q71

  /** Stopword list shared with Text.q33 (the quality-score anchor). */
  private val PipelineStops = "('the', 'of', 'and', 'a', 'to', 'in')"

  /** q71: the END-TO-END curation pipeline — the DAG a real
    * pretraining data job runs, composed from this suite's stages:
    * exact dedup (q30 semantics) → quality filter (q33's heuristics)
    * → train split (q63's hash rule) → sequence packing (q65's
    * prefix-sum chunking via the two-level scan) → per-source summary.
    *
    * Stage ORDER is the scale design: scoring is computed map-side
    * FIRST and the text column dropped, so the dedup shuffle carries
    * (fp, ids, scores) — 16-byte fingerprints and a few numerics —
    * never document bodies. Per-doc scoring is deterministic, so
    * score-then-dedup ≡ dedup-then-score; the cheap order wins. Every
    * stage is rand-free, so the whole pipeline hash-matches a DuckDB
    * oracle expressing the same five stages. */
  def q71CurationPipeline(s: SparkSession, d: String): DataFrame = {
    val nTok = size(split(col("text"), " "))
    val scored = documents(s, d).select(
      col("source"), col("doc_id"),
      md5(col("text").cast("binary")).as("fp"),
      nTok.cast("bigint").as("n_tokens"),
      (size(expr(s"filter(split(text, ' '), t -> t IN $PipelineStops)")).cast("double")
        / nTok).as("swr"))
    val rnW = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val kept = scored
      .withColumn("rn", row_number().over(rnW)).filter(col("rn") === 1)
      .filter(col("n_tokens") >= 20 && col("swr") >= 0.02)
      .filter(hashBucket(col("doc_id").cast("string")) < "cc") // q63 train rule
      .select(col("source"), col("doc_id"), col("n_tokens"))
    val packed = bucketedCumSum(
        kept.withColumn("bucket", expr(s"doc_id DIV $CumBucketWidth")),
        Seq(col("doc_id").asc))
      .withColumn("chunk_id",
        expr(s"CAST((cum_tokens - n_tokens) DIV $SeqLen AS BIGINT)"))
    packed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("chunk_id")).as("n_chunks"),
           sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("source"))
  }

  val q71Sql: String =
    s"""WITH scored AS (
      | SELECT source, doc_id, md5(text) AS fp,
      |        CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
      |        CAST(len(list_filter(str_split(text, ' '), t -> t IN $PipelineStops)) AS DOUBLE)
      |          / len(str_split(text, ' ')) AS swr
      | FROM documents
      |), deduped AS (
      | SELECT * FROM (
      |   SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |   FROM scored) WHERE rn = 1
      |), kept AS (
      | SELECT source, doc_id, n_tokens FROM deduped
      | WHERE n_tokens >= 20 AND swr >= 0.02
      |   AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
      |), packed AS (
      | SELECT source, n_tokens,
      |        CAST((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
      |          // $SeqLen AS BIGINT) AS chunk_id
      | FROM kept
      |)
      |SELECT source, count(*) AS n_docs, count(DISTINCT chunk_id) AS n_chunks,
      |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      |FROM packed GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q72

  /** Shingle width and hit threshold for decontamination. */
  val DecontamN = 5

  /** Benchmark DECONTAMINATION core: flags training documents sharing
    * ≥ 1 distinct word n-gram with any benchmark/test document — the
    * step that keeps eval sets out of the training mix. Split out so
    * tests can plant contamination.
    *
    * Scale shape: both sides map to DISTINCT shingle fingerprints —
    * xxhash64 BIGINTs, 8 bytes on the wire vs a 32-char md5 hex
    * string (~4× narrower shuffle keys) — so the join shuffles
    * fixed-size hashes, never text, and the explode factor is
    * tokens-per-doc. The fingerprints come from the native
    * [[graft.functions.ShingleHashes]] kernel, which hashes token
    * windows directly instead of materializing every shingle as a
    * concatenated string first. The hit side aggregates to
    * (doc_id, n_hits) before the broadcast-able rejoin to per-source
    * totals. The oracle compares per-source COUNTS, not fingerprints,
    * so the hash choice is invisible to it. Collision odds: a 64-bit
    * hash over n distinct shingles crosses one expected collision
    * around n ≈ 2³² ≈ 4·10⁹; each collision can only ADD a spurious
    * hit — decontamination stays conservative (never under-flags). */
  def decontaminate(train: DataFrame, test: DataFrame): DataFrame = {
    val testFps = shingledFps(test).select(col("fp")).distinct()
    val hits = shingledFps(train)
      .join(testFps, Seq("fp"))
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    contaminationTotals(train, hits)
  }

  /** (source, doc_id, fp) — one row per DISTINCT n-token window
    * fingerprint per document (xxhash64 BIGINT, never shingle text). */
  private def shingledFps(df: DataFrame): DataFrame = df
    .select(col("source"), col("doc_id"),
      explode(Dedup.shingleFps(col("text"), DecontamN)).as("fp"))

  /** Per-source contamination totals from per-doc hit counts: the
    * (broadcast-able) rejoin of hits onto the full train id set. */
  private def contaminationTotals(train: DataFrame, hits: DataFrame): DataFrame =
    train.select(col("source"), col("doc_id"))
      .join(hits, Seq("source", "doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
           sum(when(col("n_hits") >= 1, 1).otherwise(0)).as("n_contaminated"),
           coalesce(max(col("n_hits")), lit(0L)).as("max_hits"))
      .orderBy(col("source"))

  /** Target false-positive rate of the decontam pre-screen: the
    * post-screen shuffle carries ~fpp of the corpus fingerprints that
    * don't join plus all that do. With the lazy in-plan filter the
    * realized fpp follows the session's runtime-bloom sizing confs
    * (see [[prescreenFilter]]); this constant documents the design
    * point those defaults sit near and anchors the spec's bound.
    *
    * TUNING REQUIREMENT at scale: the conf defaults size for 1M
    * items / 1 MB — a shingled eval suite with more distinct fps than
    * that silently degrades realized fpp far past this design point,
    * giving back most of the O(matches + fpp·corpus) shuffle
    * reduction (correctness is never at risk; false positives die in
    * the exact join). Either pass `expectedFps` to
    * [[decontaminateBloom]]/[[decontaminateSpans]] (sized literals,
    * still zero jobs at construction) or set the session confs
    * `spark.sql.optimizer.runtime.bloomFilter.{expectedNumItems,
    * numBits}` per deployment; hints past the conf MAXIMA
    * (maxExpectedNumItems / maxNumBits, defaults 4M / 8 MB) are
    * clamped by Spark, so very large suites must raise the maxima
    * too. */
  val DecontamBloomFpp: Double = 0.01

  /** Optimal Bloom bit count for `n` items at [[DecontamBloomFpp]]:
    * the standard -n·ln(p)/ln(2)² sizing (~9.6 bits/item at 1%). */
  private def optimalNumBits(n: Long): Long =
    math.ceil(-n * math.log(DecontamBloomFpp) /
      (math.log(2) * math.log(2))).toLong

  /** DECONTAMINATION with a Bloom-filter pre-screen — the 100 TB
    * shape of [[decontaminate]]. The exact-join formulation shuffles
    * EVERY distinct corpus fingerprint even though almost none join
    * (the test set is a few thousand benchmark docs against a corpus
    * of billions). Here the small side is collapsed into a Bloom
    * filter ([[prescreenFilter]]) and the corpus side drops
    * non-members before any exchange: the decontamination shuffle
    * shrinks from O(corpus) to O(matches + fpp·corpus). Bloom false
    * positives survive the pre-screen but die in the exact join that
    * follows, so results are bit-identical to [[decontaminate]] —
    * same oracle SQL shape. */
  /** The decontam pre-screen as a LAZY in-plan membership predicate:
    * `might_contain(scalar-subquery(bloom_agg(fp)), fp)` — Spark's own
    * runtime-filter expressions (BloomFilterAggregate /
    * BloomFilterMightContain), injected explicitly so the screen fires
    * regardless of join-eligibility heuristics.
    *
    * Why a subquery instead of a driver-built filter: the former
    * prescreenBloom ran TWO eager Spark jobs (count for sizing + the
    * bloom aggregation) at DataFrame-CONSTRUCTION time, so a caller
    * that only wanted the plan (explain, tests, composition) paid two
    * real scans (builder's round-14 open item). The subquery builds
    * the filter as part of the query itself: construction runs ZERO
    * jobs (CurationSpec pins this with a job listener), and at
    * execution the test-side aggregation Spark was going to run anyway
    * doubles as the filter build.
    *
    * Sizing follows the session's runtime-bloom confs
    * (`spark.sql.optimizer.runtime.bloomFilter.{expectedNumItems,
    * numBits}`, defaults 1M items / 1 MB) — the same blind-sizing
    * defaults Spark's InjectRuntimeFilter ships, tunable per session;
    * exact count-based sizing is impossible without eager jobs, and
    * fpp only moves the post-screen shuffle volume, never results
    * (false positives die in the exact join that follows).
    *
    * ONE definition for the exact (decontaminateBloom) and span
    * (decontaminateSpans) screens — the sizing/fpp/lifecycle contract
    * must not drift between them (the BucketStore lesson). */
  private def prescreenFilter(testFps: DataFrame, fp: Column,
                              expectedFps: Option[Long] = None): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // a size hint becomes LITERAL sizing expressions — still zero jobs
    // at construction; Spark clamps both against the session's
    // runtime-bloom maxima (see the DecontamBloomFpp tuning note)
    expectedFps.foreach(n => require(n > 0,
      s"expectedFps hint must be positive, got $n"))
    val agg = expectedFps match {
      case Some(n) => new BloomFilterAggregate(
        ColumnBridge.expression(col("fp")),
        Literal(n), Literal(optimalNumBits(n)))
      case None => new BloomFilterAggregate(ColumnBridge.expression(col("fp")))
    }
    val bloomAgg = ColumnBridge.column(agg.toAggregateExpression())
    val aggPlan = testFps.agg(bloomAgg.as("bloom"))
      .queryExecution.analyzed // analysis only — no jobs
    ColumnBridge.column(
      BloomFilterMightContain(ScalarSubquery(aggPlan), ColumnBridge.expression(fp)))
  }

  def decontaminateBloom(train: DataFrame, test: DataFrame,
                         expectedFps: Option[Long] = None): DataFrame = {
    // the exact join re-derives the test fingerprints at execution —
    // one extra shingle+distinct of the SMALL side
    val testFps = shingledFps(test).select(col("fp")).distinct()
    val candidates = shingledFps(train)
      .filter(prescreenFilter(testFps, col("fp"), expectedFps))
    val hits = candidates.join(testFps, Seq("fp"))
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    contaminationTotals(train, hits)
  }

  /** q72: decontaminate the q63 train split against the q63 test
    * split over the documents corpus. */
  def q72Decontaminate(s: SparkSession, d: String): DataFrame = {
    val b = hashBucket(col("doc_id").cast("string"))
    val docs = documents(s, d).select(col("source"), col("doc_id"), col("text"))
    decontaminate(docs.filter(b < "cc"), docs.filter(b >= "e6"))
  }

  /** q80: same contamination report via [[decontaminateBloom]] — the
    * Bloom pre-screen is semantically invisible, so this gets a full
    * DuckDB hash oracle (the q72 CTE with q80's test split bound).
    * The test split is wider ('e0' vs q72's 'e6') so the two queries
    * exercise different filter densities. */
  def q80BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val b = hashBucket(col("doc_id").cast("string"))
    val docs = documents(s, d).select(col("source"), col("doc_id"), col("text"))
    decontaminateBloom(docs.filter(b < "cc"), docs.filter(b >= "e0"))
  }

  val q72Sql: String = decontamSql("e6")
  val q80Sql: String = decontamSql("e0")

  /** The decontamination oracle CTE, parametrized on the test-split
    * lower bound (train is always < 'cc'). Shared by q72 (exact) and
    * q80 (Bloom pre-screened) — identical semantics by construction. */
  private def decontamSql(testBound: String): String =
    s"""WITH train AS (
      | SELECT source, doc_id, text FROM documents
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
      |), test AS (
      | SELECT text FROM documents
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '$testBound'
      |), test_fp AS (
      | SELECT DISTINCT md5(sh) AS fp FROM (
      |   SELECT unnest(list_distinct([array_to_string(t[i:i+${DecontamN - 1}], ' ')
      |     for i in range(1, len(t) - ${DecontamN - 2})])) AS sh
      |   FROM (SELECT str_split(text, ' ') AS t FROM test)
      |   WHERE len(t) >= $DecontamN)
      |), train_fp AS (
      | SELECT source, doc_id, unnest(list_distinct([array_to_string(t[i:i+${DecontamN - 1}], ' ')
      |   FOR i IN range(1, len(t) - ${DecontamN - 2})])) AS sh
      | FROM (SELECT source, doc_id, str_split(text, ' ') AS t FROM train)
      | WHERE len(t) >= $DecontamN
      |), hits AS (
      | SELECT source, doc_id, count(*) AS n_hits
      | FROM train_fp JOIN test_fp ON md5(train_fp.sh) = test_fp.fp
      | GROUP BY source, doc_id
      |)
      |SELECT train.source AS source, count(*) AS n_train,
      |       CAST(sum(CASE WHEN hits.n_hits >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |       coalesce(max(hits.n_hits), 0) AS max_hits
      |FROM train LEFT JOIN hits
      |  ON train.source = hits.source AND train.doc_id = hits.doc_id
      |GROUP BY train.source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q77

  /** q77: ADAPTIVE quality filtering — keep each source's top half by
    * stopword-ratio rank instead of a fixed global threshold (sources
    * differ in style; a global cutoff over- or under-prunes). The
    * per-source rank is NOT one serial window: it is the two-level
    * scan with value = 1 (a distributed row_number), bucketed on
    * floor(−swr·256) which is monotone along the (swr DESC, doc_id)
    * rank order — same skew safety as q64/q65. All comparisons after
    * scoring are integer (rank vs ⌈n/2⌉), so the oracle is float-safe
    * by construction. */
  def q77AdaptiveFilter(s: SparkSession, d: String): DataFrame = {
    val nTok = size(split(col("text"), " "))
    val scored = documents(s, d).select(
      col("source"), col("doc_id"),
      round(size(expr(s"filter(split(text, ' '), t -> t IN $PipelineStops)")).cast("double")
        / nTok, 4).as("swr"))
    val bucketed = scored.withColumn("bucket",
      expr("CAST(floor((0 - swr) * 256) AS BIGINT)"))
    val ranked = bucketedCumSum(bucketed,
        Seq(col("swr").desc, col("doc_id").asc), lit(1L))
      .withColumnRenamed("cum_tokens", "rn")
    val counts = scored.groupBy(col("source")).agg(count(lit(1)).as("n"))
    ranked.join(counts, Seq("source"))
      .filter(expr("rn <= (n + 1) DIV 2"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), count(lit(1)).as("n_kept"),
           min(col("swr")).as("cutoff_swr"))
      .orderBy(col("source"))
  }

  val q77Sql: String =
    s"""WITH scored AS (
      | SELECT source, doc_id,
      |   round(CAST(len(list_filter(str_split(text, ' '), t -> t IN $PipelineStops)) AS DOUBLE)
      |     / len(str_split(text, ' ')), 4) AS swr
      | FROM documents
      |), ranked AS (
      | SELECT source, doc_id, swr,
      |   row_number() OVER (PARTITION BY source ORDER BY swr DESC, doc_id) AS rn,
      |   count(*) OVER (PARTITION BY source) AS n
      | FROM scored
      |)
      |SELECT source, CAST(max(n) AS BIGINT) AS n_docs, count(*) AS n_kept,
      |       min(swr) AS cutoff_swr
      |FROM ranked WHERE rn <= (n + 1) // 2
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q83

  /** Temperature-scaled source mixing — the multilingual/source
    * REBALANCING recipe (sample source i with probability
    * p_i ∝ (n_i/N)^α, α<1 flattening the distribution so small
    * sources are up-weighted), turned into deterministic per-doc keep
    * rates under a total budget: r_i = min(1, B·N·p_i / n_i). q66
    * takes the rates as given; this derives them from corpus
    * statistics — the two-pass shape every rebalancing pipeline runs.
    *
    * 100 TB shape: pass 1 is a map-side-combined per-source count
    * (shuffles one row per source); the tiny stats frame computes
    * rates through unpartitioned windows (constant rows — one task)
    * and broadcasts back onto the corpus for a map-side deterministic
    * keep decision (salted-md5 uniform vs a 32-bit hex threshold, the
    * q63/q66 discipline — rerunnable, join-free, skew-proof). Docs
    * never shuffle; the output is per-source accounting. */
  def temperatureMix(docs: DataFrame, alpha: Double, budget: Double): DataFrame = {
    val all = Window.partitionBy()
    val stats = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("n_tot", sum(col("n_docs")).over(all))
      .withColumn("w", pow(col("n_docs").cast("double") / col("n_tot"), lit(alpha)))
      .withColumn("rate", least(lit(1.0),
        lit(budget) * col("n_tot") * (col("w") / sum(col("w")).over(all))
          / col("n_docs")))
      .select(col("source"), col("n_docs"), col("rate"))
    sampleByRate(docs, stats, "source", ":tmix").orderBy(col("source"))
  }

  /** Shared rate-sampler accounting for the deterministic per-bucket
    * samplers (q83's temperature mix, q158's target matching): given a
    * broadcastable (bucket, n_docs, rate) stats frame, count kept docs
    * per bucket under the engine-portable md5 acceptance — an
    * 8-hex-digit uniform per doc vs floor(rate·2^32) as a zero-padded
    * hex threshold: pure string comparison, identical in any engine.
    * rate = 1 (a kept-whole bucket) keeps UNCONDITIONALLY — its
    * threshold would need 9 digits (the trap lives here once, not
    * once per sampler). `salt` keys each sampler's decisions
    * independently. Returns (bucket, n_docs, rate(rounded 6), n_kept). */
  private def sampleByRate(docs: DataFrame, stats: DataFrame,
                           bucketCol: String, salt: String): DataFrame = {
    val u = substring(md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 8)
    val thr = lpad(lower(hex(floor(col("rate") * lit(4294967296.0)).cast("bigint"))), 8, "0")
    val keep = when(col("rate") >= 1.0, 1).otherwise((u < thr).cast("int"))
    docs.select(col(bucketCol), col("doc_id"))
      .join(broadcast(stats), Seq(bucketCol))
      .select(col(bucketCol), col("n_docs"), col("rate"), keep.as("keep"))
      .groupBy(col(bucketCol))
      .agg(first(col("n_docs")).as("n_docs"),
           round(first(col("rate")), 6).as("rate"),
           sum(col("keep")).cast("bigint").as("n_kept"))
  }

  /** q83: rebalance the documents corpus across sources at α = 0.5
    * under a 25% budget. */
  def q83TemperatureMix(s: SparkSession, d: String): DataFrame =
    temperatureMix(documents(s, d).select(col("source"), col("doc_id")),
      alpha = 0.5, budget = 0.25)

  val q83Sql: String =
    """WITH counts AS (
      | SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
      |), stats AS (
      | SELECT source, n_docs,
      |   least(1.0, 0.25 * (SELECT CAST(sum(n_docs) AS DOUBLE) FROM counts)
      |     * (pow(CAST(n_docs AS DOUBLE) / (SELECT CAST(sum(n_docs) AS DOUBLE) FROM counts), 0.5)
      |        / (SELECT sum(pow(CAST(n_docs AS DOUBLE) / (SELECT CAST(sum(n_docs) AS DOUBLE) FROM counts), 0.5)) FROM counts))
      |     / n_docs) AS rate
      | FROM counts
      |)
      |SELECT d.source, any_value(s.n_docs) AS n_docs,
      | round(any_value(s.rate), 6) AS rate,
      | CAST(sum(CASE WHEN s.rate >= 1.0 THEN 1
      |   WHEN substr(md5(CAST(d.doc_id AS VARCHAR) || ':tmix'), 1, 8) <
      |     lpad(lower(hex(CAST(floor(s.rate * 4294967296.0) AS BIGINT))), 8, '0')
      |   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM documents d JOIN stats s ON d.source = s.source
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------- q88

  /** Intra-doc SLIDING context windows with stride — the overlapping
    * window shape LLM pretraining actually feeds (window W, stride
    * S < W, so consecutive windows share W−S tokens of context).
    * q65/q68 pack documents into disjoint chunks; this is the
    * orthogonal per-document axis. Pure per-row arithmetic
    * (sequence + posexplode): map-only, no shuffle but the output
    * sort — embarrassingly parallel at any corpus size. Emits window
    * coordinates (start inclusive, end exclusive), not window text:
    * downstream slicing is a pushed-down projection, and the
    * coordinates are what an index/loader stores. */
  def slidingWindows(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(stride >= 1 && window >= stride,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        posexplode(sequence(lit(0), col("n_tokens") - 1, lit(stride)))
          .as(Seq("win_idx", "start_tok")))
      .select(col("doc_id"), col("win_idx"), col("start_tok"),
        least(col("start_tok") + window, col("n_tokens")).as("end_tok"))
      .withColumn("n_win_tokens", col("end_tok") - col("start_tok"))
  }

  /** q88: 16-token windows at stride 12 (4-token overlap) over the
    * documents corpus — sized to the synthetic corpus's ~54-token
    * docs so every doc yields several windows. */
  def q88SlidingWindows(s: SparkSession, d: String): DataFrame =
    slidingWindows(documents(s, d).filter(col("doc_id") < 300), 16, 12)
      .orderBy(col("doc_id"), col("win_idx"))

  val q88Sql: String =
    """WITH t AS (
      | SELECT doc_id, len(str_split(text, ' ')) AS n_tokens FROM documents
      | WHERE doc_id < 300
      |), w AS (
      | SELECT doc_id, n_tokens,
      |   unnest(range(0, n_tokens, 12)) AS start_tok
      | FROM t
      |)
      |SELECT doc_id,
      | CAST((start_tok / 12) AS INT) AS win_idx,
      | CAST(start_tok AS INT) AS start_tok,
      | CAST(least(start_tok + 16, n_tokens) AS INT) AS end_tok,
      | CAST(least(start_tok + 16, n_tokens) - start_tok AS INT) AS n_win_tokens
      |FROM w ORDER BY doc_id, win_idx""".stripMargin

  // --------------------------------------------------------------- q100

  /** q100: deterministic global shuffle-and-shard — the training-order
    * step of a data pipeline. Every document gets a position drawn
    * from md5(doc_id:seed): shard = first hex nibble of the key (16
    * shards here; at scale the nibble count grows with the corpus),
    * pos = rank of the key within its shard. Hash-derived order is
    * (a) reproducible across runs and engines (no rand(), no
    * zipWithIndex), (b) independent of input file layout, and
    * (c) statistically uniform — the properties a resumable training
    * run needs from "shuffle the corpus".
    *
    * 100 TB shape: NO global sort. The only exchange is the hash
    * partition by shard, and the per-shard rank is a PARTITIONED
    * window (external sort within each shard). Shard count is chosen
    * ≥ executor parallelism, so the window never concentrates the
    * corpus on one task — unlike a row_number over a global ORDER BY,
    * which plans a single-partition window. */
  def shuffleShard(docs: DataFrame, seed: Long): DataFrame = {
    val key = md5(concat(col("doc_id").cast("string"), lit(s":shuffle:$seed")))
    docs
      .select(col("doc_id"), key.as("k"))
      .withColumn("shard",
        (expr("position(substring(k, 1, 1) IN '0123456789abcdef')") - 1).cast("int"))
      .withColumn("pos",
        row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("k"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  def q100ShuffleShard(s: SparkSession, d: String): DataFrame =
    shuffleShard(documents(s, d), 42L).orderBy(col("shard"), col("pos"))

  val q100Sql: String =
    """WITH t AS (
      | SELECT doc_id, md5(concat(CAST(doc_id AS VARCHAR), ':shuffle:42')) AS k
      | FROM documents
      |), sh AS (
      | SELECT doc_id, k,
      |   CAST(strpos('0123456789abcdef', substr(k, 1, 1)) - 1 AS INT) AS shard
      | FROM t
      |)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS INT) AS pos
      |FROM sh ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------- q87

  /** Span-level decontamination: for every contaminated train doc, the
    * EXTENT of the contamination — distinct leaked shingles, first and
    * last contaminated token position, and the affected fraction of
    * the doc. q72 answers "which docs / how many shingles"; masking
    * pipelines (cut the leaked span, keep the rest of the document)
    * need WHERE, which requires per-occurrence positions instead of
    * the distinct-fp projection the counting paths use.
    *
    * 100 TB shape: the corpus side explodes to fixed-width
    * (ids, n_tokens, pos, fp) rows — text never shuffles, and the
    * fp join + per-doc aggregation is the q72 plan with two extra
    * int columns. The q80 Bloom pre-screen IS composed here (round-8
    * verdict ask #2): the posexploded corpus side is the suite's
    * largest exchange input — one row per shingle OCCURRENCE, not per
    * distinct fp — so dropping non-members inside the post-explode
    * codegen span shrinks the shuffle from O(corpus tokens) to
    * O(hit occurrences + fpp·corpus tokens). Bloom false positives
    * die in the exact join that follows, so results stay bit-identical
    * to the unscreened formulation (same oracle SQL). */
  def decontaminateSpans(train: DataFrame, test: DataFrame,
                         expectedFps: Option[Long] = None): DataFrame = {
    val testFps = shingledFps(test).select(col("fp")).distinct()
    val pos = train.select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        posexplode(graft.functions.NativeExprs.shingleHashes(
          split(col("text"), " "), DecontamN)).as(Seq("pos", "fp")))
      .filter(prescreenFilter(testFps, col("fp"), expectedFps))
    pos.join(testFps, Seq("fp"))
      .groupBy(col("source"), col("doc_id"), col("n_tokens"))
      .agg(countDistinct(col("fp")).as("n_hits"),
           min(col("pos")).as("first_pos"),
           max(col("pos")).as("last_pos"))
      .select(col("source"), col("doc_id"), col("n_hits"),
        col("first_pos"), col("last_pos"),
        round((col("last_pos") - col("first_pos") + lit(DecontamN)).cast("double")
              / col("n_tokens"), 4).as("span_frac"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** q87: contamination spans of the q63 train split vs the q72 test
    * split. */
  def q87DecontamSpans(s: SparkSession, d: String): DataFrame = {
    val b = hashBucket(col("doc_id").cast("string"))
    val docs = documents(s, d).select(col("source"), col("doc_id"), col("text"))
    decontaminateSpans(docs.filter(b < "cc"), docs.filter(b >= "e6"))
  }

  val q87Sql: String =
    s"""WITH train AS (
      | SELECT source, doc_id, text FROM documents
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
      |), test AS (
      | SELECT text FROM documents
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6'
      |), test_fp AS (
      | SELECT DISTINCT md5(sh) AS fp FROM (
      |   SELECT unnest(list_distinct([array_to_string(t[i:i+${DecontamN - 1}], ' ')
      |     for i in range(1, len(t) - ${DecontamN - 2})])) AS sh
      |   FROM (SELECT str_split(text, ' ') AS t FROM test)
      |   WHERE len(t) >= $DecontamN)
      |), train_pos AS (
      | SELECT source, doc_id, len(t) AS n_tokens,
      |   unnest(range(1, len(t) - ${DecontamN - 2})) AS i, t
      | FROM (SELECT source, doc_id, str_split(text, ' ') AS t FROM train)
      | WHERE len(t) >= $DecontamN
      |), hits AS (
      | SELECT source, doc_id, n_tokens, i - 1 AS pos,
      |   md5(array_to_string(t[i:i+${DecontamN - 1}], ' ')) AS fp
      | FROM train_pos
      |)
      |SELECT h.source, h.doc_id,
      | CAST(count(DISTINCT h.fp) AS BIGINT) AS n_hits,
      | CAST(min(h.pos) AS INT) AS first_pos,
      | CAST(max(h.pos) AS INT) AS last_pos,
      | round(CAST(max(h.pos) - min(h.pos) + $DecontamN AS DOUBLE) / h.n_tokens, 4)
      |   AS span_frac
      |FROM hits h JOIN test_fp ON h.fp = test_fp.fp
      |GROUP BY h.source, h.doc_id, h.n_tokens
      |ORDER BY h.source, h.doc_id""".stripMargin

  // ---------------------------------------------------------------- q84

  /** Stratified EXACT-k sampling: exactly `k` documents per source
    * (every doc of a smaller source), chosen uniformly and
    * deterministically by ranking on a salted-md5 uniform with doc_id
    * tie-break — "take exactly 10k docs per language", the quota
    * sampler that rate-based mixing (q66/q83) cannot express (rates
    * only hit quotas in expectation). Rerunnable: same corpus, same
    * sample.
    *
    * At scale the row_number window sorts each source's partition;
    * with k ≪ n_i the 100 TB refinement is a pre-filter on the hash
    * prefix (keep u < ~2·k/n_i, then rank the survivors exactly) — the
    * same two-phase shape as the adaptive filter's rank cut; the
    * fallback full sort is still one shuffle, spilling, never
    * collecting. */
  /** q84/q178's shared rank key — ONE definition (the wsampPrio
    * discipline): the reservoir form's correctness contract is
    * row-identity with the window form against q84's oracle, so the
    * salt, prefix width, and tie-break must be a single expression
    * the two samplers cannot drift apart on. */
  private def stratRank: Column =
    substring(md5(concat(col("doc_id").cast("string"), lit(":strat"))), 1, 16)

  def stratifiedSample(docs: DataFrame, k: Int): DataFrame = {
    val u = stratRank
    val w = Window.partitionBy(col("source")).orderBy(u.asc, col("doc_id").asc)
    docs.select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** q84: exactly 20 docs per source from the documents corpus. */
  def q84StratifiedSample(s: SparkSession, d: String): DataFrame =
    stratifiedSample(documents(s, d).select(col("source"), col("doc_id")), 20)
      .orderBy(col("source"), col("rk"))

  /** q178: q84's sample via the MERGEABLE RESERVOIR aggregate — same
    * rows (same md5 rank, same ties), different machinery: Spark 4's
    * partial WindowGroupLimit already keeps q84's shuffle at ~k rows
    * per source per mapper, but the window form still full-sorts every
    * map partition by (source, rank), exchanges + re-sorts for the
    * Final window, and cannot compose with other aggregates; the
    * reservoir is a plain hash-aggregate (no sort anywhere, one array
    * row per source, usable inside any agg) — see
    * [[graft.functions.HashReservoirAgg]] for the full comparison.
    * Oracle = q84's SQL verbatim — the two forms must be
    * row-identical, which is the whole point. */
  def q178ReservoirSample(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HashReservoirAgg.hashReservoir
    documents(s, d)
      .select(col("source"), col("doc_id"), stratRank.as("rnk"))
      .groupBy(col("source"))
      .agg(hashReservoir(col("rnk"), col("doc_id"), 20).as("ids"))
      .select(col("source"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
      .select(col("source"), col("doc_id"), (col("pos") + 1).cast("int").as("rk"))
      .orderBy(col("source"), col("rk"))
  }

  val q84Sql: String =
    """WITH t AS (
      | SELECT source, doc_id,
      |   CAST(row_number() OVER (PARTITION BY source
      |     ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 16), doc_id)
      |   AS INT) AS rk
      | FROM documents
      |)
      |SELECT source, doc_id, rk FROM t WHERE rk <= 20
      |ORDER BY source, rk""".stripMargin

  // --------------------------------------------------------------- q103

  /** q103: WEIGHTED sampling without replacement (Efraimidis–Spirakis
    * A-ES, 2006): per source, the k docs with the largest priority
    * u^(1/w) — here w = n_chars, so longer documents are
    * proportionally likelier to survive, the "sample by token mass,
    * not doc count" selection a mixture builder wants when sources
    * differ wildly in doc length. q84 is the uniform quota sampler;
    * rate-based mixing (q66/q83) is Bernoulli per doc — neither can
    * express "exactly k, weight-proportional".
    *
    * Deterministic and engine-portable: u derives from md5(doc_id),
    * not rand() — first 8 hex chars parsed to an integer v (exact in
    * a double), u = (v + 0.5) / 2^32 ∈ (0,1). Priorities are ranked
    * UNROUNDED (both engines feed identical doubles to libm pow; an
    * order flip would need two priorities within ~2 ulp of each
    * other) with a doc_id tie-break, and the priority itself is NOT
    * an output column, so last-ulp pow disagreement cannot reach the
    * hash compare.
    *
    * 100 TB shape: identical to q84 — a per-source rank window with
    * the rk <= k predicate pushed into WindowGroupLimit (per-partition
    * top-k heaps map-side, only ~k rows per source shuffle); the
    * priority itself is map-side arithmetic on the scan. */
  /** The A-ES priority u^(1/w), u = md5-derived uniform — ONE
    * definition, shared by the window sampler (q103) and the reservoir
    * form (q179) whose correctness contract is row-identity with it. */
  private def wsampPrio: Column = {
    val v = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":wsamp"))), 1, 8),
      16, 10).cast("double")
    val u = (v + lit(0.5)) / lit(4294967296.0)
    pow(u, lit(1.0) / greatest(col("n_chars"), lit(1L)).cast("double"))
  }

  def weightedSample(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(wsampPrio.desc, col("doc_id").asc)
    docs.select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** q103: 25 weight-proportional docs per source. */
  def q103WeightedSample(s: SparkSession, d: String): DataFrame =
    weightedSample(documents(s, d), 25).orderBy(col("source"), col("rk"))

  /** q179: q103's weight-proportional sample via the WEIGHTED
    * mergeable reservoir ([[graft.functions.WeightedReservoirAgg]],
    * Efraimidis–Spirakis A-ES as an aggregate) — same priorities,
    * same ties, row-identical output, with q178's plan trade: no
    * per-map-partition sort, one array row per source, composable
    * with other aggregates. n_chars rejoins by id afterwards (the
    * ≤ sources×k id set broadcasts onto the doc scan). Oracle =
    * q103's SQL verbatim. */
  def q179WeightedReservoir(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HashReservoirAgg.weightedReservoir
    val sampled = documents(s, d)
      .select(col("source"), col("doc_id"), wsampPrio.as("prio"))
      .groupBy(col("source"))
      .agg(weightedReservoir(col("prio"), col("doc_id"), 25).as("ids"))
      .select(col("source"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
      .select(col("source"), col("doc_id"), (col("pos") + 1).cast("int").as("rk"))
    documents(s, d).select(col("doc_id"), col("n_chars"))
      .join(broadcast(sampled), Seq("doc_id"))
      .select(col("source"), col("doc_id"), col("n_chars"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** DuckDB has no `conv`, so the oracle parses the 8 hex chars with
    * an explicit strpos polynomial — same integer, same double. */
  val q103Sql: String =
    """WITH t AS (
      | SELECT source, doc_id, n_chars,
      |   list_sum(list_transform(range(1, 9),
      |     i -> (strpos('0123456789abcdef',
      |            substr(substr(md5(CAST(doc_id AS VARCHAR) || ':wsamp'), 1, 8),
      |                   CAST(i AS INT), 1)) - 1) * power(16, 8 - i))) AS v
      | FROM documents
      |), p AS (
      | SELECT source, doc_id, n_chars,
      |   pow((v + 0.5) / 4294967296.0,
      |       1.0 / CAST(greatest(n_chars, 1) AS DOUBLE)) AS prio
      | FROM t
      |), r AS (
      | SELECT source, doc_id, n_chars,
      |   CAST(row_number() OVER (PARTITION BY source
      |     ORDER BY prio DESC, doc_id) AS INT) AS rk
      | FROM p
      |)
      |SELECT source, doc_id, n_chars, rk FROM r WHERE rk <= 25
      |ORDER BY source, rk""".stripMargin

  // ---------------------------------------------------------------- q125

  /** Verdict boundary: a doc with ≥20% of its shingles hitting the
    * test set is `contaminated`; any hit below that is `partial`. */
  val ContamRatioBound = 0.2

  /** q125: CONTAMINATION RATIO report — the fraction-based verdict the
    * GPT-3/PaLM decontamination appendices describe: q72 flags a doc
    * on ANY shared 5-shingle (maximum-recall, but one boilerplate
    * phrase condemns a whole document); this measures WHAT FRACTION of
    * each train doc's distinct shingles hit the test set and buckets
    * docs into clean / partial / contaminated, so the pipeline can
    * drop true overlaps while keeping docs that merely brush a common
    * idiom. Output is the per-source × verdict summary a curation
    * dashboard tracks.
    *
    * 100 TB shape: both sides reduce to 8-byte xxhash64 shingle fps
    * map-side (q99/q102 collision argument — fps never output); the
    * hit join carries (fp, id), the per-doc totals partial-aggregate,
    * and the verdict bucketing collapses to ≤ 3 rows per source. The
    * frac is an exact int/int division and the 0.2 comparison is on
    * bit-identical doubles in both engines. */
  def contaminationRatio(train: DataFrame, test: DataFrame): DataFrame = {
    // explode_OUTER on the train side (round-14 review): a train doc
    // shorter than the shingle width has no shingle rows, and a plain
    // explode dropped it from EVERY verdict bucket — not even "clean"
    // — so verdict counts didn't reconcile against split totals. The
    // null-sfp row never matches a test fp (null join key), lands at
    // n_hit 0 → clean, and its frac 0 can't move the clean bucket's
    // avg (every clean doc's frac is 0 by definition).
    def sh(df: DataFrame) = df.select(col("source"), col("doc_id"),
      explode_outer(Dedup.shingleFps(col("text"), DecontamN)).as("sfp"))
    val testFps = sh(test).filter(col("sfp").isNotNull)
      .select(col("sfp")).distinct()
    // single consumption of the train shingles (r9 ADVICE: the old
    // two-consumer formulation cached trainSh and leaked the cached
    // partitions for the rest of the session): a left join marks each
    // shingle hit/miss (testFps is distinct, so no fan-out) and ONE
    // groupBy computes both the shingle total and the hit count.
    val trainSh = sh(train)
    val frac = col("n_hit").cast("double") / col("n_sh")
    trainSh.join(testFps.withColumn("_hit", lit(true)), Seq("sfp"), "left")
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_sh"), count(col("_hit")).as("n_hit"))
      .select(col("source"), frac.as("frac"),
        when(col("n_hit") === 0, "clean")
          .when(frac < ContamRatioBound, "partial")
          .otherwise("contaminated").as("verdict"))
      .groupBy(col("source"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("frac")), 6).as("avg_frac"))
      .orderBy(col("source"), col("verdict"))
  }

  def q125ContaminationRatio(s: SparkSession, d: String): DataFrame = {
    val b = hashBucket(col("doc_id").cast("string"))
    val docs = documents(s, d).select(col("source"), col("doc_id"), col("text"))
    contaminationRatio(docs.filter(b < "cc"), docs.filter(b >= "e6"))
  }

  val q125Sql: String =
    s"""WITH sh AS (
      | SELECT source, doc_id,
      |   unnest(CASE WHEN len(t) >= $DecontamN
      |     THEN list_distinct([array_to_string(t[i:i+${DecontamN - 1}], ' ')
      |       for i in range(1, len(t) - ${DecontamN - 2})])
      |     ELSE [CAST(NULL AS VARCHAR)] END) AS s
      | FROM (SELECT source, doc_id, str_split(text, ' ') AS t FROM documents)
      |), train_sh AS (
      | SELECT * FROM sh WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
      |), test_fp AS (
      | SELECT DISTINCT s FROM sh
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6'
      |   AND s IS NOT NULL
      |), hits AS (
      | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
      | FROM train_sh JOIN test_fp USING (s) GROUP BY doc_id
      |), per_doc AS (
      | SELECT t.source, t.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
      |        coalesce(min(h.n_hit), 0) AS n_hit
      | FROM train_sh t LEFT JOIN hits h ON t.doc_id = h.doc_id
      | GROUP BY t.source, t.doc_id
      |), verdicts AS (
      | SELECT source, CAST(n_hit AS DOUBLE) / n_sh AS frac,
      |   CASE WHEN n_hit = 0 THEN 'clean'
      |        WHEN CAST(n_hit AS DOUBLE) / n_sh < $ContamRatioBound THEN 'partial'
      |        ELSE 'contaminated' END AS verdict
      | FROM per_doc
      |)
      |SELECT source, verdict, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(frac), 6) AS avg_frac
      |FROM verdicts GROUP BY source, verdict ORDER BY source, verdict""".stripMargin

  // ---------------------------------------------------------------- q124

  /** q124: the curation FUNNEL report — per-stage survivor counts and
    * token retention through raw → exact dedup (q30 keep rule) →
    * quality filter (q71's heuristics) → decontamination (q72's
    * 5-shingle rule vs the ≥'e6' test split). q71 runs the pipeline
    * and reports its OUTPUT (packed chunks); this reports the FUNNEL
    * ITSELF — the per-stage attrition dashboard a data team watches to
    * catch a mis-tuned filter eating the corpus (a stage suddenly
    * dropping 40% is a bug signal long before eval regresses).
    *
    * 100 TB shape: every per-doc attribute (fp, n_tokens, swr,
    * 5-shingle fps) is computed map-side on ONE scan shape and the
    * text column dropped immediately — the dedup window carries
    * (fp, id, scalars), the contamination join carries (fp, id), and
    * each stage is an id-level refinement of the previous frame, so
    * stage composition never re-touches text. The four stage
    * aggregates are one row each; raw totals broadcast for the
    * retention ratios. */
  def q124CurationFunnel(s: SparkSession, d: String): DataFrame =
    curationFunnel(documents(s, d))

  /** q124 core over any (doc_id, source, text) frame — split out for
    * planted-document tests. */
  def curationFunnel(docs: DataFrame): DataFrame = {
    val nTok = size(split(col("text"), " "))
    val base = docs.select(
        col("source"), col("doc_id"),
        md5(col("text").cast("binary")).as("fp"),
        nTok.cast("bigint").as("n_tokens"),
        (size(expr(s"filter(split(text, ' '), t -> t IN $PipelineStops)")).cast("double")
          / nTok).as("swr"))
    val rnW = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val s2 = base.withColumn("rn", row_number().over(rnW))
      .filter(col("rn") === 1).drop("rn")
    val s3 = s2.filter(col("n_tokens") >= 20 && col("swr") >= 0.02)
    // contamination ids: TRAIN-split survivors sharing any 5-shingle
    // fp with the test split — 8-byte xxhash64 fps both sides
    // (q99/q102 collision argument); ids-only exchange. The probe side
    // is restricted to the train split (round-14 review): probing the
    // full corpus self-flagged every test doc (each trivially shares
    // its own shingles), conflating "is the test split" with
    // "contaminated by it" and baking a permanent ~10% stage-4 drop
    // into the funnel whose whole purpose is spotting abnormal drops.
    // Test docs ride the funnel unflagged like every other stage —
    // this query measures stage attrition, it doesn't route splits.
    val shingled = docs.select(col("doc_id"),
      explode(Dedup.shingleFps(col("text"), DecontamN)).as("sfp"))
    val testFps = shingled
      .filter(hashBucket(col("doc_id").cast("string")) >= "e6")
      .select(col("sfp")).distinct()
    val contaminated = shingled
      .filter(hashBucket(col("doc_id").cast("string")) < "e6")
      .join(testFps, Seq("sfp"))
      .select(col("doc_id")).distinct()
    val s4 = s3.join(contaminated, Seq("doc_id"), "left_anti")
    def stat(df: DataFrame, idx: Int, name: String) =
      df.agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
                col("n_docs"), col("n_tokens"))
    // the raw-stage row feeds BOTH the stage union and the retention
    // denominators — two plan consumptions recompute the whole scored
    // scan (the q187/q196 lesson), so pin the 1-row digest once
    val rawStat = stat(base, 1, "raw").localCheckpoint()
    val stages = rawStat
      .unionByName(stat(s2, 2, "exact_dedup"))
      .unionByName(stat(s3, 3, "quality"))
      .unionByName(stat(s4, 4, "decontam"))
    val totals = rawStat
      .select(col("n_docs").as("raw_docs"), col("n_tokens").as("raw_tokens"))
    stages.crossJoin(broadcast(totals))
      .select(col("stage_idx"), col("stage"), col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("raw_docs"), 6).as("doc_retention"),
        round(col("n_tokens").cast("double") / col("raw_tokens"), 6).as("token_retention"))
      .orderBy(col("stage_idx"))
  }

  val q124Sql: String =
    s"""WITH base AS (
      | SELECT source, doc_id, md5(text) AS fp, str_split(text, ' ') AS t,
      |        CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
      |        CAST(len(list_filter(str_split(text, ' '), x -> x IN $PipelineStops)) AS DOUBLE)
      |          / len(str_split(text, ' ')) AS swr
      | FROM documents
      |), s2 AS (
      | SELECT * FROM (
      |   SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |   FROM base) WHERE rn = 1
      |), s3 AS (
      | SELECT * FROM s2 WHERE n_tokens >= 20 AND swr >= 0.02
      |), sh AS (
      | SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+${DecontamN - 1}], ' ')
      |   for i in range(1, len(t) - ${DecontamN - 2})])) AS s
      | FROM base WHERE len(t) >= $DecontamN
      |), test_fp AS (
      | SELECT DISTINCT s FROM sh
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6'
      |), contaminated AS (
      | SELECT DISTINCT sh.doc_id FROM sh JOIN test_fp USING (s)
      | WHERE substr(md5(CAST(sh.doc_id AS VARCHAR)), 1, 2) < 'e6'
      |), s4 AS (
      | SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
      |), stages AS (
      | SELECT 1 AS stage_idx, 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM base
      | UNION ALL
      | SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT), CAST(sum(n_tokens) AS BIGINT) FROM s2
      | UNION ALL
      | SELECT 3, 'quality', CAST(count(*) AS BIGINT), CAST(sum(n_tokens) AS BIGINT) FROM s3
      | UNION ALL
      | SELECT 4, 'decontam', CAST(count(*) AS BIGINT), CAST(sum(n_tokens) AS BIGINT) FROM s4
      |), raw AS (
      | SELECT CAST(count(*) AS BIGINT) AS raw_docs,
      |        CAST(sum(n_tokens) AS BIGINT) AS raw_tokens FROM base
      |)
      |SELECT stage_idx, stage, n_docs, n_tokens,
      |  round(CAST(n_docs AS DOUBLE) / raw_docs, 6) AS doc_retention,
      |  round(CAST(n_tokens AS DOUBLE) / raw_tokens, 6) AS token_retention
      |FROM stages, raw ORDER BY stage_idx""".stripMargin

  // --------------------------------------------------------------- q158

  /** q158: TARGET-DISTRIBUTION REBALANCING — downsample buckets so the
    * kept corpus matches an explicit target share per bucket (here:
    * uniform across languages), keeping as much data as possible.
    * q83's temperature mix SOFTENS the observed distribution (shares
    * derive from the data); this matches a distribution you CHOSE —
    * the "20% code, 40% web, …" data-mixing spec every training run
    * ships with. Downsampling-only: rate_b = (t_b/a_b) / max_c(t_c/a_c)
    * puts the scarcest-vs-target bucket at rate 1 (kept whole) and
    * scales everything else down proportionally, so E[share_after] =
    * t_b exactly and no bucket needs upsampling.
    *
    * 100 TB shape (q83's): the per-bucket stats digest broadcasts back
    * onto an (id, bucket) projection — docs never shuffle; the keep
    * decision is the engine-portable md5-hex-vs-threshold comparison
    * (q83's trick, ':rebal' salt so decisions are independent of every
    * other sampler's). Target buckets absent from the data are
    * ignored; data buckets absent from the target drop to rate 0. */
  def matchDistribution(docs: DataFrame, bucketCol: String,
                        target: Map[String, Double]): DataFrame = {
    val all = Window.partitionBy()
    val tgt = typedLit(target)
    val stats = docs.groupBy(col(bucketCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("n_tot", sum(col("n_docs")).over(all))
      .withColumn("t", coalesce(element_at(tgt, col(bucketCol)), lit(0.0)))
      .withColumn("ratio",
        col("t") / (col("n_docs").cast("double") / col("n_tot")))
      // a target naming NO data bucket makes every ratio 0 and the
      // max-normalization 0/0 = NaN, which sampleByRate's hex
      // threshold turns into NULL n_kept — the documented contract
      // (absent-from-target buckets drop to rate 0) must hold in that
      // degenerate case too
      .withColumn("rate",
        when(max(col("ratio")).over(all) === 0.0, lit(0.0))
          .otherwise(col("ratio") / max(col("ratio")).over(all)))
      .select(col(bucketCol), col("n_docs"), col("rate"))
    sampleByRate(docs, stats, bucketCol, ":rebal")
      .withColumn("share_after",
        // all-zero keeps (the degenerate target above): 0/0 is a
        // NaN share — an empty rebalance has zero share everywhere
        when(sum(col("n_kept")).over(all) === 0L, lit(0.0))
          .otherwise(round(
            col("n_kept").cast("double") / sum(col("n_kept")).over(all), 6)))
      .orderBy(col(bucketCol))
  }

  /** Uniform language target over the five corpus languages. */
  def q158MatchDistribution(s: SparkSession, d: String): DataFrame =
    matchDistribution(documents(s, d), "lang",
      Map("en" -> 0.2, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.2, "zh" -> 0.2))

  val q158Sql: String =
    """WITH stats AS (
      | SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |   CAST(sum(count(*)) OVER () AS BIGINT) AS n_tot
      | FROM documents GROUP BY lang
      |), rated AS (
      | SELECT lang, n_docs,
      |   (0.2 / (CAST(n_docs AS DOUBLE) / n_tot))
      |     / max(0.2 / (CAST(n_docs AS DOUBLE) / n_tot)) OVER () AS rate
      | FROM stats
      |), kept AS (
      | SELECT d.lang, r.n_docs, r.rate,
      |   CAST(sum(CASE WHEN r.rate >= 1.0 THEN 1
      |     WHEN substr(md5(CAST(d.doc_id AS VARCHAR) || ':rebal'), 1, 8)
      |          < lpad(lower(hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
      |     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      | FROM documents d JOIN rated r ON d.lang = r.lang
      | GROUP BY d.lang, r.n_docs, r.rate
      |)
      |SELECT lang, n_docs, round(rate, 6) AS rate, n_kept,
      |  round(CAST(n_kept AS DOUBLE) / sum(n_kept) OVER (), 6) AS share_after
      |FROM kept ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q181

  /** q181: CLUSTER-AWARE train/val/test split — the constructive fix
    * for the leakage q108 merely AUDITS. q63 keys the split on
    * md5(doc_id), so the members of a near-duplicate cluster scatter
    * independently across splits: an eval doc's near-twin lands in
    * train with ~80% probability, silently inflating eval. Re-keying
    * the SAME md5 rule on the cluster label (the min member id) moves
    * every detected near-dup family wholesale into one split — cross-
    * split leakage is zero BY CONSTRUCTION for every detected pair,
    * not just measured after the fact.
    *
    * Output per destination split: cluster/doc counts plus torn-
    * cluster counts under both rules — `torn_id` (> 0 here: the tear
    * the rekey repairs) and `torn_cluster` (0 by construction; the
    * oracle recomputes rather than assumes it).
    *
    * Cluster assignment reuses [[Dedup.q67DedupClusters]]'s bounded
    * anchor verbatim so the DuckDB oracle can rebuild byte-identical
    * clusters via a recursive-CTE transitive closure; the unbounded
    * production path swaps in q69's LSH+CC labels (same `(doc_id,
    * cluster_id)` shape) — the split layer itself is two cluster-
    * domain-bounded aggregations over ids, text never shuffles. */
  def q181ClusterSplit(s: SparkSession, d: String): DataFrame =
    clusterAwareSplit(Dedup.q67DedupClusters(s, d))

  /** The split-assignment + audit layer over any `(doc_id,
    * cluster_id)` assignment (q67's bounded anchor or q69's LSH+CC
    * labels). */
  def clusterAwareSplit(clusters: DataFrame): DataFrame =
    clusters
      .select(col("doc_id"), col("cluster_id"),
        splitLabel(col("doc_id")).as("by_id"),
        splitLabel(col("cluster_id")).as("by_cluster"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("by_id")).as("k_id"),
        countDistinct(col("by_cluster")).as("k_cluster"),
        min(col("by_cluster")).as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("n_docs")).as("n_docs"),
        sum(when(col("k_id") > 1, 1L).otherwise(0L)).as("torn_id"),
        sum(when(col("k_cluster") > 1, 1L).otherwise(0L)).as("torn_cluster"))
      .orderBy(col("split"))

  val q181Sql: String =
    s"""WITH RECURSIVE docs AS (
      | SELECT doc_id, list_distinct(str_split(text, ' ')) AS ts
      | FROM documents WHERE doc_id < 60
      |), pairs AS (
      | SELECT a.doc_id AS src, b.doc_id AS dst
      | FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      | WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      |       / len(list_distinct(list_cat(a.ts, b.ts))) >= ${Dedup.ClusterThreshold}
      |), edges AS (
      | SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
      |), reach(id, comp) AS (
      | SELECT doc_id, doc_id FROM docs
      | UNION
      | SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
      |), cl AS (
      | SELECT id AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY id
      |), lab AS (
      | SELECT doc_id, cluster_id,
      |   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'cc' THEN 'train'
      |        WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'e6' THEN 'val'
      |        ELSE 'test' END AS by_id,
      |   CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)),1,2) < 'cc' THEN 'train'
      |        WHEN substr(md5(CAST(cluster_id AS VARCHAR)),1,2) < 'e6' THEN 'val'
      |        ELSE 'test' END AS by_cluster
      | FROM cl
      |), per AS (
      | SELECT cluster_id, count(*) AS n_docs,
      |   count(DISTINCT by_id) AS k_id,
      |   count(DISTINCT by_cluster) AS k_cluster,
      |   min(by_cluster) AS split
      | FROM lab GROUP BY cluster_id
      |)
      |SELECT split, CAST(count(*) AS BIGINT) AS n_clusters,
      |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN k_id > 1 THEN 1 ELSE 0 END) AS BIGINT) AS torn_id,
      |  CAST(sum(CASE WHEN k_cluster > 1 THEN 1 ELSE 0 END) AS BIGINT) AS torn_cluster
      |FROM per GROUP BY split ORDER BY split""".stripMargin

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q63_hash_split", q63HashSplit _, Some(q63Sql)),
    ("q64_token_budget", q64TokenBudget _, Some(q64Sql)),
    ("q65_pack_chunks", q65PackChunks _, Some(q65Sql)),
    ("q66_mix_sample", q66MixSample _, Some(q66Sql)),
    ("q68_greedy_pack", q68GreedyPack _, Some(q68Sql)),
    ("q71_curation_pipeline", q71CurationPipeline _, Some(q71Sql)),
    ("q72_decontaminate", q72Decontaminate _, Some(q72Sql)),
    ("q77_adaptive_filter", q77AdaptiveFilter _, Some(q77Sql)),
    ("q80_bloom_decontaminate", q80BloomDecontaminate _, Some(q80Sql)),
    ("q83_temperature_mix", q83TemperatureMix _, Some(q83Sql)),
    ("q84_stratified_sample", q84StratifiedSample _, Some(q84Sql)),
    ("q178_reservoir_sample", q178ReservoirSample _, Some(q84Sql)),
    ("q87_decontam_spans", q87DecontamSpans _, Some(q87Sql)),
    ("q88_sliding_windows", q88SlidingWindows _, Some(q88Sql)),
    ("q100_shuffle_shard", q100ShuffleShard _, Some(q100Sql)),
    ("q103_weighted_sample", q103WeightedSample _, Some(q103Sql)),
    ("q179_weighted_reservoir", q179WeightedReservoir _, Some(q103Sql)),
    ("q124_curation_funnel", q124CurationFunnel _, Some(q124Sql)),
    ("q158_match_distribution", q158MatchDistribution _, Some(q158Sql)),
    ("q181_cluster_split", q181ClusterSplit _, Some(q181Sql)),
    ("q125_contamination_ratio", q125ContaminationRatio _, Some(q125Sql)),
  )
}
