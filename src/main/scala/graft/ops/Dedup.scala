package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Near-duplicate detection over documents (SURVEY §2.9): MinHash+LSH,
  * SimHash, and exact n-gram Jaccard (the verification oracle for the
  * sketch-based paths).
  *
  * Scale design: the sketches (64-slot MinHash signature, 64-bit
  * SimHash) are fixed-size per document regardless of text length, so
  * the shuffle for candidate generation moves O(n · bands · 8 bytes) —
  * never the corpus text and never the O(n²) pair space. Candidate
  * pairs come from bucket-colliding band self-joins; exact similarity
  * is recomputed only for candidates.
  *
  * Everything is array/lambda expressions (codegen'd); no UDFs.
  */
object Dedup {

  val SigLen = 64       // MinHash signature slots
  val Bands = 4         // LSH bands (16 rows each): P(collide) = j^16 —
                        // a sharp high-similarity filter, so degenerate
                        // corpora (this one: median token-set j ≈ 0.87)
                        // don't explode the candidate join
  val RowsPerBand: Int = SigLen / Bands
  val MaxBucket = 200   // skip degenerate buckets (standard LSH skew guard)

  /** Distinct token set (unigram shingles) — on this corpus the right
    * granularity for near-dup (docs draw from a shared small vocab). */
  private def tokenSet(c: Column): Column = array_distinct(split(c, " "))

  /** word n-gram shingles (n≥2) via sliding window over a TOKEN ARRAY
    * column — pass `split(textCol, " ")` (or a precomputed token
    * column, so the split runs once, not per shingle reference). */
  def shinglesOfTokens(tokens: Column, n: Int): Column =
    // guard: sequence(1, 0) counts DOWN in Spark, so short docs need an
    // explicit empty-array branch, not a clamped upper bound
    when(size(tokens) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(tokens) - (n - 1)),
        i => concat_ws(" ", slice(tokens, i, lit(n)))))

  /** word n-gram shingles of a TEXT column (builds from the passed
    * column — not a hardcoded name). */
  def shingles(c: Column, n: Int): Column = shinglesOfTokens(split(c, " "), n)

  /** MinHash signature via the native one-pass expression
    * (graft.functions.MinHashSig: double hashing h1 + j·h2, one
    * xxhash64 pair per token instead of SigLen hashes per token). */
  def minhashSig(shingleCol: Column): Column =
    graft.functions.NativeExprs.minhashSig(shingleCol, SigLen)

  /** Per-doc MinHash signature + banded bucket keys. Always non-empty;
    * the plumbing that a 100 TB dedup job shuffles. Band keys come
    * from the native [[graft.functions.SigBandKeys]] chain — the old
    * concat_ws(',', slice(sig, …)) formulation allocated a comma-joined
    * 16-long string per doc per band before hashing it; bucket VALUES
    * differ from that formulation but the collision structure (equal
    * band slice ⟺ same bucket) is identical, so candidate pairs and
    * est_jaccard are unchanged. */
  def withMinhash(df: DataFrame): DataFrame =
    df.withColumn("sig", minhashSig(tokenSet(col("text"))))
      .withColumn("bands", graft.functions.NativeExprs.sigBandKeys(col("sig"), Bands))

  /** MinHash-LSH near-duplicate pairs, in the shape that survives 100 TB:
    *  1. fixed-size signatures per doc (shuffle never carries the text);
    *  2. candidate ids from band-bucket self-joins on IDS ONLY, with a
    *     bucket-size cap (degenerate buckets are skew bombs, skip them);
    *  3. distinct candidate pairs BEFORE re-joining the two signatures,
    *     so the signature payload moves once per unique pair, not once
    *     per colliding band.
    * Rows-only check; estimator validated against exact Jaccard in
    * DedupSpec and via q44's oracle. */
  def q43MinhashPairs(s: SparkSession, d: String): DataFrame =
    minhashCandidatePairs(s, d)
      .orderBy(col("est_jaccard").desc, col("id_a"), col("id_b"))
      .limit(100)

  /** Unbounded banded-LSH candidate pairs (id_a < id_b, est_jaccard ≥
    * 0.8) — the reusable core of q43, also the edge feed for q69's
    * cluster resolution. */
  def minhashCandidatePairs(s: SparkSession, d: String): DataFrame =
    minhashCandidatePairsOf(documents(s, d), minEst = 0.8)

  /** One live signature-cache slot for the LSH candidate family
    * (round-10 advice): the cached frame must outlive the call (the
    * returned DataFrame consumes it lazily), so an in-function
    * unpersist is impossible — instead each new invocation releases
    * the PREVIOUS invocation's cache. A library caller looping over
    * q43/q92-style queries in one session now holds at most ONE
    * digest-width signature frame in executor storage instead of
    * accumulating one per call; unpersisting a frame a still-lazy
    * earlier result references only degrades that result to
    * recompute-on-materialize, never to wrong answers. Repeated-use
    * deployments should still prefer the persisted-signature index
    * (IncrementalDedup) over any in-session cache.
    *
    * SEQUENCING CONTRACT (round-11 advice): the one-slot design
    * assumes call-then-materialize — invoke an LSH-family entry point,
    * consume its result, then invoke the next. Composing two LSH
    * results lazily (build frame A, build frame B, then materialize A)
    * is still CORRECT (signatures are seeded/deterministic) but A's
    * signature cache was swapped out by B's invocation, so A degrades
    * to a full MinHash recompute per reference to its signature frame.
    * DedupSpec pins both halves: interleaved results stay equal to
    * sequential ones, and a single materialized invocation reads the
    * documents table exactly once (the cache, not the text, feeds the
    * band explode and both signature rejoins). */
  // a plain var under one monitor — NOT an AtomicReference: every
  // access already happens inside the synchronized block below, and
  // the atomic would invite a future lock-free getAndSet that
  // reintroduces the check-then-act race the monitor prevents
  private val sigCacheLock = new Object
  private var liveSigCache:
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = null

  /** Takes the UNCACHED signature frame, returns it cached, holding at
    * most one live registration.
    *
    * ORDER MATTERS (round-12 root-cause): the previous slot must be
    * released BEFORE the fresh frame registers. Two invocations over
    * the same corpus build CANONICALLY IDENTICAL plans, and
    * CacheManager uncaches by canonical equality — the r11 form
    * (cache first, then unpersist the prev Dataset) therefore
    * deregistered the cache it had JUST created, silently running
    * every LSH query with no signature cache at all (the sig pass
    * recomputed once per consumer: q43 0.7 → 1.4 s, q69 1.1 → 1.8 s —
    * the r11 driver-bench regression). When the plans ARE identical,
    * the existing registration is simply reused. The slot retains
    * (session, analyzed plan), never the Dataset. */
  private def swapSigCache(fresh: DataFrame): DataFrame = {
    val s = fresh.sparkSession
    // analysis (the expensive part) outside the monitor: concurrent
    // LSH callers serialize only on the slot compare + registration
    val analyzed = fresh.queryExecution.analyzed
    sigCacheLock.synchronized {
      val prev = liveSigCache
      if (prev != null && !(prev._1.eq(s) && prev._2.sameResult(analyzed))
          // a slot from a since-stopped session has nothing live to
          // release, and uncaching through its dead SparkContext would
          // abort the NEW session's first LSH query
          && !prev._1.sparkContext.isStopped)
        org.apache.spark.sql.graftbridge.ColumnBridge.uncacheByPlan(prev._1, prev._2)
      liveSigCache = (s, analyzed)
      fresh.cache()
    }
  }

  /** The banded-LSH candidate core over ANY docs frame, with the
    * post-banding estimate threshold exposed: containment scoring
    * (q92) wants banded candidates at a LOWER est-Jaccard floor than
    * near-dup dedup — an asymmetric pair bands on its shared tokens
    * but its symmetric Jaccard sits well under a dedup threshold. */
  def minhashCandidatePairsOf(docs: DataFrame, minEst: Double): DataFrame = {
    val signed = swapSigCache(withMinhash(docs)
      .select(col("doc_id"), col("sig"), col("bands")))
    val cands = bandedPairs(signed)
    cands
      .join(signed.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(signed.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.NativeExprs.sigMatches(col("sig_a"), col("sig_b"))
          .cast("double") / SigLen, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
  }

  /** Distinct banded candidate id pairs (id_a < id_b) from a frame
    * carrying (doc_id, bands) — the LSH core shared by the est-scored
    * near-dup path above and the containment path (which skips the
    * signature rejoin entirely, see [[containmentCandidates]]).
    *
    *  - bucket-size cap as groupBy-count + broadcast ANTI-join on the
    *    OVER-cap keys, not a count window: degenerate buckets are
    *    dropped MAP-SIDE and their rows never shuffle (a count window
    *    would haul every hot-bucket row into one window task, the
    *    exact skew this cap exists to prevent) — and the broadcast
    *    side is the set of DEGENERATE bucket keys, which is tiny BY
    *    DEFINITION at any corpus size. The round-13 review caught the
    *    original inner-join-on-the-UNDER-cap form: that broadcast was
    *    ~one key per (doc, band) — linear in the corpus — and would
    *    OOM the driver at the billions-of-docs scale this cap is
    *    designed for;
    *  - distinct BEFORE any payload rejoin, so downstream payloads
    *    move once per unique pair, not once per colliding band. */
  private def bandedPairs(signed: DataFrame): DataFrame = {
    val ex = signed.select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_idx", "bucket")))
    val big = ex.groupBy(col("band_idx"), col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > MaxBucket)
      .select(col("band_idx"), col("bucket"))
    val inSmall = ex.join(broadcast(big), Seq("band_idx", "bucket"), "left_anti")
      .select(col("band_idx"), col("bucket"), col("doc_id"))
    // r20 (guide §2.4): the intra-bucket pairs came from a bucket-key
    // SELF-JOIN, whose two sides each re-derived (and, at scale,
    // re-shuffled) the exploded (band, bucket, doc_id) frame. ONE
    // aggregation now gathers each surviving bucket's member list —
    // bounded state by construction: the cap above already dropped
    // every bucket over MaxBucket rows map-side, so no group buffers
    // more than MaxBucket ids (the skew bomb this cap exists for
    // cannot reach the aggregate) — and the i<j pairs are generated
    // map-side from the sorted list. Same candidate set: a doc
    // appears at most once per (band, bucket), array_sort + i<j emits
    // exactly the id_a < id_b pairs the join produced, and the
    // distinct collapses cross-band repeats as before. One exchange
    // of the exploded frame instead of two.
    inSmall
      .groupBy(col("band_idx"), col("bucket"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))), b =>
          struct(a.as("id_a"), b.as("id_b")))))).as("pair"))
      .select(col("pair.id_a"), col("pair.id_b"))
      .distinct()
  }

  /** Exact token-set Jaccard for a bounded id range — the ground truth
    * the MinHash estimate converges to; oracle-checkable in DuckDB. */
  def q44JaccardExact(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).filter(col("doc_id") < 60)
      .select(col("doc_id"), tokenSet(col("text")).as("ts"))
    val a = docs.select(col("doc_id").as("id_a"), col("ts").as("ts_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("ts").as("ts_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("ts_a"), col("ts_b"))).cast("double")
              / size(array_union(col("ts_a"), col("ts_b"))), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q44Sql: String =
    """WITH docs AS (
      | SELECT doc_id, list_distinct(str_split(text, ' ')) AS ts
      | FROM documents WHERE doc_id < 60
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      |       / len(list_distinct(list_cat(a.ts, b.ts))), 4) AS jaccard
      |FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  /** Token-set CONTAINMENT scoring for candidate pairs — the
    * asymmetric near-dup measure (|A∩B| / |A|): a short document
    * quoted or templated inside a long one scores ~1 in one direction
    * while its Jaccard stays low, so Jaccard-thresholded dedup misses
    * it entirely. Candidates arrive as an (id_a, id_b) frame (at scale
    * the banded-LSH candidates of [[minhashPairs]] — never all pairs);
    * scoring joins the token sets back by id, so the pair exchange
    * carries only ids and the set join is bounded by the candidate
    * count. */
  def containmentScores(docs: DataFrame, cands: DataFrame): DataFrame = {
    val withSets = docs.select(col("doc_id"), tokenSet(col("text")).as("ts"))
    cands
      .join(withSets.select(col("doc_id").as("id_a"), col("ts").as("ts_a")), Seq("id_a"))
      .join(withSets.select(col("doc_id").as("id_b"), col("ts").as("ts_b")), Seq("id_b"))
      // one O(|A|+|B|) intersect per pair — don't rely on codegen
      // subexpression elimination to dedup the hot set operation
      .withColumn("inter",
        size(array_intersect(col("ts_a"), col("ts_b"))).cast("double"))
      .select(col("id_a"), col("id_b"),
        round(col("inter") / size(col("ts_a")), 4).as("cont_a_in_b"),
        round(col("inter") / size(col("ts_b")), 4).as("cont_b_in_a"))
  }

  /** q81: exact bidirectional containment over a bounded id range —
    * the oracle anchor for [[containmentScores]] (the same deliberate
    * all-pairs-on-constant-ids shape as q44/q47: constant work at any
    * corpus scale; the production path feeds LSH candidates). */
  def q81Containment(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text"))
    val ids = docs.select(col("doc_id"))
    val cands = ids.select(col("doc_id").as("id_a"))
      .join(ids.select(col("doc_id").as("id_b")), col("id_a") < col("id_b"))
    containmentScores(docs, cands).orderBy(col("id_a"), col("id_b"))
  }

  /** Candidate floor for banded LSH candidates feeding an EXACT
    * verification pass (q108's cross-split leakage): well under the
    * 0.8 near-dup floor, so asymmetric pairs whose symmetric Jaccard
    * a dedup threshold would discard still surface. (q92's
    * containment path used to share this floor; round 10 measured it
    * removing ZERO of 119,010 banded pairs at sf0.1 while paying a
    * 64-slot signature rejoin per pair, so [[containmentCandidates]]
    * now scores every banded pair directly — the exact ≥minCont
    * filter subsumes the estimate floor and recall can only grow.
    * The constant's one remaining consumer is
    * [[crossSplitLeakageLsh]], whose rejoin prices only the
    * cross-split minority.) */
  val ContainmentMinEst = 0.5

  /** Output floor: only pairs where one side is ≥95% contained in the
    * other are containment findings. */
  val ContainmentMinCont = 0.95

  /** Hashed-token-set containment scoring — same math as
    * [[containmentScores]] but the per-pair intersection runs over
    * xxhash64 TOKEN FINGERPRINTS instead of the token strings: set
    * SIZES are what the scores divide, and |fp(A) ∩ fp(B)| = |A ∩ B|
    * up to 64-bit collisions (the q99/q102 argument — ~n²/2⁶⁴ for a
    * per-doc vocabulary n, immaterial at any corpus scale). Longs
    * intersect ~2× faster than strings and the pair-join payload
    * drops to 8 bytes/token; DedupSpec pins score equality with the
    * string form on the planted fixtures. */
  def containmentScoresHashed(docs: DataFrame, cands: DataFrame): DataFrame = {
    // r19: token fingerprints come from the one-pass codegen'd
    // ShingleHashes kernel at window width 1 instead of an interpreted
    // per-token transform(xxhash64) lambda (evaluated once PER JOIN
    // SIDE — the query's hottest expression). The kernel's n=1 hash is
    // a different injective token fingerprint than bare xxhash64, but
    // the scores divide |fp(A) ∩ fp(B)| and set sizes, which are
    // invariant under ANY injective per-token hash (the collision
    // argument in the scaladoc above is unchanged: ~n²/2⁶⁴); DedupSpec
    // pins score equality with the string form.
    val withSets = docs.select(col("doc_id"),
      array_distinct(graft.functions.NativeExprs.shingleHashes(
        tokenSet(col("text")), 1)).as("ts"))
    cands
      .join(withSets.select(col("doc_id").as("id_a"), col("ts").as("ts_a")), Seq("id_a"))
      .join(withSets.select(col("doc_id").as("id_b"), col("ts").as("ts_b")), Seq("id_b"))
      // r19: |A ∩ B| via the primitive-long kernel — same count as
      // size(array_intersect(...)) on these distinct-element sets,
      // without the boxed hash set + materialized intersection array
      // the generic path allocates per candidate pair
      .withColumn("inter",
        graft.functions.NativeExprs.intersectCountLong(
          col("ts_a"), col("ts_b")).cast("double"))
      .select(col("id_a"), col("id_b"),
        round(col("inter") / size(col("ts_a")), 4).as("cont_a_in_b"),
        round(col("inter") / size(col("ts_b")), 4).as("cont_b_in_a"))
  }

  /** PRODUCTION containment scoring (round-8 verdict ask #5): q81
    * anchors the oracle on bounded ids with all-pairs candidates; this
    * is the unbounded shape — hashed scoring fed by the banded LSH
    * candidates of [[bandedPairs]], so the pair exchange carries IDS
    * ONLY and the token-set join is bounded by the candidate count,
    * never n². A short doc quoted in a long one bands on its shared
    * tokens but its SYMMETRIC Jaccard (|A|/|B| for A ⊆ B) sits below
    * any near-dup threshold — exactly the pair class Jaccard-
    * thresholded dedup misses and containment exists to catch
    * (DedupSpec plants one and pins both halves of that claim).
    *
    * No est-Jaccard pre-filter (round-10 change): the old est ≥ 0.5
    * floor required rejoining both 64-slot signatures to every pair
    * and measured as removing ZERO of 119,010 banded candidates at
    * sf0.1 — the exact ≥ minCont filter subsumes it, and a banded
    * pair below the floor that truly passes minCont is now FOUND
    * instead of dropped (recall is a strict superset). In-suite cost
    * fell ~2.6 s → ~1.6 s.
    *
    * Recall envelope, stated honestly: with 16-row bands a pair must
    * still share a full band to candidate, which holds reliably only
    * for moderate-to-high Jaccard (J ≳ 0.85 here). A 10-line doc
    * quoted inside a 10-page doc (J ≈ 0.05) will NOT band — that
    * regime belongs to the shingle-fingerprint span index
    * (q78/q87), which finds cross-length quotation by construction. */
  def containmentCandidates(docs: DataFrame, minCont: Double): DataFrame = {
    // cache scope, stated deliberately (the r9-ADVICE leak class): the
    // cached frame is digest-width (id + 4 band longs ≈ 40 B/doc, not
    // text), it saves a second full minhash pass (the banding explode
    // and the bucket-count agg both consume it), and the result here
    // is ~100k rows — too large for the eager collect-and-release
    // pattern. The swapSigCache slot bounds repeated-call growth to one
    // live frame; a REPEATED-query deployment should persist signatures
    // as a table (the IncrementalDedup index) and skip this path's
    // in-session cache entirely.
    val signed = swapSigCache(
      withMinhash(docs).select(col("doc_id"), col("bands")))
    containmentScoresHashed(docs, bandedPairs(signed))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= minCont)
  }

  /** q92: unbounded containment findings over the documents corpus.
    * Rows-only (LSH candidate generation is not SQL-expressible);
    * q81 is the hash-verified oracle anchor for the scoring math. */
  def q92ContainmentLsh(s: SparkSession, d: String): DataFrame =
    containmentCandidates(documents(s, d), ContainmentMinCont)
      .orderBy(col("id_a"), col("id_b"))

  val q81Sql: String =
    """WITH docs AS (
      | SELECT doc_id, list_distinct(str_split(text, ' ')) AS ts
      | FROM documents WHERE doc_id < 60
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / len(a.ts), 4) AS cont_a_in_b,
      | round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / len(b.ts), 4) AS cont_b_in_a
      |FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  /** 63-bit SimHash per document (graft.functions.SimHash64: one pass
    * over the token array — per-bit ±1 votes of token hashes, packed).
    * Emitted with a 16-bit prefix bucket (the banding key for
    * hamming-neighbor candidate search). */
  def q45Simhash(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        graft.functions.NativeExprs.simhash64(split(col("text"), " ")).as("simhash"))
      .withColumn("bucket16", expr("simhash % 65536"))
      .orderBy(col("doc_id"))

  /** Hamming verdict threshold for [[q167SimhashPairs]] — ≤ 8 of 63
    * bits differing (≈ 12%) marks a near-dup on this corpus. */
  val SimhashMaxHamming = 8

  /** 16-bit prefix bands over the 63-bit simhash (the top band carries
    * 15 bits). Pigeonhole guarantee: any pair within hamming distance
    * SimhashBands − 1 (= 3) MUST share an unflipped band and therefore
    * always candidates; pairs between 4 and [[SimhashMaxHamming]] are
    * found when their flips cluster into ≤ 3 bands — the standard
    * banded-LSH recall trade, stated in the spec's characterization
    * test rather than hidden. */
  val SimhashBands = 4

  /** q167: SIMHASH NEAR-DUP PAIRS — the pair-finding stage q45's
    * signatures exist for (q45 emits signatures; this emits verified
    * near-dup verdicts). Completes the fuzzy-dedup triad: MinHash-LSH
    * (q43, token-SET overlap), n-gram Jaccard (q47, sequence), simhash
    * (bit-level weighted-feature proximity — the Google crawl-dedup
    * design, Manku et al. WWW'07 shape: banded prefix buckets + exact
    * Hamming verification).
    *
    * Scale shape: exchanges carry (band key, id, 8-byte simhash) —
    * never text; candidates are equi-join collisions on the 16-bit
    * band keys with the [[MaxBucket]] degenerate-bucket cap applied
    * MAP-SIDE via broadcast (the bandedPairs discipline); verification
    * is one codegen'd bit_count(xor) per distinct candidate pair.
    * Rows-only (simhash64 is this engine's own hash — no cross-engine
    * oracle can recompute it); DedupSpec pins the exact characterization
    * result == { pairs sharing an under-cap band with hamming ≤ max }
    * against a driver-side brute force, which subsumes the pigeonhole
    * guarantee. */
  def q167SimhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairs(documents(s, d), SimhashMaxHamming)

  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val sh = docs.select(col("doc_id"),
      graft.functions.NativeExprs.simhash64(split(col("text"), " ")).as("sh"))
    val banded = sh.select(col("doc_id"), col("sh"),
      posexplode(array((0 until SimhashBands).map(i =>
        shiftrightunsigned(col("sh"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band_idx", "key")))
    // over-cap ANTI-join, not under-cap inner: the broadcast side must
    // be the DEGENERATE keys (tiny by definition), never the ~one-key-
    // per-(doc, band) under-cap set — see the bandedPairs doc
    val big = banded.groupBy(col("band_idx"), col("key"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > MaxBucket)
      .select(col("band_idx"), col("key"))
    val inSmall = banded.join(broadcast(big), Seq("band_idx", "key"), "left_anti")
      .select(col("band_idx"), col("key"), col("doc_id"), col("sh"))
    // r20 (the bandedPairs + probeBatch disciplines, guide §2.3/§2.4):
    // the intra-bucket pairs came from a band-key SELF-JOIN (two
    // derivations — at scale two shuffles — of the banded frame), and
    // the hamming verdict ran only AFTER a distinct whose exchange
    // carried every colliding candidate. Now ONE aggregation gathers
    // each surviving bucket's (doc_id, sh) members — bounded state by
    // construction, the over-cap anti-join above already dropped
    // degenerate buckets map-side — pairs AND their hamming verdicts
    // are generated map-side from the sorted list, and the distinct
    // exchange carries only pairs that already passed the hamming
    // filter. hamming is a deterministic function of the pair, so
    // distinct-after-filter ≡ the old distinct-then-verify; a doc
    // appears once per (band, key), so sorted i<j enumeration emits
    // exactly the join's id_a < id_b candidate set (DedupSpec's
    // brute-force characterization pins the equality).
    inSmall
      .groupBy(col("band_idx"), col("key"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("sh")))).as("ms"))
      .select(explode(flatten(transform(col("ms"), (a, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))), b =>
          struct(a.getField("doc_id").as("id_a"), b.getField("doc_id").as("id_b"),
                 a.getField("sh").as("sh_a"), b.getField("sh").as("sh_b"))))))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b"),
        expr("bit_count(p.sh_a ^ p.sh_b)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact 3-gram (word-shingle) Jaccard for a bounded id range — the
    * sequence-sensitive near-dup measure (token-set Jaccard in q44 is
    * order-blind); oracle-checked against DuckDB list comprehensions. */
  def q47NgramJaccard(s: SparkSession, d: String): DataFrame = {
    // token array projected once; codegen subexpression elimination
    // keeps the split single-evaluation through the shingle window
    val docs = documents(s, d).filter(col("doc_id") < 40)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), array_distinct(shinglesOfTokens(col("t"), 3)).as("sh"))
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
              / size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q47Sql: String =
    """WITH docs AS (
      | SELECT doc_id,
      |  list_distinct([concat(t[i], ' ', t[i+1], ' ', t[i+2])
      |                 for i in range(1, len(t) - 1)]) AS sh
      | FROM (SELECT doc_id, str_split(text, ' ') AS t
      |       FROM documents WHERE doc_id < 40)
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |       / len(list_distinct(list_cat(a.sh, b.sh))), 4) AS jaccard
      |FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  /** Corpus-level overlap: per-source MinHash union sketches (typed
    * Aggregator, mergeable map-side) → pairwise Jaccard estimates
    * between whole sources from 512-byte states. Rows-only; the union
    * property is unit-tested in DedupSpec. */
  def q49SourceSketch(s: SparkSession, d: String): DataFrame = {
    val sketch = graft.functions.MinHashUnionAgg.udafColumn(SigLen)
    val sk = withMinhash(documents(s, d))
      .select(col("source"), col("sig"))
      .groupBy(col("source"))
      .agg(sketch(col("sig")).as("sketch"))
    val a = sk.select(col("source").as("src_a"), col("sketch").as("sk_a"))
    val b = sk.select(col("source").as("src_b"), col("sketch").as("sk_b"))
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        round(graft.functions.NativeExprs.sigMatches(col("sk_a"), col("sk_b"))
          .cast("double") / SigLen, 4).as("est_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Pair-graph similarity threshold for q67. 0.92 on this corpus
    * yields a sparse graph whose transitive closure is nontrivial
    * (chained components larger than any single edge neighborhood). */
  val ClusterThreshold = 0.92

  /** Pair-count ceiling for the single-task union-find fast path.
    * Above it, components resolve via the general distributed loop.
    * The gate is a RUNTIME count, not an assumption: at 100 TB a
    * billions-of-pairs graph automatically takes the loop.
    *
    * 16M is measured, not guessed (round-17 q69 decomposition): at a
    * 60×-sf0.1 salted corpus the est≥0.9 graph carries 4.63M pairs,
    * just past the old 4M gate — propagation ran q69 in 29.7 s where
    * the single task runs it in 13.0 s (×2.3), because each
    * propagation round shuffles the full edge set while union-find
    * streams the cached pairs once. The binding constraint is the one
    * task's MEMORY, not time: state is one LongMap entry per distinct
    * incident node (≤ 2 per pair), so 16M pairs ≤ 32M entries — two
    * open-addressed long arrays at the next power of two, ~1 GiB
    * worst-case — inside a standard 4 GiB executor with headroom,
    * while the pair pull to the one task (~16 B/pair) stays ~256 MB.
    * Dup graphs are clique-heavy in practice, so real node counts run
    * far below the 2-per-pair bound. The bound is also MEASURED, not
    * just derived (round 18, by a heap-budget rig last present at
    * commit 36698d3): the real [[unionFindLabels]] at exactly 16M
    * pairs completes with correct labels under `-Xmx2g` at BOTH
    * adversarial shapes — 32M disjoint
    * nodes (the 2-per-pair worst case, 44 s) and one 16M-node chain
    * (max path-compression depth, 10 s). */
  val SinglePassMaxPairs = 16000000L

  /** Round cap of the distributed propagation path: 25 materialized
    * rounds = diameter ≤ 50 (two relaxations each) — ample for
    * near-dup cluster graphs; a chain-shaped component deeper than
    * that (chained version histories) fails the convergence check
    * instead of returning partial labels. */
  val PropagationMaxRounds = 25

  /** Min-attach union-find over an edge iterator: emits (node, label)
    * for every node seen, label = the component's MINIMUM member id
    * (attaching the larger root under the smaller keeps the invariant;
    * path compression keeps finds near-O(1)). Deterministic in edge
    * order by construction. State: one LongMap entry per distinct
    * node — the memory bound [[SinglePassMaxPairs]] guards. */
  private[graft] def unionFindLabels(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    it.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(n => (n, find(n)))
  }

  /** Connected components of an undirected pair graph.
    *
    * Two physical strategies behind one contract, picked by a RUNTIME
    * pair count (the pair input is persisted, so the count also
    * pre-materializes it for either path):
    *
    *  - pairs ≤ [[SinglePassMaxPairs]]: ONE bounded task runs
    *    min-attach union-find over the cached pair partitions
    *    (coalesce(1) — no shuffle, reads cache) and emits every
    *    incident node's label directly. Θ(E α(E)) work, zero
    *    iterations, zero per-round job overhead — on a dup graph at
    *    bench scale this replaces ~5 checkpointed rounds.
    *  - larger graphs: hash-min label propagation, each relaxation
    *    every node takes the min label over itself and its neighbors,
    *    converging in graph-diameter relaxations — single-digit on dup
    *    graphs, whose components are shallow. (A pointer-jumping
    *    variant — label(label(id)) per round — was measured here and
    *    REJECTED: it cut q69's rounds 8 → 5 but the extra per-round
    *    self-join shuffle cost 6× more wall-clock under AQE than the
    *    rounds it saved. The two-hop EDGE relaxation used instead is
    *    different: it re-joins the static cached edge set, not the
    *    evolving label frame, adding one tiny stage to the same job
    *    rather than a second materialized shuffle.)
    *
    * The scalable shape of the loop path:
    *
    *  - the pair input is persisted before the reversed-edge union so
    *    an expensive upstream (the LSH candidate pipeline in q69)
    *    evaluates once, not once per union branch;
    *  - labels loop over EDGE-INCIDENT nodes only; isolated nodes
    *    (the overwhelming majority of a sparse 100 TB dup graph) skip
    *    the loop entirely and rejoin as singletons at the end;
    *  - the shuffle carries (id, label) pairs only, never text;
    *  - TWO relaxations per materialized round: the per-round fixed
    *    cost (job scheduling, AQE stage materialization, broadcast,
    *    convergence count) is the dominant term, so spreading labels
    *    two hops per checkpoint halves it; monotonicity makes the
    *    two-hop fixpoint test sound;
    *  - change detection rides THROUGH the propagation aggregates (the
    *    self row carries the round-start label, `max(old)` recovers
    *    it); the convergence count scans checkpointed blocks, no
    *    recompute;
    *  - each round is `localCheckpoint()`ed: lineage stays O(1)
    *    instead of re-planning a growing join chain every round;
    *  - round N-1's checkpoint blocks are released eagerly
    *    (PlanBridge.releaseLocalCheckpoint) so peak storage is two
    *    rounds of (id, label) pairs regardless of round count.
    *
    * @param nodes one row per node, column `id`. CONTRACT: every
    *              src/dst in `pairs` must appear in `nodes` — labels
    *              are emitted via nodes ⟕ incident-labels, so an
    *              endpoint absent from `nodes` is silently dropped
    *              from the output (and could have pulled in-`nodes`
    *              members' labels below any id present in the
    *              output). Both physical strategies share this
    *              contract; every caller here feeds pairs derived
    *              FROM the node frame, and DedupSpec pins the
    *              dropped-endpoint behavior so a violating caller
    *              fails loudly in review, not silently at scale.
    * @param pairs undirected edges, columns `src`/`dst` (one row per
    *              pair; both directions are derived here)
    * @param singlePassMax fast-path ceiling: at most this many pairs
    *                      take the single-task union-find, more take
    *                      label propagation (pass 0 to force the
    *                      distributed path) */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          singlePassMax: Long = SinglePassMaxPairs): DataFrame = {
    val p = pairs.select(col("src"), col("dst")).persist()
    val nPairs = p.count()
    val labels =
      if (nPairs <= singlePassMax) singleTaskCC(p) else propagationCC(p)
    p.unpersist()
    // singleton re-union: nodes ⟕ labels, missing label = own id. The
    // label side covers only edge-incident nodes (for the loop path, a
    // small fraction of a sparse 100 TB dup graph), so this is
    // broadcast-able and never re-shuffles the full node set.
    nodes.join(labels.withColumnRenamed("id", "_cc_id"),
        nodes("id") === col("_cc_id"), "left")
      .select(nodes("id"), coalesce(col("label"), nodes("id")).as("label"))
  }

  /** Fast path: min-attach union-find in ONE task over the cached pair
    * partitions. coalesce(1) moves no data (it reads the persisted
    * blocks); the emitted (id, label) set covers every incident node. */
  private def singleTaskCC(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    // coalesce(1) is safe ONLY because p arrives persisted: it reads
    // the cached blocks. Unpersisted, the coalesce would pull the whole
    // upstream pipeline (the full LSH candidate generation in q69) into
    // ONE task — guard the contract so a refactor dropping the
    // caller's persist() fails every fast-path test, not a cluster.
    require(p.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "singleTaskCC requires a persisted pair input (coalesce(1) must read cache)")
    Graph.ckpt(p.select(col("src").cast("long"), col("dst").cast("long")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions(unionFindLabels)
      .toDF("id", "label"))
  }

  /** General path: two-hop hash-min label propagation over the
    * edge-incident subgraph. */
  private def propagationCC(p: DataFrame): DataFrame = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.graftbridge.PlanBridge
    // The edge set is LOCAL-CHECKPOINTED, not merely cached: every loop
    // stage that scans a cached frame serializes the frame's FULL
    // upstream RDD lineage (the whole LSH candidate pipeline in q69)
    // into its task binary every round; the checkpoint truncates that
    // to a block reference once. (The pair input p arrives persisted
    // and counted by the caller, so the union's two branches read the
    // cache.) Storage is SERIALIZED ([[Graph.ckpt]]): these frames
    // grow with the corpus and are pinned while the loop's stages
    // read them — their footprint is the loop's executor-memory
    // floor, and packed UnsafeRows cost 2–3× less of it.
    val edges = Graph.ckpt(
      p.union(p.select(col("dst").as("src"), col("src").as("dst"))))
    // Propagate over EDGE-INCIDENT nodes only: an isolated node can
    // never take a label other than its own id, so carrying it through
    // every round is pure shuffle waste. Dup graphs are sparse — at
    // 100 TB the incident set is a small fraction of the corpus, and
    // every round's shuffle shrinks from |V| to |V_incident|. `edges`
    // already holds both directions, so src alone covers all endpoints;
    // isolated nodes rejoin as singleton components at the end.
    val incident = Graph.ckpt(edges.select(col("src").as("id")).distinct())

    // one min-relaxation: every node takes the min label over itself
    // and its neighbors; the self row carries `old` through so change
    // detection rides the aggregate (max(old) recovers it — neighbor
    // rows contribute null)
    def relax(ls: DataFrame): DataFrame =
      edges.join(ls, edges("src") === ls("id"))
        .select(col("dst").as("id"), col("label"), lit(null).cast("long").as("old"))
        .union(ls.select(col("id"), col("label"),
          coalesce(col("old"), col("label")).as("old")))
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"), max(col("old")).as("old"))

    var labels = incident.select(col("id"), col("id").as("label"),
      col("id").as("old"))
    var prevChk: DataFrame = null
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < PropagationMaxRounds) {
      // TWO relaxations per materialized round: labels spread two hops
      // per checkpoint cycle, halving the dominant per-round fixed
      // cost (job scheduling, AQE stage materialization, broadcast) —
      // the extra join is one more tiny stage inside the same job.
      // Convergence stays sound: relaxation is monotone non-increasing,
      // so relax²(x) = x forces relax(x) = x. The convergence count
      // rides the SAME job as the eager checkpoint via observe()
      // (one job per round, not two); coalesce guards the empty-graph
      // sum, which is NULL. (eager = false was measured and rejected:
      // it defers lineage truncation in a way that, under AQE, let
      // each round's plan re-embed the previous rounds' full DAG.)
      val obs = Observation()
      val chk = Graph.ckpt(relax(relax(labels))
        .observe(obs, coalesce(
          sum(when(col("label") =!= col("old"), 1L).otherwise(0L)),
          lit(0L)).as("changed")))
      changed = obs.get("changed").asInstanceOf[Long]
      if (prevChk != null) PlanBridge.releaseLocalCheckpoint(prevChk)
      prevChk = chk
      labels = chk.select(col("id"), col("label"), col("label").as("old"))
      rounds += 1
    }
    PlanBridge.releaseLocalCheckpoint(edges)
    PlanBridge.releaseLocalCheckpoint(incident)
    require(changed == 0, s"label propagation did not converge in $rounds rounds")
    // operational visibility: round count IS the scalability story
    // (graph-diameter/2 materialized rounds) — surface it in logs so a
    // scale run records it without instrumentation
    System.err.println(s"[cc] propagation converged in $rounds rounds (2 relaxations each)")
    labels.select(col("id"), col("label"))
  }

  /** q67: dedup CLUSTER resolution — the step every pair-producing
    * dedup path (q43/q44/q47) needs next: near-dup similarity is not
    * transitive, so keep-one-per-pair corrupts data (A~B, B~C, A≁C:
    * dropping B's "duplicate" twice deletes a non-duplicate). Clusters
    * are the connected components of the pair graph; the canonical
    * representative is the minimum doc_id.
    *
    * The pair edges here reuse q44's exact token-set Jaccard on the
    * same bounded id range, making the whole query — pair generation,
    * transitive closure, canonicalization — expressible as one DuckDB
    * recursive CTE and hash-verified. q69 runs the identical
    * propagation loop over the UNBOUNDED corpus with q43's banded
    * MinHash candidates as edges. */
  def q67DedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).filter(col("doc_id") < 60)
      .select(col("doc_id"), tokenSet(col("text")).as("ts"))
    val a = docs.select(col("doc_id").as("src"), col("ts").as("ts_a"))
    val b = docs.select(col("doc_id").as("dst"), col("ts").as("ts_b"))
    val pairs = a.join(b, col("src") < col("dst"))
      .filter(size(array_intersect(col("ts_a"), col("ts_b"))).cast("double")
              / size(array_union(col("ts_a"), col("ts_b"))) >= ClusterThreshold)
      .select(col("src"), col("dst"))
    connectedComponents(docs.select(col("doc_id").as("id")), pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** q90: dedup apply with a KEEP-BEST representative policy — q67's
    * clusters, but the survivor is chosen by QUALITY (longest doc,
    * doc_id tie-break) instead of min id. Min-id is an arbitrary
    * coin flip; real pipelines keep the best member of a duplicate
    * cluster (longest, highest quality score, newest), because
    * near-dup clusters routinely contain truncated variants of the
    * same document. The selection is ONE hash aggregation — max_by
    * over a (n_chars, −doc_id) struct gives the argmax with a
    * deterministic tie-break, no window, no per-cluster sort — so the
    * cluster resolution dominates at any scale and swapping the
    * max_by key swaps the policy. */
  def q90DedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val meta = documents(s, d).filter(col("doc_id") < 60)
      .select(col("doc_id"), col("n_chars"))
    q67DedupClusters(s, d).join(meta, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
           expr("max_by(doc_id, struct(n_chars, -doc_id))").as("keep_id"),
           max(col("n_chars")).as("keep_n_chars"))
      .orderBy(col("cluster_id"))
  }

  val q90Sql: String =
    s"""WITH RECURSIVE docs AS (
      | SELECT doc_id, list_distinct(str_split(text, ' ')) AS ts
      | FROM documents WHERE doc_id < 60
      |), pairs AS (
      | SELECT a.doc_id AS src, b.doc_id AS dst
      | FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      | WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      |       / len(list_distinct(list_cat(a.ts, b.ts))) >= $ClusterThreshold
      |), edges AS (
      | SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
      |), reach(id, comp) AS (
      | SELECT doc_id, doc_id FROM docs
      | UNION
      | SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
      |), clusters AS (
      | SELECT id AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY id
      |), ranked AS (
      | SELECT c.cluster_id, c.doc_id, d.n_chars,
      |   row_number() OVER (PARTITION BY c.cluster_id
      |     ORDER BY d.n_chars DESC, c.doc_id) AS rk
      | FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
      |)
      |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
      | max(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
      | max(CASE WHEN rk = 1 THEN n_chars END) AS keep_n_chars
      |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** q69: the unbounded dedup-cluster path — q43's banded MinHash LSH
    * candidates (full corpus, bucket caps intact, no top-k limit) feed
    * the same label-propagation loop as q67. Rows-only: LSH candidate
    * generation is not SQL-expressible; DedupSpec pins planted-chain
    * transitivity (A~B~C cluster together without an A–C edge) and
    * q67-agreement on the bounded range. */
  def q69LshClusters(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = minhashCandidatePairs(s, d)
      .filter(col("est_jaccard") >= 0.9)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    connectedComponents(docs.select(col("doc_id").as("id")), pairs)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("rep_doc_id"))
      .orderBy(col("cluster_id"))
  }

  val q67Sql: String =
    s"""WITH RECURSIVE docs AS (
      | SELECT doc_id, list_distinct(str_split(text, ' ')) AS ts
      | FROM documents WHERE doc_id < 60
      |), pairs AS (
      | SELECT a.doc_id AS src, b.doc_id AS dst
      | FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      | WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      |       / len(list_distinct(list_cat(a.ts, b.ts))) >= $ClusterThreshold
      |), edges AS (
      | SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
      |), reach(id, comp) AS (
      | SELECT doc_id, doc_id FROM docs
      | UNION
      | SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
      |)
      |SELECT id AS doc_id, min(comp) AS cluster_id
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** q75: dedup APPLY — the step after cluster resolution: keep each
    * cluster's canonical representative (the hash-min label IS the min
    * member id, so representatives are the fixed points label == id)
    * and emit the surviving corpus slice's per-source shape. Left-semi
    * join on ids only; the text column never shuffles (it is read on
    * the probe side and aggregated map-side after the broadcast-able
    * keep-set join). Same bounded range as q67 → same recursive-CTE
    * oracle, extended with the keep filter. */
  def q75DedupApply(s: SparkSession, d: String): DataFrame = {
    val keep = q67DedupClusters(s, d)
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"))
    documents(s, d).filter(col("doc_id") < 60)
      .join(keep, Seq("doc_id"), "left_semi")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
           sum(size(split(col("text"), " ")).cast("bigint")).as("kept_tokens"))
      .orderBy(col("source"))
  }

  val q75Sql: String =
    s"""WITH RECURSIVE docs AS (
      | SELECT doc_id, list_distinct(str_split(text, ' ')) AS ts
      | FROM documents WHERE doc_id < 60
      |), pairs AS (
      | SELECT a.doc_id AS src, b.doc_id AS dst
      | FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      | WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      |       / len(list_distinct(list_cat(a.ts, b.ts))) >= $ClusterThreshold
      |), edges AS (
      | SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
      |), reach(id, comp) AS (
      | SELECT doc_id, doc_id FROM docs
      | UNION
      | SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
      |), keep AS (
      | SELECT id FROM reach GROUP BY id HAVING min(comp) = id
      |)
      |SELECT d.source AS source, count(*) AS n_kept,
      |       CAST(sum(len(str_split(d.text, ' '))) AS BIGINT) AS kept_tokens
      |FROM documents d JOIN keep ON d.doc_id = keep.id
      |WHERE d.doc_id < 60
      |GROUP BY d.source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q99

  /** q99: inter-source duplication audit — for every source pair, the
    * count and Jaccard of shared distinct 4-token shingles. The
    * "which sources copy from each other" report a curation pipeline
    * runs before deciding mixing weights (a high-overlap pair means
    * their token budgets double-count).
    *
    * 100 TB shape: text leaves the scan as DISTINCT (source, fp)
    * rows, where fp is the 8-byte xxhash64 shingle fingerprint
    * straight from the one-pass ShingleHashes kernel — no shingle
    * string is ever materialized, and the only large shuffle (the
    * distinct) partial-aggregates map-side over 8-byte keys (the
    * q106 fp discipline; the fp never reaches the output, and a
    * 64-bit collision across even 10^6 distinct shingles has odds
    * ~1e-7 of perturbing one count by one). The self-join key is the
    * fingerprint; each fingerprint group is capped by the SOURCE
    * COUNT (≤ #sources rows), so the join output is bounded by
    * #fps · #sources² with tiny rows, and the final matrix is
    * #sources² rows. The per-source set sizes broadcast. */
  def q99SourceOverlap(s: SparkSession, d: String): DataFrame =
    sourceOverlap(documents(s, d))

  /** q99 core over any (source, text) frame — split out for planted
    * tests. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("source"),
        explode(array_distinct(
          graft.functions.NativeExprs.shingleHashes(split(col("text"), " "), 4)))
          .as("fp"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n_sh").as("na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_sh").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")), 6)
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q99Sql: String =
    """WITH toks AS (SELECT source, str_split(text, ' ') AS t FROM documents),
      |sh AS (
      | SELECT DISTINCT source,
      |   unnest([concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])
      |           for i in range(1, len(t) - 2)]) AS s
      | FROM toks
      |), sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
      |inter AS (
      | SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      | FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      | GROUP BY 1, 2
      |)
      |SELECT src_a, src_b, n_shared,
      |  round(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.source = src_a
      |JOIN sizes sb ON sb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin

  // --------------------------------------------------------------- q102

  /** q102: per-document cross-source NOVELTY — the fraction of a doc's
    * distinct 4-shingles that exist in NO other source. The
    * complement of the q99 matrix at document granularity: q99 says
    * which source pairs double-count, this ranks the individual
    * documents that carry content unavailable anywhere else (high
    * novelty → protect from aggressive budget cuts; ~0 novelty →
    * the doc restates other sources and is a cut candidate).
    *
    * 100 TB shape mirrors q99: the scan emits (doc_id, source, fp)
    * with per-doc-distinct shingles, fp = 8-byte xxhash64 straight
    * from the ShingleHashes kernel (no shingle strings materialized;
    * the fp never reaches the output — q106 discipline, collision
    * odds as documented on q99); the source-count side aggregates
    * DISTINCT (fp, source) — both exchanges carry fingerprints, never
    * shingle text — and the per-doc aggregation collapses map-side to
    * three scalars per document. */
  def q102Novelty(s: SparkSession, d: String): DataFrame =
    noveltyScores(documents(s, d))

  /** q102 core over any (doc_id, source, text) frame. */
  def noveltyScores(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), col("source"),
        explode(array_distinct(
          graft.functions.NativeExprs.shingleHashes(split(col("text"), " "), 4)))
          .as("fp"))
    val srcCount = sh.select(col("fp"), col("source")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("n_src"))
    sh.join(srcCount, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("n_src") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_sh"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_sh"), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val q102Sql: String =
    """WITH sh AS (
      | SELECT DISTINCT doc_id, source,
      |   unnest([concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])
      |           for i in range(1, len(t) - 2)]) AS s
      | FROM (SELECT doc_id, source, str_split(text, ' ') AS t FROM documents)
      |), src_count AS (
      | SELECT s, count(DISTINCT source) AS n_src FROM sh GROUP BY s
      |)
      |SELECT sh.doc_id,
      |  count(*) AS n_sh,
      |  CAST(sum(CASE WHEN c.n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  round(CAST(sum(CASE WHEN c.n_src = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |        / count(*), 6) AS novelty
      |FROM sh JOIN src_count c ON sh.s = c.s
      |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin

  // --------------------------------------------------------------- q108

  /** q108: cross-split NEAR-DUP leakage audit — q72/q80/q87
    * decontaminate against an EXTERNAL benchmark via exact n-gram
    * fingerprints; this audits the pipeline's OWN train/test split
    * (q63's hash rule) for near-duplicate leakage that exact-match
    * checks miss (a test doc paraphrased or partially re-serialized
    * inside train inflates eval). For every test-split doc in the
    * anchor range, its best train-split neighbor by exact token-set
    * Jaccard. Ranked on the UNROUNDED ratio (both engines divide the
    * same two ints — bit-identical), train_id tie-break; rounded only
    * for display.
    *
    * The anchor is deliberately bounded-id all-pairs (the q44/q81
    * discipline — constant work at any corpus size);
    * [[crossSplitLeakageLsh]] is the unbounded production path. */
  def q108SplitLeakage(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), Curation.splitLabel(col("doc_id")).as("split"),
        tokenSet(col("text")).as("ts"))
    val train = docs.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("ts").as("ts_a"))
    val test = docs.filter(col("split") === "test")
      .select(col("doc_id").as("test_id"), col("ts").as("ts_b"))
    val w = Window.partitionBy(col("test_id"))
      .orderBy(col("jac").desc, col("train_id").asc)
    test.crossJoin(train)
      .select(col("test_id"), col("train_id"),
        (size(array_intersect(col("ts_b"), col("ts_a"))).cast("double")
          / size(array_union(col("ts_b"), col("ts_a")))).as("jac"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("test_id"), col("train_id").as("best_train_id"),
        round(col("jac"), 4).as("best_jaccard"))
      .orderBy(col("test_id"))
  }

  val q108Sql: String =
    """WITH d AS (
      | SELECT doc_id,
      |   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'cc' THEN 'train'
      |        WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'e6' THEN 'val'
      |        ELSE 'test' END AS split,
      |   list_distinct(str_split(text, ' ')) AS ts
      | FROM documents WHERE doc_id < 300
      |), p AS (
      | SELECT b.doc_id AS test_id, a.doc_id AS train_id,
      |   CAST(len(list_intersect(b.ts, a.ts)) AS DOUBLE)
      |     / len(list_distinct(list_cat(b.ts, a.ts))) AS jac
      | FROM d b JOIN d a ON b.split = 'test' AND a.split = 'train'
      |), r AS (
      | SELECT test_id, train_id, jac,
      |   row_number() OVER (PARTITION BY test_id ORDER BY jac DESC, train_id) AS rk
      | FROM p
      |)
      |SELECT test_id, train_id AS best_train_id, round(jac, 4) AS best_jaccard
      |FROM r WHERE rk = 1 ORDER BY test_id""".stripMargin

  /** Unbounded production path for q108: banded MinHash candidates
    * (ids-only exchange, bucket caps intact) restricted to cross-split
    * pairs, then exact token-set verification of the candidates only —
    * never test × train. The est floor uses 0.5 (leakage worth
    * flagging sits well above it; the banding recall envelope is the
    * same documented trade — NOTE this is the one remaining consumer
    * of [[ContainmentMinEst]]; q92's containment path dropped its
    * floor in round 10). Order of operations (round-13 review): the
    * split label derives from ids ALONE, so the cross-split filter
    * runs on the banded pairs BEFORE the 64-slot signature rejoin —
    * the rejoin and est scoring then price only the cross-split
    * minority instead of every candidate, with results byte-identical
    * to the filter-after form. Output: (test_id, train_id, jaccard)
    * for verified pairs at or above `minJaccard`. */
  def crossSplitLeakageLsh(docs: DataFrame, minJaccard: Double): DataFrame = {
    val lab = (id: String) => Curation.splitLabel(col(id))
    val signed = swapSigCache(withMinhash(docs)
      .select(col("doc_id"), col("sig"), col("bands")))
    val crossCands = bandedPairs(signed)
      .select(col("id_a"), col("id_b"), lab("id_a").as("sp_a"), lab("id_b").as("sp_b"))
      .filter((col("sp_a") === "train" && col("sp_b") === "test") ||
        (col("sp_a") === "test" && col("sp_b") === "train"))
    val cross = crossCands
      .join(signed.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(signed.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .filter(graft.functions.NativeExprs.sigMatches(col("sig_a"), col("sig_b"))
        .cast("double") / SigLen >= ContainmentMinEst)
      .select(
        when(col("sp_a") === "test", col("id_a")).otherwise(col("id_b")).as("test_id"),
        when(col("sp_a") === "test", col("id_b")).otherwise(col("id_a")).as("train_id"))
    val withSets = docs.select(col("doc_id"), tokenSet(col("text")).as("ts"))
    cross
      .join(withSets.select(col("doc_id").as("test_id"), col("ts").as("ts_b")), Seq("test_id"))
      .join(withSets.select(col("doc_id").as("train_id"), col("ts").as("ts_a")), Seq("train_id"))
      .select(col("test_id"), col("train_id"),
        round(size(array_intersect(col("ts_b"), col("ts_a"))).cast("double")
          / size(array_union(col("ts_b"), col("ts_a"))), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  // --------------------------------------------------------------- q129

  /** q129: duplicate-GROUP SIZE SPECTRUM — for each exact-dup group
    * size k (q30's md5 grouping): how many groups, how many wasted
    * docs (k−1 per group), and each size's share of the total waste.
    * The dedup observability report: a healthy crawl shows waste
    * concentrated in small groups (2–3 copies of real pages); a
    * spectrum dominated by a few giant groups means a templating bug
    * or a crawler loop, and the fix differs (drop the template vs fix
    * the loop) — the single q30 keep-count can't tell them apart.
    *
    * 100 TB shape: q30's (16-byte fp, id) exchange, then two more
    * digest-sized aggregations (fp groups → size histogram → shares);
    * the waste-share denominator is one broadcast scalar. */
  def dupGroupSpectrum(docs: DataFrame): DataFrame = {
    val groups = docs
      .select(md5(col("text").cast("binary")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("k"))
    val hist = groups.groupBy(col("k"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("k").as("group_size"), col("n_groups"),
        ((col("k") - 1) * col("n_groups")).as("wasted_docs"))
    val totalWaste = hist.agg(
      sum(col("wasted_docs")).as("total_waste"))
    hist.crossJoin(broadcast(totalWaste))
      .select(col("group_size"), col("n_groups"), col("wasted_docs"),
        when(col("total_waste") === 0, lit(0.0))
          .otherwise(round(col("wasted_docs").cast("double") / col("total_waste"), 6))
          .as("waste_share"))
      .orderBy(col("group_size"))
  }

  def q129DupGroupSpectrum(s: SparkSession, d: String): DataFrame =
    dupGroupSpectrum(documents(s, d))

  val q129Sql: String =
    """WITH g AS (
      | SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS k
      | FROM documents GROUP BY md5(text)
      |), hist AS (
      | SELECT k AS group_size, CAST(count(*) AS BIGINT) AS n_groups,
      |   CAST((k - 1) * count(*) AS BIGINT) AS wasted_docs
      | FROM g GROUP BY k
      |), tw AS (SELECT CAST(sum(wasted_docs) AS BIGINT) AS total_waste FROM hist)
      |SELECT group_size, n_groups, wasted_docs,
      |  CASE WHEN total_waste = 0 THEN 0.0
      |       ELSE round(CAST(wasted_docs AS DOUBLE) / total_waste, 6) END AS waste_share
      |FROM hist, tw ORDER BY group_size""".stripMargin

  // --------------------------------------------------------------- q139

  /** q139: MINHASH CALIBRATION CURVE — estimator error vs exact
    * Jaccard, bucketed by true similarity, over a bounded id range
    * (the q44/q81 constant-work anchor shape). The eval harness for
    * the dedup estimator, pairing q126's nprobe↔recall curve for ANN:
    * the 64-slot signature's standard error is √(J(1−J)/64) ≤ 0.0625,
    * and this measures the ACTUAL per-bucket bias and error on the
    * actual corpus — the number that justifies (or indicts) the 0.8
    * banding threshold q43/q69 build on.
    *
    * 100 TB shape: bounded ids ⇒ constant work at any corpus size;
    * the production estimator this calibrates runs in q43's banded
    * pipeline. Rows-only: the signature estimator is not
    * SQL-expressible; DedupSpec pins the error-within-3-SE envelope
    * and exactness at J = 1. */
  def minhashCalibration(docs: DataFrame): DataFrame = {
    val base = withMinhash(docs)
      .select(col("doc_id"), tokenSet(col("text")).as("ts"), col("sig"))
    val a = base.select(col("doc_id").as("id_a"), col("ts").as("ts_a"),
      col("sig").as("sig_a"))
    val b = base.select(col("doc_id").as("id_b"), col("ts").as("ts_b"),
      col("sig").as("sig_b"))
    val est = graft.functions.NativeExprs.sigMatches(col("sig_a"), col("sig_b"))
      .cast("double") / SigLen
    val exact = size(array_intersect(col("ts_a"), col("ts_b"))).cast("double") /
      size(array_union(col("ts_a"), col("ts_b")))
    a.join(b, col("id_a") < col("id_b"))
      .select(exact.as("j"), est.as("est"))
      .select(floor(col("j") * 10).cast("int").as("bucket"),
        abs(col("est") - col("j")).as("abs_err"),
        (col("est") - col("j")).as("err"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
           round(avg(col("abs_err")), 4).as("mean_abs_err"),
           round(avg(col("err")), 4).as("mean_bias"),
           round(max(col("abs_err")), 4).as("max_abs_err"))
      .orderBy(col("bucket"))
  }

  def q139MinhashCalibration(s: SparkSession, d: String): DataFrame =
    minhashCalibration(documents(s, d).filter(col("doc_id") < 120))

  /** q152: CROSS-SOURCE NEAR-DUP PRESSURE matrix — banded MinHash
    * near-dup pairs (est ≥ 0.8, the q43 stream) rolled up to ordered
    * source pairs with counts and mean estimated Jaccard. The
    * provenance audit behind dedup policy: heavy (cc, wiki) cells mean
    * one crawl mirrors the other and the dedup keep-rule needs a
    * source priority; a heavy diagonal is ordinary within-source
    * duplication q30/q43 already handle.
    *
    * 100 TB shape: the pair stream carries ids only; the doc→source
    * side is (id, dictionary-coded source) — joined per pair id, then
    * collapsed map-side to the ≤ sources² digest. Rows-only (LSH);
    * DedupSpec plants a cross-source duplicate and pins its cell. */
  def crossSourceNeardup(docs: DataFrame, minEst: Double): DataFrame = {
    val srcs = docs.select(col("doc_id"), col("source"))
    minhashCandidatePairsOf(docs, minEst)
      .join(srcs.select(col("doc_id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
      .join(srcs.select(col("doc_id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
      .select(least(col("src_a"), col("src_b")).as("source_lo"),
              greatest(col("src_a"), col("src_b")).as("source_hi"),
              col("est_jaccard"))
      .groupBy(col("source_lo"), col("source_hi"))
      // mean over LATTICE values (est_jaccard is round(k/64, 4), so
      // every input sits on a 4-decimal grid) summed as doubles lands
      // ON rounding half-boundaries with non-measure-zero probability,
      // and float addition order varies with partitioning — the
      // round-17 determinism audit caught three cells flipping their
      // 4th decimal between 7 and 32 shuffle partitions. Sum the
      // exact scaled integers instead: long addition is associative,
      // so the mean is bit-identical under ANY partitioning, and the
      // single final division changes the value by < 1e-9 vs the
      // double avg. (Continuous-valued means elsewhere keep plain
      // avg: their boundary hits are measure-zero.)
      .agg(count(lit(1)).as("n_pairs"),
           round(sum(round(col("est_jaccard") * 10000, 0).cast("long")) /
                 (count(lit(1)) * 10000.0), 4).as("mean_est"))
      .orderBy(col("n_pairs").desc, col("source_lo"), col("source_hi"))
  }

  def q152CrossSourceNeardup(s: SparkSession, d: String): DataFrame =
    crossSourceNeardup(documents(s, d), minEst = 0.8)

  /** q176: BLOCKED FUZZY ENTITY MATCHING — the edit-distance member of
    * the dedup family: resolve a dirty query list against a clean
    * catalog without ever going quadratic. The query set is derived
    * deterministically from the catalog itself (every 37th part name
    * with its third character deleted — a typo both engines can
    * reproduce, so the oracle runs on the same tables); candidates
    * come from a BLOCKING-KEY equi-join (the name's final token — the
    * noun, which the head-of-string typo can't corrupt), and only
    * candidates pay the levenshtein verify (≤ 2).
    *
    * Scale shape: the classic entity-resolution layout — the dirty
    * side is tiny and BROADCAST, the catalog never shuffles, the edit
    * distance is computed ONCE per candidate inside the probe-side
    * scan, and the COMPOUND block key (final token + the first two
    * characters, both of which this typo class provably preserves)
    * bounds the candidates a hot noun can generate — the multi-key
    * blocking every production ER deployment uses, and it defines the
    * operator's recall envelope honestly: a match corrupted in BOTH
    * its noun and its first two characters is out of scope by design
    * (a production catalog would also cap degenerate blocks exactly
    * like [[bandedPairs]]' bucket cap). Every query's own source part
    * is recovered at distance 1 by construction (DedupSpec pins it). */
  def q176FuzzyMatch(s: SparkSession, d: String): DataFrame = {
    val parts = part(s, d).select(col("p_partkey"), col("p_name"))
    def blkOf(name: org.apache.spark.sql.Column) =
      concat(element_at(split(name, " "), -1), lit("|"), substring(name, 1, 2))
    val queries = parts.filter(col("p_partkey") % 37 === 0)
      .select(col("p_partkey").as("q_key"),
        concat(substring(col("p_name"), 1, 2),
          expr("substring(p_name, 4)")).as("q_name"))
      .withColumn("blk", blkOf(col("q_name")))
    val catalog = parts.withColumn("blk", blkOf(col("p_name")))
    catalog.join(broadcast(queries), Seq("blk"))
      .select(col("q_key"), col("p_partkey"),
        levenshtein(col("q_name"), col("p_name")).as("dist"))
      .filter(col("dist") <= 2)
      .orderBy(col("q_key"), col("p_partkey"))
  }

  val q176Sql: String =
    """WITH q AS (
      | SELECT p_partkey AS q_key,
      |   substr(p_name, 1, 2) || substr(p_name, 4) AS q_name
      | FROM part WHERE p_partkey % 37 = 0
      |), qb AS (
      | SELECT q_key, q_name,
      |   str_split(q_name, ' ')[-1] || '|' || substr(q_name, 1, 2) AS blk
      | FROM q
      |), pb AS (
      | SELECT p_partkey, p_name,
      |   str_split(p_name, ' ')[-1] || '|' || substr(p_name, 1, 2) AS blk
      | FROM part
      |)
      |SELECT q_key, p_partkey,
      |  CAST(levenshtein(q_name, p_name) AS INT) AS dist
      |FROM qb JOIN pb USING (blk)
      |WHERE levenshtein(q_name, p_name) <= 2
      |ORDER BY q_key, p_partkey""".stripMargin

  // --------------------------------------------------------------- q188

  /** Duplicate-span hit width, in tokens: a hit is a [[SpanN]]-token
    * shingle occurring in ≥ 2 distinct documents. */
  val SpanN = 8

  /** Cross-document DUPLICATE-SPAN extraction — exact-substring dedup
    * at sub-document granularity: every maximal token run that also
    * appears in another document, emitted as a per-doc remove-span.
    * q30 drops whole duplicate docs and q43/q167 flag near-dup PAIRS;
    * training-data pipelines additionally cut REPEATED PASSAGES
    * (licenses, boilerplate, quoted chunks) out of otherwise-unique
    * documents — that needs positions, not verdicts (the published
    * recipe deduplicates any ≥ k-token substring shared across the
    * corpus; suffix arrays don't distribute, rolling-hash shingles
    * do).
    *
    * Shape: (1) posexplode the corpus ONCE to (doc, pos, fp) shingle
    * occurrences — q87's kernel; (2) cross-doc duplication is an
    * fp-partitioned min/max window: an fp lives in ≥ 2 distinct docs
    * iff min(doc_id) < max(doc_id) over its partition — exact, and a
    * single-consumption subtree, so the corpus shingles once (the q82
    * lesson: a separately-referenced aggregate + join re-runs the
    * explode; measured here too before this form). No pair blowup
    * anywhere — each occurrence row survives or dies, it never
    * multiplies, so no bucket cap is needed (unlike candidate
    * GENERATION, which pairs occurrences with each other); (3) hits
    * merge into maximal islands via gaps-and-islands over one
    * doc-partitioned window — a new span starts when a hit clears the
    * previous shingle's coverage, so each island's token coverage is
    * contiguous. Two corpus-scale exchanges total (fp, then doc),
    * both fixed-width (8-byte fp + two ints); the doc window sorts
    * HITS only (duplicated occurrences, a small fraction of corpus
    * tokens). Output is pure integers — hash-verified against the
    * identically-unrolled DuckDB oracle.
    *
    * Skew note, weighed deliberately: a universal boilerplate shingle
    * concentrates its fp partition on one task (window partitions are
    * not AQE-skew-splittable), but that straggler is bounded by the
    * hot shingle's occurrence rows at 20 B each — spill-backed, a
    * scan-speed pass. The skew-splittable alternative (map-side
    * combined dup aggregation + occurrence join) re-runs the corpus
    * explode, i.e. a SECOND full-corpus scan — at 100 TB far costlier
    * than a few straggling partitions. */
  def duplicateSpans(docs: DataFrame, n: Int = SpanN): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs.select(col("doc_id"),
      posexplode(graft.functions.NativeExprs.shingleHashes(
        split(col("text"), " "), n)).as(Seq("pos", "fp")))
    val byFp = Window.partitionBy(col("fp"))
    islandSpans(
      pos
        .withColumn("lo", min(col("doc_id")).over(byFp))
        .withColumn("hi", max(col("doc_id")).over(byFp))
        .filter(col("lo") < col("hi"))
        .select(col("doc_id"), col("pos")), n)
      .orderBy(col("doc_id"), col("span_idx"))
  }

  /** The gaps-and-islands merge shared by every span producer (q188's
    * symmetric rule and [[IncrementalSpans]]' stale rule — one
    * definition so the island semantics cannot drift): hit rows
    * `(doc_id, pos)` (unique per doc) merge into maximal token-
    * coverage islands over one doc-partitioned window. */
  private[graft] def islandSpans(hits: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      // coverage of the hit at prev is [prev, prev+n); the next hit
      // extends the island iff its coverage overlaps or touches it
      .withColumn("ns",
        when(col("pos") >
          coalesce(lag(col("pos"), 1).over(w), lit(Int.MinValue / 2)) + n, 1)
        .otherwise(0))
      .withColumn("g", sum(col("ns")).over(w))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("start_tok"),
           (max(col("pos")) + n).as("end_tok"),
           count(lit(1)).as("n_dup_shingles"))
      .select(col("doc_id"), col("g").cast("int").as("span_idx"),
        col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok")).as("span_tokens"),
        col("n_dup_shingles"))
  }

  /** q188: remove-spans of every ≥[[SpanN]]-token run shared across
    * documents, island-merged per doc. */
  def q188DuplicateSpans(s: SparkSession, d: String): DataFrame =
    duplicateSpans(documents(s, d))

  /** The shared island-derivation CTE chain — q188 reads the spans,
    * q190 aggregates them; one definition so the two oracles cannot
    * drift. */
  private def spanCtes(n: Int): String =
    s"""WITH toks AS (
      | SELECT doc_id, str_split(text, ' ') AS t FROM documents
      |), pos AS (
      | SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+${n - 1}], ' ')) AS fp
      | FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${n - 2})) AS i
      |       FROM toks WHERE len(t) >= $n)
      |), dup AS (
      | SELECT fp FROM pos GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
      |), hits AS (
      | SELECT doc_id, pos FROM pos JOIN dup USING (fp)
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
      |)""".stripMargin

  val q188Sql: String =
    spanCtes(SpanN) +
    """
      |SELECT doc_id, CAST(g AS INT) AS span_idx,
      | CAST(start_tok AS INT) AS start_tok,
      | CAST(end_tok AS INT) AS end_tok,
      | CAST(end_tok - start_tok AS INT) AS span_tokens,
      | n_dup_shingles
      |FROM spans ORDER BY doc_id, span_idx""".stripMargin

  // --------------------------------------------------------------- q190

  /** q190: PER-SOURCE DUPLICATION RATE — q188's spans rolled up to the
    * number a curation plan is actually built on (the published
    * pipelines report exactly this): per source, how many docs carry a
    * duplicate span and what fraction of the source's tokens sits
    * inside one (islands are disjoint per doc by construction, so the
    * token sum is exact, never double-counted). Scale shape: q188's
    * plan plus one docs-scan for token totals and a per-doc-sized
    * left join (dup docs only — broadcastable at any corpus size
    * where dups are the minority; the final per-source agg is
    * digest-sized). dup_frac divides two engine-identical BIGINTs —
    * q112's portable-float discipline. */
  def q190DuplicationRate(s: SparkSession, d: String): DataFrame =
    duplicationRate(documents(s, d))

  /** Core of q190 over any (source, doc_id, text) frame. */
  def duplicationRate(docs: DataFrame, n: Int = SpanN): DataFrame = {
    val perDoc = duplicateSpans(docs, n)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_tokens")).cast("long").as("dup_tokens"))
    docs.select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_tokens").isNotNull, 1L).otherwise(0L))
          .as("docs_with_dup"),
        sum(coalesce(col("dup_tokens"), lit(0L))).as("dup_tokens"),
        sum(col("n_tokens")).as("total_tokens"))
      .select(col("source"), col("n_docs"), col("docs_with_dup"),
        col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("total_tokens"), 6)
          .as("dup_frac"))
      .orderBy(col("source"))
  }

  // --------------------------------------------------------------- q192

  /** q192: DUPLICATE-SPAN REMOVAL APPLIED — the cut itself, completing
    * the span family's find (q188) → measure (q190) → apply arc the
    * way q75 completes q67's clusters: every doc re-emitted with its
    * cross-doc duplicate runs excised (exact-substring deletion), plus
    * kept/total token counts.
    *
    * Scale shape: q188's span derivation (one corpus explode, two
    * fixed-width exchanges) collects to a per-doc span ARRAY — rows
    * only for docs that HAVE spans, each a handful of int pairs — and
    * joins back to the corpus on doc_id. The rebuild is one codegen'd
    * index-filter lambda over the token array (no explode, no
    * re-shuffle of the rebuilt text before the sink). The span side is
    * broadcast-eligible when dup docs are the minority; when they are
    * not, the doc-keyed exchange that co-locates text with its spans
    * is the rewrite's one unavoidable corpus-sized move — any cleaned
    * corpus is corpus-sized output. The helper returns UNORDERED (a
    * production rewrite sinks straight from the rebuild); the global
    * doc_id sort lives in the q192 bench wrapper, where the verify
    * hash needs it. */
  def despanApply(docs: DataFrame, n: Int = SpanN,
                  carry: Seq[String] = Nil): DataFrame = {
    val spans = duplicateSpans(docs, n)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("spans"))
    val toks = split(col("text"), " ")
    val kept = filter(toks, (_, i) =>
      col("spans").isNull ||
        !exists(col("spans"), sp =>
          i >= sp("start_tok") && i < sp("end_tok")))
    // `carry` passes input columns through unchanged (q196 carries
    // `source` into the repack) without widening q192's contract
    docs.join(spans, Seq("doc_id"), "left_outer")
      .select(carry.map(col) ++ Seq(col("doc_id"),
        array_join(kept, " ").as("clean_text"),
        size(toks).as("n_tokens"),
        size(kept).as("kept_tokens")): _*)
  }

  def q192DespanApply(s: SparkSession, d: String): DataFrame =
    despanApply(documents(s, d)).orderBy(col("doc_id"))

  // --------------------------------------------------------------- q196

  /** q196: DESPANNED-CORPUS REPACK — the span arc's last production
    * step (round-12 verdict ask #5): the corpus with its cross-doc
    * duplicate runs excised (q192's rewrite), re-packed into fixed
    * [[Curation.SeqLen]]-token training chunks with q65's prefix-sum
    * chunking — find (q188) → measure (q190) → apply (q192) → REPACK,
    * the full pipeline a pretraining data job actually ships, as one
    * oracle-hash query. Chunk counts come out LOWER than raw q65's:
    * the delta is the training-step budget the dedup actually bought,
    * the number that justifies the span pass.
    *
    * Scale shape: q192's rewrite (span derivation + codegen'd token
    * filter) flows straight into q65's packing — the only addition is
    * the per-source prefix-sum exchange over (source, doc_id,
    * kept_tokens), three BIGINTs per doc, never the rebuilt text
    * (despanApply's `carry` threads `source` through, so no second
    * corpus join). Fully-despanned docs (kept_tokens = 0) drop before
    * packing — a zero-token doc does not exist in the packed corpus.
    *
    * Oracle equivalence: islands are disjoint and clipped to doc
    * bounds by construction (end_tok = max(pos) + n with pos ≤
    * len − n), so kept_tokens = len − Σ(end − start) without
    * rebuilding any text — the SQL takes that arithmetic route, which
    * makes it an INDEPENDENT derivation of the same packing rather
    * than a mirrored rebuild. */
  def q196DespanRepack(s: SparkSession, d: String): DataFrame =
    despanRepack(documents(s, d))

  /** Core of q196 over any (source, doc_id, text) frame.
    *
    * The kept-tokens digest is `localCheckpoint`ed (eager, the q187
    * idiom) before packing: [[Curation.packChunks]]'s two-level scan
    * consumes its input TWICE (within-bucket window + bucket-totals
    * aggregate) — free over q65's bare scan projection, but here the
    * input is the whole span derivation (corpus explode, two wide
    * windows), and measured plans recompute it per consumption (AQE
    * reused only the small span-agg broadcast, not the derivation).
    * Materializing 3 numerics/doc costs far less than a second
    * derivation pass — the same compute-once/digest-twice call the
    * two-level scan itself makes. The q187 trade applies: checkpoint
    * truncates lineage, so a lost executor re-runs the job instead of
    * recomputing partitions — acceptable for a digest this narrow; a
    * deployment with strict fault budgets would checkpoint to
    * reliable storage instead. */
  def despanRepack(docs: DataFrame, n: Int = SpanN): DataFrame =
    Curation.packChunks(Graph.ckpt(
      despanApply(docs, n, carry = Seq("source"))
        .filter(col("kept_tokens") > 0)
        .select(col("source"), col("doc_id"),
          col("kept_tokens").cast("long").as("n_tokens"))))

  val q196Sql: String = {
    val n = SpanN
    spanCtes(n) +
    s""", per_doc AS (
      | SELECT doc_id, CAST(sum(end_tok - start_tok) AS BIGINT) AS dup_tokens
      | FROM spans GROUP BY doc_id
      |), kept0 AS (
      | SELECT d.source, d.doc_id,
      |  CAST(len(str_split(d.text, ' ')) AS BIGINT)
      |    - coalesce(p.dup_tokens, 0) AS n_tokens
      | FROM documents d LEFT JOIN per_doc p USING (doc_id)
      |), kept AS (
      | SELECT * FROM kept0 WHERE n_tokens > 0
      |)""".stripMargin + Curation.packingSql("kept")
  }

  val q192Sql: String = {
    val n = SpanN
    spanCtes(n) +
    """, tok AS (
      | SELECT doc_id, i - 1 AS pos, t[i] AS tok
      | FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)
      |), keep AS (
      | SELECT k.doc_id, k.pos, k.tok
      | FROM tok k
      | WHERE NOT EXISTS (SELECT 1 FROM spans s
      |   WHERE s.doc_id = k.doc_id
      |     AND k.pos >= s.start_tok AND k.pos < s.end_tok)
      |), rebuilt AS (
      | SELECT doc_id,
      |  array_to_string(list(tok ORDER BY pos), ' ') AS clean_text,
      |  CAST(count(*) AS INT) AS kept_tokens
      | FROM keep GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      | coalesce(r.clean_text, '') AS clean_text,
      | CAST(len(str_split(d.text, ' ')) AS INT) AS n_tokens,
      | coalesce(r.kept_tokens, 0) AS kept_tokens
      |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin
  }

  val q190Sql: String = {
    val n = SpanN
    spanCtes(n) +
    s""", per_doc AS (
      | SELECT doc_id, CAST(sum(end_tok - start_tok) AS BIGINT) AS dup_tokens
      | FROM spans GROUP BY doc_id
      |), base AS (
      | SELECT d.source, d.doc_id,
      |  CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |  p.dup_tokens
      | FROM documents d LEFT JOIN per_doc p USING (doc_id)
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(sum(CASE WHEN dup_tokens IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |   AS docs_with_dup,
      | CAST(sum(coalesce(dup_tokens, 0)) AS BIGINT) AS dup_tokens,
      | round(CAST(sum(coalesce(dup_tokens, 0)) AS DOUBLE) / sum(n_tokens), 6)
      |   AS dup_frac
      |FROM base GROUP BY source ORDER BY source""".stripMargin
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q43_minhash_pairs", q43MinhashPairs _, None),
    ("q44_jaccard_exact", q44JaccardExact _, Some(q44Sql)),
    ("q45_simhash", q45Simhash _, None),
    ("q167_simhash_pairs", q167SimhashPairs _, None),
    ("q47_ngram_jaccard", q47NgramJaccard _, Some(q47Sql)),
    ("q81_containment", q81Containment _, Some(q81Sql)),
    ("q92_containment_lsh", q92ContainmentLsh _, None),
    ("q152_crosssource_neardup", q152CrossSourceNeardup _, None),
    ("q176_fuzzy_match", q176FuzzyMatch _, Some(q176Sql)),
    ("q49_source_sketch", q49SourceSketch _, None),
    ("q67_dedup_clusters", q67DedupClusters _, Some(q67Sql)),
    ("q90_dedup_keep_best", q90DedupKeepBest _, Some(q90Sql)),
    ("q69_lsh_clusters", q69LshClusters _, None),
    ("q75_dedup_apply", q75DedupApply _, Some(q75Sql)),
    ("q99_source_overlap", q99SourceOverlap _, Some(q99Sql)),
    ("q102_novelty", q102Novelty _, Some(q102Sql)),
    ("q108_split_leakage", q108SplitLeakage _, Some(q108Sql)),
    ("q129_dupgroup_spectrum", q129DupGroupSpectrum _, Some(q129Sql)),
    ("q139_minhash_calibration", q139MinhashCalibration _, None),
    ("q188_duplicate_spans", q188DuplicateSpans _, Some(q188Sql)),
    ("q190_duplication_rate", q190DuplicationRate _, Some(q190Sql)),
    ("q192_despan_apply", q192DespanApply _, Some(q192Sql)),
    ("q196_despan_repack", q196DespanRepack _, Some(q196Sql)),
  )
}
