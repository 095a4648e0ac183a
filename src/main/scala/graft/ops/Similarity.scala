package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Similarity search over the embeddings table (SURVEY §2.9).
  *
  * Two paths, as the 100 TB design demands:
  *  - q40: exact brute-force cosine top-k — oracle-checkable baseline.
  *    Plan shape: broadcast the (single-row) query vector, map-only
  *    cosine per row, TakeOrderedAndProject for the top-k. No shuffle
  *    of the embedding corpus at all; at cluster scale this is one pass
  *    over the vectors with a k-row result per partition merged on the
  *    driver.
  *  - q41/q42: random-hyperplane LSH (sign-of-projection signatures,
  *    banded): candidate generation touches only bucket-colliding rows,
  *    so the quadratic pair space never materializes. The hyperplanes
  *    are deterministic (seeded) literals compiled into the plan —
  *    no driver-side state, no collect.
  *
  * Cosine math notes: both engines fold the 64-dim arrays sequentially
  * in index order in double precision, so dot products and norms are
  * bit-identical; results are still round()ed as belt-and-braces.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns (HOF
    * form — kept for cold paths; hot paths use the native expression). */
  /** Dot of two array<double> columns via the codegen'd
    * [[graft.functions.DotCols]] kernel (r19: was an interpreted
    * aggregate/zip_with HOF chain per row — the q86 scoring hot
    * path). Identical fold order and null-on-length-mismatch
    * semantics; bit-identical values. */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeExprs.dotCols(a, b)

  /** L2 norm via the codegen'd [[graft.functions.NormL2]] kernel
    * (r19: was an interpreted HOF fold, paid per vector by every
    * unitVectors caller — q76/q86/q98/q102). Same fold order,
    * bit-identical result; kept as a DIRECT single loop, not
    * dot(a, a) (the r14 regression lesson). */
  def norm(a: Column): Column =
    graft.functions.NativeExprs.normL2(a)

  /** Fused one-pass codegen'd cosine (graft.functions.CosineSim).
    * Identical accumulation order to the fold form — oracle-exact. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.NativeExprs.cosineSim(a, b)

  private def emb(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddingVectors(s, d)

  /** Exact top-k cosine against a query vector (vec_id 0). */
  def q40CosineTopK(s: SparkSession, d: String): DataFrame = {
    val q = emb(s, d).filter(col("vec_id") === 0).select(col("e").as("qe"))
    emb(s, d)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("e"), col("qe")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(20)
  }

  val q40Sql: String =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id,
      | round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS cos_sim
      |FROM embeddings e, q
      |WHERE e.vec_id <> 0
      |ORDER BY cos_sim DESC, e.vec_id
      |LIMIT 20""".stripMargin

  /** The q56 oracle (round-16 promotion — previously rows-only): the
    * int8 quantization is PURE integer arithmetic, so DuckDB mirrors
    * it exactly — per-vector max-abs scaling with `floor(x·127/ma +
    * 0.5)` (Scala's math.round(double) IS floor(x+0.5), including the
    * negative-half case where SQL round() differs), integer
    * dot/norms are exact in doubles (≤ 127²·dim ≪ 2^53, so the sum
    * order is irrelevant and `approx` is bit-identical), the top-50
    * candidate cut breaks ties on vec_id, and the exact re-rank
    * reuses q40's hash-verified list_cosine_similarity + round(,6)
    * formulation. */
  val q56Sql: String =
    """WITH emb AS (
      | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), codes AS (
      | SELECT vec_id, e,
      |  CASE WHEN list_max(list_transform(e, x -> abs(x))) > 0
      |   THEN list_transform(e, x -> floor(x / list_max(list_transform(e, y -> abs(y))) * 127.0 + 0.5))
      |   ELSE list_transform(e, x -> 0.0) END AS c
      | FROM emb
      |), q AS (SELECT c AS qc, e AS qe FROM codes WHERE vec_id = 0
      |), scored AS (
      | SELECT codes.vec_id, codes.e,
      |  list_inner_product(codes.c, q.qc) /
      |   (sqrt(list_inner_product(codes.c, codes.c)) * sqrt(list_inner_product(q.qc, q.qc))) AS approx
      | FROM codes, q WHERE codes.vec_id <> 0
      |), cand AS (
      | SELECT vec_id, e FROM scored ORDER BY approx DESC NULLS LAST, vec_id LIMIT 50
      |)
      |SELECT cand.vec_id, round(list_cosine_similarity(cand.e, q.qe), 6) AS cos_sim
      |FROM cand, q ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  // --- LSH machinery -------------------------------------------------

  val Dim = 64
  val Bands = 8
  val BitsPerBand = 8

  /** Deterministic random hyperplanes (seeded): Bands*BitsPerBand planes
    * of Dim gaussian components — static data compiled into the native
    * signature expression. */
  private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(Bands * BitsPerBand)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** Adds `bands`: array of Bands packed 8-bit signatures, computed in
    * one pass over all 64 planes (graft.functions.HyperplaneSig). */
  def withSignature(df: DataFrame): DataFrame =
    df.withColumn("bands",
      graft.functions.NativeExprs.hyperplaneSig(col("e"), planes, BitsPerBand))

  /** The shared emb+sig CTE prefix of the q41/q42 oracles: per
    * (vector, band) the packed sign-of-projection value, with the
    * [[planes]] embedded as literals. */
  private def lshSigSqlPrefix: String = {
    val planeLits = planes.map(_.map(java.lang.Double.toString).mkString("[", ",", "]"))
      .mkString("[", ",\n   ", "]")
    s"""WITH emb AS (
      | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), sig AS (
      | SELECT vec_id, e, CAST(p // $BitsPerBand AS INT) AS band_idx,
      |  CAST(sum(CASE WHEN list_inner_product(e, ($planeLits)[p + 1]) > 0
      |           THEN 1 << (p % $BitsPerBand) ELSE 0 END) AS BIGINT) AS band_val
      | FROM emb, LATERAL unnest(range(${planes.length})) AS t(p)
      | GROUP BY vec_id, e, p // $BitsPerBand
      |)""".stripMargin
  }

  /** The q41 oracle (round-16 promotion — previously rows-only as
    * "LSH not SQL-expressible"): the hyperplanes are DETERMINISTIC
    * seeded literals compiled into the Spark plan, so the oracle
    * embeds the SAME [[planes]] values as SQL list literals (built
    * from the same array — one source of truth; Double.toString is
    * shortest-round-trip, so DuckDB parses back bit-identical
    * values). The `dot > 0` sign bits — and therefore the packed
    * band values, the hamming-≤2 probe hits, and the candidate set —
    * agree under ANY summation order, not just the sequential fold
    * both engines happen to use: the measured minimum |dot| across
    * every (vector, plane) pair is ~1e-5 at sf0.01 and ~9e-7 at
    * sf0.1, seven orders of magnitude above the worst-case
    * 64-term double reordering error (~1e-14), so a SIMD-reordered
    * list_inner_product could never flip a sign on this data. The
    * re-rank reuses q40's hash-verified cosine formulation; the 37
    * multi-probe masks are likewise generated from [[probeMasks]]. */
  def q41Sql: String = {
    val maskLits = probeMasks.mkString("[", ",", "]")
    s"""$lshSigSqlPrefix, qprobes AS (
      | SELECT band_idx, xor(band_val, m) AS band_val, e AS qe
      | FROM sig, LATERAL unnest($maskLits) AS u(m)
      | WHERE vec_id = 0
      |), cand AS (
      | SELECT DISTINCT s.vec_id, s.e, q.qe
      | FROM sig s JOIN qprobes q USING (band_idx, band_val)
      | WHERE s.vec_id <> 0
      |)
      |SELECT vec_id, round(list_cosine_similarity(e, qe), 6) AS cos_sim
      |FROM cand ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
  }

  /** The q42 oracle (round-16 promotion, with q41): banded all-pairs
    * candidates over the same mirrored signatures — the over-cap
    * bucket exclusion, the id_a &lt; id_b distinct pair set, and the
    * exact-cosine re-rank are all plain SQL once the band values
    * agree (which they do bit-for-bit; see [[q41Sql]]). */
  def q42Sql: String =
    s"""$lshSigSqlPrefix, big AS (
      | SELECT band_idx, band_val FROM sig
      | GROUP BY band_idx, band_val HAVING count(*) > ${Dedup.MaxBucket}
      |), small AS (
      | SELECT s.band_idx, s.band_val, s.vec_id FROM sig s
      | WHERE NOT EXISTS (SELECT 1 FROM big b
      |   WHERE b.band_idx = s.band_idx AND b.band_val = s.band_val)
      |), cands AS (
      | SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      | FROM small a JOIN small b USING (band_idx, band_val)
      | WHERE a.vec_id < b.vec_id
      |)
      |SELECT id_a, id_b,
      | round(list_cosine_similarity(ea.e, eb.e), 6) AS cos_sim
      |FROM cands
      | JOIN (SELECT vec_id, e FROM emb) ea ON ea.vec_id = id_a
      | JOIN (SELECT vec_id, e FROM emb) eb ON eb.vec_id = id_b
      |ORDER BY cos_sim DESC, id_a, id_b LIMIT 20""".stripMargin

  /** Multi-probe masks: every XOR pattern within hamming radius ≤ 2 of
    * a band value (1 exact + 8 single-bit + 28 two-bit = 37 probes per
    * band). Multi-probe is the standard recall lever that does NOT
    * touch the index side: the corpus keeps ONE bucket entry per band;
    * only the (single-row) query fans out, so candidate generation
    * stays bucketed and the index shuffle volume is unchanged.
    * (Lv et al., "Multi-Probe LSH", VLDB 2007.) */
  private lazy val probeMasks: Seq[Long] = {
    val bits = 0 until BitsPerBand
    val singles = bits.map(1L << _)
    val pairs = for { i <- bits; j <- bits if j > i } yield (1L << i) | (1L << j)
    0L +: (singles ++ pairs)
  }

  /** ANN search for the query vector (vec_id 0): candidates are rows
    * whose band value is within hamming radius 2 of the query's in ≥1
    * band; exact cosine re-rank of candidates only. Oracle-hash since
    * round 16 ([[q41Sql]] — the seeded planes embed as SQL literals);
    * recall@10 ≥ 0.6 additionally pinned in SimilaritySpec. */
  def q41AnnLsh(s: SparkSession, d: String): DataFrame = {
    val signed = withSignature(emb(s, d))
    // outer explode + filter, as in Dedup.bandedPairs: an inner
    // posexplode lets Catalyst push an inferred size/isnotnull(bands)
    // filter below the signing Project, signing every vector twice more
    val exploded = signed.select(col("vec_id"), col("e"),
        posexplode_outer(col("bands")).as(Seq("band_idx", "band_val")))
      .filter(col("band_idx").isNotNull)
    // the query side (1 row) fans out to 8 bands × 37 probe buckets —
    // a 296-row broadcast; the corpus side is untouched
    val qProbes = exploded.filter(col("vec_id") === 0)
      .select(col("band_idx"), col("band_val"), col("e").as("qe"),
              explode(typedLit(probeMasks)).as("mask"))
      .select(col("band_idx"),
              col("band_val").bitwiseXOR(col("mask")).as("band_val"), col("qe"))
    exploded.filter(col("vec_id") =!= 0)
      .join(broadcast(qProbes), Seq("band_idx", "band_val"))
      .select(col("vec_id"), round(cosine(col("e"), col("qe")), 6).as("cos_sim"))
      .groupBy(col("vec_id")).agg(first(col("cos_sim")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10)
  }

  /** All-pairs near-duplicate candidate pairs over a [[withSignature]]
    * frame: the banded candidates of [[Dedup.bandedPairs]] (its
    * [[Dedup.MaxBucket]] cap keeps a degenerate embedding corpus's hot
    * bucket from going quadratic) over the ids only, distinct pairs,
    * then the vectors rejoined for the exact cosine. */
  def embedNearDupPairs(signed: DataFrame): DataFrame = {
    val cands = Dedup.bandedPairs(signed.select(col("vec_id").as("doc_id"), col("bands")))
      .distinct()
    val vecs = signed.select(col("vec_id"), col("e"))
    cands
      .join(vecs.select(col("vec_id").as("id_a"), col("e").as("ea")), Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"), col("e").as("eb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
              round(cosine(col("ea"), col("eb")), 6).as("cos_sim"))
  }

  /** Top-20 embedding near-duplicates (oracle-hash since round 16,
    * [[q42Sql]]; the capped-bucket blowup guard is additionally
    * pinned by SimilaritySpec's planted-hot-bucket test). */
  def q42EmbedNearDup(s: SparkSession, d: String): DataFrame =
    embedNearDupPairs(withSignature(emb(s, d)))
      .orderBy(col("cos_sim").desc, col("id_a").asc, col("id_b").asc)
      .limit(20)

  /** q56: scalar-quantized top-k — the candidate pass runs int8
    * approximate cosine to pick 50 candidates (map-only +
    * TakeOrdered — same zero-shuffle shape as q40), then the exact
    * double cosine re-ranks just those 50. Per-vector quantization
    * scale cancels inside cosine, so no scale column is needed.
    *
    * Honest scale note (round-14 review): AT 100 TB the 8× scan-bytes
    * cut requires the int8 codes to be a PERSISTED column (64 B/vector
    * binary read instead of the 512 B doubles) — the deploy path this
    * query demonstrates the math for. Here the codes are derived
    * inline from the double column (the testdata ships no int8
    * column), so this form validates candidate quality and the
    * re-rank contract, not the bandwidth win itself. Oracle-hash
    * since round 16 ([[q56Sql]] — the quantization is pure integer
    * arithmetic); SimilaritySpec additionally asserts the re-ranked
    * top-10 matches exact brute force. */
  def q56QuantizedTopK(s: SparkSession, d: String): DataFrame = {
    val qz = emb(s, d)
      .withColumn("q8", graft.functions.NativeExprs.quantizeI8(col("e")))
    // driver-side O(1): the single query row
    val qRows = qz.filter(col("vec_id") === 0).select(col("q8"), col("e")).head(1)
    require(qRows.nonEmpty, "query vector vec_id=0 absent from embeddings" +
      " — q56 anchors its scan on it")
    val qRow = qRows.head
    val q8 = lit(qRow.getAs[Array[Byte]](0))
    val qe = typedLit(qRow.getSeq[Double](1))
    qz.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("e"),
        graft.functions.NativeExprs.cosineSimI8(col("q8"), q8).as("approx"))
      .orderBy(col("approx").desc, col("vec_id").asc)
      .limit(50)
      .select(col("vec_id"), round(cosine(col("e"), qe), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10)
  }

  /** q76: per-label SEMANTIC DIVERSITY — the mean pairwise cosine of a
    * group's (normalized) embeddings, the signal a mixture designer
    * reads to judge how redundant a source is. Computed WITHOUT the
    * O(n²) pair space via the sum-vector identity
    *
    *   Σ_{i<j} uᵢ·uⱼ = (‖Σᵢuᵢ‖² − n) / 2   (unit vectors)
    *
    * so the whole query is one (label, dim) partial-aggregated shuffle
    * of scalars — n·dim rows of doubles, never pairs, never vectors.
    * Brute-force-equal at any n (SimilaritySpec pins it); oracle-
    * verified against the same identity in DuckDB. */
  def q76SemanticDiversity(s: SparkSession, d: String): DataFrame =
    semanticDiversity(emb(s, d))

  /** Unit-normalized vectors with zero-norm rows dropped (x/0 → NaN
    * would poison every downstream sum) — shared by q76 and q86 so
    * the guard lives in exactly one place (q98's semantic dedup in
    * Cluster uses it too — round-13 review removed a third copy).
    * Keeps `keep` columns plus the normalized array as `u`. */
  private[ops] def unitVectors(embs: DataFrame, keep: String*): DataFrame =
    embs
      .withColumn("nrm", norm(col("e")))
      .filter(col("nrm") > 0)
      .select(keep.map(col) :+ expr("transform(e, x -> x / nrm)").as("u"): _*)

  /** q76 core over any (label, e: array&lt;double&gt;) frame — split out so
    * tests can plant the guard cases. */
  def semanticDiversity(embs: DataFrame): DataFrame = {
    // guards (mirrored in the oracle SQL): zero-norm vectors are
    // dropped by unitVectors, and a single-vector label has no pairs
    // (the n·(n−1) denominator is 0), so both are excluded rather
    // than emitted as null/NaN rows
    val unit = unitVectors(embs, "label")
    // n rides the SAME (label, dim) aggregation as the sum-vector
    // (round-14 review — the dimProfileWithCount pattern): a separate
    // groupBy(label).count() re-scanned and re-normalized the whole
    // corpus a second time. Per (label, dim) the row count is the
    // number of vectors carrying that dim; max over dims = n (every
    // unit vector has dim 0 — zero-length arrays can't reach norm>0).
    val sums = unit
      .select(col("label"), posexplode(col("u")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("x")).as("sv"), count(lit(1)).as("nd"))
    sums.groupBy(col("label"))
      .agg(sum(col("sv") * col("sv")).as("ss"), max(col("nd")).as("n"))
      .filter(col("n") >= 2)
      .select(col("label"), col("n"),
        round((col("ss") - col("n")) / (col("n") * (col("n") - 1)), 6)
          .as("mean_pairwise_cos"))
      .orderBy(col("label"))
  }

  val q76Sql: String =
    """WITH base AS (
      | SELECT label, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings
      |), e AS (
      | SELECT label, list_transform(ed,
      |   x -> x / sqrt(list_sum(list_transform(ed, y -> y*y)))) AS u
      | FROM base
      | WHERE sqrt(list_sum(list_transform(ed, y -> y*y))) > 0
      |), dims AS (
      | SELECT label, dim, sum(x) AS sv FROM (
      |   SELECT label, unnest(u) AS x, unnest(range(1, len(u)+1)) AS dim FROM e)
      | GROUP BY label, dim
      |), ss AS (
      | SELECT label, sum(sv*sv) AS ss FROM dims GROUP BY label
      |), n AS (SELECT label, count(*) AS n FROM e GROUP BY label)
      |SELECT n.label AS label, n.n AS n,
      |       round((ss.ss - n.n) / (n.n * (n.n - 1)), 6) AS mean_pairwise_cos
      |FROM n JOIN ss ON n.label = ss.label
      |WHERE n.n >= 2 ORDER BY label""".stripMargin

  /** q86: per-label embedding OUTLIERS — each label's k vectors least
    * aligned with the label centroid (cosine of the unit vector
    * against the mean unit direction). The semantic-outlier triage a
    * curation pipeline runs on embedded documents: a low
    * centroid-cosine doc is mislabeled, off-topic, or noise. q76
    * measures a label's aggregate diversity; this names the
    * individual offenders.
    *
    * 100 TB shape: the centroid table is (labels × dim) scalars built
    * from one (label, dim) partial-aggregated shuffle (the q76
    * discipline — never pairs, never vectors), reassembled into
    * arrays label-side, and broadcast; scoring is then a map-side
    * zip_with dot per vector, and only the per-label top-k window
    * shuffles (vec_id, cos) pairs. The vectors themselves are scanned
    * twice (centroid pass + scoring pass) and shuffled never. */
  def embeddingOutliers(embs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val unit = unitVectors(embs, "vec_id", "label")
    val cent = unit.select(col("label"), posexplode(col("u")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim")).agg(sum(col("x")).as("sv"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, sv))), s -> s.sv)").as("c"))
      .withColumn("cnorm", norm(col("c")))
      // a label whose unit vectors cancel exactly has no mean
      // direction — cosine against it is 0/0; drop the label rather
      // than emit NaN rows (mirrored in the oracle SQL)
      .filter(col("cnorm") > 0)
    val scored = unit.join(broadcast(cent), Seq("label"))
      .select(col("label"), col("vec_id"),
        round(dot(col("u"), col("c")) / col("cnorm"), 6).as("cos_centroid"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos_centroid").asc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("label"), col("rk"), col("vec_id"), col("cos_centroid"))
      .orderBy(col("label"), col("rk"))
  }

  def q86CentroidOutliers(s: SparkSession, d: String): DataFrame =
    embeddingOutliers(emb(s, d), 3)

  val q86Sql: String =
    """WITH base AS (
      | SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings
      |), e AS (
      | SELECT vec_id, label, list_transform(ed,
      |   x -> x / sqrt(list_sum(list_transform(ed, y -> y*y)))) AS u
      | FROM base
      | WHERE sqrt(list_sum(list_transform(ed, y -> y*y))) > 0
      |), dims AS (
      | SELECT label, dim, sum(x) AS sv FROM (
      |   SELECT label, unnest(u) AS x, unnest(range(1, len(u)+1)) AS dim FROM e)
      | GROUP BY label, dim
      |), cent AS (
      | SELECT label, list(sv ORDER BY dim) AS c FROM dims GROUP BY label
      |), cn AS (
      | SELECT label, c, sqrt(list_sum(list_transform(c, y -> y*y))) AS cnorm FROM cent
      | WHERE sqrt(list_sum(list_transform(c, y -> y*y))) > 0
      |), scored AS (
      | SELECT e.label, e.vec_id,
      |   round(list_sum(list_transform(range(1, len(u)+1), i -> u[i] * c[i])) / cnorm, 6)
      |     AS cos_centroid
      | FROM e JOIN cn ON e.label = cn.label
      |)
      |SELECT label, rk, vec_id, cos_centroid FROM (
      | SELECT *, CAST(row_number() OVER (PARTITION BY label
      |   ORDER BY cos_centroid ASC, vec_id) AS INT) AS rk FROM scored
      |) WHERE rk <= 3 ORDER BY label, rk""".stripMargin

  /** q89: HARD-NEGATIVE mining — for each query vector, the k corpus
    * vectors most similar to it that carry a DIFFERENT label. The
    * contrastive-training data prep step (hard negatives are what make
    * embedding models learn; random negatives are too easy), and the
    * complement of q42's same-meaning near-dup search.
    *
    * 100 TB shape: the (bounded) query set broadcasts, cosine is the
    * native codegen'd CosineSim map-side, and only the per-query top-k
    * window shuffles (qid, scalar) rows — the corpus never shuffles.
    * For unbounded query sets the IVF probe (q70) composes per query
    * to cut the scan. */
  def q89HardNegatives(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = emb(s, d).filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("e").as("qe"))
    val scored = emb(s, d).crossJoin(broadcast(queries))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"), col("label"),
        round(cosine(col("e"), col("qe")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(col("qid"), col("rk"))
  }

  val q89Sql: String =
    """WITH q AS (
      | SELECT vec_id AS qid, label AS qlabel, CAST(embedding AS DOUBLE[]) AS qe
      | FROM embeddings WHERE vec_id < 20
      |), scored AS (
      | SELECT q.qid, e.vec_id, e.label,
      |   round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS cos_sim
      | FROM embeddings e, q WHERE e.label <> q.qlabel
      |)
      |SELECT qid, rk, vec_id, label, cos_sim FROM (
      | SELECT *, CAST(row_number() OVER (PARTITION BY qid
      |   ORDER BY cos_sim DESC, vec_id) AS INT) AS rk FROM scored
      |) WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  // ---------------------------------------------------------------- q136

  /** Dead-dimension threshold: a coordinate whose stddev falls below
    * this is carrying (almost) no information. */
  val DeadDimSd = 1e-4

  /** q136: per-DIMENSION embedding statistics — mean, stddev, and a
    * dead-dimension flag for every coordinate. The vector-hygiene
    * audit an embedding pipeline runs on every model refresh:
    * collapsed dimensions (sd ≈ 0) waste index space and silently
    * degrade PQ/IVF quantizers (their per-subspace codebooks train on
    * noise); a shifted mean signals a normalization bug upstream.
    * Whole-norm audits can't see either (this corpus is exactly
    * unit-norm — per-dim is where the structure lives).
    *
    * 100 TB shape: posexplode emits (pos, value) scalars map-side and
    * the per-dim aggregation partial-aggregates to ≤ dim rows per
    * task — the exchange carries dim × tasks scalar partials, never
    * vectors. Output is dim rows. */
  def dimStats(embs: DataFrame): DataFrame =
    embs
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "v")))
      .select((col("pos") + 1).as("dim"), col("v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
           round(avg(col("v")), 5).as("mean"),
           round(stddev_samp(col("v")), 5).as("sd"),
           when(stddev_samp(col("v")) < DeadDimSd, 1).otherwise(0).as("dead"))
      .orderBy(col("dim"))

  def q136DimStats(s: SparkSession, d: String): DataFrame =
    dimStats(graft.Tables.embeddings(s, d))

  val q136Sql: String =
    """WITH v AS (
      | SELECT u.dim AS dim, CAST(u.v AS DOUBLE) AS v FROM (
      |   SELECT unnest(list_transform(range(1, len(embedding) + 1),
      |     i -> struct_pack(dim := i, v := embedding[i]))) AS u
      |   FROM embeddings)
      |)
      |SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |  round(avg(v), 5) AS mean,
      |  round(stddev_samp(v), 5) AS sd,
      |  CASE WHEN stddev_samp(v) < 1e-4 THEN 1 ELSE 0 END AS dead
      |FROM v GROUP BY dim ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------- q140

  /** q140: LABEL SEPARATION audit — mean intra-label vs inter-label
    * cosine over a bounded id range, per label, plus the margin
    * between them. The embedding-space health check behind every
    * retrieval/classification use of the vectors: labels whose
    * intra-mean barely exceeds their inter-mean are not separable in
    * this space, and a NEGATIVE margin means the embedding actively
    * confuses that class (q86 finds individual outliers; this grades
    * the geometry per class). Bounded ids = the q44/q81 constant-work
    * anchor shape; the production-scale estimate samples pairs per
    * label instead. */
  def labelSeparation(embs: DataFrame): DataFrame = {
    val e = embs.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("e"))
    val a = e.select(col("vec_id").as("id_a"), col("label").as("l_a"),
      col("e").as("e_a"))
    val b = e.select(col("vec_id").as("id_b"), col("label").as("l_b"),
      col("e").as("e_b"))
    // localCheckpoint: intra + inter both consume the O(n²) cosine
    // join, and uncached consumers replan it from scratch — three
    // full pair-cosine evaluations per run (round-14 review); the
    // bounded pair digest is a few thousand scalar rows
    val pairs = a.join(b, col("id_a") < col("id_b"))
      .select(col("l_a"), col("l_b"), cosine(col("e_a"), col("e_b")).as("cos"))
      .localCheckpoint()
    val intra = pairs.filter(col("l_a") === col("l_b"))
      .groupBy(col("l_a").as("label"))
      .agg(count(lit(1)).as("n_intra"), round(avg(col("cos")), 6).as("mean_intra"))
    // each cross-label pair contributes to BOTH endpoints' inter mean:
    // one explode instead of two unioned re-reads
    val inter = pairs.filter(col("l_a") =!= col("l_b"))
      .select(explode(array(col("l_a"), col("l_b"))).as("label"), col("cos"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_inter"), round(avg(col("cos")), 6).as("mean_inter"))
    intra.join(inter, Seq("label"))
      .select(col("label"), col("n_intra"), col("n_inter"),
        col("mean_intra"), col("mean_inter"),
        round(col("mean_intra") - col("mean_inter"), 6).as("margin"))
      .orderBy(col("label"))
  }

  def q140LabelSeparation(s: SparkSession, d: String): DataFrame =
    labelSeparation(graft.Tables.embeddings(s, d).filter(col("vec_id") < 100))

  val q140Sql: String =
    """WITH e AS (
      | SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 100
      |), pairs AS (
      | SELECT a.label AS l_a, b.label AS l_b,
      |   list_cosine_similarity(a.embedding, b.embedding) AS cos
      | FROM e a JOIN e b ON a.vec_id < b.vec_id
      |), intra AS (
      | SELECT l_a AS label, CAST(count(*) AS BIGINT) AS n_intra,
      |   round(avg(cos), 6) AS mean_intra
      | FROM pairs WHERE l_a = l_b GROUP BY l_a
      |), inter AS (
      | SELECT label, CAST(count(*) AS BIGINT) AS n_inter,
      |   round(avg(cos), 6) AS mean_inter
      | FROM (
      |   SELECT l_a AS label, cos FROM pairs WHERE l_a <> l_b
      |   UNION ALL
      |   SELECT l_b AS label, cos FROM pairs WHERE l_a <> l_b
      | ) GROUP BY label
      |)
      |SELECT label, n_intra, n_inter, mean_intra, mean_inter,
      |  round(mean_intra - mean_inter, 6) AS margin
      |FROM intra JOIN inter USING (label) ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q162

  /** q162: PER-LABEL SILHOUETTE — the classic clustering-quality
    * coefficient s(i) = (b−a)/max(a,b) with cosine distance, labels as
    * clusters, over a bounded id range; reported as each label's mean.
    * Where q140 grades separation by POOLED pair means, the silhouette
    * is per-POINT — a label can post a positive q140 margin while half
    * its members sit closer to a neighboring class (negative s), which
    * is exactly what a training-data owner wants surfaced before
    * trusting the labels.
    *
    * Conventions: a(i) averages distances to the OTHER own-label
    * members (singleton labels drop out via the inner join — the
    * standard exclusion); b(i) is the min over other labels of the
    * mean distance to that label.
    *
    * Bounded ids = the q44/q81/q140 constant-work anchor shape
    * (O(n²) on 80 vectors); at corpus scale the production estimate is
    * the centroid-based simplified silhouette over q97's k-means fit —
    * one broadcast-centroid map pass, no pair join. */
  def q162LabelSilhouette(s: SparkSession, d: String): DataFrame =
    labelSilhouette(graft.Tables.embeddings(s, d).filter(col("vec_id") < 80))

  /** q162 core over any (vec_id, label, embedding) frame — split out
    * for planted-geometry tests. */
  def labelSilhouette(embs: DataFrame): DataFrame = {
    val e = embs.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val a = e.select(col("vec_id").as("id_a"), col("label").as("l_a"),
      col("e").as("e_a"))
    val b = e.select(col("vec_id").as("id_b"), col("label").as("l_b"),
      col("e").as("e_b"))
    // ordered pairs (i, j≠i): every point sees every other exactly once
    // localCheckpoint: aDist and bDist both consume the O(n²) distance
    // join — uncached, the pair cosines were computed twice per run
    // (round-14 review); the per-(point, label) digest is tiny
    val perLabel = a.join(b, col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("l_a"), col("l_b"),
        (lit(1.0) - cosine(col("e_a"), col("e_b"))).as("dist"))
      .groupBy(col("id_a"), col("l_a"), col("l_b"))
      .agg(avg(col("dist")).as("mean_dist"))
      .localCheckpoint()
    val aDist = perLabel.filter(col("l_a") === col("l_b"))
      .select(col("id_a"), col("l_a"), col("mean_dist").as("a_dist"))
    val bDist = perLabel.filter(col("l_a") =!= col("l_b"))
      .groupBy(col("id_a")).agg(min(col("mean_dist")).as("b_dist"))
    aDist.join(bDist, Seq("id_a"))
      .select(col("l_a").as("label"),
        ((col("b_dist") - col("a_dist")) /
          greatest(col("a_dist"), col("b_dist"))).as("sil"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
           round(avg(col("sil")), 6).as("mean_silhouette"))
      .orderBy(col("label"))
  }

  val q162Sql: String =
    """WITH e AS (
      | SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 80
      |), per_label AS (
      | SELECT a.vec_id AS id_a, a.label AS l_a, b.label AS l_b,
      |   avg(1 - list_cosine_similarity(a.embedding, b.embedding)) AS mean_dist
      | FROM e a JOIN e b ON a.vec_id <> b.vec_id
      | GROUP BY 1, 2, 3
      |), a_dist AS (
      | SELECT id_a, l_a, mean_dist AS a_dist FROM per_label WHERE l_a = l_b
      |), b_dist AS (
      | SELECT id_a, min(mean_dist) AS b_dist FROM per_label
      | WHERE l_a <> l_b GROUP BY 1
      |)
      |SELECT l_a AS label, CAST(count(*) AS BIGINT) AS n_points,
      |  round(avg((b_dist - a_dist) / greatest(a_dist, b_dist)), 6)
      |    AS mean_silhouette
      |FROM a_dist JOIN b_dist USING (id_a)
      |GROUP BY 1 ORDER BY label""".stripMargin

  /** q174: DIMENSION-TRUNCATION RECALL — the storage-reduction eval a
    * 100 TB embedding store runs before committing to Matryoshka-style
    * prefix truncation: recall@k of exact cosine search over only the
    * FIRST d dimensions vs full-dimension exact, per d. Prefix
    * truncation divides both the vector bytes scanned and the ANN
    * index size by dim/d; this measures what that costs in recall on
    * the actual corpus (the q126 recall-sweep discipline applied to
    * the dimension knob instead of nprobe).
    *
    * Scale shape: the bounded query set broadcasts (q126's recipe);
    * the corpus is scanned ONCE, each (query, vec) pair scoring every
    * truncation level in the same projection (slice + codegen'd
    * cosine per level — levels × dim flops per pair, no extra pass);
    * every ranking works off that one scored frame. Full-dim recall
    * is 1.0 by construction, which the spec pins along with the
    * planted prefix-informative case. Rows-only (per-level top-k
    * ranking is this engine's own seed-free construction; expressible
    * in SQL only as a 4-way self-join DuckDB times out on at sf). */
  def q174TruncationRecall(s: SparkSession, d: String): DataFrame =
    truncationRecall(emb(s, d).select(col("vec_id"), col("e")))

  /** q174's ranking core, LAZY: the top-k ids per (level, query) under
    * every truncation level's cosine ranking, where level -1 is the
    * full-dimension exact baseline. Split out so the plan audit can
    * dump the single-window shape without running the collect.
    *
    * r20 (guide §2.4 — share one exchange): the old form ran
    * len(dims)+1 SEPARATE row_number windows over the cached per-pair
    * score frame — one full exchange + sort + window job per level.
    * Now the scored frame unpivots to (level, qid, vec_id, sim) rows
    * map-side (posexplode of a levels array — rows ×(len(dims)+1) but
    * only 4 narrow columns, guide §2.3) and ONE window partitioned by
    * (level, qid) ranks every level in a single exchange + sort. The
    * per-(level, query) ordering — sim desc, vec_id asc over the
    * identical sim values — is unchanged, so the selected top-k sets
    * are identical row-for-row. */
  private[graft] def truncationTopK(vecs: DataFrame, nQueries: Int,
                                    dims: Seq[Int], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    // the exact baseline ranks the UNTRUNCATED vectors — dims.max
    // standing in for "full" would silently grade every level against
    // a truncated ranking whenever the caller's dims list excludes the
    // true dimension (round-12 review). Levels at or beyond the true
    // dimension ARE the full cosine (slice past the end is identity),
    // so they alias sim_full instead of recomputing it per pair.
    // max over the corpus, not an arbitrary first row: a malformed
    // short embedding landing in head() would alias every level to
    // sim_full and grade nothing (round-12 review); empty input falls
    // back to dims.max so the function still returns its empty grid
    val trueDim = Option(vecs.agg(max(size(col("e")))).head().get(0))
      .map(_.asInstanceOf[Int]).getOrElse(dims.max)
    val scored = vecs.filter(col("vec_id") >= nQueries)
      .crossJoin(broadcast(queries))
      .withColumn("sim_full", cosine(col("e"), col("qe")))
    // level -1 = the full-dim exact baseline (dims are positive by
    // contract: a 0-dim slice has no cosine)
    val levels = struct(lit(-1).as("lvl"), col("sim_full").as("sim")) +:
      dims.map { dd =>
        val sim = if (dd >= trueDim) col("sim_full")
                  else cosine(slice(col("e"), 1, dd), slice(col("qe"), 1, dd))
        struct(lit(dd).as("lvl"), sim.as("sim"))
      }
    val long = scored
      .select(col("qid"), col("vec_id"), explode(array(levels: _*)).as("lv"))
      .select(col("qid"), col("vec_id"),
        col("lv.lvl").as("lvl"), col("lv.sim").as("sim"))
    val w = Window.partitionBy(col("lvl"), col("qid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    long.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("lvl"), col("qid"), col("vec_id"))
  }

  def truncationRecall(vecs: DataFrame, nQueries: Int = 8,
                       dims: Seq[Int] = Seq(8, 16, 32, 64),
                       k: Int = 10): DataFrame = {
    val s = vecs.sparkSession
    val queries = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    // the corpus scan + levels × cosine cross-join runs ONCE, into a
    // checkpointed (level, qid, vec_id) top-k digest of ≤
    // (len(dims)+1) × nQueries × k rows; every grading join below
    // reads that digest, not the per-pair frame (the old form cached
    // the full per-pair score frame and window-scanned it per level)
    val topk = truncationTopK(vecs, nQueries, dims, k).localCheckpoint()
    try {
      val exact = topk.filter(col("lvl") === -1).select(col("qid"), col("vec_id"))
      val perDim = topk.filter(col("lvl") =!= -1)
        .select(col("lvl").as("dims"), col("qid"), col("vec_id"))
      val nExact = exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      // the full (qid × dims) grid, so a zero-match (query, level) cell
      // counts as recall 0 instead of silently dropping out of the mean
      // (q126's r9-ADVICE denominator discipline)
      val grid = queries.select(col("qid"), explode(typedLit(dims)).as("dims"))
      val matches = perDim.join(exact, Seq("qid", "vec_id"))
        .groupBy(col("dims"), col("qid")).agg(count(lit(1)).as("n_match"))
      val out = grid.join(matches, Seq("dims", "qid"), "left").na.fill(0L, Seq("n_match"))
        .join(nExact, Seq("qid"), "left").na.fill(0L, Seq("n_exact"))
        .select(col("dims"),
          when(col("n_exact") === 0, lit(1.0))
            .otherwise(col("n_match").cast("double") / col("n_exact")).as("recall"))
        .groupBy(col("dims"))
        .agg(count(lit(1)).as("n_queries"),
             round(avg(col("recall")), 4).as("mean_recall"),
             round(min(col("recall")), 4).as("min_recall"))
        .orderBy(col("dims"))
      // bounded digest (one row per level): materialize and release the
      // checkpointed top-k digest before returning — release in a
      // finally so a failed/cancelled collect cannot pin the blocks for
      // the rest of the session (the bpeTrain discipline)
      val rows = out.collect().toSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    } finally
      org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(topk)
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q40_cosine_topk", q40CosineTopK _, Some(q40Sql)),
    ("q41_ann_lsh", q41AnnLsh _, Some(q41Sql)),
    ("q42_embed_neardup", q42EmbedNearDup _, Some(q42Sql)),
    ("q56_quantized_topk", q56QuantizedTopK _, Some(q56Sql)),
    ("q76_semantic_diversity", q76SemanticDiversity _, Some(q76Sql)),
    ("q86_centroid_outliers", q86CentroidOutliers _, Some(q86Sql)),
    ("q89_hard_negatives", q89HardNegatives _, Some(q89Sql)),
    ("q136_dim_stats", q136DimStats _, Some(q136Sql)),
    ("q140_label_separation", q140LabelSeparation _, Some(q140Sql)),
    ("q162_label_silhouette", q162LabelSilhouette _, Some(q162Sql)),
    ("q174_truncation_recall", q174TruncationRecall _, None),
  )
}
