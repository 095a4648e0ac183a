package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Distributed clustering + semantic dedup over the embeddings table
  * (SURVEY §2.9 — the SemDeDup-style curation family).
  *
  * Two operators:
  *
  *  - q97: DISTRIBUTED Lloyd's k-means. The IVF quantizer
  *    (`Ivf.trainCentroids`) trains on a driver-bounded sample — right
  *    for a coarse ANN quantizer, but a curation pipeline also needs
  *    the full-corpus variant where every vector votes (cluster sizes
  *    and within-cluster dispersion feed downstream dedup/triage
  *    decisions, so they must be exact, not sample-estimated). Here
  *    each Lloyd's iteration is ONE distributed aggregation pass:
  *    map-side nearest-centroid assignment against broadcast-literal
  *    centroids (codegen'd `NearestCentroid`), then a partial-aggregated
  *    (cluster, dim) scalar shuffle — k·dim rows ≈ KB — collected to
  *    the driver to form the next centroids. Per-iteration driver
  *    traffic is O(k·dim), INDEPENDENT of corpus size; the vectors
  *    themselves are scanned once per iteration and shuffled never.
  *    Seeding is farthest-point (k bounded corpus passes, each a
  *    1-row TakeOrdered reduction) — deterministic, layout-independent,
  *    and immune to the collapsed-seed failure a hash-prefix sample
  *    can hit when the corpus has tight clusters.
  *
  *  - q98: SEMANTIC DEDUP (greedy): drop any vector that has a
  *    smaller-id neighbor with cosine ≥ τ. The oracle anchor runs the
  *    exact quadratic rule on a bounded id range (DuckDB-hashable);
  *    the production path `semanticDedupClustered` restricts candidate
  *    pairs to k-means cluster-mates — the SemDeDup shape: pair cost
  *    falls from n² to Σ nᵢ², and the pair join carries only
  *    (vec_id, cluster, unit-vector) with cluster-local shuffle keys.
  *    Cross-cluster near-dup pairs are the documented recall trade;
  *    tests pin planted-duplicate recall and τ-monotonicity.
  *
  * Cosine parity with the DuckDB oracle: both engines fold the arrays
  * sequentially in double precision (see Similarity.cosine); the
  * threshold compares round(cos, 6) on BOTH sides so a last-ulp
  * disagreement cannot flip a borderline pair.
  */
object Cluster {

  val K = 8
  val Iters = 4
  val SemDedupTau = 0.30

  private def emb(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddingVectors(s, d)

  /** Farthest-point seeding: seed 1 is the min-content-hash vector
    * (layout-unbiased, like Ivf.sampleVectors); each further seed is
    * the vector farthest from the chosen set (hash tie-break). k−1
    * bounded corpus passes, each returning ONE row to the driver. */
  private[ops] def farthestPointSeeds(vecs: DataFrame, k: Int): Array[Array[Double]] = {
    val first = vecs.select(col("e")).orderBy(xxhash64(col("e")), col("e").cast("string"))
      .limit(1).collect()(0).getSeq[Double](0).toArray
    val seeds = scala.collection.mutable.ArrayBuffer(first)
    while (seeds.length < k) {
      val next = vecs
        .select(col("e"), graft.functions.NativeExprs.minSqDist(col("e"), seeds.toArray).as("d2"))
        .orderBy(col("d2").desc, xxhash64(col("e")).asc)
        .limit(1).collect()(0)
      if (next.getDouble(1) == 0.0) return seeds.toArray // < k distinct vectors
      seeds += next.getSeq[Double](0).toArray
    }
    seeds.toArray
  }

  final case class KmeansModel(centroids: Array[Array[Double]], costs: Seq[Double])

  /** Distributed Lloyd's: `iters` passes, each ONE aggregation job.
    * The (cluster, dim) grouped sums ride the same shuffle as the
    * cluster counts and the assignment cost (cost keys on dim 0 so the
    * ×dim explode doesn't multiply it). Empty clusters keep their
    * previous centroid, like Ivf.kmeansFit. `costs(t)` is the total
    * squared distance to the centroids USED for iteration t's
    * assignment — non-increasing in t by Lloyd's argument, which
    * ClusterSpec pins. */
  def kmeansDistributed(vecsIn: DataFrame, k: Int = K, iters: Int = Iters): KmeansModel = {
    // every job this fit runs (guard, seeding passes, Lloyd
    // iterations) is a digest reduction — they run on the AQE-off
    // clone (IterFit scaladoc); the model returns as plain arrays, so
    // nothing the caller sees is session-rebound
    val vecs = IterFit.rebindNoAqe(vecsIn)
    // the malformed-embedding guard belongs HERE, not per caller
    // (round-13 review; round 12 had guarded only q171's scoring
    // frame): a wrong-dimension array makes nearestCentroid return
    // null and the driver fold below NPE on getInt — crashing every
    // fit consumer (q97/q168/q171) on one bad row — and it must run
    // BEFORE seeding too, or a malformed min-hash row becomes seed 1
    // and poisons the model dimension itself. The model dimension is
    // the corpus's DOMINANT embedding length (one tiny agg job).
    // NULL embeddings are the guard's job too (size(NULL) is NULL — a
    // dominant null group would NPE the getInt below), as is the
    // empty frame (bare head() throws an opaque NoSuchElementException
    // where a named precondition belongs).
    // Fusing evaluated and REJECTED (round-14, closing the r13 ask):
    // the probe must complete before SEEDING (a malformed seed poisons
    // the model dimension), and seeding is the first other pass — the
    // NearestCentroid assignment loop the ask suggested fusing into
    // runs after it. This is necessarily the pipeline's first job;
    // its ~0.3 s at sf0.1 is the price of not fitting on garbage.
    val top = vecs.filter(col("e").isNotNull)
      .groupBy(size(col("e")).as("d")).count()
      .orderBy(col("count").desc, col("d").asc).head(1)
    require(top.nonEmpty,
      "kmeansDistributed: no non-null embeddings to fit a model on")
    val dim = top(0).getInt(0)
    // persisted for the fit's lifetime (r19 optimization): seeding is
    // k−1 full passes and each Lloyd iteration one more — uncached,
    // every pass re-reads parquet and re-casts float→double (measured
    // ~0.16 s/pass at sf0.1; at scale it re-reads the corpus). The
    // cache holds only (vec_id, e) and is released before returning,
    // so the fit leaves no storage footprint behind (MEMORY_AND_DISK:
    // spills, never OOMs).
    val clean = vecs.filter(col("e").isNotNull && size(col("e")) === dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    var cents = farthestPointSeeds(clean, k)
    require(cents(0).length == dim, "seeding must follow the guard")
    val costs = scala.collection.mutable.ArrayBuffer[Double]()
    var it = 0
    while (it < iters) {
      val assigned = clean.select(
        graft.functions.NativeExprs.nearestCentroid(col("e"), cents).as("c"),
        graft.functions.NativeExprs.minSqDist(col("e"), cents).as("d2"),
        col("e"))
      val rows = assigned
        .select(col("c"), col("d2"), posexplode(col("e")).as(Seq("dim", "x")))
        .groupBy(col("c"), col("dim"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"),
          sum(when(col("dim") === 0, col("d2"))).as("cost0"))
        .collect()
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      var cost = 0.0
      rows.foreach { r =>
        val c = r.getInt(0); val dm = r.getInt(1)
        sums(c)(dm) = r.getDouble(2)
        if (dm == 0) { counts(c) = r.getLong(3); cost += r.getDouble(4) }
      }
      costs += cost
      cents = cents.indices.map { c =>
        if (counts(c) == 0L) cents(c) else sums(c).map(_ / counts(c))
      }.toArray
      it += 1
    }
    KmeansModel(cents, costs.toSeq)
    } finally clean.unpersist()
  }

  /** q97: full-corpus k-means summary — per-cluster exact size and
    * mean squared distance under the final model. Rows-only (iterative
    * refinement is not SQL-expressible); ClusterSpec pins cost
    * monotonicity, planted-blob recovery, determinism, and the
    * sizes-sum-to-corpus invariant. */
  def q97Kmeans(s: SparkSession, d: String): DataFrame = {
    val vecs = emb(s, d).select(col("vec_id"), col("e"))
    val m = kmeansDistributed(vecs)
    vecs.select(
      graft.functions.NativeExprs.nearestCentroid(col("e"), m.centroids).as("cluster"),
      graft.functions.NativeExprs.minSqDist(col("e"), m.centroids).as("d2"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("d2")), 6).as("mean_sq_dist"))
      .orderBy(col("cluster"))
  }

  // ---------------------------------------------------------------- q98

  /** Unit-normalized (vec_id, u) frame — [[Similarity.unitVectors]]'s
    * zero-norm guard, single-sourced there (round-13 review: this was
    * a third copy of the normalize+filter logic, and a changed
    * zero-norm policy would have silently diverged q98 from q76/q86). */
  private def unit(vecs: DataFrame): DataFrame =
    Similarity.unitVectors(vecs, "vec_id")

  /** Greedy semantic dedup on an explicit candidate-pair frame
    * (id_a < id_b, cos ≥ τ already applied): a vector is kept iff no
    * smaller-id candidate neighbor exists. Output (vec_id, kept). */
  private def applyGreedy(ids: DataFrame, dropped: DataFrame): DataFrame =
    ids.join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("hit").isNull.as("kept"))
      .orderBy(col("vec_id"))

  /** Exact quadratic semantic dedup — the oracle anchor. Bounded input
    * only: the pair space is |vecs|². */
  def semanticDedupBrute(vecs: DataFrame, tau: Double): DataFrame = {
    val un = unit(vecs)
    val a = un.select(col("vec_id").as("id_a"), col("u").as("ua"))
    val b = un.select(col("vec_id").as("id_b"), col("u").as("ub"))
    val dropped = a.join(b, col("id_a") < col("id_b"))
      .filter(round(graft.functions.NativeExprs.cosineSim(col("ua"), col("ub")), 6) >= tau)
      .select(col("id_b").as("vec_id")).distinct()
    applyGreedy(un.select(col("vec_id")), dropped)
  }

  /** SemDeDup production path: candidate pairs restricted to k-means
    * cluster-mates. The join key is the cluster id, so the shuffle is
    * cluster-local and the pair cost is Σ nᵢ² — the 100 TB shape when
    * k scales with corpus size (n/k vectors per cluster). Cross-cluster
    * pairs are the accepted recall trade (tests measure it). */
  def semanticDedupClustered(vecs: DataFrame, cents: Array[Array[Double]],
                             tau: Double): DataFrame = {
    val un = unit(vecs)
      .withColumn("cl", graft.functions.NativeExprs.nearestCentroid(col("u"), cents))
    val a = un.select(col("cl"), col("vec_id").as("id_a"), col("u").as("ua"))
    val b = un.select(col("cl"), col("vec_id").as("id_b"), col("u").as("ub"))
    val dropped = a.join(b, Seq("cl"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(graft.functions.NativeExprs.cosineSim(col("ua"), col("ub")), 6) >= tau)
      .select(col("id_b").as("vec_id")).distinct()
    applyGreedy(un.select(col("vec_id")), dropped)
  }

  /** q98: oracle anchor — exact rule on vec_id < 80. */
  def q98SemanticDedup(s: SparkSession, d: String): DataFrame =
    semanticDedupBrute(emb(s, d).filter(col("vec_id") < 80)
      .select(col("vec_id"), col("e")), SemDedupTau)

  val q98Sql: String =
    """WITH e AS (
      | SELECT vec_id,
      |        list_transform(ed, x -> x / sqrt(list_sum(list_transform(ed, y -> y*y)))) AS u
      | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
      |       FROM embeddings WHERE vec_id < 80)
      | WHERE sqrt(list_sum(list_transform(ed, y -> y*y))) > 0
      |), dropped AS (
      | SELECT DISTINCT b.vec_id
      | FROM e a JOIN e b ON a.vec_id < b.vec_id
      | WHERE round(list_cosine_similarity(a.u, b.u), 6) >= 0.30
      |)
      |SELECT e.vec_id, (d.vec_id IS NULL) AS kept
      |FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id
      |ORDER BY e.vec_id""".stripMargin

  // ---------------------------------------------------------------- q168

  /** q168: SIMPLIFIED (CENTROID) SILHOUETTE over the FULL corpus —
    * the production-scale twin q162's bounded exact anchor promises:
    * instead of O(n²) pair distances, each vector measures its L2
    * distance to every centroid of q97's k-means fit (a broadcast
    * literal), takes nearest (a) and second-nearest (b), and scores
    * s = (b−a)/max(a,b) (Hruschka et al.'s simplified silhouette —
    * upper-bounds the exact coefficient since centroid distance
    * underestimates mean member distance for the own cluster most).
    * Reported per assigned cluster.
    *
    * Scale shape: after the (driver-budgeted) k-means fit, ONE
    * map-side pass over the corpus — the K distances are a literal
    * array per row, no join, no pair explosion; the only exchange is
    * the ≤K-row digest aggregation. Rows-only (iterative k-means is
    * not SQL-expressible); ClusterSpec pins planted-blob geometry:
    * well-separated blobs ≈ 1, one blob force-split ≈ 0. */
  def q168SilhouetteApprox(s: SparkSession, d: String): DataFrame =
    silhouetteApprox(emb(s, d).select(col("vec_id"), col("e")))

  def silhouetteApprox(vecs: DataFrame, k: Int = K): DataFrame = {
    val m = kmeansDistributed(vecs, k)
    require(m.centroids.length >= 2,
      s"silhouette needs >= 2 clusters, fit found ${m.centroids.length}")
    // all-centroid L2 distances in ONE codegen'd kernel call (r19: was
    // K interpreted HOF chains per row); same fold order + math.sqrt ⇒
    // bit-identical values
    val dists = graft.functions.NativeExprs.centroidDists(col("e"), m.centroids, sqrt = true)
    vecs
      .select(
        graft.functions.NativeExprs.nearestCentroid(col("e"), m.centroids).as("cluster"),
        array_sort(dists).as("ds"))
      .select(col("cluster"),
        // a point sitting exactly on two centroids is perfectly
        // ambiguous: s = 0 by convention (also guards 0/0)
        when(element_at(col("ds"), 2) > 0.0,
          (element_at(col("ds"), 2) - element_at(col("ds"), 1)) /
            greatest(element_at(col("ds"), 1), element_at(col("ds"), 2)))
          .otherwise(lit(0.0)).as("sil"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
           round(avg(col("sil")), 6).as("mean_silhouette"))
      .orderBy(col("cluster"))
  }

  // ---------------------------------------------------------------- q171

  /** Per-cluster sample size for the sampled silhouette: 32 keeps the
    * broadcast K×32×dim sample at a few hundred KB and the estimator's
    * per-cluster standard error around 1/√32 ≈ 0.18 of the distance
    * spread — tight enough to separate "compact" from "wide" clusters,
    * which is what the audit is for. */
  val SilhouetteSampleN = 32

  /** q171: SAMPLED-PAIR SILHOUETTE — the middle rung of the anchor →
    * sample → centroid ladder (q162 exact on a bounded slice; q168
    * centroid-simplified on the full corpus). Estimates the EXACT
    * silhouette's a(i)/b(i) — mean distance to a cluster's MEMBERS,
    * not to its centroid — against a bounded per-cluster sample, so it
    * keeps the full-corpus scale shape while avoiding q168's known
    * bias (centroid distance underestimates mean member distance, so
    * q168 overestimates cohesion for WIDE clusters; ClusterSpec plants
    * that exact case).
    *
    * Sampling is the q117 portable-randomness recipe: u =
    * md5(vec_id)-derived uniform; per-cluster EXACT counts (one
    * map-side-combined agg) size a gate p_c = min(1, 4·m/n_c), and the
    * top-m by (u, vec_id) within the tiny gated pool are the sample —
    * deterministic, rerunnable, and the only window runs over the
    * pool (≤ ~4·m·K rows), never the corpus. Scoring is ONE map pass:
    * a codegen'd kernel sums distances to all K samples per row
    * ([[graft.functions.NativeExprs.sampleDistSums]]), a(i)
    * self-excludes sampled rows, b(i) is the min over other clusters,
    * s = (b−a)/max(a,b), with s = 0 for singleton/degenerate rows
    * (the standard convention). Rows-only: iterative k-means is not
    * SQL-expressible. */
  def q171SilhouetteSampled(s: SparkSession, d: String): DataFrame =
    silhouetteSampled(emb(s, d).select(col("vec_id"), col("e")))

  def silhouetteSampled(vecs: DataFrame, k: Int = K,
                        sampleN: Int = SilhouetteSampleN): DataFrame = {
    // persisted: the counts agg, the sampling pool, and the final
    // scoring all consume the assigned frame — uncached, each would
    // re-scan the corpus and re-run the K×dim assignment kernel
    // (round-12 review); released after the ≤K-row digest collects
    val (assigned, out) = buildSampledSilhouette(vecs, k, sampleN)
    try {
      val rows = out.collect().toSeq
      val s = vecs.sparkSession
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    } finally assigned.unpersist()
  }

  /** The lazy scoring plan behind [[silhouetteSampled]] (and the
    * cached assignment frame it references) — split out so
    * PlanShapeSpec can pin the join-free scoring shape; callers use
    * the public entry, which materializes the digest and releases the
    * cache. */
  private[graft] def buildSampledSilhouette(vecs: DataFrame, k: Int,
      sampleN: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val m = kmeansDistributed(vecs, k)
    require(m.centroids.length >= 2,
      s"silhouette needs >= 2 clusters, fit found ${m.centroids.length}")
    val kk = m.centroids.length
    val dim = m.centroids(0).length
    // malformed (wrong-dimension) embeddings are EXCLUDED outright:
    // nearestCentroid nulls their cluster (an NPE in the counts fold
    // otherwise — round-12 review), and SampleDistSums requires a
    // uniform sample dimensionality; the silhouette of a vector whose
    // dimensionality doesn't match the fit is undefined, not zero
    val assigned = vecs
      .filter(size(col("e")) === dim)
      .select(col("vec_id"), col("e"),
        graft.functions.NativeExprs.nearestCentroid(col("e"), m.centroids).as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a failure inside the builder's own collects must not strand the
    // cached frame (the truncationRecall finally discipline); success
    // hands the live handle to the caller, who releases it
    try {
    // exact per-cluster counts: one map-side-combined agg, ≤ K rows
    val cnts = new Array[Long](kk)
    assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .collect().foreach(r => cnts(r.getInt(0)) = r.getLong(1))
    // portable uniform in [0,1): the q117 md5 recipe, salted so this
    // query's sample is independent of any other md5-gated split
    val u = conv(substring(md5(concat(col("vec_id").cast("string"), lit(":sil"))),
        1, 8), 16, 10).cast("double") / lit(4294967296.0)
    val gates = cnts.map(n =>
      if (n == 0L) 0.0 else math.min(1.0, 4.0 * sampleN / n.toDouble)).toSeq
    val pool = assigned
      .withColumn("u", u)
      .filter(col("u") < element_at(typedLit(gates), col("cluster") + 1))
    val wPool = Window.partitionBy(col("cluster")).orderBy(col("u"), col("vec_id"))
    val sampleRows = pool.withColumn("rk", row_number().over(wPool))
      .filter(col("rk") <= sampleN)
      .select(col("cluster"), col("vec_id"), col("e"))
      .collect() // bounded: ≤ K × sampleN rows
    val samples = Array.fill(kk)(scala.collection.mutable.ArrayBuffer[Array[Double]]())
    val sampleIds = Array.fill(kk)(scala.collection.mutable.ArrayBuffer[Long]())
    sampleRows.foreach { r =>
      samples(r.getInt(0)) += r.getSeq[Double](2).toArray
      sampleIds(r.getInt(0)) += r.getLong(1)
    }
    val sCnts = typedLit(samples.map(_.length.toDouble).toSeq)
    val idsLit = typedLit(sampleIds.map(_.toSeq).toSeq)
    val sums = graft.functions.NativeExprs.sampleDistSums(
      col("e"), samples.map(_.toArray))
    val idx = col("cluster") + 1
    val inSample = array_contains(element_at(idsLit, idx), col("vec_id"))
    val ownCnt = element_at(sCnts, idx) -
      when(inSample, lit(1.0)).otherwise(lit(0.0))
    val aCol = when(ownCnt > 0, element_at(col("sums"), idx) / ownCnt)
    // mean distance to every OTHER cluster's sample; own + empty
    // clusters masked to +inf so array_min skips them
    val bCol = array_min(zip_with(col("sums"),
      typedLit((0 until kk).map(_.toDouble)),
      (sm, i) => when(i === col("cluster").cast("double"), lit(Double.MaxValue))
        .otherwise(when(element_at(sCnts, i.cast("int") + 1) > 0,
          sm / element_at(sCnts, i.cast("int") + 1)).otherwise(lit(Double.MaxValue)))))
    val out = assigned
      .withColumn("sums", sums)
      .withColumn("a", aCol)
      .withColumn("b", bCol)
      .select(col("cluster"),
        when(col("a").isNull || col("b") === lit(Double.MaxValue) ||
            greatest(col("a"), col("b")) <= 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b")))
          .as("sil"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
           round(avg(col("sil")), 6).as("mean_silhouette"))
      .orderBy(col("cluster"))
    (assigned, out)
    } catch { case t: Throwable => assigned.unpersist(); throw t }
  }

  def queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q97_kmeans", q97Kmeans _, None),
    ("q98_semantic_dedup", q98SemanticDedup _, Some(q98Sql)),
    ("q168_silhouette_approx", q168SilhouetteApprox _, None),
    ("q171_silhouette_sampled", q171SilhouetteSampled _, None))
}
