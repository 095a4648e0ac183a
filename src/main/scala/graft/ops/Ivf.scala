package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-
  * quantization scale path complementing the LSH variant in Similarity:
  *
  *  1. TRAIN: Lloyd's k-means on a DRIVER-BUDGETED sample (≤ SampleN
  *     vectors collected once — constant cost at any corpus size; the
  *     sample is statistically sufficient for a coarse quantizer). The
  *     model is k×dim doubles — kilobytes — compiled into the plan as
  *     expression-static data. No distributed training passes at all:
  *     at 100 TB the corpus is touched exactly once, by the assignment
  *     map (vs 10 full KMeans iterations in the naive formulation).
  *  2. INDEX: every vector assigned to its nearest centroid via the
  *     codegen'd [[graft.functions.NearestCentroid]] expression
  *     (map-only, whole-stage codegen). For repeated querying,
  *     [[writeIndex]] persists the corpus PARTITIONED BY cluster id,
  *     so probes become partition-pruned scans on disk — only
  *     nprobe/k of the data is ever read (IvfSpec asserts the
  *     PartitionFilters in the probe plan).
  *  3. QUERY: rank centroids against the query on the driver (k rows,
  *     O(1)), scan only the nprobe nearest clusters, exact cosine
  *     re-rank with the query vector as a plan literal — the plan is
  *     filter → project → TakeOrderedAndProject, zero shuffles.
  *
  * nprobe = k degrades gracefully to exact brute force — SimilaritySpec
  * asserts that equivalence, which pins the whole path's correctness.
  */
object Ivf {

  val K = 16
  val NProbe = 4
  val SampleN = 4096   // driver training budget (vectors collected)
  val Iters = 10

  /** Lloyd's k-means, pure Scala, seeded — runs on the driver over the
    * bounded sample (≤ SampleN × dim doubles; trivial CPU). Empty
    * clusters keep their previous centroid. */
  private[graft] def kmeansFit(points: Array[Array[Double]], k: Int,
                             iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs a non-empty sample")
    val dim = points(0).length
    val rnd = new scala.util.Random(seed)
    val kk = math.min(k, points.length)
    var cents = rnd.shuffle(points.indices.toVector).take(kk)
      .map(i => points(i).clone()).toArray

    def nearest(p: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var s = 0.0; var i = 0
        while (i < dim) { val d = cents(c)(i) - p(i); s += d * d; i += 1 }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      best
    }

    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      points.foreach { p =>
        val c = nearest(p)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += p(i); i += 1 }
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c))
      }.toArray
      it += 1
    }
    cents
  }

  /** Bounded, deterministic, layout-UNBIASED vector sample: take the
    * sampleN rows with the smallest content hash. A bare limit() would
    * grab a partition prefix — on a corpus written sorted/partitioned
    * by some attribute that prefix covers one region of the embedding
    * space and the quantizer collapses. Hash order ≈ uniform random,
    * is independent of file layout, and plans as TakeOrderedAndProject
    * (per-partition heaps — no global sort, one scan). */
  private[ops] def sampleVectors(df: DataFrame, sampleN: Int): Array[Array[Double]] = {
    // degenerate-row guard (round-14 review, the kmeansDistributed
    // discipline): a null embedding in the sample NPE'd .toArray and a
    // ragged one AIOOBE'd kmeansFit's distance loop — one bad corpus
    // row killed every IVF training entry point, where the query paths
    // degrade per-row. Dominant length decided INSIDE the ≤sampleN
    // driver-side sample (no extra corpus job).
    val raw = df.select(col("e")).filter(col("e").isNotNull)
      .orderBy(xxhash64(col("e")))
      .limit(sampleN)
      .collect().map(_.getSeq[Double](0)).filter(_ != null).map(_.toArray)
    require(raw.nonEmpty, "sampleVectors: no non-null embeddings to train on")
    val dim = raw.groupBy(_.length).maxBy { case (l, v) => (v.length, -l) }._1
    raw.filter(_.length == dim)
  }

  /** Deterministic centroids from a bounded sample of the corpus.
    * The only driver-side data movement in the whole path: ≤ sampleN
    * rows, once — NOT a function of corpus size. */
  def trainCentroids(df: DataFrame, k: Int = K,
                     sampleN: Int = SampleN): Array[Array[Double]] = {
    kmeansFit(sampleVectors(df, sampleN), k, Iters, seed = 42L)
  }

  private[graft] def sqDist(a: Array[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def emb(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddingVectors(s, d)

  /** Centroid ids ranked by distance to the query, nearest first. */
  private def rankProbes(cents: Array[Array[Double]], qVec: Seq[Double],
                         nprobe: Int): Seq[Int] =
    cents.zipWithIndex.sortBy { case (c, _) => sqDist(c, qVec) }
      .take(nprobe).map(_._2).toSeq

  /** IVF top-k for the query vector (vec_id 0) probing nprobe clusters.
    * In-memory form: one bounded training collect, one O(1) query-row
    * lookup, one candidate scan. Repeated querying should amortize
    * training + assignment through writeIndex/probeIndex instead. */
  def ivfTopK(s: SparkSession, d: String, nprobe: Int, k: Int = 10): DataFrame = {
    val corpus = emb(s, d)
    val cents = trainCentroids(corpus)
    // driver-side O(1): the single query row and the k-row centroid rank
    val qRow = corpus.filter(col("vec_id") === 0).select(col("e")).head(1)
    require(qRow.nonEmpty, "query vector vec_id=0 absent from embeddings" +
      " — this query family anchors its probe on it (q40/q41 degrade to" +
      " empty instead; this one cannot rank probes without a query)")
    val qVec = qRow.head.getSeq[Double](0)
    val probes = rankProbes(cents, qVec, nprobe)
    val qe = typedLit(qVec)
    corpus
      .withColumn("cluster", graft.functions.NativeExprs.nearestCentroid(col("e"), cents))
      .filter(col("vec_id") =!= 0 && col("cluster").isin(probes: _*))
      .select(col("vec_id"), col("cluster"),
              round(Similarity.cosine(col("e"), qe), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // --- persisted index (the repeated-query / 100 TB shape) -----------

  /** Builds the on-disk IVF index ONCE: corpus written partitioned by
    * cluster id (one directory per inverted list), centroids spooled
    * alongside. Amortizes training + assignment over every subsequent
    * probe; probes then read only nprobe/k of the files. */
  def writeIndex(s: SparkSession, d: String, path: String, k: Int = K): Array[Array[Double]] =
    writeIndexOf(emb(s, d), path, k)

  /** [[writeIndex]] over an explicit corpus frame — the managed
    * lifecycle passes the exact file set its manifest records, so the
    * build can never index a file the manifest doesn't cover. */
  private[graft] def writeIndexOf(corpus: DataFrame, path: String,
                                  k: Int = K): Array[Array[Double]] = {
    val cents = trainCentroids(corpus, k)
    corpus
      .withColumn("cluster", graft.functions.NativeExprs.nearestCentroid(col("e"), cents))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)
    val lines = cents.map(_.mkString(",")).mkString("\n")
    // the sidecar goes through the SAME filesystem as the corpus (Hadoop
    // FS resolved from the index path) — a java.nio local write would
    // silently strand the centroids when the index lives on HDFS/S3
    val p = new org.apache.hadoop.fs.Path(path, CentroidsFile)
    val fs = p.getFileSystem(
      corpus.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(lines.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    cents
  }

  private val CentroidsFile = "_centroids.csv"

  /** Centroids persisted by [[writeIndex]] (small sidecar read through
    * the index path's own filesystem — local, HDFS, or object store). */
  def readCentroids(s: SparkSession, path: String): Array[Array[Double]] = {
    val p = new org.apache.hadoop.fs.Path(path, CentroidsFile)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(bytes) finally in.close()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").map(_.split(",").map(_.toDouble))
  }

  /** Probe a persisted index: partition-pruned scan of the nprobe
    * nearest inverted lists + exact cosine re-rank. The cluster filter
    * is a PARTITION filter — pruned before any file is opened. The
    * query vector is arbitrary (external); `excludeVecId` drops a
    * corpus-resident query row BEFORE the top-k cut (the q48
    * semantics). */
  def probeIndex(s: SparkSession, path: String, qVec: Seq[Double],
                 nprobe: Int, k: Int = 10,
                 excludeVecId: Option[Long] = None): DataFrame = {
    val cents = readCentroids(s, path)
    val probes = rankProbes(cents, qVec, nprobe)
    val qe = typedLit(qVec)
    val scan = s.read.parquet(path)
      .filter(col("cluster").isin(probes: _*))
    excludeVecId.fold(scan)(id => scan.filter(col("vec_id") =!= id))
      .select(col("vec_id"), col("cluster"),
              round(Similarity.cosine(col("e"), qe), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Rows-only query entry (IVF with default probes). */
  def q48IvfTopK(s: SparkSession, d: String): DataFrame =
    ivfTopK(s, d, NProbe)

  /** Index dir for source `d` at data fingerprint `fingerprint`
    * ([[IndexTables.dataFingerprint]] of `embeddings.parquet`). The
    * v-tag makes a layout change invalidate old on-disk indexes
    * instead of silently probing a stale format; the fingerprint does
    * the same for a rewritten source table. v2 adds the 8-hex PATH
    * digest: sanitization alone is lossy ('/a/sf0-1' and '/a/sf0_1'
    * collide), and two sources sharing a GC prefix would collect each
    * other's LIVE index on every alternating build. */
  private def indexDirName(d: String, fingerprint: String): String =
    "graft_ivf_index_v2_" + d.replaceAll("[^A-Za-z0-9.]", "_") +
      "_" + IndexTables.pathDigest(d) + "_" + fingerprint

  /** Root for persisted/managed indexes: Spark conf `graft.index.root`
    * if set, else the JVM temp dir — the only writable scratch in this
    * sandbox. Every lifecycle operation (build, probe, append,
    * compaction, crash recovery, GC) resolves its Hadoop FileSystem
    * from the resulting path. Build/probe/append/GC work on any Hadoop
    * filesystem; COMPACTION additionally requires atomic directory
    * rename and is gated to schemes that provide it (local, HDFS,
    * viewfs) — on an object store like S3A, where rename is copy +
    * delete, [[compactIndex]] is a no-op and inverted lists stay
    * fragmented until the next rebuild (see [[atomicRenameScheme]];
    * round-11 advice). */
  private def indexRoot(s: SparkSession): String =
    s.conf.getOption("graft.index.root").getOrElse(sys.props("java.io.tmpdir"))

  /** Best-effort GC of SUPERSEDED index builds for the same source
    * dir: fingerprint-keyed locations mean a rewritten corpus gets a
    * fresh index — and without this sweep the stale ones accumulate
    * unbounded. Runs only when a NEW index is about to be built (the
    * steady state never lists the root), deletes only siblings
    * matching this source dir's name prefix with a different
    * fingerprint, and swallows races — losing a delete race costs
    * disk, never correctness, because live probes resolve through
    * their own fingerprint path.
    *
    * A sibling is "this source's" only when it is a generation of
    * this source's prefix ([[IndexTables.generationOf]]: EXACTLY
    * prefix + a 16-hex fingerprint) — bare startsWith would let one
    * source dir whose sanitized name extends another's (`/data/sf0`
    * vs `/data/sf0_v2` → `..._data_sf0_` prefix-matches
    * `..._data_sf0_v2_<fp>`) GC the other's LIVE index on every
    * build (round-11 advice). The extended name's suffix carries its
    * own path remnant + '_' + its fingerprint, which is never 16 hex. */
  private def gcStaleIndexes(s: SparkSession, d: String,
                             keepFingerprint: String): Unit =
    try {
      val prefix = indexDirName(d, "")
      val keep = indexDirName(d, keepFingerprint)
      // retired v1 generation (pre-path-digest names): same sanitized
      // stem, no digest — sweep it too or a prior session's v1 index
      // leaks scratch disk forever (the IncrementalDedup v1 pattern)
      val retired = "graft_ivf_index_v1_" +
        d.replaceAll("[^A-Za-z0-9.]", "_") + "_"
      val root = new org.apache.hadoop.fs.Path(indexRoot(s))
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(root)
        .filter { st =>
          val n = st.getPath.getName
          (IndexTables.generationOf(prefix)(n) && n != keep) ||
            IndexTables.generationOf(retired)(n)
        }
        .foreach(st => fs.delete(st.getPath, true))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** q70: the PERSISTED-index probe, bench-visible — builds the
    * cluster-partitioned on-disk index once per sf dir (first call,
    * reused afterwards since training is seeded/deterministic), then
    * serves the q48 query as a partition-pruned scan of nprobe/K of
    * the corpus files. This is the repeated-query shape the in-memory
    * q48 amortizes into; rows-only, pinned by IvfSpec: probe ≡ q48
    * result-for-result, and PartitionFilters present in the scan. */
  def q70IvfProbeIndex(s: SparkSession, d: String): DataFrame = {
    val path = ensureIndex(s, d)
    val qRow = emb(s, d).filter(col("vec_id") === 0).select(col("e")).head(1)
    require(qRow.nonEmpty, "query vector vec_id=0 absent from embeddings" +
      " — q70 anchors its probe on it")
    val qVec = qRow.head.getSeq[Double](0)
    probeIndex(s, path, qVec, NProbe, excludeVecId = Some(0L))
  }

  /** Idempotent build-or-reuse of the persisted per-sf-dir index;
    * returns its path. Fingerprint-keyed: a regenerated corpus gets a
    * fresh build, stale siblings are GC'd. */
  def ensureIndex(s: SparkSession, d: String): String = {
    val fp = IndexTables.dataFingerprint(s, d, "embeddings.parquet")
    val path = new org.apache.hadoop.fs.Path(
      indexRoot(s), indexDirName(d, fp)).toString
    val cFile = new org.apache.hadoop.fs.Path(path, CentroidsFile)
    val fs = cFile.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(cFile)) {
      gcStaleIndexes(s, d, keepFingerprint = fp)
      writeIndex(s, d, path)
    }
    path
  }

  // --- managed index: drift-gated incremental lifecycle (r9 ask #6) --

  /** Train-time per-dimension (mean, sd) profile sidecar. */
  private val DimStatsFile = "_dimstats.csv"

  /** File manifest at last sync: which source files the index covers. */
  private val ManifestFile = "_manifest.txt"

  /** Append-intent sidecar: the manifest an in-flight append is about
    * to commit. Written BEFORE the appended data, deleted only after
    * the manifest records it — so a crash anywhere inside the append
    * window leaves the intent dangling, and the next sync can SEE that
    * the index may hold vectors the manifest doesn't cover (the
    * double-index hazard: re-classifying those files as un-appended
    * would assign and append them a second time, silently duplicating
    * every probe result for them). A dangling intent whose content
    * differs from the manifest degrades to a full rebuild, mirroring
    * the torn-manifest handling; an intent that EQUALS the manifest
    * means the append fully committed and only the cleanup was lost —
    * it is deleted and the sync proceeds normally. */
  private val IntentFile = "_intent.txt"

  /** Rebuild when new data's per-dim mean shifts by at least this many
    * TRAIN-TIME stddevs on any dimension (or any dimension flips
    * dead↔alive): below it the trained coarse quantizer still
    * partitions the new data sensibly and append-assign preserves
    * probe quality; above it inverted lists go lopsided and recall
    * decays — that's a quantizer problem, not an assignment problem. */
  val DriftRebuildSds = 0.5

  /** Per-dimension (mean, sd) of an embeddings frame — the q136 digest
    * (Similarity.dimStats), unrounded, collected: dim rows, driver-
    * bounded like the centroids themselves. One combined map-side
    * pass; the exchange carries dim × tasks scalar partials. */
  private[graft] def dimProfile(embs: DataFrame): Array[(Double, Double)] =
    dimProfileWithCount(embs)._1

  /** The per-dim profile PLUS the batch row count, from one
    * aggregation: syncIndex's append path needs both, and a separate
    * newDf.count() was a second full scan of every appended drop —
    * the exact per-drop cost the append path exists to minimize
    * (round-13 review). The count is the max per-dim row count, which
    * equals the vector count for any uniform-dimension batch. */
  private[graft] def dimProfileWithCount(
      embs: DataFrame): (Array[(Double, Double)], Long) = {
    val rows = embs
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(avg(col("v")).as("m"),
           coalesce(stddev_samp(col("v")), lit(0.0)).as("sd"),
           count(lit(1)).as("n"))
      .orderBy(col("pos"))
      .collect()
    (rows.map(r => (r.getDouble(1), r.getDouble(2))),
      if (rows.isEmpty) 0L else rows.map(_.getLong(3)).max)
  }

  /** (max per-dim normalized mean shift, dead→alive flips, alive→dead
    * flips) between the train-time profile and a batch of new data.
    * Shift is measured in train-time stddevs (floored at the dead-dim
    * threshold so a near-constant dimension can't divide by ~0). The
    * two flip directions are reported SEPARATELY because their
    * evidential weight differs with sample size: observed variance on
    * a trained-dead dim is positive evidence at any n, while absence
    * of variance on a trained-alive dim is only meaningful when the
    * batch is large enough to have witnessed it (the caller gates). */
  def geometryDrift(train: Array[(Double, Double)],
                    current: Array[(Double, Double)]): (Double, Int, Int) = {
    require(train.length == current.length,
      s"dimension count changed: trained ${train.length}, incoming ${current.length}")
    var maxShift = 0.0
    var deadToAlive = 0
    var aliveToDead = 0
    var i = 0
    while (i < train.length) {
      val (tm, tsd) = train(i); val (cm, csd) = current(i)
      maxShift = math.max(maxShift,
        math.abs(cm - tm) / math.max(tsd, Similarity.DeadDimSd))
      val tDead = tsd < Similarity.DeadDimSd
      val cDead = csd < Similarity.DeadDimSd
      if (tDead && !cDead) deadToAlive += 1
      if (!tDead && cDead) aliveToDead += 1
      i += 1
    }
    (maxShift, deadToAlive, aliveToDead)
  }

  /** One managed-index location per source dir (its own prefix — the
    * fingerprint-keyed q70 GC sweep must never collect it). The name
    * carries BOTH a readable sanitized form and an 8-hex path hash:
    * sanitization alone is lossy ('/a/sf0-1' and '/a/sf0_1' collide),
    * and two sources sharing one managed dir would rebuild-thrash and
    * cross-serve each other's corpora. */
  private def managedIndexPath(s: SparkSession, d: String): String =
    new org.apache.hadoop.fs.Path(indexRoot(s),
      "graft_ivf_managed_v1_" + d.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + IndexTables.pathDigest(d)).toString

  /** Source file listing as (path, len, mtime) entries. */
  private def listSource(s: SparkSession, d: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$d/embeddings.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      if (!st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        out += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    out.sortBy(_._1).toSeq
  }

  private def writeSidecar(s: SparkSession, path: String, name: String,
                           text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** EXISTENCE of a sidecar, distinct from readability: [[readSidecar]]
    * maps a torn/unreadable file to None, which is the right degrade
    * for contents but would let a half-written INTENT file pass as
    * absent — the one state where absence and unreadability must not
    * be conflated (a dangling intent, readable or not, means the
    * append window was entered and never provably exited). */
  private def sidecarExists(s: SparkSession, path: String, name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  private def deleteSidecar(s: SparkSession, path: String, name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, false)
  }

  /** None on absence AND on any read failure (checksum mismatch from
    * a torn write, truncation, permissions): an unreadable sidecar
    * must degrade the lifecycle to a rebuild, never a crash. */
  private def readSidecar(s: SparkSession, path: String, name: String): Option[String] =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(path, name)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val len = fs.getFileStatus(p).getLen.toInt
        val bytes = new Array[Byte](len)
        val in = fs.open(p)
        try in.readFully(bytes) finally in.close()
        Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      }
    }.toOption.flatten

  private def manifestText(entries: Seq[(String, Long, Long)]): String =
    entries.map { case (p, l, m) => s"$l:$m:$p" }.mkString("\n")

  private def parseManifest(text: String): Seq[(String, Long, Long)] =
    text.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(l, m, p) = line.split(":", 3)
      (p, l.toLong, m.toLong)
    }

  private def dimStatsText(prof: Array[(Double, Double)]): String =
    prof.map { case (m, sd) => s"$m,$sd" }.mkString("\n")

  private def parseDimStats(text: String): Array[(Double, Double)] =
    text.split("\n").filter(_.nonEmpty).map { line =>
      val Array(m, sd) = line.split(",")
      (m.toDouble, sd.toDouble)
    }

  /** Drift-gated incremental sync of the managed per-source IVF index
    * (round-9 verdict ask #6: compose q136's dim-stats drift flags
    * with the persisted-index lifecycle). Returns (path, action):
    *
    *  - "build":   no index yet → full train + assign + sidecars
    *               (centroids, train-time dim profile, file manifest);
    *  - "reuse":   source listing unchanged → zero work (the steady
    *               state: no data read at all, one listing);
    *  - "append":  PURE file append whose NEW data's dim profile sits
    *               within [[DriftRebuildSds]] of the trained one →
    *               assign ONLY the new files with the EXISTING
    *               centroids and append them into the partitioned
    *               index — the 100 TB shape: an hourly embedding drop
    *               costs one scan of the drop, never a retrain or a
    *               corpus rescan, and probe results stay exact w.r.t.
    *               the union corpus because assignment (not training)
    *               determines which inverted list a vector lives in;
    *  - "rebuild": geometry drifted (mean shift ≥ threshold or a
    *               dead↔alive dimension flip, incl. dim-count change)
    *               OR files were rewritten/removed → full retrain.
    *
    * Drift is profiled on the NEW FILES ONLY: cheaper than a corpus
    * pass and more sensitive (a drifted drop diluted 1000:1 by the
    * old corpus would pass a whole-corpus test while its inverted
    * lists all land in two clusters). */
  def syncIndex(s: SparkSession, d: String): (String, String) = {
    val path = managedIndexPath(s, d)
    // recover compaction debris on EVERY sync, not just the append
    // path (round-10 high review): a crash between compaction's two
    // renames leaves a cluster=N.old with no live sibling, and the
    // very next call may be a "reuse" that never reaches compactIndex
    // — probes would then silently miss list N (and partition
    // inference would degrade the cluster column) indefinitely.
    recoverCompactionDebris(s, path)
    // list ONCE, up front, and build from EXACTLY that file set: the
    // manifest must record what the build actually read — listing
    // after the build would record a mid-build straggler file as
    // covered while its vectors were never indexed (silent permanent
    // hole), and letting the build re-plan its own scan could index a
    // straggler the manifest omits (double-indexed when the next sync
    // appends it). Round-10 review finding. A mid-build arrival now
    // shows up as a pure append on the NEXT sync, exactly once.
    val cur = listSource(s, d)
    require(cur.nonEmpty, s"no embeddings files under $d")
    def listedCorpus(entries: Seq[(String, Long, Long)]): DataFrame =
      s.read.parquet(entries.map(_._1): _*)
        .withColumn("e", col("embedding").cast("array<double>"))

    def fullBuild(action: String): (String, String) = {
      val corpus = listedCorpus(cur)
      // EXPLICIT wipe before the rewrite (round-14 review): the old
      // code relied on mode(overwrite) clearing the whole dir, which
      // is only true under STATIC partitionOverwriteMode — a session
      // with the common dynamic setting would (a) keep stale files of
      // any cluster the retrained quantizer emptied, serving them to
      // every probe forever, and (b) never clear a dangling
      // _intent.txt, degrading EVERY future sync to another rebuild
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      writeIndexOf(corpus, path)
      // dimProfile is a third full-corpus pass per (re)build, on top
      // of writeIndex's sample + assignment scans — accepted: builds
      // are rare by design (the whole point of the drift gate) and
      // folding per-dim moments into the assignment write would need a
      // custom commit hook for one pass saved.
      writeSidecar(s, path, DimStatsFile, dimStatsText(dimProfile(corpus)))
      writeSidecar(s, path, ManifestFile, manifestText(cur))
      (path, action)
    }

    val existing = readSidecar(s, path, ManifestFile)
    if (existing.isEmpty) return fullBuild("build")

    // dangling append intent (round-10 advice, medium): the previous
    // sync entered the append window — intent written, then data
    // append and/or manifest write possibly torn by a crash — and
    // never provably exited it. If the intent EQUALS the manifest the
    // append fully committed and only the intent cleanup was lost:
    // delete it and proceed. Anything else (mismatch, unreadable)
    // means the index may hold vectors the manifest omits, and
    // re-classifying their files as un-appended would double-index
    // them — degrade to a full rebuild, which rewrites the index from
    // the source listing and wipes the intent with the rest of the
    // old layout.
    if (sidecarExists(s, path, IntentFile)) {
      if (readSidecar(s, path, IntentFile) == existing)
        deleteSidecar(s, path, IntentFile)
      else return fullBuild("rebuild")
    }

    // a truncated/garbled sidecar (crash mid-write) must degrade to a
    // rebuild, not brick every future sync with a parse error
    val oldOpt = scala.util.Try(parseManifest(existing.get)).toOption
    if (oldOpt.isEmpty) return fullBuild("rebuild")
    val old = oldOpt.get
    if (old == cur) return (path, "reuse")

    val curByPath = cur.map(e => e._1 -> e).toMap
    val pureAppend = old.forall(e => curByPath.get(e._1).contains(e))
    if (!pureAppend) return fullBuild("rebuild")

    val oldPaths = old.map(_._1).toSet
    val newEntries = cur.filterNot(e => oldPaths.contains(e._1))
    val newDf = listedCorpus(newEntries)
    val trainProfOpt = readSidecar(s, path, DimStatsFile)
      .flatMap(t => scala.util.Try(parseDimStats(t)).toOption)
    if (trainProfOpt.isEmpty) return fullBuild("rebuild")
    val trainProf = trainProfOpt.get
    val (newProf, nNew) = dimProfileWithCount(newDf)
    if (newProf.length != trainProf.length) return fullBuild("rebuild")
    // drift thresholds must respect the NEW batch's sample size
    // (round-10 high review): a tiny drop's per-dim sample mean has
    // standard error σ/√n, so the raw 0.5-sd gate would retrain on
    // noise for nearly every small append — the exact cost the append
    // path exists to avoid. Slack shrinks as 3/√n toward the raw
    // threshold; the dead↔alive gate counts dead→ALIVE always (any
    // observed variance on a trained-dead dim is positive evidence)
    // but alive→dead only when n can actually witness variance.
    val slack = DriftRebuildSds + 3.0 / math.sqrt(math.max(1.0, nNew.toDouble))
    val (shift, deadToAlive, aliveToDead) = geometryDrift(trainProf, newProf)
    val deadFlips = deadToAlive + (if (nNew >= 30) aliveToDead else 0)
    if (shift >= slack || deadFlips > 0) return fullBuild("rebuild")

    val cents = readCentroids(s, path)
    // intent BEFORE the data append, cleared only AFTER the manifest
    // records it: the write below commits appended vectors file-by-file,
    // so a crash between it and the manifest write used to leave the
    // index containing vectors the manifest omitted — the next sync
    // would re-append those files, permanently duplicating them in
    // every probe. The intent brackets the whole window (see
    // [[IntentFile]] for the recovery contract).
    writeSidecar(s, path, IntentFile, manifestText(cur))
    newDf
      .withColumn("cluster", graft.functions.NativeExprs.nearestCentroid(col("e"), cents))
      .write.mode("append").partitionBy("cluster").parquet(path)
    writeSidecar(s, path, ManifestFile, manifestText(cur))
    deleteSidecar(s, path, IntentFile)
    compactIndex(s, path)
    (path, "append")
  }

  /** Fragmentation bound for [[compactIndex]]: an inverted list
    * holding more parquet files than this gets rewritten. Every
    * append adds up to one file per touched cluster, so a daily-drop
    * pipeline fragments lists linearly in time — and a probe opens
    * every file of every probed list, so probe latency degrades with
    * file COUNT even when data volume doesn't grow. */
  val MaxFilesPerList = 8

  /** Compact ONLY the inverted lists exceeding [[MaxFilesPerList]]
    * parquet files — each offending `cluster=N` directory is read,
    * rewritten to one file, and swapped in with a recoverable rename
    * sequence (dir → dir.old, tmp → dir, delete dir.old): a crash at
    * any instant strands at worst a .old/.compact sibling from which
    * [[recoverCompactionDebris]] — run on EVERY syncIndex call, not
    * just the compacting append path — restores the authoritative
    * data; the list is never half-written, though it can be briefly
    * absent inside the rename window itself. Cost is O(fragmented
    * lists), not O(index) — an hourly drop touching one hot cluster
    * must not trigger a periodic full-corpus rewrite (that would
    * reintroduce the rescan the drift-gated lifecycle exists to
    * avoid). Sidecars are untouched: compaction changes layout, never
    * contents. Returns true when any list was rewritten. Called by
    * [[syncIndex]] after every append. */
  /** Recover/sweep debris from a previous crashed compaction — run on
    * EVERY syncIndex call (not just the append path that compacts):
    *  - a .old dir WITHOUT its live sibling = crash between the two
    *    renames — the old data is authoritative, restore it;
    *  - a .old dir WITH a live sibling = crash after the second
    *    rename — the live dir is the fresh data, drop the old;
    *  - a .compact dir is a staged rewrite that never swapped in —
    *    never authoritative, always safe to drop. */
  private def recoverCompactionDebris(s: SparkSession, path: String): Unit = {
    // Hadoop FS throughout (round-10 verdict ask #2): the rest of the
    // lifecycle already resolves the filesystem from the index path, and
    // java.io.File listFiles silently returns null on any non-local path
    // — fragmentation and crash debris would go unrecovered with no
    // error on HDFS/S3. FileSystem.rename keeps the same dir-swap
    // atomicity contract on HDFS; on local fs it delegates to the same
    // OS rename.
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    // compaction (the only debris producer) is gated to atomic-rename
    // schemes, so on any other filesystem there is no debris of this
    // lifecycle's making — and attempting the restore rename there
    // would itself be a non-atomic copy+delete with the exact torn
    // state this recovery exists to fix
    if (!atomicRenameScheme(fs)) return
    if (!fs.exists(root)) return
    // the .old restore/drop protocol is shared with the snapshot sink
    SwapRecovery.restoreOldSiblings(fs, root)
    fs.listStatus(root)
      .filter(_.getPath.getName.endsWith(".compact"))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Schemes whose FileSystem.rename is an atomic directory swap — the
    * contract compaction's crash-safety rests on. S3A (and object
    * stores generally) implement rename as copy + delete: a mid-rename
    * crash leaves BOTH cluster=N and cluster=N.old partially
    * populated, and recovery's "live exists → delete .old" branch
    * would then drop rows. Compaction is therefore gated to this
    * allowlist; elsewhere it no-ops and fragmentation is bounded only
    * by the next drift-triggered rebuild (round-11 advice). */
  private val atomicRenameSchemes = Set("file", "hdfs", "viewfs")

  private[graft] def atomicRenameScheme(
      fs: org.apache.hadoop.fs.FileSystem): Boolean =
    // base FileSystem.getScheme throws; an impl that can't even name
    // its scheme gets the conservative (no-compaction) treatment
    scala.util.Try(fs.getScheme).toOption
      .exists(atomicRenameSchemes.contains)

  def compactIndex(s: SparkSession, path: String,
                   maxFilesPerList: Int = MaxFilesPerList): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!atomicRenameScheme(fs)) return false
    recoverCompactionDebris(s, path)
    // fresh listing: recovery above may have renamed/removed entries
    val offenders = (if (fs.exists(root)) fs.listStatus(root)
                     else Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cluster=") &&
        !st.getPath.getName.endsWith(".old") && !st.getPath.getName.endsWith(".compact"))
      .filter { st =>
        fs.listStatus(st.getPath)
          .count(_.getPath.getName.endsWith(".parquet")) > maxFilesPerList
      }
    offenders.foreach { st =>
      val d = st.getPath
      val tmp = new org.apache.hadoop.fs.Path(root, d.getName + ".compact")
      val old = new org.apache.hadoop.fs.Path(root, d.getName + ".old")
      // files inside a partition dir carry no `cluster` column (it is
      // directory-encoded), so a plain read+coalesce round-trips them
      s.read.parquet(d.toString).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      require(fs.rename(d, old), s"compaction swap failed: $d -> $old")
      require(fs.rename(tmp, d), s"compaction swap failed: $tmp -> $d")
      fs.delete(old, true)
    }
    offenders.nonEmpty
  }

  /** Map-side top-nprobe centroid ranking as a Column: the
    * distributed twin of the driver-side [[rankProbes]] — each QUERY
    * row computes its own probe set inside the scan, so an unbounded
    * query frame needs no collect and no broadcast. K is small
    * (coarse quantizers: K ≈ √corpus), so the struct-array sort over
    * K entries per row is constant work; ties break on centroid id,
    * matching rankProbes' stable sort (IvfSpec pins the agreement). */
  private[graft] def probeClustersCol(e: Column, cents: Array[Array[Double]],
                                      nprobe: Int): Column = {
    // r19: the K per-centroid distances come from ONE codegen'd kernel
    // call (graft.functions.CentroidDists — same fold order as the old
    // per-centroid aggregate/zip_with HOF chains, bit-identical sums);
    // only the constant-size struct assembly over K entries stays HOF.
    // element_at(null, _) keeps the old per-element null-d structs for
    // a wrong-dimension query row, so the sort/tie behavior on
    // malformed input is unchanged.
    val dists = graft.functions.NativeExprs.centroidDists(e, cents, sqrt = false)
    val scored = transform(sequence(lit(0), lit(cents.length - 1)),
      i => struct(element_at(dists, i + 1).as("d"), i.as("cid")))
    transform(slice(array_sort(scored), 1, nprobe), s => s.getField("cid"))
  }

  /** HARD-NEGATIVE mining for an UNBOUNDED query set via the persisted
    * IVF index — the composition q89's doc promises (round-8 verdict
    * ask #4). q89 broadcasts a bounded query set and scans the full
    * corpus per query; here every query row computes its nprobe
    * nearest clusters map-side ([[probeClustersCol]]) and the
    * candidate generation is one EQUI-JOIN on cluster id against the
    * cluster-partitioned index — each query scores only ~nprobe/K of
    * the corpus, and nothing is collected or broadcast-required, so
    * the query side may be the whole corpus itself (self-mining).
    *
    * 100 TB shape: the index side arrives partitioned by cluster on
    * disk; the join shuffles (cluster, qid, qe) query rows (nprobe
    * replicas) and corpus rows once — never query × corpus. Join-key
    * cardinality is K, which scales as √corpus for a coarse quantizer
    * (thousands at 100 TB), so the shuffle does not collapse onto a
    * handful of keys; a skewed cluster is AQE's skew-join case. With
    * nprobe = K this degrades to exact brute force — IvfSpec pins
    * agreement with q89 there, the same discipline as q48's. */
  def hardNegativesIvf(s: SparkSession, d: String, queryFilter: Column,
                       k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val path = ensureIndex(s, d)
    val cents = readCentroids(s, path)
    val probed = emb(s, d).filter(queryFilter)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("e").as("qe"))
      .withColumn("cluster", explode(probeClustersCol(col("qe"), cents, nprobe)))
    val corpus = s.read.parquet(path)
      .select(col("vec_id"), col("label"), col("e"), col("cluster"))
    // a corpus vector lives in exactly ONE cluster, so the equi-join
    // emits each (query, candidate) pair at most once — no distinct
    val scored = corpus.join(probed, Seq("cluster"))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"), col("label"),
        round(Similarity.cosine(col("e"), col("qe")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** q91: hard negatives for EVERY corpus vector (self-mining over the
    * whole embeddings table) — the unbounded shape q89 cannot take.
    * Rows-only (LSH/IVF candidate generation is not SQL-expressible);
    * IvfSpec pins nprobe=K agreement with q89 on q89's bounded range
    * and the no-cross-join plan shape. */
  def q91HardNegativesIvf(s: SparkSession, d: String): DataFrame =
    hardNegativesIvf(s, d, lit(true), k = 3, nprobe = NProbe)

  // ---------------------------------------------------------------- q126

  /** q126: IVF RECALL SWEEP — recall@k of the IVF index vs exact
    * brute-force cosine, per nprobe, over a bounded query set. The
    * eval harness an ANN deployment ships with: the nprobe knob trades
    * probe cost for recall, and this measures the actual curve on the
    * actual corpus instead of trusting folklore (probing all K
    * clusters is exact by construction, which the spec pins as
    * recall = 1.0 at nprobe = K).
    *
    * 100 TB shape (q89's bounded-broadcast discipline): the query set
    * and the per-(query, nprobe) allowed-cluster lists are driver-
    * bounded (#queries × Σnprobe rows) and broadcast; the corpus is
    * scanned ONCE into per-query scores (codegen'd cosine map-side,
    * only (qid, id, scalar, cluster) leaves the scan) and both the
    * exact and every IVF variant rank THAT shared frame — the sweep
    * costs one corpus pass regardless of how many nprobe settings it
    * measures. Rows-only: k-means assignment is not SQL-expressible;
    * IvfSpec pins monotonicity and the exact-at-full-probe identity. */
  def ivfRecallSweep(s: SparkSession, d: String, nQueries: Int = 8,
                     probeCounts: Seq[Int] = Seq(1, 2, 4, K),
                     k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = emb(s, d)
    val cents = trainCentroids(corpus)
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    // persisted: the exact ranking and every IVF variant rank THIS
    // frame through different exchanges, which would otherwise re-run
    // the corpus scan + cosine cross-join per consumer
    val scored = corpus.filter(col("vec_id") >= nQueries)
      .withColumn("cluster",
        graft.functions.NativeExprs.nearestCentroid(col("e"), cents))
      .crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"), col("cluster"),
        Similarity.cosine(col("e"), col("qe")).as("sim"))
      .cache()
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val exact = scored.withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= k).select(col("qid"), col("vec_id"))
    // driver-bounded probe lists: #queries × Σ nprobe rows, broadcast
    val qVecs = queries.collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val allowed = {
      import s.implicits._
      (for {
        (qid, qe) <- qVecs.toSeq
        np <- probeCounts
        c <- rankProbes(cents, qe, np)
      } yield (qid, np, c)).toDF("qid", "np", "cluster")
    }
    val wqn = Window.partitionBy(col("qid"), col("np"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val ivfTop = scored.join(broadcast(allowed), Seq("qid", "cluster"))
      .withColumn("rk", row_number().over(wqn))
      .filter(col("rk") <= k)
      .select(col("qid"), col("np"), col("vec_id"))
    val grid = {
      import s.implicits._
      qVecs.toSeq.flatMap { case (qid, _) => probeCounts.map(np => (qid, np)) }
        .toDF("qid", "np")
    }
    val matches = ivfTop.join(exact, Seq("qid", "vec_id"))
      .groupBy(col("qid"), col("np")).agg(count(lit(1)).as("n_match"))
    // denominator is the per-query EXACT result count, not a fixed k:
    // a post-filter corpus smaller than k would otherwise cap recall
    // below 1.0 and spuriously break the exact-at-full-probe invariant
    // (r9 ADVICE). An empty exact set makes recall vacuously 1.0.
    val nExact = exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
    val out = grid.join(matches, Seq("qid", "np"), "left")
      .na.fill(0L, Seq("n_match"))
      .join(nExact, Seq("qid"), "left")
      .na.fill(0L, Seq("n_exact"))
      .select(col("np"),
        when(col("n_exact") === 0, lit(1.0))
          .otherwise(col("n_match").cast("double") / col("n_exact"))
          .as("recall"))
      .groupBy(col("np"))
      .agg(count(lit(1)).as("n_queries"),
           round(avg(col("recall")), 4).as("mean_recall"),
           round(min(col("recall")), 4).as("min_recall"))
      .select(col("np").as("nprobe"), col("n_queries"),
              col("mean_recall"), col("min_recall"))
      .orderBy(col("nprobe"))
    // the sweep's result is a bounded digest (one row per nprobe), so
    // materialize it and release the cached per-query score frame —
    // the bench runs 143 queries in one session and a leaked cache
    // holds corpus-sized partitions in executor storage (r9 ADVICE)
    val rows =
      try out.collect().toSeq
      finally scored.unpersist() // in finally: a failed/cancelled
      // collect must not pin the corpus-sized cache for the session
      // (the truncationRecall/silhouetteSampled discipline)
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
  }

  def q126IvfRecall(s: SparkSession, d: String): DataFrame =
    ivfRecallSweep(s, d)

  /** q150: INVERTED-LIST BALANCE audit of the persisted index — per
    * cluster, the list size and its ratio to the even split. The index
    * observability report the managed lifecycle ([[syncIndex]]) acts
    * on: drifted data piling into two lists shows up here as balance
    * ≫ 1 long before probe latency regresses (probing a hot list
    * reads its whole partition; a 10× lopsided list makes nprobe/K
    * cost scale by the hot list, not the average).
    *
    * Scale shape: one columnar scan of the index reading ONLY the
    * cluster partition column, map-side-combined to ≤ K rows; the
    * totals broadcast back. Rows-only (k-means assignment is not
    * SQL-expressible); IvfSpec pins conservation and the balance
    * identity. */
  def q150IvfBalance(s: SparkSession, d: String): DataFrame = {
    val path = ensureIndex(s, d)
    val lists = s.read.parquet(path)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
    val tot = lists.agg(sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("n_lists"))
    lists.crossJoin(broadcast(tot))
      .select(col("cluster"), col("n_vecs"),
        round(col("n_vecs").cast("double") * col("n_lists") / col("n_total"), 4)
          .as("balance"))
      .orderBy(col("cluster"))
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q48_ivf_topk", q48IvfTopK _, None),
    ("q70_ivf_probe_index", q70IvfProbeIndex _, None),
    ("q91_hard_negatives_ivf", q91HardNegativesIvf _, None),
    ("q126_ivf_recall", q126IvfRecall _, None),
    ("q150_ivf_balance", q150IvfBalance _, None),
  )
}
