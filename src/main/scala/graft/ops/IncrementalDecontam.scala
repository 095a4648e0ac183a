package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental DECONTAMINATION against a persisted test-set fingerprint
  * index — [[Curation.decontaminate]]'s streaming twin, the shape a
  * continuously-ingesting training pipeline runs: the benchmark/eval
  * fingerprint set is materialized ONCE, and each new training batch is
  * screened against it without ever rescanning the corpus or the test
  * sets.
  *
  * Index layout: one BIGINT column (xxhash64 of each distinct word
  * n-gram — same fingerprint family as the batch q72 path), written
  * hash-bucketed + sorted on `fp` (Bucketing.writeBucketed). A batch
  * probe joins on the bucket key, so the index side never shuffles —
  * only the (small) incoming batch moves. Eval sets are tiny relative
  * to a 100 TB corpus, so in practice the probe also qualifies for a
  * broadcast; the bucketed layout is what keeps it cheap even when the
  * union of all screened benchmarks grows large.
  */
object IncrementalDecontam {

  import Curation.DecontamN

  /** Per-doc distinct n-gram fingerprints: (doc_id, fp BIGINT), via the
    * native window-hash kernel (no shingle strings materialized). */
  private def docFps(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Dedup.shingleFps(col("text"), DecontamN)).as("fp"))

  /** Sidecar Bloom filter file for an index table — lives next to the
    * table directory in the warehouse under the same name prefix, so
    * [[IndexTables.gcTables]]' sweep collects it with its table. Resolved
    * through the Hadoop FileSystem (like [[Ivf]]'s centroid file), so
    * an hdfs:// or s3a:// warehouse works the same as file:. */
  private def bloomSidecarPath(s: SparkSession, table: String): org.apache.hadoop.fs.Path = {
    val raw = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table + "_bloom.bin")
    // makeQualified so the path's STRING form matches what listStatus
    // returns: bloomCache is keyed on it, and IndexTables.gcTables evicts by
    // the listed path — an unqualified warehouse dir (no scheme) would
    // otherwise leave GC'd filters cached for the JVM lifetime
    // (r8 ADVICE)
    sidecarFs(s, raw).makeQualified(raw)
  }

  private def sidecarFs(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Sidecar format: 8-byte magic + 16-byte per-write UUID + the
    * serialized filter. The UUID is the file's IDENTITY — (mtime,
    * length) cannot distinguish an out-of-band rebuild that lands a
    * same-length file within mtime granularity (a rebuilt filter for a
    * similar-sized test set IS the same length), and a stale filter's
    * false negatives silently pass contamination. */
  private val SidecarMagic = "GFTBLM1\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Deserialized-filter memo, keyed by sidecar path and validated by
    * the header UUID: steady-state streaming micro-batches screen
    * against the same static index, and re-reading megabytes of filter
    * from the FS once per micro-batch is pure waste (r7 ADVICE) — the
    * per-batch cost drops to a 24-byte header read. Any rewrite
    * changes the UUID and forces a reload. */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.util.sketch.BloomFilter)]()

  /** Best-effort sidecar load: a missing/corrupt/old-format file
    * degrades to the unscreened probe (same results, more shuffle),
    * never to an error. */
  private def loadBloom(s: SparkSession, table: String):
      Option[org.apache.spark.util.sketch.BloomFilter] =
    try {
      val p = bloomSidecarPath(s, table)
      val fs = sidecarFs(s, p)
      if (!fs.isFile(p)) None
      else {
        val in = fs.open(p)
        try {
          val magic = new Array[Byte](SidecarMagic.length)
          in.readFully(magic)
          if (!java.util.Arrays.equals(magic, SidecarMagic)) None
          else {
            val uuid = new Array[Byte](16)
            in.readFully(uuid)
            val id = uuid.map(b => f"$b%02x").mkString
            val cached = bloomCache.get(p.toString)
            if (cached != null && cached._1 == id) Some(cached._2)
            else {
              val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(in)
              bloomCache.put(p.toString, (id, bf))
              Some(bf)
            }
          }
        } finally in.close()
      }
    } catch { case _: Exception => None }

  /** (Re)builds the persisted test-set index: the DISTINCT fingerprint
    * set of every document in `test`, bucketed+sorted on fp, plus a
    * Bloom-filter sidecar over the same fingerprints (same role as
    * q80's in-plan filter: the probe drops non-member batch
    * fingerprints map-side, BEFORE the bucket-aligning exchange).
    * Static thereafter — screening never appends to it (unlike the
    * dedup index); re-run only when the eval suite itself changes.
    *
    * Crash ordering (r7 ADVICE): with a fixed table name, a failure
    * between the table rewrite and the sidecar rewrite must leave the
    * probe UNSCREENED (identical results, more shuffle) — never
    * screened by the OLD filter, whose false negatives would silently
    * pass contamination. So the stale sidecar is removed BEFORE the
    * table is touched (and the rebuild aborts if it cannot be), and
    * the new sidecar is written last, best-effort. */
  def buildTestIndex(test: DataFrame, table: String, buckets: Int = 32): Unit = {
    import org.apache.spark.storage.StorageLevel
    val s = test.sparkSession
    val sidecar = bloomSidecarPath(s, table)
    val fs = sidecarFs(s, sidecar)
    if (fs.exists(sidecar)) {
      fs.delete(sidecar, false)
      bloomCache.remove(sidecar.toString)
      if (fs.exists(sidecar))
        sys.error(s"cannot remove stale bloom sidecar $sidecar — " +
          "aborting rebuild rather than risk a stale pre-screen")
    }
    val fps = docFps(test).select(col("fp")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      Bucketing.writeBucketed(fps, table, "fp", buckets)
      val bloom = fps.stat.bloomFilter(
        "fp", math.max(fps.count(), 1L), Curation.DecontamBloomFpp)
      try {
        val id = java.util.UUID.randomUUID()
        val bb = java.nio.ByteBuffer.allocate(16)
          .putLong(id.getMostSignificantBits).putLong(id.getLeastSignificantBits)
        // tmp + rename (the Bench.writeArtifact discipline, r8 ADVICE):
        // a crash mid-write must not leave a partial file with valid
        // magic+UUID at the live path — loadBloom would degrade it
        // safely to None, but q78's rebuild check would then force a
        // full index rebuild instead of just a sidecar rewrite
        val tmp = new org.apache.hadoop.fs.Path(sidecar.toString + ".tmp")
        val out = fs.create(tmp, true)
        try {
          out.write(SidecarMagic)
          out.write(bb.array())
          bloom.writeTo(out)
        } finally out.close()
        if (!fs.rename(tmp, sidecar))
          sys.error(s"rename $tmp -> $sidecar failed")
      } catch { case e: Exception =>
        // no sidecar ⇒ every probe takes the unscreened (correct) path
        System.err.println(s"[decontam] sidecar write failed, probes run unscreened: ${e.getMessage}")
      }
    } finally fps.unpersist()
  }

  /** Screens a batch against the index: (doc_id, n_hits) for batch
    * docs sharing ≥ 1 distinct n-gram with any indexed test doc.
    * n_hits counts the doc's DISTINCT contaminated shingles — the same
    * statistic as the batch path's per-doc hit count. When the index
    * has a Bloom sidecar, batch fingerprints that cannot possibly join
    * are dropped inside the shingling scan (codegen'd
    * BloomContainsLong) before the merge join's exchange — false
    * positives survive the pre-screen but die in the exact join, so
    * the screened and unscreened probes return identical rows. */
  def screenBatch(spark: SparkSession, batch: DataFrame, table: String): DataFrame = {
    val fps = docFps(batch)
    val screened = loadBloom(spark, table) match {
      case Some(bf) =>
        fps.filter(graft.functions.NativeExprs.bloomContainsLong(col("fp"), bf))
      case None => fps
    }
    screened
      .join(spark.table(table).hint("MERGE"), Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  // ------------------------------------------------------------- q78

  // Lifecycle (data fingerprint, fingerprint-keyed naming,
  // collision-safe GC of tables + bloom sidecars) is the shared
  // [[IndexTables]] discipline; the sweep hook evicts this family's
  // path-keyed bloom cache.
  private val TablePrefix = "graft_decontam_idx_v1_"

  /** q78: the PERSISTED-INDEX decontamination probe, bench-visible —
    * this path's q70 analogue. Builds the bucketed+sorted test-set
    * fingerprint index once per (source dir, data fingerprint), then
    * times what a continuously-ingesting pipeline actually pays per
    * batch: shingle the incoming slice, merge-join it against the
    * index WITHOUT shuffling or re-deriving the index side (the
    * bucketed layout replaces the exchange+sort a plain join would
    * insert), count distinct contaminated shingles per doc. The
    * incoming "batch" is a quarter-corpus hash slice — large enough
    * to time, sliced by the same md5 rule as the q63/q72 splits. The
    * output is the per-doc ROUTING VERDICT for every batch doc
    * (n_hits = 0 ⇒ clean → training sink; ≥ 1 ⇒ quarantine — exactly
    * what screenedIngest decides per micro-batch), so the result is
    * batch-sized even when a small sf's slice happens to contain no
    * contamination. ORACLE-HASH checkable (round-15, the q198
    * precedent): the bucketed layout and Bloom pre-screen are
    * semantically invisible, so the verdict — per batch doc, its
    * distinct n-gram fps present in the test slice's fp set — is
    * plain SQL; PlanShapeSpec still pins the no-shuffle-on-index-side
    * invariant, StreamingDecontamSpec the screenBatch semantics. */
  def q78DecontamProbeIndex(s: SparkSession, d: String): DataFrame = {
    import graft.Tables.documents
    import IndexTables.hashBucket
    val table = IndexTables.tableName(TablePrefix, d,
      IndexTables.dataFingerprint(s, d))
    // a table whose bloom sidecar is missing, corrupt, or an older
    // format would degrade every future probe to unscreened — rebuild
    // it (loadBloom is the authority on readability, not mere
    // existence)
    if (!s.catalog.tableExists(table) || loadBloom(s, table).isEmpty) {
      IndexTables.gcTables(s, TablePrefix, d,
        onSweep = p => bloomCache.remove(p.toString))
      val test = documents(s, d)
        .filter(hashBucket(col("doc_id").cast("string")) >= "e6") // q72's test split
        .select(col("doc_id"), col("text"))
      buildTestIndex(test, table)
    }
    val batch = documents(s, d)
      .filter(hashBucket(col("doc_id").cast("string")) < "40")
      .select(col("doc_id"), col("text"))
    batch.select(col("doc_id"))
      .join(screenBatch(s, batch, table), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** The q78 oracle: md5-of-shingle-text fps are equality-equivalent
    * to the engine's xxhash64 fps (the q188/q198 identity); the Bloom
    * pre-screen and bucketed merge join change no row. */
  val q78Sql: String = {
    val n = DecontamN
    s"""WITH test AS (
      | SELECT str_split(text, ' ') AS t FROM documents
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6'
      |), batch AS (
      | SELECT doc_id, str_split(text, ' ') AS t FROM documents
      | WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
      |), fp_t AS (
      | SELECT DISTINCT md5(sh) AS fp FROM (
      |  SELECT unnest(list_distinct([array_to_string(t[i:i+${n - 1}], ' ')
      |    for i in range(1, len(t) - ${n - 2})])) AS sh
      |  FROM test WHERE len(t) >= $n)
      |), fp_b AS (
      | SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+${n - 1}], ' ')
      |   for i in range(1, len(t) - ${n - 2})])) AS sh
      | FROM batch WHERE len(t) >= $n
      |), hits AS (
      | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
      | FROM fp_b JOIN fp_t ON md5(fp_b.sh) = fp_t.fp
      | GROUP BY doc_id
      |)
      |SELECT b.doc_id, coalesce(h.n_hits, 0) AS n_hits
      |FROM (SELECT doc_id FROM batch) b LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q78_decontam_probe_index", q78DecontamProbeIndex _, Some(q78Sql)),
  )
}
