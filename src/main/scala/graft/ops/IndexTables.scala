package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Shared lifecycle for the persisted-index query families (q78
  * decontam / q186 novelty / q189 dedup / q198 spans / q197 bucketed
  * join): content-fingerprint the source data, key the managed table
  * name on (source dir, fingerprint), and GC superseded generations
  * ([[ensureTable]] runs the three in order). Factored from the
  * q78/q186 private copies, which had drifted to byte-identical
  * logic — and both carried the prefix-collision hazard the round-11
  * advice flagged for the IVF dir GC: a bare `startsWith` sweep lets
  * `/data/sf0`'s GC collect `/data/sf0_v2`'s LIVE index (their
  * sanitized names nest). [[gcTables]] therefore matches a
  * fingerprint-SHAPED suffix — exactly 16 hex chars after the
  * prefix, optionally followed by a sidecar extension — which a
  * nested source-dir name (`v2_<fp>`) can never satisfy. */
private[graft] object IndexTables {

  /** md5-prefix slice key (q63's deterministic split rule). */
  def hashBucket(c: Column): Column = substring(md5(c), 1, 2)

  /** File-listing fingerprint of a source table — same discipline as
    * the IVF index ([[Ivf]]): (name, length, mtime) per file, sorted,
    * newline-joined, SHA-256/8 — so a regenerated corpus keys a FRESH
    * index table instead of silently probing a stale one across JVMs
    * (the warehouse outlives the in-memory catalog). */
  def dataFingerprint(s: SparkSession, d: String,
                      file: String = "documents.parquet"): String = {
    val p = new org.apache.hadoop.fs.Path(s"$d/$file")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer[String]()
    val rootUri = p.toUri.getPath
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      // path RELATIVE to the root, not the basename: the listing is
      // recursive, and two same-named files swapping subdirectories
      // (partition dirs reshuffled on restore, mtimes preserved)
      // must change the fingerprint — basenames alone key the SAME
      // table name and the probe silently hits a stale index
      val rel = st.getPath.toUri.getPath.stripPrefix(rootUri)
      entries += s"$rel:${st.getLen}:${st.getModificationTime}"
    }
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(entries.sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** 8-hex SHA-256 digest of the RAW source-dir string — the lossless
    * complement to the lossy name sanitization below (the Ivf
    * indexDirName discipline, applied here round-14). */
  private def pathDigest(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString

  /** Managed table name keyed on (family prefix, source dir, data
    * fingerprint). The prefix carries the family's layout version
    * (e.g. `graft_novelty_idx_v2_`) so a schema change invalidates by
    * name instead of mis-reading.
    *
    * The 8-hex PATH digest exists because sanitization alone is lossy
    * ('/data/sf0-1' and '/data/sf0_1' both sanitize to '_data_sf0_1'):
    * without it two distinct source dirs shared one family stem and
    * [[gcTables]] collected each other's LIVE tables on every
    * alternating build — the exact GC-collision class the round-14
    * Ivf sweep fixed in indexDirName, closed here for the four
    * table-backed families (decontam/novelty/dedup/bucketed-join). */
  def tableName(prefix: String, d: String, fp: String): String =
    (prefix + d.replaceAll("[^A-Za-z0-9]", "_") + "_" + pathDigest(d) +
      "_" + fp).toLowerCase

  /** Sidecar filename suffixes a generation may carry next to its
    * table dir (q78's bloom). An ALLOWLIST, not "any non-alphanumeric
    * tail": a sibling source dir whose sanitized name continues
    * `_<16 hex>` (hash-suffixed data dirs are common) must NOT match
    * another dataset's family. */
  private val SidecarSuffixes = Seq("_bloom.bin")

  /** True iff `name` is a generation of `prefix`'s index family: the
    * 16 chars after the prefix are a data fingerprint, and the name
    * ends exactly there or with a known sidecar suffix. */
  private[graft] def generationOf(prefix: String)(name: String): Boolean = {
    val tail = name.length - (prefix.length + 16)
    name.startsWith(prefix) && tail >= 0 &&
      name.substring(prefix.length, prefix.length + 16)
        .forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')) &&
      (tail == 0 ||
        SidecarSuffixes.contains(name.substring(prefix.length + 16)))
  }

  /** Source file each known family prefix fingerprints over — the
    * bucketed-join families key on their OWN fact files, not
    * documents.parquet; an audit that fingerprints the wrong file
    * computes a wrong "current" name, flags the LIVE index as stale,
    * and silently skips the fail-grade bucket_spec check. [[audit]]
    * (and the idxfsck CLI) resolve through this map when the caller
    * passes no explicit file, so the default is per-family correct
    * rather than a one-size `documents.parquet`. */
  private[graft] val FamilyFiles: Map[String, String] = Map(
    "graft_decontam_idx_v1_" -> "documents.parquet",
    "graft_novelty_idx_v2_" -> "documents.parquet",
    "graft_dedup_idx_v2_" -> "documents.parquet",
    "graft_spans_idx_v1_" -> "documents.parquet",
    "graft_bkt_orders_v1_" -> "orders.parquet",
    "graft_bkt_customer_v1_" -> "customer.parquet")

  /** The fingerprint source for `familyPrefix`: the [[FamilyFiles]]
    * entry when the prefix is a known family, else documents.parquet
    * (the convention every document-keyed family follows). */
  private[graft] def defaultFileFor(familyPrefix: String): String =
    FamilyFiles.getOrElse(familyPrefix, "documents.parquet")

  /** The build-once step every table-backed family runs before a
    * probe: fingerprint the family's source file ([[defaultFileFor]]),
    * key the table name on it, and when that generation is missing GC
    * the family's older generations for `d` and `build` the new one
    * under the returned name. */
  def ensureTable(s: SparkSession, prefix: String, d: String)(
      build: String => Unit): String = {
    val table = tableName(prefix, d, dataFingerprint(s, d, defaultFileFor(prefix)))
    if (!s.catalog.tableExists(table)) {
      gcTables(s, prefix, d)
      build(table)
    }
    table
  }

  /** Index-family integrity audit — the [[BucketStore.fsck]] analogue
    * for the catalog-table side of the persisted-index families
    * (decontam/novelty/dedup/spans/bucketed-join): one bounded row per
    * check for THIS (family prefix, source dir), same (check, status,
    * detail) shape as the health-report families so a scheduler can
    * page on it in the same loop.
    *
    *   - `index_current` — the digested table for the CURRENT data
    *     fingerprint exists in the catalog (warn when absent: the next
    *     probe pays a full build, which is the designed behavior after
    *     a corpus regeneration, not corruption);
    *   - `bucket_spec` — the current table still carries its bucket
    *     spec (fail: a catalog table without bucketing silently
    *     re-shuffles the index side on every probe — the exact cost
    *     the layout exists to amortize);
    *   - `stale_generations` — other digested generations of this
    *     family+dir linger in catalog or warehouse (warn: disk held
    *     until the next rebuild's GC; never correctness);
    *   - `retired_naming` — pre-digest-format tables of this
    *     family+dir remain (warn: swept by the next rebuild's GC;
    *     see the mixed-version caveat in [[gcTables]]). */
  def audit(s: SparkSession, familyPrefix: String, d: String,
            file: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val srcFile = file.getOrElse(defaultFileFor(familyPrefix))
    val rows = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    val fp = scala.util.Try(dataFingerprint(s, d, srcFile)).toOption
    val current = fp.map(tableName(familyPrefix, d, _))
    val digested = generationOf(tableName(familyPrefix, d, ""))(_)
    val retired = generationOf(
      (familyPrefix + d.replaceAll("[^A-Za-z0-9]", "_") + "_").toLowerCase)(_)
    val catalogGens = s.catalog.listTables().collect().map(_.name)
      .filter(n => digested(n) || retired(n)).toSeq
    // the warehouse outlives the in-memory catalog: cross-JVM debris
    // (and a prior session's catalog-less current dir) is only
    // visible on DISK — audit both views, like gcTables sweeps both
    val whGens = scala.util.Try {
      val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
      wh.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listStatus(wh).map(_.getPath.getName)
        .filter(n => digested(n) || retired(n)).toSeq
    }.getOrElse(Seq.empty)
    rows += ((current, current.exists(catalogGens.contains)) match {
      case (None, _) => ("index_current", "fail",
        s"source $d/$srcFile unreadable — cannot fingerprint")
      case (Some(c), true) => ("index_current", "ok", c)
      case (Some(c), false) if whGens.contains(c) => ("index_current", "warn",
        s"catalog-less dir for current fingerprint ($c) — unusable " +
          "across JVMs; next probe rebuilds (and GCs the orphan)")
      case (Some(c), false) => ("index_current", "warn",
        s"no index for current fingerprint ($c) — next probe builds")
    })
    current.filter(catalogGens.contains).foreach { c =>
      rows += (org.apache.spark.sql.graftbridge.PlanBridge.numBuckets(s, c) match {
        case Some(b) => ("bucket_spec", "ok", s"buckets=$b")
        case None => ("bucket_spec", "fail",
          s"$c has NO bucket spec — probes will shuffle the index side")
      })
    }
    val allGens = (catalogGens ++ whGens).distinct
    // the current generation OWNS its sidecars: a live bloom next to
    // the current table is part of the generation, not stale debris
    def isCurrent(n: String): Boolean = current.exists(c =>
      n == c || SidecarSuffixes.exists(sfx => n == c + sfx))
    val stale = allGens.filter(n => digested(n) && !isCurrent(n))
    rows += (("stale_generations",
      if (stale.isEmpty) "ok" else "warn",
      if (stale.isEmpty) "none" else stale.sorted.mkString(",")))
    val old = allGens.filter(n => retired(n) && !digested(n))
    rows += (("retired_naming",
      if (old.isEmpty) "ok" else "warn",
      if (old.isEmpty) "none" else old.sorted.mkString(",")))
    import s.implicits._
    rows.toSeq.toDF("check", "status", "detail")
  }

  /** Best-effort GC of EVERY generation (table + warehouse dir +
    * sidecars) of this family for this source dir: the warehouse
    * outlives the in-memory catalog across JVMs, a catalog-less
    * bucketed directory is unusable (bucket metadata lives in the
    * catalog), and Spark refuses to create a managed table over an
    * existing location. Run only when a new index is about to be
    * built; losing a race costs disk, never correctness — live
    * probes resolve through their own fingerprint-keyed name.
    * `onSweep` lets callers evict path-keyed caches (q78's bloom). */
  def gcTables(s: SparkSession, familyPrefix: String, d: String,
               onSweep: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    try {
      val digested = generationOf(tableName(familyPrefix, d, ""))(_)
      // retired pre-digest naming (same stem, no path digest): a prior
      // session's table under the old name would otherwise leak
      // warehouse disk forever. All old-format tables are stale by
      // construction — new probes resolve through digested names —
      // so collecting a sanitization-colliding sibling's old-format
      // table is also correct (it too can never be probed again).
      // MIXED-VERSION CAVEAT: that claim assumes every JVM sharing
      // this warehouse runs the digested naming. A still-running
      // PRE-digest binary pointed at the same warehouse would have
      // its live table collected here mid-session; rolling upgrades
      // against a shared warehouse must drain old-binary sessions
      // first (or skip GC for one deploy). Same-version concurrency
      // stays safe — live probes resolve through their own
      // fingerprint-keyed digested names.
      val retired = generationOf(
        (familyPrefix + d.replaceAll("[^A-Za-z0-9]", "_") + "_").toLowerCase)(_)
      val isGen = (n: String) => digested(n) || retired(n)
      s.catalog.listTables().collect()
        .filter(t => isGen(t.name))
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS ${t.name}"))
      // sweep the warehouse through the Hadoop FS so a non-local
      // warehouse GCs the same as file:
      val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(wh)
        .filter(st => isGen(st.getPath.getName))
        .foreach { st => onSweep(st.getPath); fs.delete(st.getPath, true) }
      // NonFatal, not Exception: best-effort GC must not eat an
      // InterruptedException and lose the thread's cancellation
    } catch { case scala.util.control.NonFatal(_) => () }
}
