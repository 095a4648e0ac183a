package graft.streaming

import org.apache.spark.sql.SparkSession

/** Checkpoint-lineage batch tags for the incremental-index ingest
  * streams ([[StreamingSpans]], [[StreamingDedup]]).
  *
  * The incremental probes scope their replay self-match exclusion to
  * `src_batch === <probing batch's id>` — correct while batch ids are
  * unique within the index's lifetime. Structured Streaming batch ids
  * are only unique PER CHECKPOINT: wipe the checkpoint (or point the
  * same index at a new one) and the id sequence restarts at 0, so a
  * brand-new batch 0 claims the same id as the long-gone batch 0 whose
  * rows the index still holds. A redelivered doc_id landing in a
  * same-numbered batch then reads its own historical index entries as
  * "my replay's rows" and skips them — silently UNDER-flagging
  * duplication (round-15 verdict sweep target #1).
  *
  * The fix is to tag `src_batch` with the streaming query's stable id
  * instead of the raw batch id. Spark persists that id in
  * `<checkpoint>/metadata` at stream start: it is stable across
  * restarts of the same checkpoint (so a replay-after-append still
  * self-excludes, crash or no crash) and regenerated on a wipe (so
  * nothing written by a previous lineage is ever excluded — a
  * redelivered doc matches its own earlier entries and reads as the
  * full duplicate it is, the documented later-batch-redelivery
  * semantics). Batch-API callers keep passing raw ids; the tag is a
  * streaming-layer concern.
  */
private[graft] object StreamEpoch {

  /** The streaming query id recorded in the checkpoint's metadata
    * file — present before the first micro-batch runs (StreamExecution
    * writes it at start). Read per call, NOT cached: a wiped-and-
    * recreated checkpoint under the same path must yield the fresh id
    * within one JVM, and the read is a few hundred bytes per
    * micro-batch next to the batch's actual Spark jobs. */
  private[graft] def queryId(spark: SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val raw = try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
        .foreach(n => out.write(buf, 0, n))
      out.toString("UTF-8")
    } finally in.close()
    // {"id":"<uuid>"} — a fixed two-key shape; no JSON dep needed
    """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(raw).map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"checkpoint metadata at $p carries no query id: $raw"))
  }

  /** The (query id, batch id) pair folded to one Long for the index's
    * `src_batch` column. Only EQUALITY is ever tested on it, so a
    * strong hash is enough: SHA-256 first 8 bytes, sign bit cleared so
    * the tag is always ≥ 0 and can never collide with the batch API's
    * NoBatch = -1 sentinel. */
  def tag(queryId: String, batchId: Long): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$queryId#$batchId"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong & Long.MaxValue
  }

  /** True when a marker-less `outDir` already holds PRIOR CONTENT.
    * Any VISIBLE entry counts — the six sinks' id-keyed layouts
    * (`batch_id=`, `batch=`, `bucket=` incl. `bucket=N.old` debris,
    * and the one-level-nested `scores/`/`clean/`/`quarantine/`
    * variants) are all visible names, and so is anything an
    * UNRELATED job may have left (plain part-files, a stray export):
    * the refusal's rationale — "cannot tell whose data this is" —
    * applies to every one of them equally (round-17 advice closed
    * the non-sink-shaped gap here). Underscore/dot entries are
    * exempt so a first batch whose own `_checkpoint` /
    * `_spark_metadata` already materialized still adopts; the one
    * dot-prefixed SINK layout, the ledger's `.staging` scratch, is
    * re-included by name. One top-level listing, no recursion. */
  private def hasPriorContent(fs: org.apache.hadoop.fs.FileSystem,
                              dir: org.apache.hadoop.fs.Path): Boolean = {
    if (!fs.exists(dir)) return false
    fs.listStatus(dir).exists { s =>
      val n = s.getPath.getName
      n.startsWith(".staging") || (!n.startsWith("_") && !n.startsWith("."))
    }
  }

  /** Binds `outDir` to one checkpoint lineage. The `batch_id=<id>/`
    * output layout is only meaningful while batch ids are unique, so
    * an outDir re-used under a NEW checkpoint would have its old
    * lineage's dirs silently OVERWRITTEN by the restarted id sequence
    * (a documented-but-silent hazard before round 16). A `_lineage`
    * marker (underscore-prefixed: invisible to Spark's file readers)
    * records the owning query id; a mismatch fails the stream loudly
    * with the remedy instead of stomping data.
    *
    * A marker-less dir is adopted (marker written) ONLY when it holds
    * no visible content (see [[hasPriorContent]]). A marker-less dir
    * WITH content is a
    * pre-upgrade state this code cannot classify — it may legitimately
    * belong to THIS checkpoint (safe to continue) or to a wiped one
    * (the exact silent mis-skip/overwrite the marker exists to stop) —
    * so it REFUSES and asks the operator to attest: write the query id
    * to `<outDir>/_lineage` iff the original checkpoint is intact
    * (round-17 advice; silent adoption previously re-opened the wipe
    * hole for every dir written before the marker existed).
    *
    * Object-store contract: the marker commits via temp-write +
    * `rename` ([[writeMarkerAtomic]]) — atomic everywhere, and
    * refuse-if-destination-exists on HDFS; the local filesystem's
    * POSIX rename replaces an existing destination and S3A is
    * copy+delete, so on those two stores racing queries could both
    * "win" creation. The read-back below NARROWS that to at most one in-flight
    * batch, it does not close it: S3 is strongly consistent, so once
    * both PUTs have landed every GET returns the last writer and at
    * most one racer matches — but a racer whose GET interleaves
    * BEFORE the other's PUT reads its own content and proceeds for
    * that one batch; it fails at its NEXT ensureLineage call (every
    * micro-batch re-checks), bounding the mixed-lineage exposure to a
    * single batch dir. On HDFS/local the guard is exact. (Two queries
    * sharing one outDir is an operational error in any case; the
    * guard's job is to make it loud, and quickly.) */
  private[graft] def ensureLineage(spark: SparkSession, outDir: String,
                                       queryId: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(outDir, "_lineage")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      if (hasPriorContent(fs, new org.apache.hadoop.fs.Path(outDir)))
        throw new IllegalStateException(
          s"output dir $outDir holds content but no _lineage marker " +
            "(written before lineage guarding, by an unrelated job, or the " +
            "marker was deleted): " +
            "cannot tell whether its batch ids belong to this checkpoint. " +
            s"If the original checkpoint is INTACT and this is its query, " +
            s"attest by writing the query id to $outDir/_lineage " +
            s"(echo -n '$queryId' > _lineage); if the checkpoint was wiped, " +
            "point this run at a FRESH directory (outputs compose as the " +
            s"union of lineage dirs) or delete $outDir to discard the old " +
            "state. Adopting silently would let restarted batch ids " +
            "overwrite the old dirs and mis-skip exactly-once watermarks.")
      // first-writer-wins: temp write + rename (see writeMarkerAtomic);
      // on S3A the read-back below arbitrates
      writeMarkerAtomic(fs, p, queryId)
    }
    val prev = readMarker(fs, p, "_lineage",
      "if the dir holds prior content the next run will then ask for the " +
        "usual attestation")
    if (prev != queryId)
      throw new IllegalStateException(
        s"output dir $outDir belongs to streaming lineage $prev, but this " +
          s"query is lineage $queryId (new/wiped checkpoint): restarted " +
          "batch ids are not comparable with the ids already recorded " +
          "there — batch_id= dirs would be overwritten, and exactly-once " +
          "watermarks would mis-skip or double-apply. Point the new run at " +
          "a FRESH directory (outputs compose as the union of lineage " +
          s"dirs), restore the original checkpoint, or delete $outDir to " +
          "discard the old state.")
  }

  /** First-writer-wins marker commit, crash-atomic. The previous
    * `create(p) → write → close` could crash between create and close
    * (or, on HDFS, be read by a concurrent prober before close),
    * leaving an EMPTY marker that every later probe reads as lineage
    * "" — a permanent refusal whose message names a blank lineage and
    * prescribes the wrong remedy (round-18 advice). Content now lands
    * in a dot-prefixed temp sibling (invisible to [[hasPriorContent]]
    * and to Spark's readers) and RENAMES into place: rename is the
    * FS-atomic commit, so a crash can no longer leave a PARTIAL
    * marker anywhere. First-writer-wins exclusivity is
    * filesystem-graded, same as before the change: HDFS rename
    * refuses an existing destination (exact); the local filesystem's
    * POSIX rename REPLACES one (last-writer-wins — but the previous
    * `create(overwrite=false)` was check-then-act there too, so this
    * is no weaker); S3A is copy+delete. On every store the read-back
    * comparison both racers fall through to is what arbitrates, and
    * the per-micro-batch re-check bounds a mixed outcome to one
    * batch — see [[ensureLineage]]'s object-store contract note. */
  private def writeMarkerAtomic(fs: org.apache.hadoop.fs.FileSystem,
                                p: org.apache.hadoop.fs.Path,
                                content: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    try {
      val out = fs.create(tmp, false)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, p)) fs.delete(tmp, false) // lost the race — compare below
    } catch {
      case _: java.io.IOException => // lost the race — compare below
        try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
    }
  }

  /** Marker read-back with corrupt-marker detection: an empty marker
    * can no longer be WRITTEN by this code (temp+rename above), but
    * one left by a pre-fix crash or a truncated manual copy must fail
    * with ITS OWN remedy, not masquerade as a refusal by lineage "". */
  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path,
                         what: String, afterDelete: String): String = {
    val in = fs.open(p)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
    if (s.isEmpty) throw new IllegalStateException(
      s"$what marker at $p is EMPTY — corrupt (crash mid-write under a " +
        "pre-atomic-commit version, or a truncated copy), not a real " +
        s"lineage record. Delete the marker ($p) and re-run: $afterDelete.")
    s
  }
}
