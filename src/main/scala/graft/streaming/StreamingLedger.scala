package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.BucketStore

/** Streaming ADDITIVE COUNT LEDGER — the third persisted-sink contract
  * in the streaming family, for the merge the other two cannot host:
  *
  *   - quantile store ([[StreamingQuantiles]]): APPEND-ONLY ledger of
  *     finalized rows — replay safety = overwrite-by-batch-id;
  *   - snapshot ([[StreamingSnapshot]]): KEEP-LATEST — replay safety =
  *     the merge is an idempotent semilattice max;
  *   - this sink: ADDITIVE (counts, token tallies, revenue roll-ups).
  *     Addition is NOT idempotent, so at-least-once redelivery would
  *     silently double-count — the failure mode every naive streaming
  *     word-count ships with.
  *
  * Exactly-once mechanics: each micro-batch's deltas are reduced,
  * bucketed (xxhash64 of the key mod B, the snapshot layout), and
  * merged bucket-by-bucket — and every staged bucket directory carries
  * an `_applied` sidecar holding the batch id INSIDE the directory, so
  * the atomic rename that publishes the bucket publishes its applied
  * watermark with it. They cannot diverge. On (re)delivery of batch N,
  * a touched bucket whose live `_applied` is ≥ N is skipped — so:
  *
  *   - full replay of an applied batch: every bucket skips — no-op;
  *   - crash BETWEEN bucket swaps: the swapped buckets skip, the
  *     unswapped ones (whose live state is still pre-N) re-apply —
  *     the replay converges to exactly-once (LedgerStreamSpec stages
  *     this crash with a bucket restored to its pre-batch state);
  *   - crash MID-swap: the shared `.old` rename protocol
  *     ([[graft.ops.SwapRecovery]]) restores the pre-swap bucket and
  *     the replay re-applies it.
  *
  * Rows whose counters ALL reach zero are purged at merge time, so a
  * fully-retracted key leaves no residue — a readout over the ledger
  * (vocab size, hapax fraction) stays indistinguishable from a re-scan
  * of the corrected corpus, not just sum-equal.
  *
  * Scale shape: per batch the work is O(batch + touched buckets) —
  * identical to the snapshot sink; the exchange carries reduced
  * (key, counter) rows, and B sizes a bucket to a task. Deltas may be
  * negative (corrections); addition is associative/commutative so the
  * ledger is batch-boundary independent. Like its siblings, gated to
  * atomic-rename filesystems. Bucketed-store mechanics (layout
  * sidecars, writer-side recovery, reader-side crash-consistent
  * listing, the swap loop) are single-sourced in
  * [[graft.ops.BucketStore]]; [[applyBatch]] is the ONLY writer
  * (foreachBatch runs it serially), while [[readLedger]] never deletes,
  * so it cannot corrupt a concurrently-running sink — though a read
  * racing a swap can transiently fail or see a torn cross-bucket
  * view (see the BucketStore doc for the exact guarantee).
  */
object StreamingLedger {

  /** Applies one delta batch exactly once. `keys` identify a ledger
    * row; `counters` are its additive BIGINT columns; `batchId` must
    * be monotone across calls (foreachBatch's contract) — a replayed
    * id re-applies only the buckets the crash left behind. Key names
    * AND order are a creation-time layout property (they feed the
    * bucket hash); a later call with a different order is rejected. */
  def applyBatch(spark: SparkSession, batch: DataFrame, keys: Seq[String],
                 counters: Seq[String], ledgerDir: String, buckets: Int,
                 batchId: Long): Unit = {
    require(keys.nonEmpty && counters.nonEmpty, "keys and counters required")
    require(!batch.columns.contains("bucket"),
      "\"bucket\" is reserved by the ledger layout — rename the column")
    val root = new Path(ledgerDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(graft.ops.Ivf.atomicRenameScheme(fs),
      s"ledger sink requires atomic directory rename; scheme of $ledgerDir lacks it")
    BucketStore.recoverDebris(fs, root)
    val b = BucketStore.layoutBuckets(fs, root, buckets)
    BucketStore.layoutKeys(fs, root, keys)

    val bucketOf = pmod(xxhash64(keys.map(col): _*), lit(b)).cast("int")
    // coalesce: a null delta contributes zero, so stored counters are
    // never null and the purge filter below stays two-valued (a null
    // would three-value the =!= and silently drop the row)
    def sumCounters(df: DataFrame): DataFrame = df
      .groupBy(keys.map(col): _*)
      .agg(coalesce(sum(col(counters.head)), lit(0L)).cast("long").as(counters.head),
        counters.tail.map(c => coalesce(sum(col(c)), lit(0L)).cast("long").as(c)): _*)
    val reduced = sumCounters(batch).withColumn("bucket", bucketOf).persist()
    try {
      val schemaSidecar = new Path(root, "_schema")
      // ONE sidecar read per trigger (the fsck discipline): this is
      // the per-batch hot path, and a second open/read/close round
      // trip to the same tiny file buys nothing
      val currentDdl = org.apache.spark.sql.types.StructType(
        reduced.schema.fields.filterNot(_.name == "bucket")).toDDL
      val storedDdl = BucketStore.readSidecar(fs, schemaSidecar)
        .getOrElse { BucketStore.writeSidecar(fs, schemaSidecar, currentDdl); currentDdl }
      // the merge read MUST use the declared schema: a fully-retracted
      // bucket's live dir holds only the _applied sidecar (hidden from
      // the file index), and schema INFERENCE over zero visible files
      // throws — wedging the stream on the next batch into that bucket
      val ledgerSchema = org.apache.spark.sql.types.StructType.fromDDL(storedDdl)
      // counters are a creation-time contract too (the layoutKeys
      // rule): the merge below projects `existing` to THIS call's
      // columns, so a caller passing a subset would silently drop a
      // stored counter column from every touched bucket — destroyed,
      // not preserved. Types matter as well (a re-typed key re-hashes
      // rows into different buckets); nullability deliberately not
      // compared (it varies by batch source and changes no data).
      val current = org.apache.spark.sql.types.StructType(
        reduced.schema.fields.filterNot(_.name == "bucket"))
      require(
        current.fields.map(f => (f.name, f.dataType)).toSeq ==
          ledgerSchema.fields.map(f => (f.name, f.dataType)).toSeq,
        s"ledger at $root was created with schema [${ledgerSchema.toDDL}]; " +
          s"this apply carries [${current.toDDL}] — key AND counter " +
          "columns (names, order, types) are a creation-time layout " +
          "property; a subset would silently destroy the missing " +
          "counters in every touched bucket")
      val touched = reduced.select("bucket").distinct()
        .collect().map(_.getInt(0)).sorted // ≤ B ints — never data
      // the exactly-once gate: skip buckets whose published watermark
      // already covers this batch (their atomic rename included it)
      val toApply = touched.filter { bk =>
        BucketStore.readSidecar(fs, new Path(root, s"bucket=$bk/_applied"))
          .forall(_.toLong < batchId)
      }
      if (toApply.nonEmpty) {
        val deltas = reduced.filter(col("bucket").isin(toApply.map(Integer.valueOf): _*))
        val liveDirs = toApply.map(bk => new Path(root, s"bucket=$bk"))
          .filter(fs.exists).map(_.toString)
        val existing =
          if (liveDirs.isEmpty) deltas.limit(0)
          else spark.read.schema(ledgerSchema)
            .parquet(liveDirs: _*)
            // recompute the bucket from the keys (it is a pure function
            // of them) rather than reading the partition column: an
            // all-empty-dirs read discovers no partitions, so the
            // column would not exist to read
            .select(ledgerSchema.fieldNames.map(col): _*)
            .withColumn("bucket", bucketOf)
            .select(deltas.columns.map(col): _*)
        val staging = new Path(root, ".staging")
        fs.delete(staging, true)
        sumCounters(existing.unionByName(deltas))
          // purge fully-retracted rows: a key whose counters all sum
          // to zero must leave no residue (see the class doc)
          .filter(counters.map(c => col(c) =!= 0L).reduce(_ || _))
          .withColumn("bucket", bucketOf)
          .write.partitionBy("bucket").parquet(staging.toString)
        toApply.foreach { bk =>
          val staged = new Path(staging, s"bucket=$bk")
          // a bucket whose every row was retracted stages as an empty
          // dir — the swap must still run so the watermark advances
          // and the old rows are removed
          if (!fs.exists(staged)) fs.mkdirs(staged)
          // the watermark rides INSIDE the staged dir: the swap rename
          // publishes data + applied-id in one atomic step
          BucketStore.writeSidecar(fs, new Path(staged, "_applied"),
            batchId.toString, overwrite = true)
        }
        BucketStore.swapIn(fs, root, staging, toApply)
      }
    } finally { reduced.unpersist(); () }
  }

  /** Shared `.old`/.staging crash recovery (the snapshot protocol).
    * WRITER-side only — a reader running this concurrently with a
    * live sink would delete the writer's staged data mid-swap. */
  def recoverDebris(spark: SparkSession, ledgerDir: String): Unit = {
    val root = new Path(ledgerDir)
    BucketStore.recoverDebris(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Current ledger rows. Reads the crash-consistent bucket listing
    * ([[graft.ops.BucketStore.liveBucketDirs]]) WITHOUT running
    * recovery, so it is safe while the sink is running. A ledger the
    * stream has not yet written reads as zero rows with the
    * creation-time schema (`_schema` sidecar); a never-created one as
    * zero rows and zero columns. */
  def readLedger(spark: SparkSession, ledgerDir: String): DataFrame = {
    val root = new Path(ledgerDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = BucketStore.readSidecar(fs, new Path(root, "_schema"))
      .map(org.apache.spark.sql.types.StructType.fromDDL)
    val dirs = BucketStore.liveBucketDirs(fs, root)
    // leaf-dir reads carry no partition column, and the declared
    // schema keeps a fully-retracted (all-buckets-empty) ledger
    // readable where inference would throw
    if (dirs.nonEmpty)
      schema.fold(spark.read)(spark.read.schema)
        .parquet(dirs.map(_.toString): _*)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.getOrElse(new org.apache.spark.sql.types.StructType()))
  }

  /** The ledger's published per-bucket watermark map — bucket index →
    * `_applied` batch id. Because each swap publishes a bucket's data
    * and its watermark in ONE atomic rename, two equal captures of
    * this map bracket a window in which no bucket was republished. */
  def watermarks(spark: SparkSession, ledgerDir: String): Map[Int, Long] = {
    val root = new Path(ledgerDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    BucketStore.liveBucketDirs(fs, root).flatMap { d =>
      for {
        // strip the .old suffix too: liveBucketDirs serves an ORPHANED
        // bucket=N.old (crash between swapIn's renames) as bucket N's
        // authoritative data, and a bare toInt on "N.old" silently
        // dropped that bucket from the published map (round-14 review)
        bk <- scala.util.Try(
          d.getName.stripPrefix("bucket=").stripSuffix(".old").toInt).toOption
        // a torn/unreadable sidecar reads as a sentinel so a capture
        // taken mid-damage never matches a healthy one (two STABLE
        // corrupt captures still match — that is a standing-damage
        // state for fsck, not a race for this retry loop to spin on)
        v <- Some(scala.util.Try(
          BucketStore.readSidecar(fs, new Path(d, "_applied")))
          .toOption.flatten.flatMap(s => scala.util.Try(s.toLong).toOption)
          .getOrElse(Long.MinValue))
      } yield bk -> v
    }.toMap
  }

  /** True while swap debris (`.staging`, `bucket=N.old`) is present —
    * either a swap in flight or a crash pending writer recovery. A
    * consistent read must refuse both: mid-rename a bucket is
    * momentarily absent from the live listing, so two equal watermark
    * captures could bracket a read that silently MISSED that bucket;
    * and a crash-pending store is legitimately half-applied (some
    * buckets swapped, some not) until the replay converges it. */
  def storeBusy(spark: SparkSession, ledgerDir: String): Boolean = {
    val root = new Path(ledgerDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(root) && fs.listStatus(root).map(_.getPath.getName)
      .exists(n => n == ".staging" ||
        (n.startsWith("bucket=") && n.endsWith(".old")))
  }

  /** CROSS-BUCKET CONSISTENT READ (the round-12 ROADMAP candidate):
    * [[readLedger]] never corrupts a running sink, but a read racing a
    * swap can transiently fail or see a TORN view — some buckets
    * pre-batch, some post. This helper retries until one read
    * provably saw a single consistent cut: capture the watermark map,
    * MATERIALIZE the read (localCheckpoint — a lazy frame handed to
    * the caller would re-read later and be torn all over again),
    * capture again, and accept only if the two captures are equal —
    * sound because data + watermark publish in one atomic rename, so
    * equal captures mean no bucket was republished in between.
    *
    * Ledger stores only (the snapshot sink has no per-bucket version
    * marker — its keep-latest consumers tolerate torn views by
    * construction). `beforeValidate` is a test seam (the injectable-
    * transport precedent) for deterministically racing a writer
    * between materialization and validation. Throws after
    * `maxAttempts` torn reads — under a pathologically hot writer the
    * caller should read from a quiesced replica instead of spinning. */
  def readLedgerConsistent(spark: SparkSession, ledgerDir: String,
                           maxAttempts: Int = 5,
                           beforeValidate: () => Unit = () => ()): DataFrame = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val busyPre = storeBusy(spark, ledgerDir)
      val pre = watermarks(spark, ledgerDir)
      val frame = scala.util.Try(readLedger(spark, ledgerDir).localCheckpoint())
      beforeValidate()
      frame match {
        // transient read failure (a swap deleted a listed file mid-
        // scan) is the same retry class as a torn view; debris at
        // EITHER capture means in-flight or crash-pending — see
        // [[storeBusy]] for why equal watermarks alone don't cover it
        case scala.util.Success(df)
            if !busyPre && watermarks(spark, ledgerDir) == pre &&
              !storeBusy(spark, ledgerDir) =>
          return df
        case _ => ()
      }
    }
    throw new IllegalStateException(
      s"no consistent ledger read in $maxAttempts attempts ($ledgerDir): " +
        "writer too hot — read a quiesced replica")
  }

  /** The streaming hook: each micro-batch of `deltas` (raw rows — the
    * reduce happens inside [[applyBatch]], so the stream itself needs
    * NO stateful operator and no watermark) folds into the ledger
    * exactly once, keyed by foreachBatch's replay-stable batch id.
    *
    * The `_applied` watermarks order RAW batch ids, so exactly-once
    * holds only within one checkpoint lineage: a wiped checkpoint
    * restarting at 0 would have every new batch SKIPPED as
    * already-applied until its ids outgrow the old watermark (silent
    * loss), and keying the watermarks by lineage instead would
    * DOUBLE-APPLY re-served source data. [[StreamEpoch.lineageSink]]
    * refuses both loudly; the rest of the restart semantics are its
    * own. */
  def ledgerSink(spark: SparkSession, deltas: DataFrame, keys: Seq[String],
                 counters: Seq[String], ledgerDir: String, buckets: Int = 32,
                 checkpointDir: Option[String] = None): StreamingQuery =
    StreamEpoch.lineageSink(spark, deltas, ledgerDir, checkpointDir) {
      (batch, batchId, _) =>
        applyBatch(spark, batch, keys, counters, ledgerDir, buckets, batchId)
    }
}
