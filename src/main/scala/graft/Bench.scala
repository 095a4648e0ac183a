package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE totals-only JSON line as the
  * absolute last stdout line —
  * {"metric":"total","value":N,"unit":"sec","queries_timed":…,
  * "queries_total":…,"complete":…,"sf":…} — constant-size in the
  * query count (see [[totalsLine]]); the per-query map lives in
  * BENCH_FULL.json only. Queries run in sorted-name order; a failed
  * query contributes its elapsed time and is reported on stderr
  * (never corrupts the JSON).
  *
  * KILL-PROOF BY CONSTRUCTION (round 6 lost its whole artifact to a
  * driver timeout at rc 124): the full JSON is rewritten ATOMICALLY to
  * BENCH_FULL.json (override: SPARK_GRAFT_BENCH_OUT) after EVERY
  * sample, so a kill at any instant leaves a complete, parseable
  * artifact covering everything measured so far — and the whole
  * schedule runs under a hard wall-clock budget
  * (SPARK_GRAFT_BENCH_DEADLINE_S, default 1050 s):
  *
  *  - each sample runs inside a Spark job group with a watchdog that
  *    cancels it at a cap derived from the remaining budget (an equal
  *    split over the samples still owed, clamped to [MinCap, MaxCap]),
  *    so one query stuck inside a noisy-neighbor burst cannot eat the
  *    suite — the capped sample is recorded at the cap and flagged;
  *  - sweep 2, retry rounds, and slow-query re-samples are all
  *    deadline-gated: when the budget nears exhaustion they are
  *    skipped and whatever is held is emitted, with unrefined queries
  *    visible in the spread (n_samples / agreed / n_capped).
  *
  * The file also exists because the driver's stdout capture keeps only
  * the tail of very long lines — rounds 1-5 lost q01-q15 to that. */
object Bench {

  /** A query's accepted estimate is the min over its samples, but only
    * once two samples agree within this factor — one sample alone (or
    * two that disagree wildly) may both sit inside a noisy-neighbor
    * burst. */
  val AgreeFactor = 2.0

  /** Two samples within this many seconds of each other always agree:
    * scheduling jitter makes sub-second queries violate the ratio test
    * routinely, and re-timing them buys no information — the burst
    * this estimator defends against inflates by tens of seconds. */
  val AgreeFloorSec = 0.5

  /** Extra re-time rounds after the two base sweeps. */
  val MaxRetryRounds = 3

  /** Pause before each retry round, buying temporal separation from
    * the burst that caused the disagreement. Round 5's 45 s pause was
    * 2.25 min of guaranteed idle across three rounds — more than two
    * full clean suites — and contributed to round 6's driver-side
    * timeout kill; 10 s plus the other retried queries' runtime still
    * de-correlates from sub-minute bursts, and the deadline gate (not
    * the pause length) now bounds total spend. */
  val RetryPauseMs = 10000L

  /** Slow queries keep sampling even when their samples agree: a burst
    * longer than both sweeps makes inflated samples agree with EACH
    * OTHER (observed: a 1.5s query recorded as [70s, 106s] "agreed",
    * and a 2.7s one as [36s, 42s] across THREE samples inside one
    * burst). Any query whose best sample still exceeds this threshold
    * gets re-timed, up to [[SlowMaxSamples]] total, hunting for a
    * clean window; one sub-threshold sample ends the hunt (the ratio
    * test then anchors on it). All such hunting is deadline-gated. */
  val SlowThresholdSec = 5.0
  val SlowMaxSamples = 5

  /** Hard wall-clock budget (seconds) for the whole bench run;
    * overridable via SPARK_GRAFT_BENCH_DEADLINE_S. The clock starts
    * AFTER SparkSession init, so the driver-observed wall time adds
    * ~40-60 s of sbt launch — ~17.7 min here keeps the worst case
    * under a 20-min external kill with ~80-100 s slack, while leaving
    * ~8 suite-lengths of clean headroom (the full suite is ~125 s
    * clean at 196 queries). The all-capped worst case still fits:
    * while the equal split (deadline − reserve)/n exceeds MinCapSec
    * the sweep is budget-preserving by construction — with MinCapSec
    * 5.2 the split stays binding (and budget-preserving) through
    * n ≤ 198, exactly the declared [[WorstCaseQueries]] = 198
    * (BenchSpec pins both the real suite size and the declared worst
    * case from the constants alone). 1050 → 1060 in round 15: q198
    * took the suite to 197, past the 1050-budget binding limit of
    * 196 — the round-14 scaladoc's own rule ("growth past 196 must
    * renegotiate the DEADLINE, not the floor"), applied. */
  val DefaultDeadlineSec = 1060.0

  /** Budget reserved at the tail for the final artifact write and
    * spark.stop(). */
  val FinishReserveSec = 30.0

  /** Per-sample watchdog clamp. The floor only binds in the
    * all-capped degenerate sweep (budget nearly gone, every sample
    * clamped); in a healthy run the equal split is well above it, so
    * every clean sample runs uncapped. 11 s → 9 s → 8 s → 7 s → 6 s →
    * 5.5 s → 5.2 s as rounds 9-12 grew the suite (the 185 provision
    * had 8 free slots when round 12 closed at 177 queries).
    * Margin math for 5.2 s: the slowest clean query is q92 at a
    * ~2.6 s in-suite min (round-12 measurement, post LSH-cache fix),
    * so the floor keeps exactly the ~2.0× margin over the slowest
    * clean sample the spec requires — a clean sample can only be
    * capped in the all-capped degenerate sweep, where capping is the
    * designed behavior. Renegotiating below 2× must instead extend
    * the deadline.
    * The ceiling bounds the damage any single burst can do to the
    * schedule. Absolute worst case overshoot past the deadline is one
    * floor-capped sample plus cancellation latency — the artifact on
    * disk is already complete for everything measured before it. */
  val MinCapSec = 5.2
  val MaxCapSec = 150.0

  /** The suite size the all-capped sweep-1 worst case is provisioned
    * for; BenchSpec simulates this many floor-capped samples against
    * the default deadline, so growth past it fails a test instead of
    * silently eating the finish reserve. At 198 the equal split
    * ((1060−30)/198 = 5.202 s) still clears the 5.2 s floor, so the
    * sweep stays budget-preserving by construction; the split first
    * stops binding at 199 queries (1030/199 = 5.18 < 5.2) — with the
    * floor already at its 2× margin over q92, any growth past 198
    * must renegotiate the DEADLINE again, not the floor. */
  val WorstCaseQueries = 198

  def agreed(samples: Seq[Double]): Boolean = {
    val s = samples.sorted
    s.length >= 2 &&
      (s(1) - s(0) < AgreeFloorSec || s(1) <= s(0) * AgreeFactor)
  }

  def needsMoreSamples(samples: Seq[Double]): Boolean =
    !agreed(samples) ||
      (samples.min > SlowThresholdSec && samples.length < SlowMaxSamples)

  /** Watchdog cap for the next sample: an equal split of the remaining
    * budget (minus the finish reserve) across the samples still owed in
    * the current phase, clamped to [MinCapSec, MaxCapSec]. While the
    * split term binds, the phase provably finishes inside the budget;
    * once the floor binds the overshoot is bounded by
    * MinCapSec × samplesLeft and every sample is flagged capped. */
  def sampleCap(remainingSec: Double, samplesLeft: Int): Double =
    math.max(MinCapSec, math.min(MaxCapSec,
      (remainingSec - FinishReserveSec) / math.max(1, samplesLeft)))

  /** A refinement sample (sweep 2 / retries / slow hunt) is worth
    * starting only if the budget can still fit a floor-capped run plus
    * the finish reserve — otherwise emit what's held. */
  def canRefine(remainingSec: Double): Boolean =
    remainingSec > FinishReserveSec + MinCapSec

  /** The stdout contract line — TOTALS ONLY, no per-query map. Five
    * rounds of BENCH artifacts came back `parsed: null` because the
    * driver's capture keeps only the tail of long stdout lines: the
    * ~4.5 KB spread line (rounds 4-7) and even the ~2.6 KB compact
    * map line (round 8, 90 queries) both decapitated the leading
    * `{"metric":...`. This line is ~150 bytes and CONSTANT-SIZE in
    * the query count (pinned by BenchSpec), so it can never outgrow
    * the capture window again; the per-query map and spread live in
    * BENCH_FULL.json only. */
  def totalsLine(totalSec: Double, timed: Int, total: Int,
                 complete: Boolean, sf: String): String = {
    val v = BigDecimal(totalSec).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    s"""{"metric":"total","value":$v,"unit":"sec","queries_timed":$timed,""" +
      s""""queries_total":$total,"complete":$complete,"sf":${Verify.jsonString(sf)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val deadlineSec = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_S")
      .map(_.toDouble).getOrElse(DefaultDeadlineSec)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // trust the write-time per-bucket sort (single-file buckets only)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session warmup: exercise codegen, shuffle, and the parquet reader
    // once so the first timed query measures the query, not JVM warmup
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count()

    // box calibration: a FIXED pure-compute probe (no data, no disk)
    // timed after warmup — its value tracks the machine, never the
    // engine, so cross-round artifact comparisons can normalize out
    // the box-state drift the r14/r15 closing analyses measured
    // (uniform ×1.08 then ×1.10 medians on untouched queries). Min of
    // 3 one-job samples; ~0.5 s total.
    val calibSec = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 24).selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

    // the deadline clock starts AFTER warmup + calibration: the
    // declared all-capped worst case (WorstCaseQueries × MinCapSec +
    // FinishReserveSec = 1059.6 s) leaves only 0.4 s slack against the
    // 1060 s budget, so the ~0.5 s probe and the warmup must not run
    // inside the clock or the nominal worst case overruns the finish
    // reserve (round-15 advice). Both are fixed-cost and bounded
    // (~2-3 s total); the external-kill margin math in the
    // DefaultDeadlineSec scaladoc already absorbs them.
    val startNs = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - startNs) / 1e9
    def remainingSec: Double = deadlineSec - elapsedSec

    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
    val cappedN = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val failedN = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val watchdog = new java.util.Timer("bench-watchdog", true)
    var sampleSeq = 0

    /** One timed run under a job-group watchdog: cancellation at
      * capSec records the elapsed time (≈ the cap) and flags the
      * sample capped — a burst-stuck query cannot eat the schedule. */
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                 capSec: Double): Unit = {
      sampleSeq += 1
      val group = s"bench-$name-$sampleSeq"
      // interruptOnCancel stays false: cancellation marks stages dead and
      // tasks exit at their next kill check (per-batch for parquet scans)
      // without the thread-interrupt/HDFS-client deadlock caveat
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      // watchdog bookkeeping is RACE-HARDENED (round-14 review): the
      // timer could fire in the gap between a clean finish and
      // task.cancel() (mislabeling a good sample as capped), or while
      // a REAL failure propagated to the catch (recording the failure
      // as a cap and suppressing failedN). The done-lock stops any
      // fire after the sample's fate is sealed; the catch classifies
      // by the EXCEPTION (a cancellation mentions "cancel"), not by
      // timer timing alone.
      val lock = new Object
      var done = false
      @volatile var fired = false
      val task = new java.util.TimerTask {
        def run(): Unit = lock.synchronized {
          if (!done) { fired = true; spark.sparkContext.cancelJobGroup(group) }
        }
      }
      watchdog.schedule(task, math.max(1L, (capSec * 1000).toLong))
      val t0 = System.nanoTime()
      var wasCapped = false
      // noop-format write: materializes EVERY output column through the
      // full plan (a count() would let Catalyst prune unreferenced
      // projections, flattering map-only queries) without sink IO cost
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save() }
      catch { case e: Throwable =>
        lock.synchronized { done = true }
        wasCapped = fired && Option(e.getMessage).exists(
          _.toLowerCase.contains("cancel"))
        if (wasCapped)
          System.err.println(s"[bench] $name capped at ${capSec.round}s")
        else {
          failedN(name) += 1
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      lock.synchronized { done = true }
      task.cancel()
      spark.sparkContext.clearJobGroup()
      // queries that cache intermediates (sketch/signature frames) must
      // not leak executor memory into the next measurement
      spark.catalog.clearCache()
      samples(name) = samples.getOrElse(name, Vector.empty) :+ dt
      if (wasCapped) cappedN(name) += 1
      writeArtifact(complete = false)
    }

    def fmt(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

    def queriesJson: String = {
      val have = ordered.filter { case (n, _) => samples.contains(n) }
      have.map { case (n, _) => "\"" + n + "\":" + fmt(samples(n).min) }
        .mkString("{", ",", "}")
    }

    def totalSec: Double =
      ordered.collect { case (n, _) if samples.contains(n) => samples(n).min }.sum

    def buildJson(complete: Boolean): String = {
      val have = ordered.filter { case (n, _) => samples.contains(n) }
      val spread = have.map { case (n, _) =>
        val s = samples(n)
        "\"" + n + "\":[" + fmt(s.min) + "," + fmt(s.max) + "," + s.length +
          "," + (if (agreed(s)) "true" else "false") + "," + cappedN(n) +
          "," + failedN(n) + "]"
      }.mkString("{", ",", "}")
      // spread BEFORE queries: the driver's stdout capture keeps the
      // line's tail, so the contract-critical queries map goes last
      s"""{"metric":"total","value":${fmt(totalSec)},"unit":"sec",""" +
        s""""queries_timed":${have.length},"queries_total":${ordered.length},""" +
        s""""complete":$complete,"calib_s":${fmt(calibSec)},""" +
        s""""deadline_s":${fmt(deadlineSec)},"elapsed_s":${fmt(elapsedSec)},""" +
        s""""spread_format":"[min,max,n_samples,agreed,n_capped,n_failed]","spread":$spread,""" +
        s""""queries":$queriesJson,"sf":${Verify.jsonString(sfDir)}}"""
    }

    /** Atomic rewrite: tmp file + move, so a kill mid-write can never
      * leave a truncated (unparseable) artifact on disk. Every run
      * rewrites the contract path, and also a core-count-suffixed copy
      * (`<name>_c<cpus>.json`). The copy is a per-core-count backup, not
      * clobber prevention: a later run at another SPARK_GRAFT_CPUS with
      * the same SPARK_GRAFT_BENCH_OUT still overwrites the contract
      * file, so read an earlier run's map from its `_c<cpus>` file. */
    def writeArtifact(complete: Boolean): Unit = {
      val json = buildJson(complete) + "\n"
      val (base, ext) = outFile.lastIndexOf('.') match {
        case i if i > 0 => (outFile.substring(0, i), outFile.substring(i))
        case _          => (outFile, "")
      }
      for (path <- Seq(outFile, s"${base}_c$cpus$ext"))
        try {
          val out = java.nio.file.Paths.get(path)
          val tmp = java.nio.file.Paths.get(path + ".tmp")
          java.nio.file.Files.writeString(tmp, json)
          try java.nio.file.Files.move(tmp, out,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
            java.nio.file.Files.move(tmp, out,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] could not write $path: ${e.getMessage}")
        }
    }

    // This box has noisy neighbors: a roaming multi-minute burst can
    // inflate a CONTIGUOUS window of queries 20-50× (observed q20
    // 0.6s → 80s, and r5's q72 9.4s → 408s, with identical plans).
    // Estimator: two full sweeps (the second runs AFTER the whole
    // first, ≈ one suite length of temporal separation), then ADAPTIVE
    // re-times for any query whose two samples disagree by more than
    // AgreeFactor — a burst longer than one sweep defeats min-of-two,
    // so disagreement is retried (with a pause) until two samples
    // agree, the retry cap is hit, or the deadline budget runs out.
    // The reported value is the min; the per-query spread is emitted
    // so residual noise is visible in the artifact, not forensics.
    //
    // Sweep 1 is the only phase that MUST complete (it gives every
    // query a value in the artifact); its per-sample caps split the
    // whole remaining budget. Later phases only refine and get gated.
    for (sweep <- 1 to 2; ((name, fn), idx) <- ordered.zipWithIndex) {
      if (sweep == 1 || canRefine(remainingSec))
        timeOnce(name, fn, sampleCap(remainingSec, ordered.length - idx))
    }
    var retry = 0
    while (retry < MaxRetryRounds && canRefine(remainingSec) &&
           ordered.exists { case (n, _) => needsMoreSamples(samples(n)) }) {
      val disagreeing = ordered.filter { case (n, _) => needsMoreSamples(samples(n)) }
      System.err.println(s"[bench] retry round ${retry + 1} " +
        f"(${remainingSec}%.0fs left): " + disagreeing.map(_._1).mkString(", "))
      if (remainingSec > FinishReserveSec + MinCapSec + RetryPauseMs / 1000.0)
        Thread.sleep(RetryPauseMs)
      for (((name, fn), idx) <- disagreeing.zipWithIndex if canRefine(remainingSec))
        timeOnce(name, fn, sampleCap(remainingSec, disagreeing.length - idx))
      retry += 1
    }
    writeArtifact(complete = true)
    // the totals-only contract line MUST be the absolute last stdout
    // line: spark.stop() after it can log to stdout on some configs
    watchdog.cancel()
    spark.stop()
    println(totalsLine(totalSec,
      ordered.count { case (n, _) => samples.contains(n) },
      ordered.length, complete = true, sfDir))
  }
}
