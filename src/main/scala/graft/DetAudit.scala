package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool + gate: determinism-under-repartitioning audit over every
  * declared query. Runs each query three times — (32 partitions,
  * 128 MB splits), (7, 128 MB), (7, 64 KB splits), AQE OFF so the
  * counts are literal — and compares a canonical hash (rows sorted,
  * columns name-sorted, binary rendered hex). The two axes cover both
  * merge-order sources: shuffle partition count varies REDUCE-side
  * merge trees, input-split size varies MAP-side combine order. A
  * diff means output depends on partition/merge order: the latent
  * flake class a single gate run can never see (the round-17 sweep
  * caught q152's lattice-valued mean flipping its 4th decimal this
  * way). Run at sf0.01 or sf0.1 — at sf0.001 most plans collapse to
  * one partition either way and the audit is vacuous:
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.DetAudit /root/testdata/sf0.01"
  *
  * Expected: `DET SUMMARY 198 queries, 0 partitioning-sensitive`.
  * Genuinely partitioning-sensitive operators (none today) would be
  * documented here and skipped explicitly, not left to flake.
  * [[DetAuditSpec]] runs the same sweep over the representative
  * merge-order-sensitive shapes in CI, so the q152 class cannot
  * regress silently between hand runs (round-17 verdict #6).
  *
  * == Why task RETRY cannot reorder beyond what this sweep models ==
  *
  * A retried (or speculatively duplicated) task re-executes the same
  * deterministic function over the same input partition, so the only
  * retry-visible divergence sources are:
  *
  *  1. MAP side: a retry re-reads the SAME input split in the same
  *     (file, offset) order — per-split combine order is a pure
  *     function of split content. The split-size axis perturbs the
  *     split decomposition itself, a strictly coarser change than
  *     re-running one split verbatim.
  *  2. REDUCE side: a retried reducer re-fetches the same block SET;
  *     only fetch ARRIVAL order can differ between attempts. Arrival
  *     order also differs run-to-run on any real cluster, and the
  *     partition-count axis perturbs the reduce-side merge TREE — a
  *     coarser change than permuting arrivals within one fixed tree.
  *     Every declared aggregate is either exactly
  *     associative-commutative on exact types (longs, scaled integers
  *     after the r17 q152 fix, sets, min/max) or emits at a declared
  *     rounding the sweep already proves stable under tree changes.
  *  3. NONDETERMINISTIC expressions (rand, uuid,
  *     monotonically_increasing_id), where an attempt's output is not
  *     a function of its input: Spark handles these via INDETERMINATE
  *     stage resubmission, but a consumer that checkpointed partial
  *     results can still observe a mix. No declared query contains
  *     one — mechanically pinned by DetAuditSpec's
  *     all-expressions-deterministic walk over all 198 analyzed
  *     plans, so this class is excluded by construction, not by
  *     review.
  *
  * Speculative execution adds no fourth source: both attempts of a
  * deterministic task produce identical shuffle files, and Spark
  * consumes exactly one attempt's committed output (local mode cannot
  * exercise it anyway — TaskSchedulerImpl disables speculation when
  * isLocal). */
object DetAudit {

  /** Canonical result hash: columns name-sorted, each row's values joined
    * with NUL (a separator that cannot appear in rendered numeric/hex
    * values and does not occur in the corpus's space-joined token
    * text — round-17 advice: an empty-string join let ("ab","c") and
    * ("a","bc") collide, the one failure mode an audit hash must not
    * have), then each ROW hashed individually and the sorted
    * row-hashes hashed together — row boundaries can therefore never
    * be forged by values containing a row separator, whatever a
    * future query emits. ARRAY values render as the concatenation of
    * their elements' individual fixed-width hashes — a comma join
    * read Seq("a,b") and Seq("a","b") identically, an element-boundary
    * forgery that could mask a real determinism diff in an
    * array-of-strings column exactly the way the old empty-string
    * COLUMN join could (round-18 advice); per-element hashing (the
    * advice's stronger option) leaves NO in-band separator to forge —
    * not even a NUL inside an element can move a boundary. Shared by
    * the main sweep and DetAuditSpec. */
  def canonicalHash(df: DataFrame): String = {
    def sha(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    def render(v: Any): String = v match {
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case s: Seq[_] => s.map(e => sha(render(e))).mkString("[", "", "]")
      case v => String.valueOf(v)
    }
    val cols = df.columns.sorted.toSeq
    val rowHashes = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
      .map(r => sha((0 until r.length).map(i => render(r.get(i)))
        .mkString("\u0000")))
      .sorted
    sha(rowHashes.mkString)
  }

  /** The three-regime sweep for one query on a live session: returns
    * the three canonical hashes ((32p, 128 MB), (7p, 128 MB),
    * (7p, 64 KB)); restores the session confs it touches. */
  def sweep(spark: SparkSession, dir: String, q: String): Seq[String] = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.files.maxPartitionBytes", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      // AQE OFF: at small SF adaptive coalescing collapses the regimes
      // to the same effective partitioning, hiding exactly the
      // merge-order sensitivity this audit probes for
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Seq(("32", "134217728"), ("7", "134217728"), ("7", "65536")).map {
        case (parts, split) =>
          spark.conf.set("spark.sql.shuffle.partitions", parts)
          spark.conf.set("spark.sql.files.maxPartitionBytes", split)
          canonicalHash(SparkEntry.queries(q)(spark, dir))
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted
    var diff = 0
    names.foreach { q =>
      try {
        val hs = sweep(spark, dir, q)
        if (hs.distinct.size != 1) {
          diff += 1; println(s"DET DIFF $q ${hs.mkString(" ")}")
        } else println(s"DET OK $q")
      } catch { case e: Throwable =>
        println(s"DET ERR $q ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    println(s"DET SUMMARY ${names.size} queries, $diff partitioning-sensitive")
    spark.stop()
  }
}
