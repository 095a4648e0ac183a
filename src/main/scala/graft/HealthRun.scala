package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** CLI for the health-dashboard operational loop (README runbook): each
  * vintage `write`s a report; the scheduler `diff`s consecutive
  * vintages and acts on the exit code — 0 = all checks unchanged,
  * 1 = drift beyond tolerance (page), 2 = usage error. The paged rows
  * print as NDJSON on stdout so an alerting hook can forward them
  * verbatim.
  *
  *   runMain graft.HealthRun write /root/testdata/sf0.01 /tmp/health/2026-08-15
  *   runMain graft.HealthRun diff  /tmp/health/2026-08-14 /tmp/health/2026-08-15 0.10
  *
  * `write` also accepts trailing `label=storeDir` args (store_fsck
  * family) and `idx:familyPrefix=dataDir` args (idx_fsck family), so
  * persisted-sink and persisted-index integrity ride the same vintage
  * loop as corpus drift. */
object HealthRun {

  /** The dispatch body, separated from [[main]] so specs can drive the
    * REAL CLI path (argument parsing, exit codes, stdout shape)
    * without the `sys.exit`. */
  private[graft] def run(spark: SparkSession, args: List[String]): Int =
    args match {
      case "write" :: dataDir :: outDir :: extraArgs =>
        // trailing label=storeDir args append the store_fsck family;
        // idx:prefix=dataDir args the idx_fsck family. A malformed
        // arg is a usage error — exit 2
        val (idxRaw, storeRaw) = extraArgs.partition(_.startsWith("idx:"))
        val stores = storeRaw.map { a =>
          a.split("=", 2) match {
            case Array(l, d) if l.nonEmpty && d.nonEmpty => Some(l -> d)
            case _ => None
          }
        }
        val idxFams = idxRaw.map { a =>
          a.stripPrefix("idx:").split("=", 2) match {
            case Array(p, d) if p.nonEmpty && d.nonEmpty => Some(p -> d)
            case _ => None
          }
        }
        lazy val labels = stores.flatten.map(_._1) ++ idxFams.flatten.map(_._1)
        def dirExists(dir: String): Boolean =
          // the probe must be TOTAL (round-14 review): a malformed URI
          // or missing filesystem jar throws from Path/getFileSystem/
          // exists, and an uncaught throw here would escape main and
          // exit 1 — the page signal — for what is by definition a
          // setup error
          scala.util.Try {
            val p = new org.apache.hadoop.fs.Path(dir)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
          }.getOrElse(false)
        // a store or index source REGISTERED for monitoring must exist
        // at write time: fsck/audit report a missing dir as a fail
        // STATUS row, so a typo'd path would exit 0 here, page once as
        // family-added, then compare fail==fail "unchanged" forever —
        // the real target rots silently. Setup error, exit 2.
        lazy val missing =
          stores.flatten.filterNot { case (_, dir) => dirExists(dir) } ++
          idxFams.flatten.filterNot { case (_, dir) => dirExists(dir) }
        if (stores.exists(_.isEmpty)) {
          System.err.println(
            s"malformed store arg (want label=storeDir): " +
              storeRaw.mkString(" "))
          2
        } else if (idxFams.exists(_.isEmpty)) {
          System.err.println(
            s"malformed index-family arg (want idx:familyPrefix=dataDir): " +
              idxRaw.mkString(" "))
          2
        } else if (labels.distinct.size != labels.size) {
          // toMap would silently keep only the LAST dir per label,
          // dropping a store/family from monitoring with no error
          System.err.println(s"duplicate store/family label(s): " +
            labels.diff(labels.distinct).distinct.mkString(","))
          2
        } else if (missing.nonEmpty) {
          System.err.println(s"store/data dir(s) not found: " +
            missing.map { case (l, d) => s"$l=$d" }.mkString(" "))
          2
        } else
          // same contract as diff/fsck: a failed write (bad dataDir,
          // unwritable outDir) is a setup error — exit 2, never 1; an
          // uncaught throw would exit the JVM with the page signal
          try {
            ops.Health.writeHealthReport(spark, dataDir, outDir,
              stores.flatten.toMap, idxFams.flatten.toMap)
            println(s"""{"written":"$outDir"}""")
            0
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"cannot write report: ${e.getMessage}")
              2
          }
      case "diff" :: aDir :: bDir :: rest if rest.size <= 1 =>
        // a malformed tolerance or a missing report dir must exit 2
        // (setup/usage), never 1 — 1 is the page signal and a locale
        // typo or the loop's very first run (no previous vintage yet)
        // must not page
        rest.headOption.map(t => scala.util.Try(t.toDouble)) match {
          case Some(scala.util.Failure(_)) =>
            System.err.println(s"malformed tolerance: ${rest.head}")
            2
          case tolOpt =>
            try {
              val tol = tolOpt.map(_.get).getOrElse(0.0)
              val paged = ops.Health.diffReports(spark, aDir, bDir, tol)
                .filter(col("status") =!= "unchanged")
              // bounded by construction (≤ 1 row per check) — safe to pull
              val rows = paged.toJSON.collect()
              rows.foreach(println)
              if (rows.isEmpty) 0 else 1
            } catch {
              // any failure to READ the reports — analysis-time
              // (missing dir) or execution-time (torn parquet from a
              // crashed write) — is a setup error, never a page
              case scala.util.control.NonFatal(e) =>
                System.err.println(s"cannot read reports: ${e.getMessage}")
                2
            }
        }
      case "fsck" :: storeDir :: Nil =>
        // persisted-sink integrity audit (ledger/snapshot store dirs):
        // warns (debris pending recovery) don't page — fails do
        try {
          val report = ops.BucketStore.fsck(spark, storeDir)
          report.toJSON.collect().foreach(println) // ≤ 7 rows by construction
          if (report.filter(col("status") === "fail").isEmpty) 0 else 1
        } catch {
          // same contract as diff: a failure to READ the store
          // (unreachable mount, torn parquet mid-scan) is a setup
          // error — exit 2, never the page signal
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"cannot audit store: ${e.getMessage}")
            2
        }
      case "idxfsck" :: familyPrefix :: dataDir :: rest if rest.size <= 1 =>
        // persisted INDEX-TABLE integrity audit (the catalog-side
        // analogue of fsck, for the decontam/novelty/dedup/spans/
        // bucketed-join families): warns (stale generations pending
        // the next rebuild's GC, or no index yet) don't page — fails
        // (unfingerprintable source, spec-less table) do. The
        // optional <file> operand overrides the per-family default
        // fingerprint source (known families resolve automatically —
        // the bucketed-join families key on orders/customer.parquet,
        // not documents.parquet; see IndexTables.FamilyFiles)
        try {
          val report = ops.IndexTables.audit(spark, familyPrefix, dataDir,
            rest.headOption)
          report.toJSON.collect().foreach(println) // ≤ 4 rows by construction
          if (report.filter(col("status") === "fail").isEmpty) 0 else 1
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"cannot audit index family: ${e.getMessage}")
            2
        }
      case _ =>
        System.err.println(
          "usage: HealthRun write <dataDir> <outDir>" +
            " [label=storeDir ...] [idx:familyPrefix=dataDir ...]" +
            " | diff <aDir> <bDir> [tolerance] | fsck <storeDir>" +
            " | idxfsck <familyPrefix> <dataDir> [file]")
        2
    }

  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    val exit = run(spark, args.toList)
    spark.stop()
    sys.exit(exit)
  }
}
