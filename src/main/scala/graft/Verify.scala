package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.session()
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json FIRST (it depends only on SparkEntry, not on any
    // query run): written last, one hung or killed query dump lost the
    // whole round's DuckDB compare — including every query that HAD
    // dumped successfully (round-14 review; the Bench artifact is
    // kill-proof the same way)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleSqlJson)
    // local-iteration filter (comma-separated name substrings); the
    // driver never sets it, so its runs always dump every query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.contains)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // don't leak cached sketch frames across queries
    }
    spark.stop()
  }

  /** JSON string literal (escaped) — shared with Bench's artifact so
    * both driver surfaces survive hostile paths/SQL identically. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON dump of SparkEntry.oracleSql — written by main for the
    * driver's DuckDB compare, and reused by OracleTypeGuardSpec to
    * feed tools/oracle_type_guard.py without a full Verify run.
    *
    * JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  def oracleSqlJson: String =
    SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
}
