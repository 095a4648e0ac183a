package graft

/** Prints the formatted physical plan for every declared query — the
  * scale audit loop: check pushed filters, pruned read schemas,
  * broadcast vs shuffle joins, and WholeStageCodegen coverage.
  * Usage: runMain graft.ExplainAudit <sfDir> [queryName...]
  *
  * Read-only: the index-probe queries build their index tables while
  * planning, so the session's warehouse is a temporary directory,
  * removed on exit.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val warehouse = java.nio.file.Files.createTempDirectory("graft-explain-warehouse")
    val spark = SparkEntry.session(conf = Map("spark.sql.warehouse.dir" -> warehouse.toString))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n===================== $name =====================")
      try println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
    val paths = java.nio.file.Files.walk(warehouse)
    try paths.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    finally paths.close()
  }
}
