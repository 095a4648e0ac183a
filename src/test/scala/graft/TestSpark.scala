package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide; getOrCreate):
  * the mains' session ([[SparkEntry.session]]) at a fixed 4 cores,
  * whatever `SPARK_GRAFT_CPUS` says. */
object TestSpark {
  lazy val spark: SparkSession = SparkEntry.session(4, Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse"))
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
