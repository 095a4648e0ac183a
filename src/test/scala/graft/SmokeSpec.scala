package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query runs at sf0.001 and returns rows; entry > 0.
  * (Value-level correctness is the driver's DuckDB gate at sf0.01 —
  * mirrored locally by tools/compare_oracle.py.) */
class SmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val unknown = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"oracleSql without a query: $unknown")
  }

  test("operators read no environment: their arguments alone set their behavior") {
    // deployment settings (paths, CPU counts, output files) stay with
    // the top-level mains; an operator package reading the environment
    // fails here
    val pkgs = Seq("ops", "streaming", "functions", "geo", "plans", "model")
      .map(p => java.nio.file.Paths.get("src/main/scala/graft", p))
    val missing = pkgs.filterNot(java.nio.file.Files.isDirectory(_))
    assert(missing.isEmpty, s"operator packages not found under " +
      s"${System.getProperty("user.dir")}: ${missing.mkString(", ")}")
    val reads = pkgs.flatMap { dir =>
      val files = java.nio.file.Files.walk(dir)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("sys.env") || line.contains("System.getenv") =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(reads.isEmpty, s"environment reads in operator code:\n${reads.mkString("\n")}")
  }

  test("entry points are the driver contract: no other file declares a main") {
    // a one-off diagnostic main leaves src/main once its question is
    // answered; a new entry point joins this list deliberately
    val contract = Set("Bench", "DetAudit", "ExplainAudit", "HealthRun", "Verify")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"src/main/scala not found under ${System.getProperty("user.dir")}")
    val files = java.nio.file.Files.walk(root)
    val mains = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => java.nio.file.Files.readAllLines(f).asScala.exists(_.contains("def main(")))
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    finally files.close()
    assert(mains == contract,
      s"unexpected mains: ${(mains -- contract).toSeq.sorted.mkString(", ")}; " +
        s"missing mains: ${(contract -- mains).toSeq.sorted.mkString(", ")}")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val n = fn(spark, TestSpark.sf0001).count()
      assert(n > 0, s"$name returned no rows")
    }
  }
}
