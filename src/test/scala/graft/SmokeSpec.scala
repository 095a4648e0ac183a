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
    val pkgs = Seq("ops", "streaming", "functions", "geo", "model")
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

  test("one session builder: no SparkSession.builder in src/main outside SparkEntry") {
    // a main that built its own session drifted from the others'
    // confs (three skipped the bucket sort-trust conf, so ExplainAudit
    // printed plans Bench never ran); SparkEntry.session is the one
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"src/main/scala not found under ${System.getProperty("user.dir")}")
    val files = java.nio.file.Files.walk(root)
    val builders = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "SparkEntry.scala")
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder") =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }.toList
    finally files.close()
    assert(builders.isEmpty, s"session builders outside SparkEntry:\n${builders.mkString("\n")}")
  }

  test("one append path: insertInto and numBuckets only in Bucketing (plus IndexTables' audit)") {
    // a bucketed index that appends through its own insert drifts from
    // the one alignment step (one file per bucket); the catalog's
    // bucket count is read by Bucketing.alignTo and by the audit
    val roots = Seq("ops", "streaming").map(p => java.nio.file.Paths.get("src/main/scala/graft", p))
    assert(roots.forall(java.nio.file.Files.isDirectory(_)),
      s"graft/ops or graft/streaming not found under ${System.getProperty("user.dir")}")
    val stray = roots.flatMap { dir =>
      val files = java.nio.file.Files.walk(dir)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filterNot(_.getFileName.toString == "Bucketing.scala").flatMap { f =>
      val auditFile = f.getFileName.toString == "IndexTables.scala"
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("insertInto(") ||
            (line.contains("numBuckets(") && !auditFile) =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(stray.isEmpty, s"bucketed-table writes or reads outside Bucketing:\n${stray.mkString("\n")}")
    val auditReads = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft/ops/IndexTables.scala")).asScala
      .count(_.contains("numBuckets("))
    assert(auditReads <= 1, s"IndexTables reads numBuckets $auditReads times; only audit may")
  }

  test("one banded-LSH core: the bucket cap and the pair slice only in Dedup.bandedPairs") {
    // a family with its own copy of the cap or the i < j enumeration
    // drifts from the one cap policy
    val roots = Seq("ops", "streaming").map(p => java.nio.file.Paths.get("src/main/scala/graft", p))
    assert(roots.forall(java.nio.file.Files.isDirectory(_)),
      s"graft/ops or graft/streaming not found under ${System.getProperty("user.dir")}")
    val marks = Seq("\"bucket_n\"", "i + lit(2)")
    val dedup = java.nio.file.Paths.get("src/main/scala/graft/ops/Dedup.scala")
    val dedupLines = java.nio.file.Files.readAllLines(dedup).asScala
    val start = dedupLines.indexWhere(_.contains("def bandedPairs("))
    val end = dedupLines.indexWhere(_ == "  }", start)
    assert(start >= 0 && end > start, "Dedup.bandedPairs not found")
    val core = dedupLines.slice(start, end + 1)
    marks.foreach(m => assert(core.exists(_.contains(m)), s"$m is not in Dedup.bandedPairs"))
    val stray = roots.flatMap { dir =>
      val files = java.nio.file.Files.walk(dir)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if marks.exists(line.contains) &&
            !(f == dedup && i >= start && i <= end) =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(stray.isEmpty, s"banded-LSH copies outside Dedup.bandedPairs:\n${stray.mkString("\n")}")
  }

  test("one kernel shape: doGenCode and nullSafeEval only in NativeKernel and RuntimeLong") {
    // a kernel expression that hand-writes its eval or its generated
    // Java carries a second copy of its kernel, which can drift from
    // the first; every scalar kernel declares itself on NativeKernel
    val dir = java.nio.file.Paths.get("src/main/scala/graft/functions")
    assert(java.nio.file.Files.isDirectory(dir),
      s"graft/functions not found under ${System.getProperty("user.dir")}")
    val exprs = dir.resolve("Expressions.scala")
    val exprLines = java.nio.file.Files.readAllLines(exprs).asScala
    val start = exprLines.indexWhere(_.startsWith("case class RuntimeLong("))
    val end = exprLines.indexWhere(_ == "}", start)
    assert(start >= 0 && end > start, "RuntimeLong not found in Expressions.scala")
    val files = java.nio.file.Files.list(dir)
    val sources = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
    val found = sources.filterNot(_.getFileName.toString == "NativeKernel.scala").flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if (line.contains("doGenCode") || line.contains("nullSafeEval")) &&
            !(f == exprs && i >= start && i <= end) =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(found.isEmpty, s"hand-written eval or codegen outside NativeKernel:\n${found.mkString("\n")}")
  }

  test("one aggregate shape: TypedImperativeAggregate only in SketchAgg, no Aggregator or udaf") {
    // an aggregate that hand-implements Catalyst's protocol carries a
    // second copy of what SketchAgg derives, and a typed Aggregator
    // converts every input row through encoders; every mergeable
    // summary declares itself on SketchAgg
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"src/main/scala not found under ${System.getProperty("user.dir")}")
    val shape = root.resolve("graft/functions/SketchAgg.scala")
    val walk = java.nio.file.Files.walk(root)
    val sources = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    val found = sources.filterNot(_ == shape).flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if Seq("extends TypedImperativeAggregate", "extends Aggregator[", "udaf(")
            .exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(found.isEmpty, s"aggregate outside SketchAgg:\n${found.mkString("\n")}")
  }

  test("no custom Catalyst operator: no planner strategy, physical plan, optimizer rule or their injection") {
    // a custom operator reaches Spark-private planner API and is an
    // optimization barrier unless a second rule restores pushdown; the
    // engine composes public DataFrame operators and injects only SQL
    // functions (GraftExtensions)
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"src/main/scala not found under ${System.getProperty("user.dir")}")
    val operator = """\b(extends|with)\s+(SparkStrategy\b|SparkPlan\b|\w*ExecNode\b|Rule\[LogicalPlan\])""".r
    val seams = Seq("extraStrategies", "extraOptimizations", "injectPlannerStrategy", "injectOptimizerRule")
    val walk = java.nio.file.Files.walk(root)
    val sources = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    val found = sources.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if operator.findFirstIn(line).nonEmpty || seams.exists(line.contains) =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(found.isEmpty, s"custom Catalyst operator or its injection:\n${found.mkString("\n")}")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val n = fn(spark, TestSpark.sf0001).count()
      assert(n > 0, s"$name returned no rows")
    }
  }
}
