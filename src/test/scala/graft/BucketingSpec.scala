package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bucketing

class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed tables join with zero exchanges and correct results") {
    // the in-memory catalog forgets tables between JVMs but the
    // warehouse directories persist — clear both before writing
    Seq("b_orders", "b_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft-test-warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    // MULTI-partition inputs on purpose (round-14 review): bucketBy
    // writes one file per bucket PER TASK, and Spark only trusts the
    // per-bucket sort when a bucket is exactly one file — a
    // single-partition sf0.001 frame would hide a missing write-side
    // repartition and the join would silently re-Sort at read time
    Bucketing.writeBucketed(
      Tables.orders(spark, TestSpark.sf0001).repartition(5)
        .withColumnRenamed("o_custkey", "custkey"), "b_orders", "custkey", 8)
    Bucketing.writeBucketed(
      Tables.customer(spark, TestSpark.sf0001).repartition(5)
        .withColumnRenamed("c_custkey", "custkey"), "b_customer", "custkey", 8)

    val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_customer", "custkey")
    val plan = joined.queryExecution.executedPlan.toString

    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    // "Sort [" matches a Sort exec's argument list but not the
    // SortMergeJoin node name
    assert(!plan.contains("Sort ["),
      s"bucketed join must read the write-time sort, not re-sort:\n$plan")

    // correctness: same count as the plain join
    val plain = Tables.orders(spark, TestSpark.sf0001)
      .join(Tables.customer(spark, TestSpark.sf0001),
            col("o_custkey") === col("c_custkey")).count()
    assert(joined.count() == plain)
  }

  test("sort-trust conf off: join re-Sorts but still never shuffles, results unchanged") {
    // the exchange-free property comes from the bucket LAYOUT
    // (bucketing.enabled), the sort-free property from the legacy
    // outputOrdering conf — losing the conf must degrade to a re-Sort,
    // never to a shuffle or a wrong answer (r14 verdict sweep ask)
    val fixture = new BucketFixture(spark)
    val baseline = Bucketing
      .bucketedJoin(spark, fixture.orders, fixture.customer, "custkey").count()
    val conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "false")
      val joined = Bucketing
        .bucketedJoin(spark, fixture.orders, fixture.customer, "custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange"),
        s"layout-driven exchange elimination must survive the conf:\n$plan")
      assert(plan.contains("Sort ["),
        s"without the conf the scan reports unsorted, so a Sort MUST appear:\n$plan")
      assert(joined.count() == baseline)
    } finally spark.conf.set(conf, prev)
  }

  test("multi-file bucket (append) drops the sort trust but keeps colocation and correctness") {
    // appends write one file per bucket PER APPENDING TASK; Spark only
    // trusts the write-time sort for single-file buckets, so the join
    // over an appended table must re-Sort — and must STILL not shuffle,
    // and must see the appended rows (r14 verdict sweep ask: pin the
    // behavior writeBucketed's scaladoc claims for appending callers)
    val fixture = new BucketFixture(spark)
    val before = Bucketing
      .bucketedJoin(spark, fixture.orders, fixture.customer, "custkey").count()
    // re-append the same orders rows bucketed the same way → every
    // bucket now holds two files; expected join count doubles
    Tables.orders(spark, TestSpark.sf0001)
      .withColumnRenamed("o_custkey", "custkey")
      .repartition(8, col("custkey"))
      .write.mode("append").bucketBy(8, "custkey").sortBy("custkey")
      .format("parquet").saveAsTable(fixture.orders)
    val joined = Bucketing
      .bucketedJoin(spark, fixture.orders, fixture.customer, "custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    assert(!plan.contains("Exchange"),
      s"append must not cost the colocation, only the sort:\n$plan")
    assert(plan.contains("Sort ["),
      s"multi-file buckets are untrusted for ordering, a Sort MUST appear:\n$plan")
    assert(joined.count() == before * 2)
  }

  test("first-seen probes and appends over 4 shuffle partitions at 32 buckets: exchange counts, none on the index side") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.ops.{IncrementalNovelty, IncrementalSpans}
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // the plan as planned, before AQE's runtime changes
    def planned(p: SparkPlan): SparkPlan =
      p.transformDown { case a: AdaptiveSparkPlanExec => a.initialPlan }
    def exchanges(p: SparkPlan): Int = p.collect { case e: Exchange => e }.size
    def indexSideUnshuffled(p: SparkPlan, table: String): Unit = {
      val indexSides = p.collect { case j: SortMergeJoinExec => Seq(j.left, j.right) }
        .flatten.filter(_.toString.contains(table))
      assert(indexSides.nonEmpty, s"the index must feed a merge join:\n$p")
      indexSides.foreach(side => assert(side.collect { case e: Exchange => e }.isEmpty,
        s"index side must stay unshuffled:\n$side"))
    }
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "source", "text")
    val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 260)
    // (probe bound, append bound, build, probe, append) per family, each
    // index at the default 32 buckets; the bounds are the counts the
    // families' own append copies planned
    val families = Seq(
      ("spans_plan_count_idx", 3, 1,
        (t: String) => IncrementalSpans.buildIndex(docs.filter(col("doc_id") < 200), t),
        (t: String) => IncrementalSpans.probeBatch(spark, batch, t),
        (t: String) => IncrementalSpans.appendToIndex(batch, t)),
      ("novelty_plan_count_idx", 2, 1,
        (t: String) => IncrementalNovelty.buildIndex(docs.filter(col("doc_id") < 200), t),
        (t: String) => IncrementalNovelty.screenBatch(spark, batch, t),
        (t: String) => IncrementalNovelty.appendToIndex(batch, t)))
    families.foreach { case (t, probeBound, appendBound, build, probe, append) =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft-test-warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      build(t)
      val probed = probe(t)
      probed.collect()
      val probePlan = planned(probed.queryExecution.executedPlan)
      val appendPlans = GeneratedSource.insertPlans(spark, t)(append(t)).map(planned)
      assert(appendPlans.size == 1, s"$t: expected one insert, got ${appendPlans.size}")
      assert(exchanges(probePlan) <= probeBound, s"$t probe:\n$probePlan")
      assert(exchanges(appendPlans.head) <= appendBound, s"$t append:\n${appendPlans.head}")
      indexSideUnshuffled(probePlan, t)
      indexSideUnshuffled(appendPlans.head, t)
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}

/** Writes fresh bucketed twins of orders/customer for one test — the
  * catalog forgets tables between JVMs but warehouse dirs persist, so
  * every use clears both first (same discipline as the first test). */
private[graft] class BucketFixture(spark: org.apache.spark.sql.SparkSession,
                                   suffix: String = "fx") {
  val orders = s"b_orders_$suffix"
  val customer = s"b_customer_$suffix"
  Seq(orders, customer).foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val dir = new java.io.File(s"/tmp/graft-test-warehouse/$t")
    if (dir.exists()) {
      java.nio.file.Files.walk(dir.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }
  Bucketing.writeBucketed(
    Tables.orders(spark, TestSpark.sf0001).repartition(5)
      .withColumnRenamed("o_custkey", "custkey"), orders, "custkey", 8)
  Bucketing.writeBucketed(
    Tables.customer(spark, TestSpark.sf0001).repartition(5)
      .withColumnRenamed("c_custkey", "custkey"), customer, "custkey", 8)
}
