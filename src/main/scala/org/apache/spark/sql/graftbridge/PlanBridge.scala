package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SparkStrategy

/** LogicalPlan ↔ DataFrame bridge (Spark 4 classic API). Custom
  * logical operators need Dataset.ofRows to become DataFrames and the
  * analyzed child plans to be constructed against; both accessors are
  * private[sql] in Spark 4's classic shim, so — like ColumnBridge —
  * this lives inside the org.apache.spark.sql namespace, the extension
  * seam for engines defining whole custom operators. */
object PlanBridge {

  /** Wraps a (possibly custom) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan backing a DataFrame — resolved
    * attributes ready to be referenced by a custom operator node. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Idempotently registers an extra planner strategy on the session
    * (the programmatic twin of spark.sql.extensions injection).
    * Synchronized on the experimental-methods holder: the append is a
    * read-modify-write on a shared var, and two threads registering
    * concurrently (parallel suites over one shared session) could lose
    * one registration — a data-dependent "no plan for GraftAsOfJoin"
    * planner error (round-14 review). */
  def ensureStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.experimental.synchronized {
      if (!s.experimental.extraStrategies.contains(strategy)) {
        s.experimental.extraStrategies = s.experimental.extraStrategies :+ strategy
      }
    }
  }

  /** Frees the storage blocks behind a `localCheckpoint()`ed DataFrame.
    * `Dataset.unpersist` only clears CacheManager entries; a local
    * checkpoint lives as a persisted RDD under a LogicalRDD leaf, which
    * only ContextCleaner GC would ever release. Iterative algorithms
    * (label propagation, k-means) that checkpoint each round need to
    * release round N-1 eagerly or blocks accumulate per iteration. */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    analyzed(df).foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Bucket count of a catalog table, if it is bucketed (bucketSpec
    * lives on the private[sql] session catalog's table metadata);
    * read by graft.ops.Bucketing.alignTo. */
  def numBuckets(spark: SparkSession, table: String): Option[Int] =
    // Try, not throw: a temp-view-backed or missing name has no
    // catalog metadata — the caller's own spark.table() read is the
    // right place for that error to surface
    scala.util.Try(
      spark.asInstanceOf[classic.SparkSession].sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .bucketSpec).toOption.flatten.map(_.numBuckets)

  /** Idempotently registers an extra optimizer rule on the session
    * (the programmatic twin of injectOptimizerRule; runs in the
    * optimizer's User Provided Optimizers fixed-point batch). */
  def ensureOptimization(spark: SparkSession, rule: Rule[LogicalPlan]): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.experimental.synchronized {
      if (!s.experimental.extraOptimizations.contains(rule)) {
        s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ rule
      }
    }
  }
}
