package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.util.QueryExecutionListener

/** The whole-stage generated Java a query ran. Spark's compiled-class
  * cache is keyed on that source, so two runs with equal source sets
  * compile once between them. Sorted, because codegenStringSeq walks
  * an unordered set of stages. */
object GeneratedSource {

  private def sources(plan: SparkPlan): Seq[String] =
    codegenStringSeq(plan).map(_._2).sorted

  /** Sources of an already-executed DataFrame (AQE's final plan). */
  def of(df: DataFrame): Seq[String] = sources(df.queryExecution.executedPlan)

  /** How many times `plans` evaluate expression class `T` per row, a
    * count of the occurrences in the plans' nodes: a scan's data
    * filters repeat a Filter's predicates for pruning and are not
    * evaluated again, so scan nodes are skipped; a cached plan counts
    * once, however many of the plans read it. Works on logical and
    * physical plans alike. */
  def exprCount[T <: Expression: ClassTag](plans: QueryPlan[_]*): Int = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def cachedOnce(c: SparkPlan): Int =
      if (cached.exists(_ eq c)) 0 else { cached += c; count(c) }
    def count(p: QueryPlan[_]): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec => count(q.plan)
      case _: DataSourceScanExec => 0
      case m: InMemoryTableScanExec => cachedOnce(m.relation.cacheBuilder.cachedPlan)
      case r: InMemoryRelation => cachedOnce(r.cacheBuilder.cachedPlan)
      case other =>
        other.expressions.map(_.collect { case e: T => e }.size).sum +
          other.children.map(c => count(c.asInstanceOf[QueryPlan[_]])).sum
    }
    plans.map(count).sum
  }

  /** The first line at which two source sets differ, if any. */
  def firstDifference(a: Seq[String], b: Seq[String]): Option[String] =
    a.flatMap(_.linesIterator).zipAll(b.flatMap(_.linesIterator), "<end>", "<end>")
      .collectFirst { case (x, y) if x != y => s"$x\n  vs\n$y" }

  /** Sources of the plan `f` runs to insert into catalog table
    * `table`; see [[insertPlans]]. */
  def ofInsert(spark: SparkSession, table: String)(f: => Unit): Seq[String] = {
    val captured = insertPlans(spark, table)(f).map(sources).filter(_.nonEmpty)
    assert(captured.nonEmpty, s"no insert into $table with generated code reached the listener")
    captured.flatten.sorted
  }

  /** The physical plans `f` runs to write catalog table `table` — an
    * insertInto append or a saveAsTable build, whose plans only a
    * listener sees. A build's insert carries no catalog table (it
    * runs inside the create), so it is matched by its managed
    * location, `<warehouse>/<table>`. Listener events arrive
    * asynchronously (and may include other queries' late events), so
    * this waits for the write's. */
  def insertPlans(spark: SparkSession, table: String)(f: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    // an insert that shuffles runs under AQE, whose stages hide the
    // command node from a plain tree walk
    def insertsInto(plan: SparkPlan): Boolean = plan.exists {
      case a: AdaptiveSparkPlanExec => insertsInto(a.executedPlan)
      case q: QueryStageExec => insertsInto(q.plan)
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          i.catalogTable.exists(_.identifier.table == table) ||
            i.outputPath.getName.equalsIgnoreCase(table)
        case _ => false
      }
      case _ => false
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (insertsInto(qe.executedPlan)) plans.add(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      plans.toArray(Array.empty[SparkPlan]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }
}
