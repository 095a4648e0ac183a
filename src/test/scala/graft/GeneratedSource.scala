package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
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

  /** The first line at which two source sets differ, if any. */
  def firstDifference(a: Seq[String], b: Seq[String]): Option[String] =
    a.flatMap(_.linesIterator).zipAll(b.flatMap(_.linesIterator), "<end>", "<end>")
      .collectFirst { case (x, y) if x != y => s"$x\n  vs\n$y" }

  /** Sources of the plan `f` runs to insert into catalog table
    * `table` — a DataFrameWriter write, whose plan only a listener
    * sees. Listener events arrive asynchronously (and may include
    * other queries' late events), so this waits for the insert's. */
  def ofInsert(spark: SparkSession, table: String)(f: => Unit): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    // an insert that shuffles runs under AQE, whose stages hide the
    // command node from a plain tree walk
    def insertsInto(plan: SparkPlan): Boolean = plan.exists {
      case a: AdaptiveSparkPlanExec => insertsInto(a.executedPlan)
      case q: QueryStageExec => insertsInto(q.plan)
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          i.catalogTable.exists(_.identifier.table == table)
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
      def captured = plans.toArray(Array.empty[SparkPlan]).toSeq.map(sources).filter(_.nonEmpty)
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(captured.nonEmpty, s"no insert into $table with generated code reached the listener")
      captured.flatten.sorted
    } finally spark.listenerManager.unregister(listener)
  }
}
