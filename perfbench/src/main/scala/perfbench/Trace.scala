package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark task counters summed per job group. The tracer gives every
  * span its own job group, so a group's counters are that span's
  * (self) share of executor work. */
final class TaskCounters extends SparkListener {
  final class Agg {
    var jobs, tasks = 0L
    var runMs, gcMs, shuffleWrite, shuffleRead, spill, input, output = 0L
    var cpuNs = 0L
    /** stage id → task durations (ms), for the skew of the longest stage. */
    val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Agg]

  private def agg(group: String): Agg = byGroup.getOrElseUpdate(group, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val a = agg(group)
    a.jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = group)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }

  /** Spark metrics over a set of job groups; `wallS` is the wall time
    * the groups ran in (for CPU utilisation over `cores`). */
  def totals(groups: Set[String], wallS: Double, cores: Int): Map[String, Double] = synchronized {
    val as = groups.toSeq.flatMap(byGroup.get)
    def sum(f: Agg => Long): Double = as.map(f).sum.toDouble
    val stages = as.flatMap(_.stageTasks.toSeq)
    val skew = if (stages.isEmpty) 1.0 else {
      val (_, durs) = stages.maxBy { case (_, d) => d.sum }
      val sorted = durs.sorted
      val median = Stats.quantile(sorted.map(_.toDouble).toSeq, 0.5)
      if (median > 0) sorted.last / median else 1.0
    }
    val cpuS = sum(_.cpuNs) / 1e9
    Map(
      "spark.jobs" -> sum(_.jobs), "spark.tasks" -> sum(_.tasks),
      "spark.executor_run_s" -> sum(_.runMs) / 1e3,
      "spark.executor_cpu_s" -> cpuS,
      "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.cpu_util" -> (if (wallS > 0) cpuS / (wallS * cores) else 0.0),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.spill_bytes" -> sum(_.spill),
      "spark.input_bytes" -> sum(_.input),
      "spark.output_bytes" -> sum(_.output),
      "spark.task_skew" -> skew)
  }
}

/** One traced layer call; `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, workload: String,
                      startNs: Long, var endNs: Long = -1L) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans around the harness's calls into each layer, kept in memory
  * and written out once at the end. Each span runs under its own Spark
  * job group so [[TaskCounters]] attribute executor work to it. */
final class Tracer(sc: SparkContext, runId: String, workload: String, cores: Int) {
  val counters = new TaskCounters
  sc.addSparkListener(counters)

  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private def group(s: Span) = s"span-${s.id}"

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), workload,
      System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(group(s), name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Span duration minus the part its (sequential) children cover. */
  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def sparkTotals(root: Span): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerDrain.drain(sc)
    counters.totals(subtree(root).map(group).toSet, root.wallS, cores)
  }

  /** All spans as a JSON array, each with its own (self) Spark counters. */
  def json: String = {
    org.apache.spark.perfbench.ListenerDrain.drain(sc)
    spans.map { s =>
      val spark = counters.totals(Set(group(s)), selfS(s), cores)
      val fields = Seq(
        "run_id" -> Json.str(runId), "span_id" -> s.id.toString,
        "parent" -> (if (s.parent < 0) "null" else s.parent.toString),
        "workload" -> Json.str(s.workload), "name" -> Json.str(s.name),
        "start_s" -> Json.num((s.startNs - origin) / 1e9),
        "end_s" -> Json.num((s.endNs - origin) / 1e9),
        "self_s" -> Json.num(selfS(s)),
        "spark_self" -> Json.obj(spark.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
      Json.obj(fields)
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Stats {
  /** Linear-interpolation quantile of a sorted sample (Python's
    * `statistics.quantiles(method="inclusive")` rule). */
  def quantile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val h = (sorted.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
