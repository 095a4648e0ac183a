package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The first-seen fingerprint index [[IncrementalSpans]] and
  * [[IncrementalNovelty]] share: one `(fp, first_doc, tags...)` row
  * per distinct shingle fp ever seen, `first_doc` the smallest doc_id
  * that brought it in, written bucketed + sorted on `fp`
  * ([[Bucketing]]). The input everywhere is a `(doc_id, fp, ...)`
  * frame, one row per shingle occurrence or per distinct shingle.
  *
  * The index is invariantly distinct on fp — [[build]] aggregates per
  * fp and [[append]] only adds anti-joined survivors — so [[seen]]'s
  * left join never multiplies rows. Both joins are hinted MERGE and
  * read the index in its bucket layout: the index side never moves;
  * only the batch aligns. Carrying the claiming doc (not a bare fp
  * set) is what makes replays idempotent: a batch probed after its
  * own append finds its own docs as the claimants. */
private[graft] object FirstSeenIndex {

  /** One `(fp, first_doc, tags...)` row per distinct fp of `fps`. */
  private def owners(fps: DataFrame, tags: Column*): DataFrame =
    fps.groupBy(col("fp")).agg(min(col("doc_id")).as("first_doc"))
      .select(Seq(col("fp"), col("first_doc")) ++ tags: _*)

  /** (Re)builds the index from a corpus's fps. */
  def build(fps: DataFrame, table: String, buckets: Int, tags: Column*): Unit =
    Bucketing.writeBucketed(owners(fps, tags: _*), table, "fp", buckets)

  /** `fps` with `batch_first`, the smallest doc_id carrying each fp
    * within the batch, and the index's matching row as `idx_<column>`
    * for each of its columns other than fp (null when unseen). The
    * batch is aligned first ([[Bucketing.alignTo]]); the window spans
    * the batch only. */
  def seen(spark: SparkSession, fps: DataFrame, table: String): DataFrame = {
    val index = spark.table(table)
    Bucketing.alignTo(fps, table, "fp")
      .withColumn("batch_first", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .join(index.hint("MERGE").select(index.columns.map(c =>
          if (c == "fp") col(c) else col(c).as(s"idx_$c")).toSeq: _*),
        Seq("fp"), "left_outer")
  }

  /** Appends the [[owners]] of `fps` that the index does not hold yet
    * (a merge anti-join on fp) through [[Bucketing.appendBucketed]].
    * The batch is aligned before the aggregation, so the aggregation,
    * the anti-join and the append share the alignment's exchange.
    * Idempotent: a replayed append finds its own fps present and adds
    * nothing. */
  def append(fps: DataFrame, table: String, tags: Column*): Unit = {
    val index = fps.sparkSession.table(table).hint("MERGE").select(col("fp"))
    Bucketing.appendBucketed(
      owners(Bucketing.alignTo(fps, table, "fp"), tags: _*)
        .join(index, Seq("fp"), "left_anti"),
      table, "fp")
  }
}
