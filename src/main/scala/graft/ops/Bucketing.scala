package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Bucketed (pre-partitioned, pre-sorted) tables: the co-located join
  * path for repeated fact-fact joins at 100 TB — both sides hash-
  * bucketed and sorted on the join key at write time, so the join
  * plans with NO shuffle exchange and no sort (SortMergeJoin reads
  * bucket-aligned, pre-sorted partitions directly).
  *
  * At cluster scale the write cost is paid once; every subsequent join
  * on the bucket key is exchange-free. BucketingSpec asserts the plan
  * shape (zero Exchange operators under the join).
  */
object Bucketing {

  /** Writes df as a bucketed+sorted managed table (overwrites).
    *
    * The repartition on the bucket key is load-bearing: bucketBy makes
    * EACH WRITE TASK emit its own file per bucket it holds, and Spark
    * only trusts (and reports) the per-bucket sort order when a bucket
    * is exactly one file — with N input tasks the scan would report
    * unsorted and every "pre-sorted" join would silently re-Sort both
    * 100 TB sides at read time, the exact cost this module claims is
    * paid once at write. repartition(n, col) and bucketBy share the
    * same murmur3 pmod placement, so task i holds exactly bucket i and
    * each bucket lands as one sorted file. [[appendBucketed]] keeps
    * the placement, not the single file. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.repartition(buckets, col(key))
      .write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** `df` repartitioned on `key` to `table`'s CURRENT bucket count
    * (read on every call, so an index rebuilt with another count is
    * followed) — the [[writeBucketed]] placement, so partition i holds
    * exactly bucket i. A name with no bucket spec (a view, a missing
    * or unbucketed table) returns `df` as is: still correct, only not
    * aligned. Aligning a probe batch before its `key` window lets the
    * window and the bucket-colocated merge join share one exchange;
    * without it the window shuffles to spark.sql.shuffle.partitions
    * and the join re-shuffles to the bucket count. An already aligned
    * frame costs nothing: Spark drops a repartition its child's
    * partitioning already satisfies. */
  def alignTo(df: DataFrame, table: String, key: String): DataFrame =
    ColumnBridge.numBuckets(df.sparkSession, table)
      .map(b => df.repartition(b, col(key))).getOrElse(df)

  /** Appends `df` to a bucketed table: [[alignTo]], then an insert, so
    * write task i holds exactly bucket i and the append adds ONE FILE
    * PER BUCKET it touches. Unaligned, each write task emits a file
    * for every bucket it holds and every later probe opens them all.
    * Only the appended rows shuffle; the table is never read.
    *
    * Every append re-opens the multi-file bucket, so Spark stops
    * trusting the write-time sort: readers plan a Sort (BucketingSpec
    * pins it) and pin merge-join shape with an explicit hint.
    * Appended tables are append-MUTABLE, so they carry NO Bloom
    * sidecar (unlike the static decontam index): a filter built at
    * build time goes stale on the first append, and a stale filter
    * drops keys that would have joined — silently missed matches.
    * Compaction and replace-by-key land here when they come. */
  def appendBucketed(df: DataFrame, table: String, key: String): Unit =
    alignTo(df, table, key).write.mode("append").format("parquet").insertInto(table)

  /** Joins two bucketed tables on their bucket key. The MERGE hint pins
    * SortMergeJoin so the bucket layout (not a runtime broadcast) is
    * what eliminates the exchanges — that's the property that holds
    * when both sides are 100 TB.
    *
    * Sort elimination additionally needs
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` in the
    * session (the engine's own mains and the test session set it):
    * since 3.0 Spark reports bucketed scans unsorted by default, and
    * even with the conf on it only trusts the write-time sort when
    * every selected bucket is a single file — which [[writeBucketed]]
    * guarantees and appends deliberately break (their readers must
    * plan a Sort, and do). */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   key: String): DataFrame =
    spark.table(left).hint("MERGE")
      .join(spark.table(right).hint("MERGE"), key)

  // ------------------------------------------------- q197 (bench form)

  /** Bucket count for the q197 tables — small enough that sf0.001
    * buckets aren't empty, large enough to exercise real fan-out. */
  val Q197Buckets = 16

  /** q197: the CO-LOCATED FACT-FACT JOIN, bench-visible — the write
    * path every repeated 100 TB join amortizes into: orders and
    * customer land hash-bucketed AND sorted on the join key once per
    * (source dir, data fingerprint) via the [[IndexTables]] lifecycle,
    * then what the bench times is the recurring cost — a SortMergeJoin
    * that moves NOTHING (no exchange on either side; no sort either,
    * the write-time order is trusted via the session's bucketed-scan
    * conf) feeding a revenue rollup per market segment. The q79 salted
    * join attacks the skewed one-shot join; this is its planned twin
    * for the join you run every day. PlanShapeSpec pins
    * exchange-free + sort-free; the oracle is the plain SQL join. */
  def q197BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val tOrders = IndexTables.ensureTable(s, "graft_bkt_orders_v1_", d)(
      t => writeBucketed(
        graft.Tables.orders(s, d).withColumnRenamed("o_custkey", "custkey"),
        t, "custkey", Q197Buckets))
    val tCust = IndexTables.ensureTable(s, "graft_bkt_customer_v1_", d)(
      t => writeBucketed(
        graft.Tables.customer(s, d).withColumnRenamed("c_custkey", "custkey"),
        t, "custkey", Q197Buckets))
    bucketedJoin(s, tOrders, tCust, "custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val q197Sql: String =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q197_bucketed_join", q197BucketedJoin _, Some(q197Sql)),
  )
}
