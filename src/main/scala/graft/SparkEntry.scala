package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{AsOf, Bucketing, Classifier, Cluster, Curation, Dedup, Graph, IncrementalDecontam, IncrementalDedup, IncrementalNovelty, IncrementalSpans, Ivf, Mapwarper, MapwarperFixture, Multimodal, Pca, Pq, Quality, RangeJoin, Relational, Similarity, Text}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY §2): each key is one
  * implemented operator/pipeline; `oracleSql` holds the DuckDB-equivalent
  * ANSI SQL for every hash-verifiable query (non-SQL-expressible ops —
  * LSH sketches, mapPartitions plumbing — are rows-only by design).
  */
object SparkEntry {

  /** Local cores for the mains' sessions: `SPARK_GRAFT_CPUS`, default 4.
    * A whole number only: it also sets the shuffle partition count. */
  private[graft] def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map { v =>
    v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive whole number of local cores, got '$v'"))
  }.getOrElse(4)

  /** The one session every main and the test suite run on: `cpus`
    * local cores and as many shuffle partitions, UTC, no UI, and
    * trusted write-time bucket sorts
    * (`spark.sql.legacy.bucketedTableScan.outputOrdering`: a
    * single-file bucket reads back sort-free; Spark keeps planning the
    * Sort for appended, multi-file buckets). Without that conf a
    * bucketed join plans an extra Sort (BucketingSpec), so a main
    * that skipped it would run or print a plan the others never run.
    * `conf` adds or overrides settings. */
  def session(cpus: Int = envCpus,
              conf: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val s = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Flagship: the full mapwarper transform pipeline (SURVEY §3.2) —
    * validate → dead-letter route → st:Map objects + st:in relations +
    * logs — over the embedded reference-shaped fixture, unioned with a
    * smoke read of the sf0.001 testdata via q03's multi-join (so the
    * flagship touches both the reference surface and the driver tables).
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, to_json}
    val tagged = Mapwarper.pipeline(
      Mapwarper.parseRecords(spark, MapwarperFixture.allLines))
      .select(col("type"), to_json(col("obj")).as("payload"))
    val sf = Relational.q03JoinMulti(spark, "/root/testdata/sf0.001")
      .select(lit("testdata_q03").as("type"), to_json(
        org.apache.spark.sql.functions.struct(col("n_name"), col("revenue"))).as("payload"))
    tagged.unionByName(sf)
  }

  private val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Relational.queries.map { case (n, f, sql) => (n, f, Option(sql)) } ++
      Text.queries ++ Similarity.queries ++ Dedup.queries ++
      Multimodal.queries ++ Ivf.queries ++ AsOf.queries ++ RangeJoin.queries ++
      Pq.queries ++ Curation.queries ++
      IncrementalDecontam.queries ++ IncrementalNovelty.queries ++
      IncrementalDedup.queries ++ IncrementalSpans.queries ++ Bucketing.queries ++
      Graph.queries ++ Cluster.queries ++ Pca.queries ++
      Classifier.queries ++ Quality.queries

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, f, _) => n -> f }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
