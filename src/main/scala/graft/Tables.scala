package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-provided testdata star schema
  * (see /root/repo/TESTDATA.md). All engine queries read through here so
  * scans stay uniform: explicit parquet, no schema inference surprises,
  * column pruning + filter pushdown handled by Catalyst/Parquet.
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the
  * loader indirection keeps that swap localized to this file.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  /** The driver has generated events.parquet with ts as TIMESTAMP(NANOS)
    * in some rounds (which Spark's parquet reader rejects — read nanos
    * as long via the legacy conf, then DIV 1000 to micros) and as
    * TIMESTAMP(MICROS) without UTC adjustment in others (which Spark
    * reads as TIMESTAMP_NTZ). [[sniffEventsTs]] detects the dtype that
    * actually arrives and [[normalizeEventsTs]] lands both vintages on
    * session-zone TimestampType (session tz is UTC everywhere in this
    * engine, so the NTZ cast is wall-clock identity — same instants
    * DuckDB's naive TIMESTAMP oracle sees). The streaming twin
    * ([[graft.streaming.EventStream.readEvents]]) shares BOTH helpers —
    * the vintage-drift logic deliberately exists exactly once, here.
    *
    * Sniffing needs the nanosAsLong conf ON to even read a
    * TIMESTAMP(NANOS) vintage's schema, and the scan consults it at
    * execution too — so for a nanos vintage it stays set for the
    * session (a deliberate, documented session-level effect: any
    * reader of nanos parquet needs it). For every other vintage — and
    * on the sniff's THROW path (missing dir/column would otherwise
    * leak it session-wide) — the prior value is restored so one events
    * read doesn't silently re-type unrelated nanos datasets read later
    * in the session. */
  private[graft] def sniffEventsTs(s: SparkSession,
                                   path: String): org.apache.spark.sql.types.DataType =
    // serialized on the session: the set→read-schema→restore window
    // mutates shared session conf, and two concurrent events() calls
    // (parallel suites) could interleave so one reads the schema with
    // the conf already restored — a data-dependent nanos-vintage read
    // failure (a read-modify-write race on shared session state)
    s.synchronized {
      val confKey = "spark.sql.legacy.parquet.nanosAsLong"
      val prior = s.conf.getOption(confKey)
      def restore(): Unit = prior.fold(s.conf.unset(confKey))(v => s.conf.set(confKey, v))
      s.conf.set(confKey, "true")
      val tsType =
        try s.read.parquet(path).schema("ts").dataType
        catch { case e: Throwable => restore(); throw e }
      if (tsType != org.apache.spark.sql.types.LongType) restore()
      tsType
    }

  /** Normalizes a sniffed-vintage events frame (batch or streaming) to
    * session-zone TimestampType; see [[sniffEventsTs]]. */
  private[graft] def normalizeEventsTs(raw: DataFrame,
                                       tsType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    tsType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    val tsType = sniffEventsTs(s, s"$d/events.parquet")
    normalizeEventsTs(load(s, d, "events"), tsType)
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The embeddings table with the vector widened to `array<double>`
    * as column `e` — the shape every vector op consumes (the parquet
    * column is float; distance math is double). Single-sourced here so
    * an embeddings-vintage drift (float→double, column rename) is a
    * one-line fix like the events ts sniff above, not five. */
  def embeddingVectors(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    embeddings(s, d).withColumn("e", col("embedding").cast("array<double>"))
  }
}
