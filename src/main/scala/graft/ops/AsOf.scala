package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.Tables._

/** As-of join, the engine's one (the reference has no join machinery
  * beyond J1, SURVEY §2.3 — this is part of the engine's general
  * operator suite): for every left row, attach the LATEST right row
  * with the same key and right.ts ≤ left.ts.
  *
  * Composed union+window form, deliberately NOT a range join:
  * both sides union on (key, ts), one hash exchange on key, one sort
  * per partition, then a running `last(_, ignoreNulls)` carries the
  * most recent right payload forward into each left row. Why this
  * shape at 100 TB:
  *  - a range join (`l.key = r.key AND r.ts <= l.ts` + argmax) builds
  *    an O(matches) intermediate that explodes on long histories;
  *    the union+window is strictly O(|L| + |R|);
  *  - one Exchange + one sort is exactly what a sort-merge join would
  *    pay anyway — there is no cheaper distributed shape;
  *  - AQE handles key skew the same way it does for any window.
  */
object AsOf {

  /** Generic as-of join. `left` and `right` must share exactly the
    * `key` and `ts` column names; their payload column sets must be
    * disjoint. The right payload columns keep their names and the
    * matched right timestamp comes back as `matched_<ts>`; the matched
    * right row is picked as one struct, atomically (no per-column
    * tearing when a right payload value is legitimately null). Ties on
    * ts: the right row sorts FIRST, so a right row AT the left
    * timestamp matches (ASOF `>=` semantics). When MULTIPLE right rows
    * share (key, ts), the struct-lexicographic MAX of (ts, payload...)
    * wins — the window ordering includes the right struct itself, so
    * the result is deterministic across runs and partitionings
    * (requires orderable payload types, which also rules out MapType
    * columns — already excluded by Spark's own union/sort
    * constraints). NULL keys and NULL timestamps never match (SQL ASOF
    * semantics): such right rows are dropped before the union, such
    * left rows survive null-extended. Key and ts types need only be
    * union-compatible (a Long left ts against an Int right ts widens).
    * `tolerance` requires a Long, Timestamp or TimestampNTZ left ts;
    * both timestamp types measure it in MICROSECONDS.
    *
    * Cost and what it does not do:
    *  - every left and right row crosses one exchange on the key, and
    *    the union sorts once; a small right side is NOT broadcast, so
    *    the left (fact) side always shuffles;
    *  - a filter on a left payload column written ABOVE the join stays
    *    above the window, so every left row is still shuffled — filter
    *    the left side before the join. Unused left columns are pruned
    *    through the union and the window. */
  def asOfJoin(left: DataFrame, right: DataFrame,
               key: String, ts: String,
               tolerance: Option[Long] = None): DataFrame = {
    val rPayload = right.columns.filterNot(c => c == key || c == ts).toSeq
    val lPayload = left.columns.filterNot(c => c == key || c == ts).toSeq
    require(lPayload.intersect(rPayload).isEmpty,
      s"payload columns must be disjoint: ${lPayload.intersect(rPayload)}")
    // _side/_r are internal; a dotted payload name would break the
    // col("_r.<name>") struct-field resolution — fail at the API
    // boundary, not with a confusing analysis error downstream
    val all = (left.columns ++ right.columns).toSeq
    require(!all.exists(c => c == "_side" || c == "_r"),
      "column names _side and _r are reserved by asOfJoin")
    require(rPayload.forall(!_.contains(".")),
      s"right payload names must not contain dots: ${rPayload.filter(_.contains("."))}")
    val tsType = left.schema(ts).dataType
    require(tolerance.isEmpty || Seq(LongType, TimestampType, TimestampNTZType).contains(tsType),
      s"tolerance requires a Long, Timestamp or TimestampNTZ $ts column, got $tsType")

    val rStructFields = (ts +: rPayload)
    val rStructType = StructType(right.select(rStructFields.map(col): _*).schema.fields)

    val lT = left.select(
      (Seq(col(key), col(ts), lit(1).as("_side"),
           lit(null).cast(rStructType).as("_r")) ++ lPayload.map(col)): _*)
    // null-key AND null-ts right rows can never match (SQL ASOF
    // semantics: NULL = k and NULL ≤ t are both unknown) — drop them
    // before the union. A null key would land in the null partition
    // and "match" null-key left rows; a null TS sorts FIRST in the
    // window order and would become the match for any left row with
    // no earlier real right row. Null-ts LEFT rows then fall out
    // naturally: they sort before every remaining right row, so
    // last(_r) sees nothing and they emit null-extended.
    val rT = right.filter(col(key).isNotNull && col(ts).isNotNull).select(
      (Seq(col(key), col(ts), lit(0).as("_side"),
           struct(rStructFields.map(col): _*).as("_r")) ++
        lPayload.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)

    // _r in the ordering is the determinism tie-break: among right rows
    // with equal (key, ts) the lexicographically largest struct sorts
    // last, so `last(_r)` always picks the same winner regardless of
    // input partitioning. Left rows carry _r = null (sorts first among
    // its _side peers; contributes nothing to last(_, ignoreNulls)).
    val w = Window.partitionBy(key)
      .orderBy(col(ts).asc, col("_side").asc, col("_r").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val picked = lT.unionByName(rT)
      .withColumn("_r", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
    // merge_asof-style tolerance: a match staler than `tolerance` ts
    // units is discarded; the row survives with a null match — this is
    // per-row masking, not a join-shape change. Both timestamp types
    // measure the gap in µs: TIMESTAMP through unix_micros (the
    // physical gap, also across a DST shift), TIMESTAMP_NTZ through
    // timestamp_diff, which reads NTZ wall-clock values without the
    // session time zone (unix_micros rejects NTZ, and NTZ - NTZ is a
    // DAY TO SECOND interval that cannot compare to a Long)
    val bounded = tolerance.fold(picked) { tol =>
      val diff = tsType match {
        case TimestampType => unix_micros(col(ts)) - unix_micros(col(s"_r.$ts"))
        case TimestampNTZType => timestamp_diff("MICROSECOND", col(s"_r.$ts"), col(ts))
        case _ => col(ts) - col(s"_r.$ts")
      }
      picked.withColumn("_r", when(col("_r").isNotNull && diff <= tol, col("_r")))
    }
    bounded.select((Seq(col(key), col(ts)) ++ lPayload.map(col) ++
      rStructFields.map(f => col(s"_r.$f").as(if (f == ts) s"matched_$ts" else f))): _*)
  }

  /** q51: for each purchase event, the user's latest click at or
    * before it (ASOF semantics). Timestamps compared and emitted in
    * integer microseconds on both engines (the events.parquet NANOS
    * discipline — see Tables.events). */
  def q51AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("ts_us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
    // one right row per (key, ts): dedup BEFORE the as-of so both
    // engines resolve equal-timestamp clicks identically
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("click_value"))
    asOfJoin(purchases, clicks, "user_id", "ts_us")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
              col("matched_ts_us").as("click_ts_us"), col("click_value"))
      .orderBy(col("event_id"))
  }

  val q51Sql: String =
    """WITH p AS (
      | SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      | FROM events WHERE event_type = 'purchase'
      |), c AS (
      | SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS click_value
      | FROM events WHERE event_type = 'click'
      | GROUP BY user_id, epoch_us(ts)
      |)
      |SELECT p.event_id, p.user_id, p.ts_us, p.value,
      |       c.ts_us AS click_ts_us, c.click_value
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
      |ORDER BY p.event_id""".stripMargin

  /** q61 and q62 keep their published names and run q51's query
    * against q51's oracle. */
  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q51_asof_join", q51AsofJoin _, Some(q51Sql)),
    ("q61_asof_native", q51AsofJoin _, Some(q51Sql)),
    ("q62_asof_broadcast", q51AsofJoin _, Some(q51Sql)),
  )
}
