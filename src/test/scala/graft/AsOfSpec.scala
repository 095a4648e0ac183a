package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AsOf

class AsOfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The as-of answer by a range join and an argmax: every right row
    * at or before each left row (`lid` identifies it), the latest one
    * winning, ties to the larger payload. */
  private def bruteAsOf(left: DataFrame, right: DataFrame): Array[String] =
    left.join(right.select(col("k").as("rk"), col("t").as("rt"), col("rv")),
        col("k") === col("rk") && col("rt") <= col("t"), "left")
      .groupBy(col("k"), col("t"), col("lid"))
      .agg(max(struct(col("rt"), col("rv"))).as("m"))
      .select(col("k"), col("t"), col("lid"), col("m.rt").as("matched_t"), col("m.rv").as("rv"))
      .orderBy("k", "t", "lid").collect().map(_.toString)

  private def asOfRows(left: DataFrame, right: DataFrame): Array[String] =
    AsOf.asOfJoin(left, right, "k", "t")
      .select("k", "t", "lid", "matched_t", "rv")
      .orderBy("k", "t", "lid").collect().map(_.toString)

  /** tag → matched `v` (None when null-extended). */
  private def matchedV(df: DataFrame): Map[String, Option[Double]] =
    df.collect().map(r => r.getString(r.fieldIndex("tag")) ->
      (if (r.isNullAt(r.fieldIndex("v"))) None else Some(r.getDouble(r.fieldIndex("v"))))).toMap

  test("as-of semantics: latest at-or-before match, equal-ts inclusive, null when none") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "a"),   // right rows at 5 and 10 → matches 10 (equal-ts)
      (1L, 7L, "b"),    // → matches 5
      (1L, 3L, "c"),    // before any right row → null
      (2L, 100L, "d"))  // key with no right rows at all → null
      .toDF("k", "t", "tag")
    val right = Seq(
      (1L, 5L, 1.0),
      (1L, 10L, 2.0),
      (1L, 12L, 3.0))   // after every left row → never matched
      .toDF("k", "t", "v")
    val got = AsOf.asOfJoin(left, right, "k", "t")
      .select("k", "t", "tag", "matched_t", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toSet
    assert(got == Set(
      (1L, 10L, "a", 10L, 2.0),
      (1L, 7L, "b", 5L, 1.0),
      (1L, 3L, "c", -1L, -1.0),
      (2L, 100L, "d", -1L, -1.0)))
  }

  test("tolerance masks stale matches without dropping left rows") {
    import spark.implicits._
    val left = Seq((1L, 100L), (1L, 12L)).toDF("k", "t")
    val right = Seq((1L, 10L, 5.0)).toDF("k", "t", "v")
    val got = AsOf.asOfJoin(left, right, "k", "t", tolerance = Some(5L))
      .collect().map(r => (r.getLong(1), r.isNullAt(3))).toMap
    assert(got(12L) == false, "match within tolerance (12-10=2 <= 5) must survive")
    assert(got(100L) == true, "stale match (100-10=90 > 5) must be masked, row kept")
  }

  test("matched right row arrives atomically (no per-column tearing on null payloads)") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    // latest right row has a NULL payload value; the match must report
    // (t=9, v=null) — not v smuggled in from the older row
    val right = Seq((1L, 5L, Option(7.0)), (1L, 9L, None)).toDF("k", "t", "v")
    val r = AsOf.asOfJoin(left, right, "k", "t").collect().head
    assert(r.getAs[Long]("matched_t") == 9L)
    assert(r.isNullAt(r.fieldIndex("v")))
  }

  test("right-side (key, ts) ties resolve to the lexicographic-max struct, deterministically") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    // three right rows at the SAME (key, ts): the winner must be the
    // struct-lexicographic max of (t, v) — here v=9.0 — on every run
    // and under any input partitioning
    val rightRows = Seq((1L, 5L, 2.0), (1L, 5L, 9.0), (1L, 5L, 7.0))
    (1 to 4).foreach { nPart =>
      val right = spark.createDataFrame(
        spark.sparkContext.parallelize(rightRows, nPart).map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)),
        Seq((1L, 0L, 0.0)).toDF("k", "t", "v").schema)
      val r = AsOf.asOfJoin(left, right, "k", "t").collect().head
      assert(r.getAs[Double]("v") == 9.0,
        s"tie must resolve to max struct at $nPart partitions, got ${r.getAs[Double]("v")}")
    }
  }

  test("q51 agrees with a brute-force range-join argmax at sf0.001") {
    val got = AsOf.q51AsofJoin(spark, TestSpark.sf0001)
    val ev = Tables.events(spark, TestSpark.sf0001)
      .withColumn("ts_us", unix_micros(col("ts")))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("pu"), col("ts_us").as("pt"), col("value"))
    val c = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("cu"), col("ts_us").as("ct"))
      .agg(max(col("value")).as("click_value"))
    val brute = p.join(c, col("pu") === col("cu") && col("ct") <= col("pt"), "left")
      .groupBy(col("event_id"), col("pu"), col("pt"), col("value"))
      .agg(max(struct(col("ct"), col("click_value"))).as("m"))
      .select(col("event_id"), col("pu").as("user_id"), col("pt").as("ts_us"),
              col("value"), col("m.ct").as("click_ts_us"), col("m.click_value").as("click_value"))
      .orderBy(col("event_id"))
    val a = got.collect().map(_.toString)
    val b = brute.collect().map(_.toString)
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("q51 plan: one exchange on the key, no range-join blowup") {
    val plan = AsOf.q51AsofJoin(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of must not fall back to a product join:\n$plan")
  }

  test("NULL keys never match: left null-extended, right excluded") {
    import spark.implicits._
    val left = Seq((Option(1L), 10L, "a"), (Option.empty[Long], 10L, "b"))
      .toDF("k", "t", "tag")
    val right = Seq((Option(1L), 5L, 1.0), (Option.empty[Long], 5L, 99.0))
      .toDF("k", "t", "v")
    val got = matchedV(AsOf.asOfJoin(left, right, "k", "t"))
    assert(got("a") == Some(1.0), "a non-null key must match normally")
    assert(got("b") == None, "a null-key left row must come back null-extended")
  }

  test("NULL timestamps never match, with and without a tolerance") {
    import spark.implicits._
    // SQL ASOF: NULL <= x and x <= NULL are both unknown. A null-ts
    // right row sorts FIRST in the window, so it must be dropped before
    // the union or it becomes the match of every left row with no
    // earlier real right row
    val left = Seq((1L, Option(4L), "a"),   // only the null-ts right row "precedes"
                   (1L, Option(6L), "b"),   // real match at 5
                   (1L, Option.empty[Long], "c")) // null-ts left row
      .toDF("k", "t", "tag")
    val right = Seq((1L, Option.empty[Long], 99.0), (1L, Option(5L), 1.0))
      .toDF("k", "t", "v")
    Seq(None, Some(100L)).foreach { tol =>
      val got = matchedV(AsOf.asOfJoin(left, right, "k", "t", tolerance = tol))
      assert(got("a") == None, s"tolerance $tol: a null-ts right row must never match")
      assert(got("b") == Some(1.0), s"tolerance $tol: the real row still matches")
      assert(got("c") == None, s"tolerance $tol: a null-ts left row is null-extended")
    }
  }

  test("TimestampType tolerance in microseconds masks by the physical gap, also across DST") {
    import spark.implicits._
    // tolerance 5 s = 5e6 µs: the 12 s probe matches (2 s stale), the
    // 100 s probe is masked (90 s stale) but the row survives
    val left = Seq((1L, 100_000_000L), (1L, 12_000_000L)).toDF("k", "us")
      .select(col("k"), col("us"), timestamp_micros(col("us")).as("t"))
    val right = Seq((1L, 10_000_000L, 5.0)).toDF("k", "rus", "v")
      .select(col("k"), timestamp_micros(col("rus")).as("t"), col("v"))
    val got = AsOf.asOfJoin(left, right, "k", "t", tolerance = Some(5_000_000L)).collect()
      .map(r => (r.getLong(r.fieldIndex("us")), r.isNullAt(r.fieldIndex("v")))).toMap
    assert(got(12_000_000L) == false, "an in-tolerance match must survive")
    assert(got(100_000_000L) == true, "a stale match must be masked, the row kept")

    // 2024-03-10 01:30 EST and 03:30 EDT are one physical hour apart
    // (two hours of wall clock) in a New York session: a one-hour
    // tolerance keeps the match
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    val nyLeft = ny.createDataFrame(Seq((1L, "2024-03-10 03:30:00"))).toDF("k", "s")
      .select(col("k"), to_timestamp(col("s")).as("t"))
    val nyRight = ny.createDataFrame(Seq((1L, "2024-03-10 01:30:00", 5.0))).toDF("k", "s", "v")
      .select(col("k"), to_timestamp(col("s")).as("t"), col("v"))
    val dst = AsOf.asOfJoin(nyLeft, nyRight, "k", "t", tolerance = Some(3_600_000_000L))
      .collect().head
    assert(!dst.isNullAt(dst.fieldIndex("v")), "a one-hour physical gap is within one hour")
  }

  test("TimestampNTZType tolerance in microseconds masks stale matches") {
    import spark.implicits._
    val left = Seq((1L, 100_000_000L), (1L, 12_000_000L)).toDF("k", "us")
      .select(col("k"), col("us"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("t"))
    val right = Seq((1L, 10_000_000L, 5.0)).toDF("k", "rus", "v")
      .select(col("k"),
        timestamp_micros(col("rus")).cast("timestamp_ntz").as("t"), col("v"))
    val got = AsOf.asOfJoin(left, right, "k", "t", tolerance = Some(5_000_000L)).collect()
      .map(r => (r.getLong(r.fieldIndex("us")), r.isNullAt(r.fieldIndex("v")))).toMap
    assert(got(12_000_000L) == false, "an in-tolerance match must survive")
    assert(got(100_000_000L) == true, "a stale match must be masked, the row kept")
  }

  test("a tolerance on a ts that is not Long, Timestamp or TimestampNTZ fails, naming the type") {
    import spark.implicits._
    val intTs = Seq((1L, 10)).toDF("k", "t")
    val e = intercept[IllegalArgumentException] {
      AsOf.asOfJoin(intTs, Seq((1L, 5, 1.0)).toDF("k", "t", "v"), "k", "t", tolerance = Some(1L))
    }
    assert(e.getMessage.contains("IntegerType"), e.getMessage)
    val dateTs = Seq((1L, "2024-01-02")).toDF("k", "s").select(col("k"), to_date(col("s")).as("t"))
    val d = intercept[IllegalArgumentException] {
      AsOf.asOfJoin(dateTs, dateTs.withColumn("v", lit(1.0)), "k", "t", tolerance = Some(1L))
    }
    assert(d.getMessage.contains("DateType"), d.getMessage)
  }

  test("a Long left key/ts against an Int right key/ts returns the brute-force answer") {
    import spark.implicits._
    val left = Seq((1L, 10L, 0L), (1L, 4L, 1L), (2L, 7L, 2L), (3L, 1L, 3L)).toDF("k", "t", "lid")
    val right = Seq((1, 5, 1.0), (1, 10, 2.0), (2, 8, 3.0), (2, 6, 4.0)).toDF("k", "t", "rv")
    val a = asOfRows(left, right)
    assert(a.length == 4)
    assert(a.toSeq == bruteAsOf(left, right).toSeq)
  }

  test("many keys at 1 and 16 partitions: the as-of join equals the brute-force argmax") {
    import spark.implicits._
    // deterministic synthetic data: 40 keys, interleaved event times
    val leftRows = (0 until 400).map(i => ((i % 40).toLong, (i * 7 % 97).toLong, i.toLong))
    val rightRows = (0 until 300).map(i => ((i % 40).toLong, (i * 11 % 89).toLong, i / 2.0))
    Seq(1, 16).foreach { n =>
      val left = leftRows.toDF("k", "t", "lid").repartition(n)
      val right = rightRows.toDF("k", "t", "rv").repartition(n)
      val a = asOfRows(left, right)
      assert(a.length == 400, s"$n partitions")
      assert(a.toSeq == bruteAsOf(left, right).toSeq, s"$n partitions")
    }
  }

  test("unused left payload columns are pruned through the union and the window") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a", 1.0)).toDF("k", "t", "tag", "lv")
    val right = Seq((1L, 5L, 2.0)).toDF("k", "t", "v")
    val opt = AsOf.asOfJoin(left, right, "k", "t").select("k", "tag", "v")
      .queryExecution.optimizedPlan
    val union = opt.collectFirst { case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
    assert(union.nonEmpty, s"no Union in:\n$opt")
    assert(!union.get.output.map(_.name).contains("lv"), s"lv must be pruned below the union:\n$opt")
  }

  test("q61 and q62 run the q51 query: all three agree at sf0.001") {
    val q51 = AsOf.q51AsofJoin(spark, TestSpark.sf0001).collect().map(_.toString).toSeq
    assert(q51.nonEmpty)
    Seq("q61_asof_native", "q62_asof_broadcast").foreach { q =>
      assert(SparkEntry.queries(q)(spark, TestSpark.sf0001).collect().map(_.toString).toSeq == q51, q)
      assert(SparkEntry.oracleSql(q) == AsOf.q51Sql, s"$q keeps the q51 oracle")
    }
  }
}
