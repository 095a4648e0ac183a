package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AsOf

/** The as-of contracts of `AsOf.asOfJoin` on other inputs than
  * AsOfSpec's: a String key with a TIMESTAMP ts, the tolerance
  * boundary, and ties and atomicity over a two-column right payload.
  * (The suite keeps the name it had when these contracts pinned a
  * native as-of operator; the composed form is now the only one.) */
class NativeAsOfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("native as-of semantics: latest at-or-before, equal-ts inclusive, null when none") {
    import spark.implicits._
    val left = Seq(
      ("u1", 10L, "a"),   // right rows at 5 and 10 → matches 10 (equal-ts)
      ("u1", 7L, "b"),    // → matches 5
      ("u1", 3L, "c"),    // before any right row → null
      ("u2", 100L, "d"))  // key with no right rows at all → null
      .toDF("k", "s", "tag")
      .select(col("k"), timestamp_seconds(col("s")).as("t"), col("tag"))
    val right = Seq(
      ("u1", 5L, 1.0),
      ("u1", 10L, 2.0),
      ("u1", 12L, 3.0),   // after every left row → never matched
      ("u3", 1L, 4.0))    // key absent on the left → never matched
      .toDF("k", "s", "v")
      .select(col("k"), timestamp_seconds(col("s")).as("t"), col("v"))
    val got = AsOf.asOfJoin(left, right, "k", "t")
      .select("k", "t", "tag", "matched_t", "v")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000, r.getString(2),
        if (r.isNullAt(3)) -1L else r.getTimestamp(3).getTime / 1000,
        if (r.isNullAt(4)) -1.0 else r.getDouble(4)))
    assert(got.length == 4, "every left row appears once")
    assert(got.toSet == Set(
      ("u1", 10L, "a", 10L, 2.0),
      ("u1", 7L, "b", 5L, 1.0),
      ("u1", 3L, "c", -1L, -1.0),
      ("u2", 100L, "d", -1L, -1.0)))
  }

  test("tolerance masks stale matches without dropping left rows") {
    import spark.implicits._
    val left = Seq((1L, 15L), (1L, 16L), (1L, 100L), (2L, 15L)).toDF("k", "t")
    val right = Seq((1L, 10L, 5.0)).toDF("k", "t", "v")
    val got = AsOf.asOfJoin(left, right, "k", "t", tolerance = Some(5L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.isNullAt(r.fieldIndex("v"))).toMap
    assert(got.size == 4, s"no left row may be dropped, got $got")
    assert(got((1L, 15L)) == false, "a gap equal to the tolerance (15-10=5) must match")
    assert(got((1L, 16L)) == true, "a gap one past the tolerance (16-10=6) must mask")
    assert(got((1L, 100L)) == true, "stale match (100-10=90 > 5) must be masked, row kept")
    assert(got((2L, 15L)) == true, "a key with no right rows stays null-extended")
  }

  test("right-side (key, ts) ties resolve to the lexicographic-max payload, deterministically") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    // four right rows at the SAME (key, ts): the winner is the max of
    // (v, w) compared left to right — v=9.0 twice, so w decides ("c")
    val rightRows = Seq((1L, 5L, 9.0, "a"), (1L, 5L, 9.0, "c"), (1L, 5L, 7.0, "z"),
      (1L, 5L, 2.0, "zz"))
    val schema = Seq((1L, 0L, 0.0, "")).toDF("k", "t", "v", "w").schema
    (1 to 4).foreach { nPart =>
      val right = spark.createDataFrame(
        spark.sparkContext.parallelize(rightRows, nPart).map(r => Row(r._1, r._2, r._3, r._4)),
        schema)
      val r = AsOf.asOfJoin(left, right, "k", "t").collect().head
      assert((r.getAs[Double]("v"), r.getAs[String]("w")) == (9.0, "c"),
        s"tie must resolve to the max payload at $nPart partitions, got $r")
    }
  }

  test("matched right row arrives atomically (null payload not smuggled from older rows)") {
    import spark.implicits._
    val left = Seq((1L, 10L), (2L, 10L)).toDF("k", "t")
    // the latest right row of each key has one NULL payload column; the
    // match must report that row whole, its null included, not a value
    // taken from the older row of the same key
    val right = Seq(
      (1L, 5L, Option(7.0), Option("old")), (1L, 9L, None, Option("new")),
      (2L, 5L, Option(1.0), Option("old")), (2L, 9L, Option(2.0), None))
      .toDF("k", "t", "v", "w")
    val got = AsOf.asOfJoin(left, right, "k", "t").collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("matched_t"),
        Option(r.getAs[java.lang.Double]("v")).map(_.doubleValue), Option(r.getAs[String]("w"))))
      .toMap
    assert(got(1L) == (9L, None, Some("new")))
    assert(got(2L) == (9L, Some(2.0), None))
  }
}
