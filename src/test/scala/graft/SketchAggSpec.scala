package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CountMinAgg, HashReservoirAgg, HdrQuantileAgg, HllSketchAgg,
  MinHashUnionAgg, SpaceSavingAgg}

/** The sketch aggregates' partition-independence contract, run through
  * every aggregation path Spark has for an object aggregate: the
  * object-hash path, the sort-aggregate path, and the object-hash
  * path's sort-based fallback (threshold 1: buffers are serialized and
  * deserialized inside the task), each on 1 and on 8 input partitions.
  * One fixed seeded input; each eval output is pinned by its MD5, the
  * raw `hll_sketch` and `hdr_sketch` bytes included, so a change to an
  * update, merge, eval or byte codec shows here. */
class SketchAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Qs = Seq(0.5, 0.9, 0.99, 1.0)


  /** Builder name -> its aggregate over the fixture, per group `g`. */
  private val direct: Seq[(String, Column)] = Seq(
    "hllDistinct" -> HllSketchAgg.hllDistinct(col("token")),
    "hllSketch" -> HllSketchAgg.hllSketch(col("token"), 10),
    "hdrQuantiles" -> HdrQuantileAgg.hdrQuantiles(col("v"), Qs),
    "hdrSketch" -> HdrQuantileAgg.hdrSketch(col("v")),
    "spaceSavingTopK" -> SpaceSavingAgg.spaceSavingTopK(col("token"), 256),
    "hashReservoir" -> HashReservoirAgg.hashReservoir(col("rank"), col("id"), 16),
    "weightedReservoir" -> HashReservoirAgg.weightedReservoir(col("prio"), col("id"), 16),
    "countMinSketch" -> CountMinAgg.countMinSketch(col("token"), 4, 64),
    "minHashUnion" -> MinHashUnionAgg.minHashUnion(col("sig"), 8))

  /** The two rollups over sketches stored per (g, sub). */
  private val rolled: Seq[(String, Column)] = Seq(
    "hllMergeEstimate" -> HllSketchAgg.hllMergeEstimate(col("hsk"), 10),
    "hdrMergeQuantiles" -> HdrQuantileAgg.hdrMergeQuantiles(col("dsk"), Qs))

  private val builders = (direct ++ rolled).map(_._1)

  /** MD5 of each builder's rendered output at the default settings on
    * one partition. */
  private val digests = Map(
    "hllDistinct" -> "171955410bcf538c2ccce701388b7bfe",
    "hllSketch" -> "dccf4a1cab8fd8198165a74f6c35ecba",
    "hllMergeEstimate" -> "21454bae033957d42fa2dcdba10f5c27",
    "hdrQuantiles" -> "f443247c95abbaeab7cb0eb47bea926b",
    "hdrSketch" -> "5e9c5662f347455629339ddd91ec6a7f",
    "hdrMergeQuantiles" -> "f443247c95abbaeab7cb0eb47bea926b",
    "spaceSavingTopK" -> "97e8053276cf56cae753e8d4a8ee4f25",
    "hashReservoir" -> "ba118e5e11e2dcd821c0b49722396d40",
    "weightedReservoir" -> "1ed7e12f293aa5f682d0bb889717fb66",
    "countMinSketch" -> "7e5f40b3513715aa7c2908dceca0dfff",
    "minHashUnion" -> "e6345a58867661523eb08bcb4df29813")

  private val settings: Seq[(String, Map[String, String])] = Seq(
    "default" -> Map.empty,
    "sort aggregate" -> Map("spark.sql.execution.useObjectHashAggregateExec" -> "false"),
    "sort-based fallback" -> Map("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1"))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("g", IntegerType, nullable = false),
    StructField("sub", IntegerType, nullable = false),
    StructField("token", StringType),
    StructField("v", LongType),
    StructField("rank", StringType),
    StructField("prio", DoubleType),
    StructField("sig", ArrayType(LongType, containsNull = false))))

  /** 4,000 rows in 4 groups: skewed tokens over 150 distinct values
    * (so SpaceSaving at m = 256 is exact), values over 13 decades
    * (some past HDR's tracked range), md5 ranks, uniform priorities,
    * 8-slot signatures, and a sprinkling of nulls in every input. */
  private lazy val rows: Seq[Row] = {
    val rnd = new scala.util.Random(15L)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    (0 until 4000).map { i =>
      val token = if (i % 97 == 0) null else s"t${(math.pow(rnd.nextDouble(), 3) * 150).toInt}"
      val v: Any = if (i % 89 == 0) null else math.exp(rnd.nextDouble() * 30).toLong
      val rank = if (i % 83 == 0) null else hex(md5.digest(s"r$i".getBytes("UTF-8")))
      val prio = rnd.nextDouble()
      val sig = if (i % 101 == 0) null else Seq.fill(8)(rnd.nextLong())
      Row(i.toLong, i % 4, i % 12, token, v, rank, prio, sig)
    }
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => hex(b)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case other => other.toString
  }

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val old = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def fixture(parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  /** Builder name -> rendered per-group output, plus the physical
    * aggregate operators the direct query planned. */
  private def run(conf: Map[String, String], parts: Int): (Map[String, String], Seq[String]) =
    withConf(conf) {
      def collectRendered(df: DataFrame, names: Seq[String]): Map[String, String] = {
        val got = df.orderBy(col("g")).collect()
        names.zipWithIndex.map { case (n, j) =>
          n -> got.map(r => s"${r.getInt(0)}=${render(r.get(j + 1))}").mkString(";")
        }.toMap
      }
      val in = fixture(parts)
      val q = in.groupBy(col("g")).agg(direct.head._2, direct.tail.map(_._2): _*)
      val ops = q.queryExecution.sparkPlan.collect { case p => p.nodeName }
        .filter(_.endsWith("Aggregate"))
      val stored = in.groupBy(col("g"), col("sub"))
        .agg(HllSketchAgg.hllSketch(col("token"), 10).as("hsk"),
          HdrQuantileAgg.hdrSketch(col("v")).as("dsk"))
      val r = stored.groupBy(col("g")).agg(rolled.head._2, rolled.tail.map(_._2): _*)
      (collectRendered(q, direct.map(_._1)) ++ collectRendered(r, rolled.map(_._1)), ops)
    }

  private lazy val runs: Seq[(String, Map[String, String])] =
    for ((label, conf) <- settings; parts <- Seq(1, 8)) yield {
      val (out, ops) = run(conf, parts)
      val want = if (conf.contains("spark.sql.execution.useObjectHashAggregateExec"))
        "SortAggregate" else "ObjectHashAggregate"
      assert(ops.nonEmpty && ops.forall(_ == want), s"$label planned $ops")
      s"$label, $parts partition(s)" -> out
    }

  private def md5Hex(s: String): String =
    hex(java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  test("every public aggregate Column builder of the six builder objects is run here") {
    val objects: Seq[AnyRef] = Seq(HllSketchAgg, HdrQuantileAgg, SpaceSavingAgg,
      HashReservoirAgg, CountMinAgg, MinHashUnionAgg)
    // cmsEstimate is CountMinAgg's scalar probe, not an aggregate
    val public = objects.flatMap(_.getClass.getMethods.toSeq)
      .filter(_.getReturnType == classOf[Column])
      .map(_.getName).filterNot(_ == "cmsEstimate").toSet
    val listed = builders.toSet
    assert(public.subsetOf(listed), s"builders missing from the list: ${public -- listed}")
  }

  test("auto-generated column names keep each aggregate's SQL text") {
    val in = fixture(1)
    val names = in.agg(direct.head._2, direct.tail.init.map(_._2): _*).columns.toSeq
    assert(names == Seq("hll_distinct(token)", "hll_sketch(token)", "hdr_quantiles(v)",
      "hdr_sketch(v)", "space_saving_topk(token)", "hash_reservoir(rank, id)",
      "weighted_reservoir(prio, id)", "count_min_sketch_agg(token)"))
  }

  builders.foreach { name =>
    test(s"$name: one result under every aggregation path and partitioning, pinned") {
      val (baseLabel, base) = runs.head
      runs.tail.foreach { case (label, out) =>
        assert(out(name) == base(name), s"$name: $label differs from $baseLabel")
      }
      assert(md5Hex(base(name)) == digests(name),
        s"$name output moved: md5 ${md5Hex(base(name))} of ${base(name).take(300)}")
    }
  }

  /** MD5 of each builder's serialized partial buffers (one partition,
    * default settings): the bytes a shuffle carries and a streaming
    * state store keeps. */
  private val bufferDigests = Map(
    "hllDistinct" -> "22156ce37d20f83145b50141f5b81c08",
    "hllSketch" -> "dccf4a1cab8fd8198165a74f6c35ecba",
    "hdrQuantiles" -> "5e9c5662f347455629339ddd91ec6a7f",
    "hdrSketch" -> "5e9c5662f347455629339ddd91ec6a7f",
    "spaceSavingTopK" -> "8ccde4875c5f10bcfd73fa23589f1410",
    "hashReservoir" -> "1297e91cd21464e64402ee240390f025",
    "weightedReservoir" -> "e29bb8a1a6c345d0773c2e536e8a3a88",
    "countMinSketch" -> "598e7811e473d9f087baa889f8c19a71")

  test("every buffer serializes to its pinned bytes") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val aggs = direct.filter { case (n, _) => bufferDigests.contains(n) }
    val partial = withConf(Map("spark.sql.adaptive.enabled" -> "false")) {
      val plan = fixture(1).groupBy(col("g")).agg(aggs.head._2, aggs.tail.map(_._2): _*)
        .queryExecution.executedPlan
      val node = plan.collect {
        case a: ObjectHashAggregateExec if a.aggregateExpressions.forall(_.mode == Partial) => a
      }
      assert(node.size == 1, plan.toString)
      node.head.execute().map(_.copy()).collect().sortBy(_.getInt(0))
    }
    val moved = aggs.map(_._1).zipWithIndex.flatMap { case (n, j) =>
      val got = md5Hex(partial.map(r => s"${r.getInt(0)}=${hex(r.getBinary(j + 1))}").mkString(";"))
      if (got == bufferDigests(n)) None else Some(s"$n: md5 $got")
    }
    assert(moved.isEmpty, moved.mkString("serialized buffers moved: ", ", ", ""))
  }

  test("spaceSavingTopK at m above the distinct count is the exact count, zero error") {
    val exact = fixture(1).where(col("token").isNotNull)
      .groupBy(col("g"), col("token")).count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = fixture(8).groupBy(col("g"))
      .agg(SpaceSavingAgg.spaceSavingTopK(col("token"), 256).as("ss")).collect()
      .flatMap(r => r.getSeq[Row](1).map(e => (r.getInt(0), e.getString(0)) -> (e.getLong(1), e.getLong(2))))
      .toMap
    assert(got.map { case (k, (c, _)) => k -> c } == exact)
    assert(got.values.forall(_._2 == 0L))
  }
}
