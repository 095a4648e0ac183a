package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NativeExprs

/** Proves every native expression actually GENERATES COMPILABLE JAVA:
  * Spark silently falls back to interpreted eval when generated code
  * fails to compile, so a doGenCode bug is invisible in normal runs.
  * CODEGEN_ONLY factory mode + fallback disabled turns that silent
  * degradation into a test failure.
  */
class CodegenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // The test frames are Seq(...).toDF, i.e. LocalRelations, and
  // ConvertToLocalRelation evaluates a projection over one at
  // optimization time through interpreted eval — doGenCode would never
  // run. Excluding the rule keeps the projection in the executed plan.
  private def withCodegenOnly[T](f: => T): T = {
    val conf = spark.conf
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    val prevExcluded = conf.getOption("spark.sql.optimizer.excludedRules")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try f
    finally {
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(
        conf.set("spark.sql.codegen.factoryMode", _))
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(
        conf.set("spark.sql.codegen.fallback", _))
      prevExcluded.fold(conf.unset("spark.sql.optimizer.excludedRules"))(
        conf.set("spark.sql.optimizer.excludedRules", _))
    }
  }

  // Every kernel function NativeExprs exposes, by SQL name
  // (cosineSimI8 -> cosine_sim_i8), plus CountMinAgg's probe: a new
  // function left out of a select list below fails that test.
  private val kernelNames: Set[String] =
    NativeExprs.getClass.getMethods.toSeq
      .filter(m => m.getReturnType == classOf[org.apache.spark.sql.Column] && !m.getName.contains("$"))
      .map(_.getName.replaceAll("([A-Z])", "_$1").toLowerCase)
      .toSet + "cms_estimate"

  private def assertCoversKernels(df: org.apache.spark.sql.DataFrame): Unit = {
    val selected = df.queryExecution.analyzed.expressions
      .flatMap(_.collect { case e if e.getClass.getPackageName == "graft.functions" => e.prettyName })
      .toSet
    assert(Set("minhash_sig", "cosine_sim_i8", "norm_l2").subsetOf(kernelNames), kernelNames)
    val missing = kernelNames -- selected
    assert(missing.isEmpty, s"kernels missing from the select list: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("all native expressions evaluate under CODEGEN_ONLY with fallback disabled") {
    withCodegenOnly {
      import spark.implicits._
      val cents = Array(Array(0.0, 0.0), Array(10.0, 10.0))
      val bloom = org.apache.spark.util.sketch.BloomFilter.create(10, 0.03)
      bloom.putLong(3L)
      val df = Seq(
        (Seq(1.0, 2.0), Seq(2.0, 4.0), Seq("a", "b", "c"), Seq(1L, 2L, 3L), Seq(1L, 9L, 3L),
          3L, "abab", Seq.tabulate(8)(_.toLong)))
        .toDF("a", "b", "toks", "sigA", "sigB", "x", "s", "cms")
      val sel = df.select(
        NativeExprs.cosineSim(col("a"), col("b")).as("cos"),
        NativeExprs.minhashSig(col("toks"), 16).as("mh"),
        NativeExprs.simhash64(col("toks")).as("sh"),
        NativeExprs.hyperplaneSig(col("a"), Array(Array(1.0, -1.0)), 1).as("hp"),
        NativeExprs.nearestCentroid(col("a"), cents).as("nc"),
        NativeExprs.sigMatches(col("sigA"), col("sigB")).as("sm"),
        NativeExprs.cosineSimI8(
          NativeExprs.quantizeI8(col("a")), NativeExprs.quantizeI8(col("b"))).as("ci8"),
        NativeExprs.pqAdc(
          NativeExprs.pqEncode(col("a"), Array(Array(Array(0.4, 0.9)))),
          Array(Array(1.0))).as("pq"),
        NativeExprs.shingleHashes(col("toks"), 2).as("shg"),
        NativeExprs.sampleDistSums(col("a"),
          Array(Array(Array(1.0, 2.0), Array(4.0, 6.0)), Array(Array(1.0, 6.0)))).as("sds"),
        NativeExprs.runtimeLong(8123456789L).as("rl"),
        NativeExprs.sigBandKeys(col("sigA"), 3).as("bk"),
        NativeExprs.bloomContainsLong(col("x"), bloom).as("bc"),
        NativeExprs.deflateLen(col("s")).as("dl"),
        NativeExprs.dotCols(col("a"), col("b")).as("dc"),
        NativeExprs.normL2(col("b")).as("nl"),
        NativeExprs.dotW(col("a"), Array(0.5, -2.0)).as("dw"),
        NativeExprs.centroidDists(col("a"), cents, sqrt = false).as("cd"),
        NativeExprs.minSqDist(col("a"), cents).as("msd"),
        NativeExprs.intersectCountLong(col("sigA"), col("sigB")).as("icl"),
        NativeExprs.applyBpeMerges(col("toks"), Seq(("a", "b"), ("ab", "c"))).as("bpe"),
        graft.functions.CountMinAgg.cmsEstimate(col("cms"), col("s"), 2, 4).as("cmse")
      )
      assertCoversKernels(sel)
      val row = sel.head()
      // the projection ran as generated code, which reads the runtime
      // value by reference instead of inlining it
      val code = GeneratedSource.of(sel).mkString
      assert(code.contains("runtimeLong") && !code.contains("8123456789L"),
        "runtime_long must be generated, reading its value by reference")
      assert(math.abs(row.getAs[Double]("cos") - 1.0) < 1e-12)
      assert(row.getSeq[Long](row.fieldIndex("shg")).length == 2)
      assert(row.getSeq[Long](row.fieldIndex("mh")).length == 16)
      assert(row.getAs[Long]("sh") >= 0)
      assert(row.getSeq[Long](row.fieldIndex("hp")).length == 1)
      assert(row.getAs[Int]("nc") == 0)
      assert(row.getAs[Int]("sm") == 2)
      assert(row.getAs[Long]("rl") == 8123456789L)
      assert(math.abs(row.getAs[Double]("ci8") - 1.0) < 1e-3)
      assert(math.abs(row.getAs[Double]("pq") - 1.0) < 1e-12)
      // a=(1,2): cluster 0 = dist 0 + dist 5 = 5; cluster 1 = dist 4
      val sds = row.getSeq[Double](row.fieldIndex("sds"))
      assert(sds.length == 2 && math.abs(sds(0) - 5.0) < 1e-12 &&
        math.abs(sds(1) - 4.0) < 1e-12, s"sample_dist_sums: $sds")
      assert(row.getSeq[Long](row.fieldIndex("bk")).length == 3)
      assert(row.getAs[Boolean]("bc"))
      assert(row.getAs[Int]("dl") > 0)
      assert(row.getAs[Double]("dc") == 10.0)
      assert(math.abs(row.getAs[Double]("nl") - math.sqrt(20.0)) < 1e-12)
      assert(row.getAs[Double]("dw") == -3.5)
      assert(row.getSeq[Double](row.fieldIndex("cd")) == Seq(5.0, 145.0))
      assert(row.getAs[Double]("msd") == 5.0)
      assert(row.getAs[Int]("icl") == 2)
      assert(row.getSeq[String](row.fieldIndex("bpe")) == Seq("abc"))
      // every counter i holds i, so the estimate is the smaller of the
      // key's two cell indices (row 1's offset by the width)
      assert(row.getAs[Long]("cmse") >= 0 && row.getAs[Long]("cmse") < 4)
    }
  }

  test("codegen ≡ interpreted: every native expression returns bit-identical results under both factory modes") {
    // The divergence class the compile-only test CANNOT catch: a
    // doGenCode whose generated arithmetic disagrees with eval().
    // Spark picks the path by CONTEXT — constant folding and some
    // aggregate/driver sites run interpreted eval while scans run
    // codegen — so a divergence is silently context-dependent wrong
    // results, never an error. Pin every expression's full output row
    // (not just a scalar digest) bit-identical across NO_CODEGEN and
    // CODEGEN_ONLY on inputs that exercise real arithmetic.
    import spark.implicits._
    val cents = Array(Array(0.25, -1.5), Array(10.0, 10.0), Array(-3.0, 0.5))
    val planes = Array(Array(1.0, -1.0), Array(0.3, 0.7), Array(-0.2, 0.9))
    val books = Array(Array(Array(0.4, 0.9), Array(-1.0, 2.0)),
                      Array(Array(0.0, 0.0), Array(3.0, -3.0)))
    val lut = Array(Array(1.0, -0.5), Array(0.25, 2.0))
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.03)
    Seq(7L, 42L, 99L).foreach(bloom.putLong)
    val merges = Seq(("a", "b"), ("ab", "c"), ("x", "y"))
    val weights = Array(0.5, -2.0)
    // c is 2-dim in row 1 and 3-dim in row 2: dot_cols' length
    // mismatch and the centroid kernels' dimension mismatch
    def resultRows(): Seq[String] = {
      val df = Seq(
        (Seq(1.0, 2.0), Seq(2.0, 4.0), Seq("a", "b", "c", "a"), Seq(1L, 2L, 3L), Seq(1L, 9L, 3L), 42L, "abcabcabc",
          Seq(3.0, -1.0), Seq.tabulate(8)(i => (i * 7 % 5).toLong)),
        (Seq(-0.5, 0.75), Seq(0.1, -0.9), Seq("x", "y"), Seq(5L, 6L, 7L), Seq(5L, 6L, 7L), 8L, "zzzz",
          Seq(0.5, 1.5, -2.5), Seq.tabulate(8)(i => (i * 3 % 4).toLong)))
        .toDF("a", "b", "toks", "sigA", "sigB", "x", "s", "c", "cms")
      val sel = df.select(
        NativeExprs.cosineSim(col("a"), col("b")).as("cos"),
        NativeExprs.minhashSig(col("toks"), 16).as("mh"),
        NativeExprs.simhash64(col("toks")).as("sh"),
        NativeExprs.hyperplaneSig(col("a"), planes, 3).as("hp"),
        NativeExprs.nearestCentroid(col("a"), cents).as("nc"),
        NativeExprs.sampleDistSums(col("a"), books).as("sds"),
        NativeExprs.sigMatches(col("sigA"), col("sigB")).as("sm"),
        NativeExprs.shingleHashes(col("toks"), 2).as("shg"),
        NativeExprs.sigBandKeys(NativeExprs.minhashSig(col("toks"), 16), 4).as("bk"),
        NativeExprs.quantizeI8(col("a")).as("qi"),
        NativeExprs.cosineSimI8(
          NativeExprs.quantizeI8(col("a")), NativeExprs.quantizeI8(col("b"))).as("ci8"),
        NativeExprs.pqEncode(col("a"), books).as("pqe"),
        NativeExprs.pqAdc(NativeExprs.pqEncode(col("a"), books), lut).as("pqa"),
        NativeExprs.deflateLen(col("s")).as("dl"),
        NativeExprs.bloomContainsLong(col("x"), bloom).as("bc"),
        (col("x") + NativeExprs.runtimeLong(-7L)).as("rl"),
        NativeExprs.dotCols(col("a"), col("b")).as("dc"),
        NativeExprs.dotCols(col("a"), col("c")).as("dcNull"),
        NativeExprs.normL2(col("c")).as("nl"),
        NativeExprs.dotW(col("c"), weights).as("dw"),
        NativeExprs.centroidDists(col("a"), cents, sqrt = true).as("cd"),
        NativeExprs.centroidDists(col("c"), cents, sqrt = false).as("cdNull"),
        NativeExprs.minSqDist(col("a"), cents).as("msd"),
        NativeExprs.minSqDist(col("c"), cents).as("msdNull"),
        NativeExprs.intersectCountLong(col("sigA"), col("sigB")).as("icl"),
        NativeExprs.applyBpeMerges(col("toks"), merges).as("bpe"),
        graft.functions.CountMinAgg.cmsEstimate(col("cms"), col("s"), 2, 4).as("cmse"))
      assertCoversKernels(sel)
      sel.collect().map { r =>
          // render binary columns hex so Row.toString is value-faithful
          (0 until r.length).map { i =>
            r.get(i) match {
              case b: Array[Byte] => b.map(x => f"$x%02x").mkString
              case v => String.valueOf(v)
            }
          }.mkString("|")
        }.toSeq
    }
    def withMode[T](mode: String)(f: => T): T = {
      val conf = spark.conf
      val prev = conf.getOption("spark.sql.codegen.factoryMode")
      val prevWs = conf.getOption("spark.sql.codegen.wholeStage")
      conf.set("spark.sql.codegen.factoryMode", mode)
      // factoryMode alone only swaps projection/predicate factories;
      // whole-stage spans still call doGenCode — disable them too so
      // the NO_CODEGEN arm genuinely runs Expression.eval
      conf.set("spark.sql.codegen.wholeStage", (mode != "NO_CODEGEN").toString)
      try f finally {
        prev.fold(conf.unset("spark.sql.codegen.factoryMode"))(
          conf.set("spark.sql.codegen.factoryMode", _))
        prevWs.fold(conf.unset("spark.sql.codegen.wholeStage"))(
          conf.set("spark.sql.codegen.wholeStage", _))
      }
    }
    val interpreted = withMode("NO_CODEGEN")(resultRows())
    val codegen = withCodegenOnly(resultRows())
    assert(interpreted == codegen,
      s"codegen and interpreted paths diverge:\n interp: $interpreted\ncodegen: $codegen")
    // the mismatch columns (dcNull, cdNull, msdNull among the last
    // eleven, dc .. cmse) took their null branch on row 2 only
    val tail = interpreted.map(_.split('|').takeRight(11).toSeq)
    assert(Seq(1, 5, 7).map(tail(1)) == Seq("null", "null", "null") &&
      !tail(0).contains("null"),
      s"dcNull/cdNull/msdNull must be null on row 2 only: ${interpreted.mkString(" / ")}")
  }

  test("CosineSim null branches survive CODEGEN_ONLY (isNull codegen path)") {
    withCodegenOnly {
      import spark.implicits._
      val df = Seq(
        (Seq(0.0, 0.0), Seq(1.0, 2.0)),
        (Seq(1.0), Seq(1.0, 2.0))).toDF("a", "b")
      val rows = df.select(NativeExprs.cosineSim(col("a"), col("b"))).collect()
      assert(rows.forall(_.isNullAt(0)))
    }
  }

  test("sig_matches and nearest_centroid yield null on dimension mismatch") {
    withCodegenOnly {
      import spark.implicits._
      val df = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L), Seq(1.0, 2.0, 3.0))).toDF("s2", "s3", "e3")
      val r = df.select(
        NativeExprs.sigMatches(col("s2"), col("s3")).as("sm"),
        NativeExprs.nearestCentroid(col("e3"), Array(Array(0.0, 0.0))).as("nc"))
        .head()
      assert(r.isNullAt(0), "mismatched signature lengths must be null, not truncated")
      assert(r.isNullAt(1), "mismatched embedding dim must be null, not a wrong cluster")
    }
  }

  test("SQL surface covers the full function set") {
    NativeExprs.registerAll(spark)
    val r = spark.sql(
      """SELECT sig_matches(array(1L, 2L), array(1L, 9L)) AS sm,
        |       cosine_sim_i8(quantize_i8(array(1.0D, 2.0D)),
        |                     quantize_i8(array(2.0D, 4.0D))) AS c8""".stripMargin).head()
    assert(r.getInt(0) == 1)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-3)
    val agg = spark.range(10000)
      .selectExpr("CAST(id % 3000 AS STRING) AS v")
      .selectExpr("hll_distinct(v) AS n").head().getLong(0)
    assert(math.abs(agg - 3000) < 200, s"hll_distinct via SQL gave $agg")
  }

  test("registry-exposed expressions fail ANALYSIS on wrong types/arity, never misread at runtime") {
    NativeExprs.registerAll(spark)
    // array<int> into cosine_sim would misread 4-byte elements as
    // doubles on unsafe rows — plausible garbage, silently
    def fails(sql: String, frag: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      assert(e.getMessage.toLowerCase.contains(frag.toLowerCase),
        s"$sql: expected '$frag' in: ${e.getMessage.take(300)}")
    }
    fails("SELECT cosine_sim(array(1, 2), array(2, 3))", "array<double>")
    fails("SELECT sig_matches(array(1, 2), array(1, 9))", "array<bigint>")
    fails("SELECT cosine_sim_i8('a', 'b')", "binary")
    fails("SELECT quantize_i8(array('a'))", "array<double>")
    fails("SELECT simhash64(array('a'), array('b'))", "exactly 1")
    fails("SELECT cosine_sim(array(1.0D))", "exactly 2")
    fails("SELECT minhash_sig(array('a'), -1)", ">= 1")
  }

  test("plan-static expressions fail ANALYSIS on wrong-typed children too") {
    // not registry-exposed, but they take arbitrary Columns from Scala
    // callers: an array<int> child would misread unsafe array bytes as
    // doubles and return plausible garbage silently (round-14 review)
    import spark.implicits._
    val df = Seq((Seq(1, 2), "s")).toDF("ints", "str")
    def fails(c: org.apache.spark.sql.Column, frag: String): Unit = {
      val e = intercept[Exception] { df.select(c).collect() }
      assert(e.getMessage.toLowerCase.contains(frag.toLowerCase),
        s"expected '$frag' in: ${e.getMessage.take(300)}")
    }
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    fails(NativeExprs.nearestCentroid(col("ints"), cents), "array<double>")
    fails(NativeExprs.pqEncode(col("ints"), Array(Array(Array(0.0, 0.0)))), "array<double>")
    fails(NativeExprs.pqAdc(col("str"), Array(Array(0.0))), "binary")
    fails(NativeExprs.sampleDistSums(col("ints"), Array(Array(Array(0.0, 0.0)))), "array<double>")
    fails(NativeExprs.hyperplaneSig(col("ints"), Array(Array(0.0, 0.0)), 1), "array<double>")
  }
}
