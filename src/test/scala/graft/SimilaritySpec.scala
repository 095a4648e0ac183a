package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("cosine: hand-computed values") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 0.0, 0.0), Seq(1.0, 0.0, 0.0)),   // identical → 1
      (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),   // orthogonal → 0
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)))   // 32/(√14·√77)
      .toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
  }

  test("brute-force topk is ordered and self-consistent") {
    val r = Similarity.q40CosineTopK(spark, TestSpark.sf0001).collect()
    assert(r.length == 20)
    val sims = r.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(!r.map(_.getLong(0)).contains(0L)) // query vec excluded
  }

  test("ANN candidates report exact cosine values (subset of brute force)") {
    val brute = Similarity.q40CosineTopK(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val full = {
      // brute force over ALL vecs for lookup (top-20 may not cover ANN hits)
      val e = graft.Tables.embeddings(spark, TestSpark.sf0001)
        .withColumn("e", col("embedding").cast("array<double>"))
      val q = e.filter(col("vec_id") === 0).select(col("e").as("qe"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), round(Similarity.cosine(col("e"), col("qe")), 6).as("c"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val ann = Similarity.q41AnnLsh(spark, TestSpark.sf0001).collect()
    assert(ann.nonEmpty, "LSH should yield candidates at sf0.001")
    ann.foreach { r =>
      assert(math.abs(full(r.getLong(0)) - r.getDouble(1)) < 1e-9,
        s"ANN cosine for vec ${r.getLong(0)} differs from brute force")
    }
  }

  test("IVF with nprobe = k reproduces exact brute-force top-10") {
    val brute = Similarity.q40CosineTopK(spark, TestSpark.sf0001)
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ivfAll = graft.ops.Ivf.ivfTopK(spark, TestSpark.sf0001, graft.ops.Ivf.K)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(ivfAll.map(_._1).sameElements(brute.map(_._1)))
    ivfAll.zip(brute).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
  }

  test("IVF with nprobe < k returns a valid, exactly-scored subset") {
    val ivf = graft.ops.Ivf.q48IvfTopK(spark, TestSpark.sf0001).collect()
    assert(ivf.nonEmpty)
    val sims = ivf.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("SQL surface: registered native functions evaluate correctly") {
    graft.functions.NativeExprs.registerAll(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS c,
        |       simhash64(array('a', 'b', 'c')) AS s,
        |       size(minhash_sig(array('a', 'b'))) AS m""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
    assert(r.getLong(1) >= 0)
    assert(r.getInt(2) == 64)
  }

  test("GraftExtensions applies cleanly to a fresh extensions registry") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext) // must not throw
  }

  test("GraftExtensions catalog entries put name/usage in the right ExpressionInfo slots") {
    // the 3-arg ExpressionInfo ctor is (className, db, NAME) — using it
    // registered the usage sentence as the function NAME (round-14
    // review); pin the corrected slot assignment for every builder
    val entries = graft.functions.GraftExtensions.functionEntries
    assert(entries.nonEmpty)
    entries.foreach { case (ident, info, _) =>
      assert(info.getName == ident.funcName,
        s"ExpressionInfo name must be the function name, got '${info.getName}'")
      assert(info.getUsage != null && info.getUsage.nonEmpty &&
        info.getUsage != ident.funcName,
        s"usage for ${ident.funcName} must be the usage text, got '${info.getUsage}'")
    }
  }

  test("ANN recall@10 vs brute force, tracked per variant") {
    val brute = Similarity.q40CosineTopK(spark, TestSpark.sf0001)
      .limit(10).collect().map(_.getLong(0)).toSet
    val lsh = Similarity.q41AnnLsh(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSet
    val ivf = graft.ops.Ivf.q48IvfTopK(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSet
    val lshRecall = (brute intersect lsh).size / 10.0
    val ivfRecall = (brute intersect ivf).size / 10.0
    info(f"recall@10 — lsh(8x8 multiprobe r<=2): $lshRecall%.2f, ivf(nprobe 4/16): $ivfRecall%.2f")
    assert(lsh.subsetOf(
      Tables.embeddings(spark, TestSpark.sf0001).select("vec_id")
        .collect().map(_.getLong(0)).toSet))
    // multiprobe (hamming radius 2 over 8-bit bands) must make the ANN
    // useful, not decorative — the round-2 contract
    assert(lshRecall >= 0.6, s"LSH recall@10 $lshRecall below 0.6")
    assert(ivfRecall >= 0.0)
  }

  test("q42 bucket cap: a planted hot bucket cannot go quadratic") {
    import spark.implicits._
    // 400 identical vectors (one degenerate bucket per band) + 30 spread
    val dup = Seq.fill(400)(Seq.tabulate(64)(_.toDouble / 64))
    val rnd = new scala.util.Random(3)
    val rest = Seq.fill(30)(Seq.fill(64)(rnd.nextGaussian()))
    val df = (dup ++ rest).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "e")
    val pairs = Similarity.embedNearDupPairs(Similarity.withSignature(df))
    val n = pairs.count()
    // uncapped, the 400 identical rows alone yield 79,800 pairs; the
    // cap must skip their buckets entirely
    assert(n < 1000, s"hot bucket leaked $n candidate pairs")
  }

  test("q42 plan: one member-list aggregation, no bucket-key self-join, hyperplane_sig at most twice") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // over parquet, not a local relation the optimizer would sign
    // at planning time
    val plan = Similarity.q42EmbedNearDup(spark, TestSpark.sf0001).queryExecution.optimizedPlan
    val lists = GeneratedSource.exprCount[CollectList](plan)
    assert(lists == 1, s"expected one member-list aggregation, got $lists in:\n$plan")
    val bucketJoins = plan.collect {
      case j: Join if j.joinType == Inner &&
          j.condition.exists(_.references.exists(_.name == "band_idx")) => j
    }
    assert(bucketJoins.isEmpty, s"bucket-key self-join in:\n$plan")
    // one signing for the over-cap count, one for the pairs; an inner
    // explode let Catalyst inline two more into an inferred Filter
    val signs = GeneratedSource.exprCount[graft.functions.HyperplaneSig](plan)
    assert(signs <= 2, s"hyperplane_sig evaluated $signs times per vector in:\n$plan")
  }

  test("q41 plan: hyperplane_sig once per side, no inferred filter re-signing") {
    // the corpus and the query vector each sign once; an inner
    // posexplode let Catalyst infer size(bands) > 0 AND
    // isnotnull(bands) and push it below the signing Project, which
    // signed each vector twice more in a Filter
    val plan = Similarity.q41AnnLsh(spark, TestSpark.sf0001).queryExecution.optimizedPlan
    val signs = GeneratedSource.exprCount[graft.functions.HyperplaneSig](plan)
    assert(signs <= 2, s"hyperplane_sig evaluated $signs times in:\n$plan")
  }

  test("cosine null semantics: zero norm and length mismatch yield null") {
    import spark.implicits._
    val df = Seq(
      (Seq(0.0, 0.0, 0.0), Seq(1.0, 2.0, 3.0)),  // zero norm → null
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),       // length mismatch → null
      (Seq(1.0, 0.0, 0.0), Seq(1.0, 0.0, 0.0)))  // fine → 1.0
      .toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c")).collect()
    assert(got(0).isNullAt(0), "zero-norm should be null, not NaN")
    assert(got(1).isNullAt(0), "length mismatch should be null, not truncated")
    assert(math.abs(got(2).getDouble(0) - 1.0) < 1e-12)
  }

  test("minhash_sig SQL rejects non-literal slot arguments") {
    graft.functions.NativeExprs.registerAll(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a'), 1 + 1)").collect()
    }
    assert(e.getMessage.contains("minhash_sig"),
      s"expected an argument-shape error, got: ${e.getMessage}")
  }

  test("int8 quantization: cosine error is small; quantized top-k re-ranks to exact") {
    import spark.implicits._
    // direct kernel check on a hand row
    val df = Seq((Seq(0.5, -0.25, 0.125), Seq(0.5, -0.25, 0.125))).toDF("a", "b")
    val c = df.select(
      graft.functions.NativeExprs.cosineSimI8(
        graft.functions.NativeExprs.quantizeI8(col("a")),
        graft.functions.NativeExprs.quantizeI8(col("b"))).as("c"))
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-3, s"self-cosine after quantization was $c")

    // end-to-end: quantized candidate pass + exact re-rank == brute force
    val brute = Similarity.q40CosineTopK(spark, TestSpark.sf0001)
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val quant = Similarity.q56QuantizedTopK(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(quant.map(_._1).sameElements(brute.map(_._1)),
      s"quantized top-10 ${quant.map(_._1).toSeq} != exact ${brute.map(_._1).toSeq}")
    quant.zip(brute).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
  }

  test("near-dup pairs are distinct ordered pairs with valid cosines") {
    val pairs = Similarity.q42EmbedNearDup(spark, TestSpark.sf0001).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
  }

  test("q76: sum-vector identity equals brute-force mean pairwise cosine") {
    import org.apache.spark.sql.functions._
    val got = Similarity.q76SemanticDiversity(spark, TestSpark.sf0001).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.nonEmpty)
    // brute-force one label's mean pairwise cosine over normalized vectors
    val vecs = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .filter(col("label") === 0)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }
    val pairs = for (i <- vecs.indices; j <- i + 1 until vecs.length)
      yield vecs(i).zip(vecs(j)).map { case (a, b) => a * b }.sum
    val bf = pairs.sum / pairs.length
    val (n0, cos0) = got(0)
    assert(n0 == vecs.length.toLong)
    assert(math.abs(cos0 - bf) < 1e-6, s"identity $cos0 vs brute force $bf")
  }

  test("q76 guards: zero-norm vectors and single-vector labels are excluded, not NaN") {
    import spark.implicits._
    val embs = Seq(
      (0, Seq(1.0, 0.0)), (0, Seq(0.0, 1.0)),   // healthy label: cos = 0
      (0, Seq(0.0, 0.0)),                        // zero norm: must not poison label 0
      (1, Seq(3.0, 4.0)),                        // n = 1 after nothing dropped
      (2, Seq(0.0, 0.0)), (2, Seq(1.0, 1.0))     // n = 1 AFTER the zero-norm drop
    ).toDF("label", "e")
    val got = Similarity.semanticDiversity(embs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(0), s"labels 1 and 2 have < 2 usable vectors, got $got")
    val (n0, cos0) = got(0)
    assert(n0 == 2L, "the zero-norm vector must not count toward n")
    assert(!cos0.isNaN && math.abs(cos0 - 0.0) < 1e-9,
      s"orthogonal pair must give exactly 0, got $cos0")
  }

  test("centroid outliers: the planted off-cluster vector ranks first") {
    import spark.implicits._
    // label 0: three vectors hugging +x, one pointing -x (the outlier);
    // zero-norm vector must be dropped, not scored
    val embs = Seq(
      (10L, 0, Seq(1.0, 0.05)), (11L, 0, Seq(1.0, -0.05)), (12L, 0, Seq(1.0, 0.0)),
      (13L, 0, Seq(-1.0, 0.0)),
      (14L, 0, Seq(0.0, 0.0)),
      (20L, 1, Seq(0.0, 2.0)), (21L, 1, Seq(0.0, 3.0)),
      // label 2's unit vectors cancel exactly: no mean direction, the
      // label must be dropped rather than emit NaN cosine rows
      (30L, 2, Seq(1.0, 0.0)), (31L, 2, Seq(-1.0, 0.0))
    ).toDF("vec_id", "label", "e")
    val got = Similarity.embeddingOutliers(embs, 2).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val label0 = got.filter(_._1 == 0)
    assert(label0.head._3 == 13L, s"the -x vector must be rank 1: ${label0.toSeq}")
    assert(label0.head._4 < 0, "outlier points against the centroid")
    assert(!got.exists(_._3 == 14L), "zero-norm vectors are excluded")
    // label 1's two colinear vectors both score cos 1 to their centroid
    got.filter(_._1 == 1).foreach(r => assert(math.abs(r._4 - 1.0) < 1e-6))
    assert(!got.exists(_._1 == 2), "a zero-norm centroid label is dropped, not NaN")
    got.foreach(r => assert(!r._4.isNaN, s"no NaN cosines may escape: $r"))
  }

  test("hard negatives never share the query's label and beat the label's average") {
    import org.apache.spark.sql.functions.col
    val labels = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.q89HardNegatives(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qid, neg, negLabel) = (r.getLong(0), r.getLong(2), r.getInt(3))
      assert(labels(neg) == negLabel)
      assert(negLabel != labels(qid),
        s"negative $neg shares label ${labels(qid)} with query $qid")
    }
    // top-3 per query, ranks 1..3, descending similarity
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q140 label separation: planted clusters score ~1 margin, mixed labels ~0") {
    import spark.implicits._
    // two tight orthogonal clusters: intra ≈ 1, inter ≈ 0
    val rows =
      (1 to 10).map(i => (i.toLong, 0, Array(1.0f, (i % 3).toFloat / 100))) ++
      (11 to 20).map(i => (i.toLong, 1, Array((i % 3).toFloat / 100, 1.0f)))
    val got = graft.ops.Similarity.labelSeparation(
        rows.toDF("vec_id", "label", "embedding")).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Double]("margin")).toMap
    assert(got(0) > 0.9 && got(1) > 0.9,
      s"orthogonal clusters must separate cleanly: $got")
    // one cluster split across two labels: margin collapses toward 0
    val mixed = (1 to 20).map(i =>
      (i.toLong, i % 2, Array(1.0f, (i % 5).toFloat / 100)))
    val gotMixed = graft.ops.Similarity.labelSeparation(
        mixed.toDF("vec_id", "label", "embedding")).collect()
      .map(_.getAs[Double]("margin"))
    assert(gotMixed.forall(m => math.abs(m) < 0.01),
      s"labels drawn from ONE cluster have no separation: ${gotMixed.toSeq}")
  }

  test("q162 silhouette: tight orthogonal clusters ≈ 1, split-label cluster ≤ 0, " +
       "singleton labels drop") {
    import spark.implicits._
    val rows =
      (1 to 10).map(i => (i.toLong, 0, Array(1.0f, (i % 3).toFloat / 100))) ++
      (11 to 20).map(i => (i.toLong, 1, Array((i % 3).toFloat / 100, 1.0f))) ++
      Seq((21L, 2, Array(0.7f, 0.7f))) // singleton label: excluded by convention
    val got = graft.ops.Similarity.labelSilhouette(
        rows.toDF("vec_id", "label", "embedding")).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Double]("mean_silhouette")).toMap
    assert(got.keySet == Set(0, 1), s"singleton label must drop out: ${got.keySet}")
    assert(got(0) > 0.9 && got(1) > 0.9,
      s"tight orthogonal clusters silhouette ≈ 1: $got")
    // ONE geometric cluster split across two labels: for every point the
    // other label is as close as its own — silhouette cannot be positive
    val mixed = (1 to 20).map(i =>
      (i.toLong, i % 2, Array(1.0f, (i % 5).toFloat / 100)))
    val gotMixed = graft.ops.Similarity.labelSilhouette(
        mixed.toDF("vec_id", "label", "embedding")).collect()
      .map(_.getAs[Double]("mean_silhouette"))
    assert(gotMixed.forall(_ < 0.05),
      s"split-label cluster must not score positive silhouette: ${gotMixed.toSeq}")
  }

  test("q136 dim stats: planted dead and shifted dimensions are flagged") {
    import spark.implicits._
    // dim 1 constant (dead), dim 2 spread, dim 3 shifted mean
    val rows = (1 to 50).map { i =>
      (i.toLong, Array(0.5f, (i % 10).toFloat / 10, 3.0f + (i % 3).toFloat / 100))
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.dimStats(df).collect()
      .map(r => r.getAs[Int]("dim") ->
        (r.getAs[Double]("mean"), r.getAs[Double]("sd"), r.getAs[Int]("dead"))).toMap
    assert(got(1)._3 == 1, "constant dimension is dead")
    assert(got(1)._2 == 0.0)
    assert(got(2)._3 == 0, "varying dimension is alive")
    assert(got(3)._1 > 3.0, "shifted mean is visible")
    assert(got.size == 3)
  }

  test("q174 truncation recall: exact at full dims, monotone on a prefix-informative corpus") {
    import spark.implicits._
    // planted corpus where the PREFIX carries the signal (dims 0-7
    // dominate, the tail is small noise): truncation at 8 should
    // already recover most of the full-dim ranking
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 120L).map { i =>
      val head = Array.fill(8)(math.cos(i.toDouble / 9.0) + rnd.nextGaussian())
      val tail = Array.fill(56)(rnd.nextGaussian() * 0.05)
      (i, (head ++ tail).toSeq)
    }.toDF("vec_id", "e")
    val rows = graft.ops.Similarity.truncationRecall(vecs)
      .collect().sortBy(_.getAs[Int]("dims"))
    assert(rows.map(_.getAs[Int]("dims")).toSeq == Seq(8, 16, 32, 64))
    rows.foreach(r => assert(r.getAs[Long]("n_queries") == 8L))
    val means = rows.map(_.getAs[Double]("mean_recall"))
    assert(means.last == 1.0 &&
      rows.last.getAs[Double]("min_recall") == 1.0,
      "full-dimension truncation is exact by construction")
    assert(means.head > 0.5,
      s"an informative prefix must recover most of the ranking at 8 dims: ${means.toSeq}")
    // corpus-scale smoke on the real embeddings: bounded rows, valid range
    val real = graft.ops.Similarity.q174TruncationRecall(spark, TestSpark.sf0001)
      .collect()
    assert(real.length == 4)
    real.foreach { r =>
      val m = r.getAs[Double]("mean_recall")
      assert(m >= 0.0 && m <= 1.0 && r.getAs[Double]("min_recall") <= m)
    }
    assert(real.maxBy(_.getAs[Int]("dims")).getAs[Double]("mean_recall") == 1.0)
  }
}
