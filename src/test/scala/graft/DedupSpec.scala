package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("minhash estimate converges to exact jaccard") {
    // two docs sharing exactly half their token vocabulary
    val a = (1 to 20).map(i => s"tok$i").mkString(" ")
    val b = ((11 to 20) ++ (101 to 110)).map(i => s"tok$i").mkString(" ")
    val df = Dedup.withMinhash(docsDf(Seq((1L, a), (2L, b))))
    val sigs = df.select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val est = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y }.toDouble / Dedup.SigLen
    val exact = 10.0 / 30.0 // |∩|=10, |∪|=30
    assert(math.abs(est - exact) < 0.15, s"est $est vs exact $exact")
  }

  test("identical docs collide in every band; disjoint docs in none") {
    val t = "alpha beta gamma delta epsilon zeta"
    val u = "one two three four five six"
    val df = Dedup.withMinhash(docsDf(Seq((1L, t), (2L, t), (3L, u))))
    val bands = df.select("doc_id", "bands").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(bands(1L) == bands(2L))
    assert(bands(1L).zip(bands(3L)).forall { case (x, y) => x != y })
  }

  test("shingles: sliding n-gram window") {
    val df = docsDf(Seq((1L, "a b c d")))
      .select(Dedup.shingles(col("text"), 3).as("sh"))
    assert(df.collect().head.getSeq[String](0) == Seq("a b c", "b c d"))
    val short = docsDf(Seq((1L, "a b")))
      .select(Dedup.shingles(col("text"), 3).as("sh"))
    assert(short.collect().head.getSeq[String](0).isEmpty)
  }

  test("q43 finds the planted duplicate pair and skips unrelated docs") {
    // plant: 1 and 2 have IDENTICAL token sets (order differs — still a
    // guaranteed all-band collision), 3 unrelated
    val x = (1 to 30).map(i => s"w$i").mkString(" ")
    val y = (1 to 30).reverse.map(i => s"w$i").mkString(" ")
    val z = (201 to 230).map(i => s"w$i").mkString(" ")
    val docs = docsDf(Seq((1L, x), (2L, y), (3L, z)))
    val signed = Dedup.withMinhash(docs).select(col("doc_id"), col("sig"), col("bands"))
    val ex = signed.select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "bucket")))
    val cands = ex.select(col("band_idx"), col("bucket"), col("doc_id").as("id_a"))
      .join(ex.select(col("band_idx"), col("bucket"), col("doc_id").as("id_b")), Seq("band_idx", "bucket"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)))
  }

  test("q92 containment catches the planted short-doc-quoted-in-long-doc pair " +
       "that Jaccard-threshold banding alone would miss") {
    // plant: doc 1's token set is FULLY contained in doc 2 (doc 2 = the
    // quote plus extra tokens), sized so the symmetric Jaccard
    // (|A|/|B| ≈ 0.89) sits BELOW both the near-dup candidate floor
    // semantics (ClusterThreshold 0.92) and any dedup threshold, while
    // the shared tokens still dominate enough to band; doc 3 unrelated
    val quote = (1 to 50).map(i => s"w$i").mkString(" ")
    val long = quote + " " + (1 to 5).map(i => s"kk$i").mkString(" ")
    val other = (301 to 350).map(i => s"u$i").mkString(" ")
    val docs = docsDf(Seq((1L, quote), (2L, long), (3L, other)))

    // half 1: the Jaccard-threshold path misses the pair — its exact
    // Jaccard is under ClusterThreshold, so cluster dedup at 0.92
    // would never merge it, and the 0.8-floor near-dup pair stream
    // only surfaces it as a sub-threshold candidate at best
    val exactJ = 50.0 / 55.0
    assert(exactJ < Dedup.ClusterThreshold,
      s"plant broken: J=$exactJ must sit below the cluster threshold")

    // half 2: the containment pipeline (banded candidates, no est
    // pre-filter, asymmetric hashed scoring) reports the quote as
    // ~fully contained
    val found = Dedup.containmentCandidates(docs, Dedup.ContainmentMinCont)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(found.contains((1L, 2L)),
      s"planted containment pair must band and survive scoring, got ${found.keySet}")
    val (contAinB, contBinA) = found((1L, 2L))
    assert(contAinB == 1.0, s"quote is fully contained: cont_a_in_b=$contAinB")
    assert(contBinA < 0.92, s"long doc is NOT contained in the quote: $contBinA")
    assert(!found.keySet.exists { case (a, b) => a == 3L || b == 3L },
      "unrelated doc must not pair")
  }

  test("q152 cross-source matrix: planted cross-source dup lands in its ordered cell") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "aa", base),                       // original in source aa
      (2L, "bb", base + " extra1"),           // near-dup copied into bb
      (3L, "cc", (101 to 160).map(i => s"u$i").mkString(" "))) // unrelated
      .toDF("doc_id", "source", "text")
    val cells = Dedup.crossSourceNeardup(docs, minEst = 0.8).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_pairs")).toMap
    assert(cells.contains(("aa", "bb")), s"planted cross-source dup missing: $cells")
    assert(cells(("aa", "bb")) == 1L)
    assert(!cells.keySet.exists { case (a, b) => a == "cc" || b == "cc" },
      "unrelated source must not appear")
  }

  test("q152 mean_est: scaled-integer mean equals the exact rational mean on the corpus") {
    // the round-17 determinism audit caught the double-summed avg of
    // LATTICE est values (round(k/64, 4)) flipping its 4th decimal
    // with shuffle partitioning; the fix sums exact scaled integers.
    // Pin the VALUE against a driver-side BigDecimal mean of the same
    // pair estimates — determinism then follows from long-sum
    // associativity by construction.
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
    val pairEsts = graft.ops.Dedup.minhashCandidatePairsOf(docs, minEst = 0.8)
      .join(docs.select(col("doc_id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
      .collect()
      .groupBy { r =>
        val (a, b) = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
        if (a <= b) (a, b) else (b, a)
      }
      .map { case (k, rs) =>
        val m = rs.map(r => BigDecimal(r.getAs[Double]("est_jaccard")))
          .sum / rs.length
        k -> (rs.length.toLong,
          m.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    val got = graft.ops.Dedup.crossSourceNeardup(docs, minEst = 0.8).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Double]("mean_est"))).toMap
    assert(got.keySet == pairEsts.keySet)
    pairEsts.foreach { case (k, (n, mean)) =>
      assert(got(k)._1 == n, s"$k pair count")
      assert(math.abs(got(k)._2 - mean) <= 1e-4 + 1e-9,
        s"$k: mean_est ${got(k)._2} vs exact $mean")
    }
  }

  test("hashed containment scoring equals the string form on every corpus pair") {
    val spark2 = spark
    val docs = graft.Tables.documents(spark2, TestSpark.sf0001)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 60)
    val ids = docs.select(org.apache.spark.sql.functions.col("doc_id"))
    val cands = ids.select(org.apache.spark.sql.functions.col("doc_id").as("id_a"))
      .join(ids.select(org.apache.spark.sql.functions.col("doc_id").as("id_b")),
        org.apache.spark.sql.functions.col("id_a") <
          org.apache.spark.sql.functions.col("id_b"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))
    val str = Dedup.containmentScores(docs, cands).collect().map(key).toMap
    val hsh = Dedup.containmentScoresHashed(docs, cands).collect().map(key).toMap
    assert(str.nonEmpty && str.keySet == hsh.keySet)
    str.foreach { case (k, v) =>
      assert(hsh(k) == v, s"pair $k: hashed ${hsh(k)} != string $v") }
  }

  test("repeated LSH invocations hold at most one live signature cache") {
    // round-10 advice: a library caller looping q43/q92 in one session
    // must not accumulate cached signature frames — each invocation
    // releases the previous one's cache (swapSigCache slot)
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
    spark.catalog.clearCache()
    // DIFFERENTIAL counting against a baseline id set: the session is
    // shared and suites run in parallel, so absolute
    // getPersistentRDDs counts see other suites' caches and lingering
    // localCheckpoint RDDs (q196/q127 hold theirs until GC)
    // — only RDDs this test CREATED are the leak signal
    def ids: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val baseline = ids
    Dedup.containmentCandidates(docs, 0.9).count()
    val n1 = (ids -- baseline).size
    Dedup.containmentCandidates(docs, 0.9).count()
    Dedup.minhashCandidatePairsOf(docs, 0.8).count()
    Dedup.containmentCandidates(docs, 0.9).count()
    val n2 = (ids -- baseline).size
    assert(n1 <= 1, s"one invocation caches one frame, got $n1")
    assert(n2 <= n1 + 1,
      s"three more invocations grew the cache $n1 -> $n2 — the slot leaks")
    spark.catalog.clearCache()
  }

  test("q167 simhash pairs ≡ brute force {shares an under-cap band ∧ hamming ≤ max}") {
    val got = graft.ops.Dedup.q167SimhashPairs(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // driver-side reference over the same signatures (500 docs → 125k pairs)
    val sh = graft.Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"),
        graft.functions.NativeExprs.simhash64(split(col("text"), " ")).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    def bands(x: Long): Seq[(Int, Long)] =
      (0 until Dedup.SimhashBands).map(i => (i, (x >>> (i * 16)) & 0xFFFFL))
    val bucketN = sh.flatMap { case (_, x) => bands(x) }
      .groupBy(identity).map { case (k, v) => k -> v.length }
    val want = (for {
      (ia, sa) <- sh
      (ib, sb) <- sh
      if ia < ib
      if bands(sa).zip(bands(sb)).exists { case (ka, kb) =>
        ka == kb && bucketN(ka) <= Dedup.MaxBucket }
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= Dedup.SimhashMaxHamming
    } yield (ia, ib, h)).toSet
    assert(got == want,
      s"simhash pairs must match the reference exactly: got ${got.size}, want ${want.size}")
    assert(got.nonEmpty, "the corpus has planted near-dups; simhash must surface them")
    // pigeonhole corollary: every pair within hamming SimhashBands−1
    // appears (≤3 flips cannot touch all 4 bands) — implied by the
    // equality above, asserted separately so a future band change that
    // breaks the guarantee fails with a direct message
    val tight = (for {
      (ia, sa) <- sh; (ib, sb) <- sh if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h < Dedup.SimhashBands
      if bands(sa).zip(bands(sb)).exists { case (ka, kb) =>
        ka == kb && bucketN(ka) <= Dedup.MaxBucket }
    } yield (ia, ib, h)).toSet
    assert(tight.subsetOf(got), "hamming < bands pairs must always candidate")
  }

  test("minhash union sketch: slotwise min equals signature of the set union") {
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val b = (21 to 40).map(i => s"a$i").mkString(" ")
    val union = ((1 to 40)).map(i => s"a$i").mkString(" ")
    val sigs = Dedup.withMinhash(docsDf(Seq((1L, a), (2L, b), (3L, union))))
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val merged = sigs(1L).zip(sigs(2L)).map { case (x, y) => math.min(x, y) }
    assert(merged == sigs(3L))
    // and the Aggregator computes exactly that merge
    import spark.implicits._
    val agg = graft.functions.MinHashUnionAgg.udafColumn(Dedup.SigLen)
    val out = Dedup.withMinhash(docsDf(Seq((1L, a), (2L, b))))
      .select(lit("g").as("g"), col("sig"))
      .groupBy("g").agg(agg(col("sig")).as("sketch"))
      .collect().head.getSeq[Long](1)
    assert(out == merged)
  }

  test("simhash: identical docs equal, near docs close, disjoint docs far") {
    val x = (1 to 40).map(i => s"w$i").mkString(" ")
    val y = (1 to 38).map(i => s"w$i").mkString(" ") + " a b"
    val z = (201 to 240).map(i => s"v$i").mkString(" ")
    // drive the ENGINE's native expression over a local frame
    val sims = docsDf(Seq((1L, x), (2L, x), (3L, y), (4L, z)))
      .select(col("doc_id"),
        graft.functions.NativeExprs.simhash64(split(col("text"), " ")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sims(1L) == sims(2L), "identical docs must have identical simhash")
    assert(sims.values.forall(_ >= 0), "bit 63 unused ⇒ non-negative")
    assert(ham(sims(1L), sims(3L)) < ham(sims(1L), sims(4L)),
      s"near ${ham(sims(1L), sims(3L))} vs far ${ham(sims(1L), sims(4L))}")
    // cross-check one value against an independent reimplementation
    def simhashOf(text: String): Long = {
      val hs = text.split(" ").map { t =>
        spark.sql(s"SELECT xxhash64('$t')").collect().head.getLong(0)
      }
      (0 until 63).map { i =>
        val v = hs.map(h => if (((h >>> i) & 1L) == 1L) 1 else -1).sum
        if (v > 0) 1L << i else 0L
      }.sum
    }
    assert(sims(4L) == simhashOf(z))
  }

  test("shingle_hashes induces the same collision structure as hashed string shingles") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "prefix the quick brown fox jumps elsewhere"),
      (3L, "no overlap here at all today friends"),
      (4L, "tiny")).toDF("doc_id", "text")
    val viaStrings = docs.select(col("doc_id"),
        explode(array_distinct(
          Dedup.shinglesOfTokens(split(col("text"), " "), 3))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val viaHashes = docs.select(col("doc_id"),
        explode(array_distinct(graft.functions.NativeExprs.shingleHashes(
          split(col("text"), " "), 3))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // same per-doc distinct shingle counts (what n_hits aggregates)
    assert(viaHashes.groupBy(_._1).view.mapValues(_.length).toMap ==
      viaStrings.groupBy(_._1).view.mapValues(_.length).toMap)
    // same cross-doc sharing structure (what the decontamination join sees)
    val strGroups = viaStrings.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val hashGroups = viaHashes.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(strGroups == hashGroups,
      "window hashes must group docs exactly as string shingles do")
    // sub-n docs yield zero shingles on both paths
    assert(!viaHashes.exists(_._1 == 4L) && !viaStrings.exists(_._1 == 4L))
  }

  test("sig_band_keys matches the concat_ws band formulation's collision structure") {
    import org.apache.spark.sql.functions._
    // docs 1,2 identical token sets (all bands collide), 3 unrelated
    val x = (1 to 30).map(i => s"w$i").mkString(" ")
    val y = (1 to 30).reverse.map(i => s"w$i").mkString(" ")
    val z = (201 to 230).map(i => s"w$i").mkString(" ")
    val signed = Dedup.withMinhash(docsDf(Seq((1L, x), (2L, y), (3L, z))))
    val old = signed.withColumn("old_bands",
        expr(s"transform(sequence(0, ${Dedup.Bands - 1}), " +
             s"b -> xxhash64(concat_ws(',', slice(sig, b * ${Dedup.RowsPerBand} + 1, " +
             s"${Dedup.RowsPerBand})), b))"))
      .select("doc_id", "bands", "old_bands").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    // per band: two docs share the native key iff they share the old key
    for (b <- 0 until Dedup.Bands; (i, ni, oi) <- old; (j, nj, oj) <- old if i < j) {
      assert((ni(b) == nj(b)) == (oi(b) == oj(b)),
        s"band $b collision structure diverged for docs $i,$j")
    }
    // and the planted structure holds: 1~2 all bands, 3 none
    val m = old.map(r => r._1 -> r._2).toMap
    assert(m(1L) == m(2L))
    assert(m(1L).zip(m(3L)).forall { case (a, c) => a != c })
  }

  test("minhash over shingle_hashes: string-free n-gram signature estimates n-gram jaccard") {
    import org.apache.spark.sql.functions._
    // two docs sharing a long run of 3-grams plus distinct tails
    val common = (1 to 40).map(i => s"c$i").mkString(" ")
    val a = common + " " + (100 to 120).map(i => s"a$i").mkString(" ")
    val b = common + " " + (200 to 220).map(i => s"b$i").mkString(" ")
    val df = docsDf(Seq((1L, a), (2L, b)))
      .select(col("doc_id"),
        graft.functions.NativeExprs.minhashSig(
          array_distinct(graft.functions.NativeExprs.shingleHashes(
            split(col("text"), " "), 3)), Dedup.SigLen).as("sig"),
        array_distinct(Dedup.shinglesOfTokens(split(col("text"), " "), 3)).as("sh"))
    val rows = df.collect().map(r =>
      r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[String](2))).toMap
    val est = rows(1L)._1.zip(rows(2L)._1).count { case (p, q) => p == q }
      .toDouble / Dedup.SigLen
    val sa = rows(1L)._2.toSet; val sb = rows(2L)._2.toSet
    val exact = (sa & sb).size.toDouble / (sa | sb).size
    assert(math.abs(est - exact) < 0.15, s"est $est vs exact $exact")
  }

  test("null-element and type safety of the SQL-registered sketch functions") {
    graft.functions.NativeExprs.registerAll(spark)
    // null elements hash as '' — no NPE, and equal to the explicit-empty run
    val withNull = spark.sql(
      "SELECT minhash_sig(array('a', CAST(NULL AS STRING), 'b')) AS m, " +
        "simhash64(array('a', CAST(NULL AS STRING))) AS s, " +
        "shingle_hashes(array('a', CAST(NULL AS STRING), 'b'), 2) AS g").head()
    val withEmpty = spark.sql(
      "SELECT minhash_sig(array('a', '', 'b')) AS m, " +
        "simhash64(array('a', '')) AS s, " +
        "shingle_hashes(array('a', '', 'b'), 2) AS g").head()
    assert(withNull.getSeq[Long](0) == withEmpty.getSeq[Long](0))
    assert(withNull.getLong(1) == withEmpty.getLong(1))
    assert(withNull.getSeq[Long](2) == withEmpty.getSeq[Long](2))
    // non-string arrays fail ANALYSIS, not a running scan
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT shingle_hashes(array(1, 2, 3), 2)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("shingle_hashes"))
    // sig_band_keys: signature length not divisible by bands ⇒ null
    assert(spark.sql("SELECT sig_band_keys(array(1L, 2L, 3L), 2) IS NULL AS n")
      .head().getBoolean(0))
  }

  test("connectedComponents: planted chain A~B~C clusters together without an A-C edge") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    // chain 1-2-3 (no 1-3 edge), pair 4-5, singleton 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L)
    // both physical strategies must give identical components:
    // single-task union-find (default at this size) ...
    val fast = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == expect)
    // ... and the distributed propagation loop (forced via a 0 ceiling)
    val loop = Dedup.connectedComponents(nodes, pairs, singlePassMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loop == expect)
  }

  test("connectedComponents contract: pair endpoints outside `nodes` are dropped") {
    import spark.implicits._
    // endpoint 9 is NOT in nodes: both strategies emit labels only for
    // the node frame (the documented pairs ⊆ nodes contract) — and the
    // out-of-frame endpoint still links 1 and 2 transitively through 9
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val pairs = Seq((1L, 9L), (9L, 2L)).toDF("src", "dst")
    for (cap <- Seq(Long.MaxValue, 0L)) {
      val out = Dedup.connectedComponents(nodes, pairs, singlePassMax = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.keySet == Set(1L, 2L, 3L), s"cap=$cap: exactly the node frame")
      assert(out(1L) == 1L && out(2L) == 1L, s"cap=$cap: linked through 9")
      assert(out(3L) == 3L)
    }
  }

  test("unionFindLabels: min-member labels, edge-order independent") {
    // a 6-chain fed in two orders, plus an isolated pair
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (14L, 15L), (20L, 21L))
    val a = Dedup.unionFindLabels(edges.iterator).toMap
    val b = Dedup.unionFindLabels(edges.reverse.iterator).toMap
    val expect = (10L to 15L).map(_ -> 10L).toMap ++ Map(20L -> 20L, 21L -> 20L)
    assert(a == expect)
    assert(b == expect, "labels must not depend on edge order")
  }

  test("connectedComponents strategies agree on the q69 LSH pair graph") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id").as("id"))
    val pairs = Dedup.minhashCandidatePairs(spark, TestSpark.sf0001)
      .filter(col("est_jaccard") >= 0.9)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val fast = Dedup.connectedComponents(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = Dedup.connectedComponents(docs, pairs, singlePassMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == loop, "union-find and propagation must agree exactly")
    assert(fast.exists { case (id, l) => l != id }, "corpus has real dup pairs")
  }

  test("q69: LSH-fed clusters partition the full corpus with min-id representatives") {
    val total = graft.Tables.documents(spark, TestSpark.sf0001).count()
    val rows = Dedup.q69LshClusters(spark, TestSpark.sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total,
      "clusters must partition the whole corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("rep_doc_id") == r.getAs[Long]("cluster_id"),
        "hash-min labels make the representative the min member id")
    }
    // the corpus plants exactly-identical token-set pairs, so LSH at 0.9
    // must find at least one multi-doc cluster
    assert(rows.exists(_.getAs[Long]("n_docs") > 1))
  }

  test("q75: dedup apply keeps exactly one representative per cluster") {
    val clusters = Dedup.q67DedupClusters(spark, TestSpark.sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nClusters = clusters.map(_._2).distinct.length
    val kept = Dedup.q75DedupApply(spark, TestSpark.sf0001).collect()
      .map(_.getAs[Long]("n_kept")).sum
    assert(kept == nClusters.toLong,
      s"survivors ($kept) must equal cluster count ($nClusters)")
    assert(kept < 60, "the bounded range has near-dups, so some docs must drop")
  }

  test("q67: cluster labels are transitively closed, canonical = min member") {
    val labels = Dedup.q67DedupClusters(spark, TestSpark.sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc in the bounded range gets exactly one label
    assert(labels.keySet == (0L until 60L).toSet)
    // canonical representative is a member of its own cluster with the
    // minimum id (so cluster_id <= every member id)
    labels.foreach { case (id, c) =>
      assert(c <= id && labels(c) == c, s"doc $id -> $c must point at a root")
    }
    // transitive closure: recompute the edge set and assert both
    // endpoints of every edge landed in the same cluster
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ts"))
    val a = docs.select(col("doc_id").as("ia"), col("ts").as("ta"))
    val b = docs.select(col("doc_id").as("ib"), col("ts").as("tb"))
    val edges = a.join(b, col("ia") < col("ib"))
      .filter(size(array_intersect(col("ta"), col("tb"))).cast("double")
              / size(array_union(col("ta"), col("tb"))) >= Dedup.ClusterThreshold)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "threshold must keep some edges on this corpus")
    edges.foreach { case (x, y) =>
      assert(labels(x) == labels(y), s"edge ($x,$y) split across clusters")
    }
    // and the clustering is coarser than the edge set alone: at least
    // one multi-doc cluster exists
    assert(labels.groupBy(_._2).exists(_._2.size > 1))
  }

  test("containment is asymmetric: a quoted subset scores 1.0 one way only") {
    import spark.implicits._
    // doc 1's tokens are a strict subset of doc 2's; doc 3 is disjoint
    val docs = docsDf(Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "iota kappa lambda")))
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val rows = Dedup.containmentScores(docs, cands)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    // 1 ⊆ 2: all of 1 inside 2 (cont=1.0) but only 3/8 of 2 inside 1
    assert(rows.contains((1L, 2L, 1.0, 0.375)))
    // Jaccard for the same pair is 3/8 — below any dedup threshold;
    // containment is what catches the quote
    assert(rows.contains((1L, 3L, 0.0, 0.0)))
  }

  test("containment dominates jaccard on every corpus pair (|A∩B|/|A| ≥ |A∩B|/|A∪B|)") {
    val spark2 = spark
    val jac = Dedup.q44JaccardExact(spark2, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cont = Dedup.q81Containment(spark2, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(jac.keySet == cont.keySet, "same bounded pair set")
    assert(jac.nonEmpty)
    // rounding to 4 decimals can nudge each side by 5e-5
    jac.foreach { case (k, j) =>
      val (ca, cb) = cont(k)
      assert(ca >= j - 1e-4 && cb >= j - 1e-4,
        s"pair $k: containment ($ca, $cb) must dominate jaccard $j")
    }
  }

  /** First two md5 hex chars of the decimal id — the q63 split rule,
    * recomputed driver-side to pick planted ids per split. */
  private def mdBucket(id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    f"${d(0) & 0xff}%02x"
  }
  private def findId(from: Long, p: String => Boolean): Long =
    Iterator.iterate(from)(_ + 1).find(i => p(mdBucket(i))).get

  test("q108 production path: a planted test-split near-dup of a train doc is caught") {
    val testId = findId(1L, _ >= "e6")
    val trainId = findId(testId + 1, _ < "cc")
    val otherTrain = findId(trainId + 1, _ < "cc")
    val shared = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = docsDf(Seq(
      (trainId, shared),
      (testId, shared + " extra"),                        // near-dup across the split
      (otherTrain, (100 to 130).map(i => s"z$i").mkString(" "))))
    val rows = Dedup.crossSplitLeakageLsh(docs, minJaccard = 0.8).collect()
    assert(rows.length == 1, s"exactly the planted pair: ${rows.toSeq}")
    assert(rows.head.getLong(0) == testId && rows.head.getLong(1) == trainId)
    assert(rows.head.getDouble(2) > 0.9)
  }

  test("q108 production path emits only cross-split pairs, each >= the floor") {
    val d = graft.Tables.documents(spark, TestSpark.sf0001)
    val rows = Dedup.crossSplitLeakageLsh(d, minJaccard = 0.5).collect()
    rows.foreach { r =>
      assert(mdBucket(r.getLong(0)) >= "e6", s"test_id ${r.getLong(0)} not in test split")
      assert(mdBucket(r.getLong(1)) < "cc", s"train_id ${r.getLong(1)} not in train split")
      assert(r.getDouble(2) >= 0.5)
    }
  }

  test("q108 anchor: best train neighbor matches a local brute-force scan") {
    val d = graft.Tables.documents(spark, TestSpark.sf0001)
    val got = Dedup.q108SplitLeakage(spark, TestSpark.sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // local recompute over the same bounded range
    val local = d.filter(col("doc_id") < 300)
      .select(col("doc_id"), split(col("text"), " ").as("t")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).distinct.toSet)
    val train = local.filter { case (id, _) => mdBucket(id) < "cc" }
    val test = local.filter { case (id, _) => mdBucket(id) >= "e6" }
    assert(got.keySet == test.map(_._1).toSet)
    test.foreach { case (tid, ts) =>
      val best = train.map { case (rid, rs) =>
        (rid, (ts & rs).size.toDouble / (ts | rs).size) }
        .minBy { case (rid, j) => (-j, rid) }
      assert(got(tid)._1 == best._1, s"test doc $tid: got ${got(tid)._1}, want ${best._1}")
      assert(math.abs(got(tid)._2 - best._2) < 5e-4)
    }
  }

  test("keep-best representatives are each cluster's longest member") {
    import org.apache.spark.sql.functions.col
    val sf = TestSpark.sf0001
    val nChars = graft.Tables.documents(spark, sf).filter(col("doc_id") < 60)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = Dedup.q67DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val best = Dedup.q90DedupKeepBest(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val members = clusters.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(best.keySet == members.keySet, "one row per cluster")
    members.foreach { case (cid, ids) =>
      val (n, keepId, keepChars) = best(cid)
      assert(n == ids.length)
      assert(ids.contains(keepId), s"representative $keepId must be a member of $cid")
      assert(keepChars == ids.map(nChars).max,
        s"cluster $cid must keep its longest member")
    }
  }

  test("q139 calibration: per-bucket error within the 64-slot SE envelope, exact at J=1") {
    val rows = Dedup.minhashCalibration(
      graft.Tables.documents(spark, TestSpark.sf0001)
        .filter(org.apache.spark.sql.functions.col("doc_id") < 120)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mae = r.getAs[Double]("mean_abs_err")
      // SE of a 64-slot estimator peaks at √(0.25/64) = 0.0625; the
      // mean |err| of an unbiased estimator sits at ~0.8·SE — 1.2×SE
      // is a generous-but-meaningful envelope
      assert(mae <= 0.075, s"bucket ${r.getInt(0)}: mean |err| $mae breaks the SE envelope")
      assert(math.abs(r.getAs[Double]("mean_bias")) <= 0.05,
        s"bucket ${r.getInt(0)}: estimator bias too large")
    }
    val j1 = rows.find(_.getInt(0) == 10)
    assert(j1.nonEmpty,
      "the J=1 bucket must exist in the anchor slice — a testdata " +
        "regeneration without exact dups under doc_id<120 would make " +
        "the exactness check silently vacuous")
    assert(j1.get.getAs[Double]("max_abs_err") == 0.0,
      "identical token sets estimate exactly 1")
  }

  test("q176 fuzzy match: every typo'd query recovers its source part at distance 1") {
    val rows = Dedup.q176FuzzyMatch(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty)
    val selfPairs = rows.filter { case (q, p, _) => q == p }
    val nQueries = graft.Tables.part(spark, TestSpark.sf0001)
      .filter(col("p_partkey") % 37 === 0).count()
    assert(selfPairs.length == nQueries.toInt,
      s"each of $nQueries queries must match its own source part: ${selfPairs.length}")
    assert(selfPairs.forall(_._3 == 1),
      "a single deleted character is edit distance exactly 1")
    assert(rows.forall(_._3 <= 2))
    // the blocked plan broadcasts the dirty side and never goes cartesian
    val plan = Dedup.q176FuzzyMatch(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("CartesianProduct"),
      s"fuzzy match must be a blocked broadcast join:\n$plan")
  }

  test("one-slot sig cache: interleaved LSH invocations stay correct (r11 advice)") {
    val d = TestSpark.sf0001
    // sequential baseline: invoke-and-materialize, the contract's
    // happy path
    val want = Dedup.q43MinhashPairs(spark, d).collect().map(_.toString).toSeq
    // hazard path: invoke q43, then invoke the containment family
    // (which swaps the one live slot), THEN materialize both — q43's
    // signature cache is gone by materialization time, degrading it to
    // recompute; seeded signatures must make the result identical
    val a = Dedup.q43MinhashPairs(spark, d)
    val b = Dedup.q92ContainmentLsh(spark, d)
    val bRows = b.collect()
    val aRows = a.collect().map(_.toString).toSeq
    assert(bRows.nonEmpty)
    assert(aRows == want,
      "a swapped-out signature cache must degrade to recompute, never to a different answer")
  }

  test("q43 materialized plan: all three signature consumers read the cache") {
    spark.catalog.clearCache() // isolate from the interleave test above
    val df = Dedup.q43MinhashPairs(spark, TestSpark.sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the band explode and both signature rejoins must consume the
    // cached signed frame — three InMemoryTableScans and ZERO direct
    // parquet scans in the outer plan is exactly "the signature pass
    // runs once per invocation" (the single file scan lives inside the
    // one shared InMemoryRelation)
    val cacheScans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(cacheScans >= 3,
      s"expected >=3 cache consumers, got $cacheScans in:\n$plan")
    // the printer re-prints the cached relation (with its one inner
    // FileScan) under every consumer, so "no direct parquet read"
    // means: every FileScan occurrence is an InMemoryRelation child —
    // counts match exactly; an uncached consumer would add a FileScan
    // with no InMemoryRelation line
    val nFile = "FileScan".r.findAllIn(plan).size
    val nRel = "InMemoryRelation".r.findAllIn(plan).size
    assert(nFile == nRel,
      s"q43 has $nFile FileScans but $nRel cached relations — some consumer re-scans parquet:\n$plan")
  }

  // ------------------------------------------------------- q188 spans

  private def spanRows(rows: Seq[(Long, String)], n: Int) =
    Dedup.duplicateSpans(docsDf(rows), n).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
                 r.getInt(4), r.getLong(5)))

  test("duplicate spans: a shared run yields one island at the exact offsets") {
    // 5-token passage shared by both docs → three 3-shingle hits that
    // must merge into one span covering exactly the passage
    val out = spanRows(Seq(
      (1L, "u1 u2 p1 p2 p3 p4 p5 u3 u4"),
      (2L, "p1 p2 p3 p4 p5 v1 v2 v3")), n = 3)
    assert(out.toSeq == Seq(
      (1L, 1, 2, 7, 5, 3L),
      (2L, 1, 0, 5, 5, 3L)))
  }

  test("duplicate spans: runs separated by unique text stay separate islands") {
    val out = spanRows(Seq(
      (3L, "p1 p2 p3 w1 w2 w3 w4 q1 q2 q3"),
      (4L, "p1 p2 p3 x1 x2 q1 q2 q3")), n = 3)
    assert(out.toSeq == Seq(
      (3L, 1, 0, 3, 3, 1L), (3L, 2, 7, 10, 3, 1L),
      (4L, 1, 0, 3, 3, 1L), (4L, 2, 5, 8, 3, 1L)))
  }

  test("duplicate spans: touching coverage merges even when interior shingles are unique") {
    // doc 5's hits sit at pos 0 and 3 (coverage [0,3) + [3,6) touch);
    // the bridging shingles at pos 1-2 appear nowhere else, so the
    // island has contiguous COVERAGE but only 2 duplicated shingles
    val out = spanRows(Seq(
      (5L, "c1 c2 c3 d1 d2 d3"),
      (6L, "c1 c2 c3 y1 y2 d1 d2 d3")), n = 3)
    assert(out.toSeq == Seq(
      (5L, 1, 0, 6, 6, 2L),
      (6L, 1, 0, 3, 3, 1L), (6L, 2, 5, 8, 3, 1L)))
  }

  test("duplication rate: disjoint islands sum exactly, clean docs count in totals") {
    import spark.implicits._
    // source A: doc 1 has a 5-token dup span out of 9 tokens, doc 2 is
    // clean 4 tokens; source B: doc 3 fully shared, 5 of 5 tokens
    val docs = Seq(
      ("A", 1L, "u1 u2 p1 p2 p3 p4 p5 u3 u4"),
      ("A", 2L, "k1 k2 k3 k4"),
      ("B", 3L, "p1 p2 p3 p4 p5")).toDF("source", "doc_id", "text")
    val out = graft.ops.Dedup.duplicationRate(docs, n = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                 r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("A", 2L, 1L, 5L, 0.384615), // round(5/13, 6)
      ("B", 1L, 1L, 5L, 1.0)))
  }

  test("despan apply: exact cut, clean docs untouched, full-dup doc empties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "u1 u2 p1 p2 p3 p4 p5 u3 u4"), // span [2,7) cut
      (2L, "k1 k2 k3 k4"),                // clean — passes through
      (3L, "p1 p2 p3 p4 p5")              // fully duplicated — empties
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.despanApply(docs, n = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
      .sortBy(_._1) // the helper returns unordered; the sort is q192's
    assert(out.toSeq == Seq(
      (1L, "u1 u2 u3 u4", 9, 4),
      (2L, "k1 k2 k3 k4", 4, 4),
      (3L, "", 5, 0)))
  }

  test("despan repack: cleaned corpus re-packs into fewer chunks; emptied docs drop") {
    import spark.implicits._
    // a 100-token passage shared by three docs (two sources): cut from
    // all of them, doc 3 empties and must vanish from the packing
    val P = (1 to 100).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      ("A", 1L, (1 to 200).map(i => s"u$i").mkString(" ") + " " + P),
      ("A", 2L, P + " " + (1 to 50).map(i => s"v$i").mkString(" ")),
      ("B", 3L, P)).toDF("source", "doc_id", "text")
    // kept: doc1 200, doc2 50, doc3 0 (dropped) → one 250-token chunk
    val out = graft.ops.Dedup.despanRepack(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("A", 0L, 2L, 250L)),
      s"B must vanish with its emptied doc, A packs into one chunk: ${out.toSeq}")
    // raw q65 packing needs TWO chunks for A (300 + 150 tokens) — the
    // delta is the training-step budget the span pass bought
    val raw = graft.ops.Curation.packChunks(docs.select(col("source"),
      col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens")))
      .collect()
    assert(raw.count(_.getString(0) == "A") == 2 &&
      raw.count(_.getString(0) == "B") == 1, s"raw: ${raw.toSeq}")
  }

  test("duplicate spans ≡ driver brute force on random small-vocab corpora") {
    // the q167 discipline: randomized corpora (small vocab → dense
    // accidental shingle sharing), exact row-for-row equality against
    // a straight-line driver implementation of the same definition
    def brute(docs: Seq[(Long, String)], n: Int) = {
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
      val occ = for ((id, ts) <- toks; i <- 0 to ts.length - n)
        yield (id, i, ts.slice(i, i + n).mkString(" "))
      val dup = occ.groupBy(_._3)
        .filter { case (_, os) => os.map(_._1).distinct.size >= 2 }
        .keySet
      val hits = occ.filter(o => dup(o._3)).map(o => (o._1, o._2))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      hits.toSeq.sortBy(_._1).flatMap { case (id, ps) =>
        val islands = ps.foldLeft(Vector.empty[Vector[Int]]) { (acc, p) =>
          if (acc.nonEmpty && p <= acc.last.last + n)
            acc.init :+ (acc.last :+ p)
          else acc :+ Vector(p)
        }
        islands.zipWithIndex.map { case (isl, gi) =>
          (id, gi + 1, isl.head, isl.last + n,
           isl.last + n - isl.head, isl.size.toLong) }
      }
    }
    val rnd = new java.util.Random(188L)
    var totalSpans = 0
    for (round <- 1 to 5) {
      val docs = (0 until 8).map { id =>
        val len = 10 + rnd.nextInt(30)
        (id.toLong, Seq.fill(len)(s"w${rnd.nextInt(8)}").mkString(" "))
      }
      val got = spanRows(docs, n = 3).toSeq
      val want = brute(docs, 3)
      assert(got == want, s"round $round diverged:\ngot  $got\nwant $want")
      totalSpans += want.size
    }
    assert(totalSpans > 0, "vacuous property: no corpus produced any span")
  }

  test("duplicate spans: within-doc repetition alone is NOT a duplicate") {
    // the repeated trigram lives in one doc only — cross-doc rule
    // (distinct docs >= 2) must ignore it
    val out = spanRows(Seq(
      (7L, "r1 r2 r3 z1 r1 r2 r3"),
      (8L, "a1 a2 a3 a4")), n = 3)
    assert(out.isEmpty)
  }
}
