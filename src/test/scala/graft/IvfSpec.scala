package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{IndexTables, Ivf, Similarity}

class IvfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("driver k-means: deterministic and separates planted blobs") {
    val rnd = new scala.util.Random(7)
    def blob(center: Double, n: Int) =
      Array.fill(n)(Array.fill(8)(center + rnd.nextGaussian() * 0.05))
    val pts = blob(0.0, 50) ++ blob(10.0, 50)
    val c1 = Ivf.kmeansFit(pts, 2, 10, seed = 42L)
    val c2 = Ivf.kmeansFit(pts, 2, 10, seed = 42L)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq, "same seed ⇒ same model")
    val means = c1.map(_.sum / 8).sorted
    assert(math.abs(means(0) - 0.0) < 1.0 && math.abs(means(1) - 10.0) < 1.0,
      s"centroids should land on the blobs, got ${means.mkString(",")}")
  }

  test("persisted index probe ≡ in-memory IVF at nprobe = k, plan prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    Ivf.writeIndex(spark, TestSpark.sf0001, dir)
    val qVec = Tables.embeddings(spark, TestSpark.sf0001)
      .withColumn("e", col("embedding").cast("array<double>"))
      .filter(col("vec_id") === 0).select("e").head().getSeq[Double](0)

    // nprobe = k ⇒ exact: matches brute force (probeIndex is generic —
    // it returns the query row itself too, which we filter like q40 does)
    val brute = Similarity.q40CosineTopK(spark, TestSpark.sf0001)
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val probed = Ivf.probeIndex(spark, dir, qVec, Ivf.K, k = 11)
    val got = probed.collect().map(r => (r.getLong(0), r.getDouble(2)))
      .filter(_._1 != 0L).take(10)
    assert(got.map(_._1).sameElements(brute.map(_._1)))
    got.zip(brute).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }

    // nprobe < k ⇒ the scan must carry a partition filter on cluster
    // (pruned BEFORE file listing — the on-disk candidate cut)
    val pruned = Ivf.probeIndex(spark, dir, qVec, Ivf.NProbe)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"probe plan should prune cluster partitions:\n$plan")
    assert(pruned.collect().nonEmpty)
  }

  test("q70 persisted-index probe ≡ q48 in-memory IVF, result for result") {
    val q70 = Ivf.q70IvfProbeIndex(spark, TestSpark.sf0001)
    val q48 = Ivf.q48IvfTopK(spark, TestSpark.sf0001)
    val a = q70.collect().map(_.toString)
    val b = q48.collect().map(_.toString)
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
    // and the probe really is a pruned scan
    val plan = q70.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"q70 must partition-prune the index scan:\n$plan")
  }

  test("data fingerprint: deterministic, and a rewritten source table changes it") {
    import spark.implicits._
    def fp(d: String) = IndexTables.dataFingerprint(spark, d, "embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ivf_fp").toString
    Seq((0L, Seq(1.0, 2.0), 0)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val fp1 = fp(dir)
    assert(fp1 == fp(dir), "fingerprint must be deterministic")
    // overwrite = new part files (names + lengths + mtimes all move):
    // q70's index path is keyed on this, so a regenerated corpus can
    // never silently probe the stale index
    Seq((0L, Seq(9.0, 9.0), 0), (1L, Seq(1.0, 1.0), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(fp1 != fp(dir), "rewritten source must change the fingerprint")
    // two files swapping partition subdirectories, each keeping its
    // name, length and mtime: a listing keyed on basenames reads the
    // same, the relative paths do not
    val swap = java.nio.file.Files.createTempDirectory("ivf_fp_swap")
    def place(dirOfA: String, dirOfB: String): String = {
      val root = swap.resolve("embeddings.parquet")
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      Seq((dirOfA, "part-a.parquet", 10), (dirOfB, "part-b.parquet", 20)).foreach {
        case (sub, name, len) =>
          val f = root.resolve(sub).resolve(name)
          java.nio.file.Files.createDirectories(f.getParent)
          java.nio.file.Files.write(f, Array.fill[Byte](len)(1))
          assert(f.toFile.setLastModified(1600000000000L))
      }
      fp(swap.toString)
    }
    assert(place("p=0", "p=1") != place("p=1", "p=0"),
      "same-named files swapping subdirectories must change the fingerprint")
  }

  test("q70 index GC: rebuilding after a data rewrite leaves exactly one index dir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_gc").toString
    def writeCorpus(shift: Double): Unit =
      (0L until 8L).map(i => (i, Seq(i + shift, 2.0 * i, 1.0), i % 2))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def indexDirs(): Seq[String] = {
      // v2 naming: sanitized stem + 8-hex path digest (the round-14
      // fix for lossy-sanitization GC collisions between sources)
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"$b%02x").mkString
      val prefix = "graft_ivf_index_v2_" +
        dir.replaceAll("[^A-Za-z0-9.]", "_") + "_" + digest + "_"
      Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
        .getOrElse(Array.empty).map(_.getName).filter(_.startsWith(prefix)).toSeq
    }
    writeCorpus(0.0)
    assert(Ivf.q70IvfProbeIndex(spark, dir).collect().nonEmpty)
    val first = indexDirs()
    assert(first.length == 1, s"one index after first build, got $first")
    // rewrite ⇒ new fingerprint ⇒ fresh build must GC the stale sibling
    writeCorpus(100.0)
    assert(Ivf.q70IvfProbeIndex(spark, dir).collect().nonEmpty)
    val second = indexDirs()
    assert(second.length == 1, s"stale index must be GC'd, got $second")
    assert(second.head != first.head, "rebuilt index must live at the new fingerprint")
  }

  test("probeClustersCol agrees with the driver-side rankProbes ranking") {
    val dir = Ivf.ensureIndex(spark, TestSpark.sf0001)
    val cents = Ivf.readCentroids(spark, dir)
    val rows = Tables.embeddings(spark, TestSpark.sf0001)
      .withColumn("e", col("embedding").cast("array<double>"))
      .filter(col("vec_id") < 10)
      .select(col("vec_id"),
        Ivf.probeClustersCol(col("e"), cents, Ivf.NProbe).as("probes"), col("e"))
      .collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val got = r.getSeq[Int](1)
      val want = cents.zipWithIndex
        .sortBy { case (c, i) => (Ivf.sqDist(c, r.getSeq[Double](2)), i) }
        .take(Ivf.NProbe).map(_._2).toSeq
      assert(got == want, s"vec ${r.getLong(0)}: map-side probes $got != driver $want")
    }
  }

  test("q91 hard negatives: nprobe=K agrees with q89 brute force on the bounded range") {
    // nprobe = K probes every cluster, so candidate generation covers
    // the full corpus and the IVF path must reproduce q89 exactly —
    // the same degrade-to-exact discipline that pins q48/q70
    val exact = Similarity.q89HardNegatives(spark, TestSpark.sf0001)
      .collect().map(_.toString)
    val ivf = Ivf.hardNegativesIvf(spark, TestSpark.sf0001,
        col("vec_id") < 20, k = 3, nprobe = Ivf.K)
      .collect().map(_.toString)
    assert(exact.nonEmpty && exact.length == ivf.length)
    exact.zip(ivf).foreach { case (a, b) => assert(a == b) }
  }

  test("q91 plan: equi-join on cluster, never query-cross-corpus") {
    // the whole point of the IVF composition: an unbounded query set
    // must not plan as a cartesian/BNLJ against the corpus (q89's
    // broadcast-crossJoin shape only works for bounded query sets)
    val plan = Ivf.q91HardNegativesIvf(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"q91 must candidate-cut via the cluster equi-join:\n$plan")
    assert(Ivf.q91HardNegativesIvf(spark, TestSpark.sf0001).limit(5).count() > 0)
  }

  test("centroids round-trip through the index directory") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_cent").toString
    val written = Ivf.writeIndex(spark, TestSpark.sf0001, dir)
    val read = Ivf.readCentroids(spark, dir)
    assert(written.length == read.length)
    written.zip(read).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("managed index lifecycle: build → reuse → drift-gated append → rebuild") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_managed").toString
    def rows(ids: Range, f: Long => Seq[Double]) =
      ids.map(i => (i.toLong, f(i.toLong), i % 2)).toDF("vec_id", "embedding", "label")
    // base: 3-dim corpus, dim 3 constant (dead)
    rows(0 until 8, i => Seq((i % 8).toDouble, 2.0 * (i % 8), 1.0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val (path, a1) = Ivf.syncIndex(spark, dir)
    assert(a1 == "build")
    val centsAfterBuild = Ivf.readCentroids(spark, path)
    assert(Ivf.syncIndex(spark, dir) == (path, "reuse"), "unchanged listing is a no-op")

    // pure append, same distribution (values are i%8 → identical dim
    // profile) → assign-only append, centroids BIT-identical
    rows(8 until 16, i => Seq((i % 8).toDouble, 2.0 * (i % 8), 1.0))
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    val (_, a2) = Ivf.syncIndex(spark, dir)
    assert(a2 == "append", "in-distribution pure append must not retrain")
    val centsAfterAppend = Ivf.readCentroids(spark, path)
    assert(centsAfterBuild.map(_.toSeq).toSeq == centsAfterAppend.map(_.toSeq).toSeq,
      "append must keep the trained quantizer untouched")
    assert(spark.read.parquet(path).count() == 16,
      "appended vectors must be in the index")
    assert(Ivf.syncIndex(spark, dir)._2 == "reuse", "append settles the manifest")

    // full-probe exactness over the UNION corpus: assignment, not
    // training, decides which inverted list a vector lives in
    val qVec = Seq(0.0, 0.0, 1.0)
    val got = Ivf.probeIndex(spark, path, qVec, nprobe = centsAfterAppend.length, k = 16)
      .collect().map(_.getLong(0)).toSet
    val brute = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("e", col("embedding").cast("array<double>"))
      .select(col("vec_id"),
        graft.ops.Similarity.cosine(col("e"), typedlit(qVec)).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(16)
      .collect().map(_.getLong(0)).toSet
    assert(got == brute, s"full probe must be exact on the union corpus: $got vs $brute")

    // drifted append (dim-1 mean shifted ~20 train-time sds) → rebuild
    rows(16 until 24, i => Seq((i % 8).toDouble + 50.0, 2.0 * (i % 8), 1.0))
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    val (_, a3) = Ivf.syncIndex(spark, dir)
    assert(a3 == "rebuild", "a mean shift past the threshold must retrain")
    assert(spark.read.parquet(path).count() == 24, "rebuild covers the union")

    // dead→alive dimension flip → rebuild even with tiny mean shift
    rows(24 until 32, i => Seq((i % 8).toDouble + 50.0, 2.0 * (i % 8), 1.0 + 0.01 * (i % 8)))
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    assert(Ivf.syncIndex(spark, dir)._2 == "rebuild",
      "a dimension coming alive invalidates the quantizer geometry")

    // rewritten (non-append) source → rebuild
    rows(0 until 8, i => Seq((i % 8).toDouble, 2.0 * (i % 8), 1.0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(Ivf.syncIndex(spark, dir)._2 == "rebuild",
      "a rewritten source cannot be served by the old lists")
  }

  test("managed index compaction: repeated appends keep per-list file counts bounded") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_compact").toString
    def rows(ids: Range) =
      ids.map(i => (i.toLong, Seq((i % 8).toDouble, 2.0 * (i % 8), 1.0), i % 2))
        .toDF("vec_id", "embedding", "label")
    rows(0 until 8).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (path, _) = Ivf.syncIndex(spark, dir)
    val centsBefore = Ivf.readCentroids(spark, path)
    // 10 in-distribution appends — unbounded, lists would hold 11 files
    (1 to 10).foreach { k =>
      rows(k * 8 until (k + 1) * 8)
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      assert(Ivf.syncIndex(spark, dir)._2 == "append")
    }
    def maxFiles: Int = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("cluster=")).map { d =>
        Option(d.listFiles()).getOrElse(Array.empty)
          .count(_.getName.endsWith(".parquet"))
      }.foldLeft(0)(math.max)
    assert(maxFiles <= Ivf.MaxFilesPerList,
      s"append-time compaction must bound list fragmentation, got $maxFiles files")
    // compaction changes layout only: quantizer, row count, and probe
    // results over the union corpus are untouched
    val centsAfter = Ivf.readCentroids(spark, path)
    assert(centsBefore.map(_.toSeq).toSeq == centsAfter.map(_.toSeq).toSeq)
    assert(spark.read.parquet(path).count() == 88)
    val got = Ivf.probeIndex(spark, path, Seq(0.0, 0.0, 1.0),
        nprobe = centsAfter.length, k = 88).collect().map(_.getLong(0)).toSet
    assert(got == (0L until 88L).toSet, "full probe covers the whole union corpus")
    // idempotent: nothing left to compact
    assert(!Ivf.compactIndex(spark, path))
  }

  test("managed index resilience: corrupt manifest degrades to rebuild; " +
       "crash debris recovers on the next sync, whatever its action") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_resil").toString
    (0L until 8L).map(i => (i, Seq((i % 8).toDouble, 2.0 * (i % 8), 1.0), i % 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (path, a1) = Ivf.syncIndex(spark, dir)
    assert(a1 == "build")
    // 1. garble the manifest mid-write style: next sync must REBUILD,
    //    not throw, and the one after settles back to reuse
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_manifest.txt"), "42:truncated-garbag")
    // unreadable (checksum-torn) manifests surface as "build", garbled-
    // but-readable ones as "rebuild" — either way a full build, no crash
    assert(Set("rebuild", "build").contains(Ivf.syncIndex(spark, dir)._2))
    assert(Ivf.syncIndex(spark, dir)._2 == "reuse")
    // 2. simulate a crash between compaction's two renames: the live
    //    list is missing, its .old holds the data — a plain REUSE sync
    //    must restore it before anything probes
    val lists = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
    val victim = lists.minBy(_.getName)
    val old = new java.io.File(path, victim.getName + ".old")
    require(victim.renameTo(old))
    assert(Ivf.syncIndex(spark, dir)._2 == "reuse")
    assert(new java.io.File(path, old.getName.stripSuffix(".old")).exists(),
      "recovery must restore the missing list from its .old")
    assert(!old.exists())
    assert(spark.read.parquet(path).count() == 8, "no vectors lost")
  }

  test("managed index append crash window: a dangling intent forces a rebuild, " +
       "a committed one is swept silently") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_intent").toString
    def rows(ids: Range) =
      ids.map(i => (i.toLong, Seq((i % 8).toDouble, 2.0 * (i % 8), 1.0), i % 2))
        .toDF("vec_id", "embedding", "label")
    rows(0 until 8).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (path, a1) = Ivf.syncIndex(spark, dir)
    assert(a1 == "build")

    // 1. crash AFTER the manifest write but before the intent delete:
    //    intent == manifest means the append fully committed — the sync
    //    sweeps it and proceeds as the plain reuse it is, no retrain
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_manifest.txt"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_intent.txt"), manifest)
    assert(Ivf.syncIndex(spark, dir)._2 == "reuse",
      "a committed intent must not force work")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_intent.txt")), "committed intent swept")

    // 2. crash INSIDE the append window (between the data append and the
    //    manifest write): the intent names a listing the manifest doesn't.
    //    Re-classifying the new files as un-appended would double-index
    //    them — the sync must degrade to a full rebuild instead, and the
    //    rebuilt index must cover the union exactly once.
    rows(8 until 16).write.mode("append").parquet(s"$dir/embeddings.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_intent.txt"),
      manifest + "\n999:999:in-flight-append")
    assert(Ivf.syncIndex(spark, dir)._2 == "rebuild",
      "a dangling intent means the index may hold un-manifested vectors")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_intent.txt")), "rebuild clears the intent")
    val indexed = spark.read.parquet(path).select("vec_id").collect().map(_.getLong(0))
    assert(indexed.length == 16 && indexed.toSet == (0L until 16L).toSet,
      "rebuild covers the union exactly once — no double-indexed vectors")
    assert(Ivf.syncIndex(spark, dir)._2 == "reuse")

    // 3. an UNREADABLE intent (zero-byte torn write) is still dangling:
    //    existence, not readability, is the trigger
    rows(16 until 24).write.mode("append").parquet(s"$dir/embeddings.parquet")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(path, "_intent.txt"))
    assert(Ivf.syncIndex(spark, dir)._2 == "rebuild",
      "an empty intent file must be treated as dangling, not absent")
    assert(spark.read.parquet(path).count() == 24)
  }

  test("geometryDrift: zero on identical profiles, scales by train-time sd, " +
       "distinguishes flip directions") {
    val train = Array((0.0, 2.0), (5.0, 1.0), (1.0, 0.0))
    assert(Ivf.geometryDrift(train, train) == (0.0, 0, 0))
    val (shift, d2a, a2d) =
      Ivf.geometryDrift(train, Array((1.0, 2.0), (5.0, 1.0), (1.0, 0.0)))
    assert(math.abs(shift - 0.5) < 1e-12 && d2a == 0 && a2d == 0,
      s"1.0 shift at sd 2.0 = 0.5: $shift")
    val (_, d2a2, a2d2) =
      Ivf.geometryDrift(train, Array((0.0, 2.0), (5.0, 1.0), (1.0, 0.5)))
    assert(d2a2 == 1 && a2d2 == 0, "dead dim came alive")
    // alive→dead is reported separately: only large batches can
    // witness absence of variance (the caller gates on batch size)
    val (_, d2a3, a2d3) =
      Ivf.geometryDrift(train, Array((0.0, 0.0), (5.0, 1.0), (1.0, 0.0)))
    assert(d2a3 == 0 && a2d3 == 1, "alive dim went dead")
    intercept[IllegalArgumentException] {
      Ivf.geometryDrift(train, Array((0.0, 2.0)))
    }
  }

  test("q150 balance audit: list sizes conserve the corpus, balance identity holds") {
    val rows = Ivf.q150IvfBalance(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty && rows.length <= Ivf.K)
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    val corpus = Tables.embeddings(spark, TestSpark.sf0001).count()
    assert(total == corpus, s"lists must conserve the corpus: $total vs $corpus")
    val nLists = rows.length
    rows.foreach { r =>
      val want = BigDecimal(r.getAs[Long]("n_vecs").toDouble * nLists / total)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("balance") - want) < 1e-9)
    }
  }

  /** Jobs started while `body` runs, counted through the async
    * listener bus: a job-group-tagged marker job flushes the bus (it
    * is FIFO), so by the time the marker's start event lands every
    * job `body` launched has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var markerSeen = false
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (Option(j.properties)
              .exists(_.getProperty("spark.jobGroup.id") == "ivfspec-flush"))
          markerSeen = true
        else n.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobGroup("ivfspec-flush", "listener flush")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime + 10_000_000_000L
      while (!markerSeen && System.nanoTime < deadline) Thread.sleep(10)
      assert(markerSeen, "listener bus never delivered the flush marker")
      n.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def withIndexRoot[T](f: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory("ivf_root").toString
    spark.conf.set("graft.index.root", root)
    try f(root) finally spark.conf.unset("graft.index.root")
  }

  test("ensureIndex steady state: reuse is zero Spark jobs and never rewrites") {
    withIndexRoot { _ =>
      val p1 = Ivf.ensureIndex(spark, TestSpark.sf0001) // cold: builds
      val cent = new java.io.File(p1, "_centroids.csv")
      assert(cent.exists)
      val m1 = cent.lastModified
      // the r11 driver bench recorded q70 at full-build cost on EVERY
      // sample; this pins the reuse contract the design claims — an
      // already-built index is recognized from driver-side FS metadata
      // alone (fingerprint listing + one exists call), with no Spark
      // job and no rewrite
      val jobs = jobsDuring {
        val p2 = Ivf.ensureIndex(spark, TestSpark.sf0001)
        assert(p2 == p1)
      }
      assert(jobs == 0, s"steady-state ensureIndex launched $jobs Spark jobs")
      assert(cent.lastModified == m1, "steady-state ensureIndex rewrote the index")
    }
  }

  test("syncIndex steady state: reuse is zero Spark jobs (zero data read)") {
    withIndexRoot { _ =>
      val (p, a1) = Ivf.syncIndex(spark, TestSpark.sf0001)
      assert(a1 == "build")
      val jobs = jobsDuring {
        val (p2, a2) = Ivf.syncIndex(spark, TestSpark.sf0001)
        assert(p2 == p && a2 == "reuse")
      }
      // every reuse-path step (debris scan, source listing, sidecar
      // reads, manifest compare) is driver-side FS metadata; a Spark
      // job here would mean the sync read DATA on the steady path
      assert(jobs == 0, s"steady-state syncIndex launched $jobs Spark jobs")
    }
  }

  test("gcStaleIndexes spares an extended source dir's live index (r11 advice)") {
    withIndexRoot { root =>
      val sanitized = TestSpark.sf0001.replaceAll("[^A-Za-z0-9.]", "_")
      def mk(name: String): java.io.File = {
        val f = new java.io.File(root, name)
        assert(f.mkdirs())
        val marker = new java.io.File(f, "_centroids.csv")
        java.nio.file.Files.writeString(marker.toPath, "0.0")
        f
      }
      // a superseded build of THIS source: fingerprint-shaped suffix
      val stale = mk(s"graft_ivf_index_v1_${sanitized}_" + "f" * 16)
      // the collision victim: a DIFFERENT source dir (sf0.001_v2) whose
      // sanitized name extends this one — bare startsWith would GC it
      val victim = mk(s"graft_ivf_index_v1_${sanitized}_v2_" + "f" * 16)
      Ivf.ensureIndex(spark, TestSpark.sf0001) // builds → GC runs
      assert(!stale.exists, "superseded fingerprint sibling must be GC'd")
      assert(victim.exists,
        "an extended source dir's index must survive this source's GC")
    }
  }

  test("q126 recall sweep: monotone in nprobe, exact at full probe, bounded") {
    val rows = Ivf.ivfRecallSweep(spark, TestSpark.sf0001)
      .collect().sortBy(_.getAs[Int]("nprobe"))
    assert(rows.map(_.getAs[Int]("nprobe")).toSeq == Seq(1, 2, 4, Ivf.K))
    val means = rows.map(_.getAs[Double]("mean_recall"))
    assert(means.zip(means.tail).forall { case (a, b) => b >= a },
      s"recall must not fall as nprobe grows: ${means.toSeq}")
    assert(means.last == 1.0 && rows.last.getAs[Double]("min_recall") == 1.0,
      "probing all K clusters is exact by construction")
    rows.foreach { r =>
      val m = r.getAs[Double]("mean_recall")
      assert(m >= 0.0 && m <= 1.0)
      assert(r.getAs[Double]("min_recall") <= m)
    }
  }
}
