package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{IncrementalDedup, IncrementalNovelty, IncrementalSpans}

class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def dropIndex(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val d = new java.io.File(s"/tmp/graft-test-warehouse/$name")
    if (d.exists()) {
      java.nio.file.Files.walk(d.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("new batch is deduped against the persisted index; planted dup found") {
    dropIndex("dedup_index")
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 400)
    IncrementalDedup.buildIndex(corpus, "dedup_index")

    // batch: fresh docs + one exact copy of doc 0 under a new id
    val doc0 = docs.filter(col("doc_id") === 0)
      .select(lit(9999L).as("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") >= 400).unionByName(doc0)

    val matches = IncrementalDedup.probeBatch(spark, batch, "dedup_index").cache()
    // the copy of doc 0 must match doc 0 at est 1.0. (It may legitimately
    // match more docs — this corpus contains token-set-identical pairs.)
    val planted = matches.filter(col("new_id") === 9999L).collect()
      .map(r => r.getAs[Long]("match_id") -> r.getAs[Double]("est_jaccard")).toMap
    assert(planted.get(0L).contains(1.0), s"planted dup not found: $planted")

    // append the uniques; the index then matches them exactly on
    // re-probe. Self-matches are EXCLUDED by design (the replay
    // data-loss guard), so the verification probes RENAMED copies:
    // each must match its own original at est 1.0
    val uniques = batch.join(matches.select("new_id").distinct(),
      batch("doc_id") === col("new_id"), "left_anti")
    IncrementalDedup.appendToIndex(uniques, "dedup_index")
    val renamed = uniques.select((col("doc_id") + 100000L).as("doc_id"),
      col("text"))
    val reprobe = IncrementalDedup.probeBatch(spark, renamed, "dedup_index")
      .filter(col("new_id") === col("match_id") + 100000L &&
        col("est_jaccard") === 1.0)
    assert(reprobe.count() == uniques.count())
    // and a batch probed against an index containing ITSELF never
    // reports a doc as its own duplicate — the StreamingDedup
    // replay-after-append crash window depends on this
    assert(IncrementalDedup.probeBatch(spark, uniques, "dedup_index")
      .filter(col("new_id") === col("match_id")).count() == 0L)
  }

  test("default-srcBatch appends stay matchable by a later batch redelivering the same doc_id") {
    import spark.implicits._
    dropIndex("dedup_default_src_idx")
    // rows written with the DEFAULT srcBatch = NoBatch are not any
    // batch's own rows, so a real batch redelivering the same doc_id
    // must still match them (the batch API's redelivery semantics)
    val batch = Seq((9L, (1 to 20).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    IncrementalDedup.buildIndex(batch, "dedup_default_src_idx")
    val redelivered = IncrementalDedup
      .probeBatch(spark, batch, "dedup_default_src_idx", batchId = 9L)
      .filter(col("new_id") === col("match_id")).count()
    assert(redelivered > 0,
      "default-append rows must stay matchable by later batches")
    spark.sql("DROP TABLE IF EXISTS dedup_default_src_idx")
  }

  test("a doc_id re-appended with changed text yields one row per (new_id, match_id), at the max estimate") {
    import spark.implicits._
    dropIndex("dedup_reappend_idx")
    // appendToIndex does not dedupe doc_ids: doc 1 re-appended with one
    // changed token holds two signatures in the index, and a probe
    // near both must still report the pair once, at the stronger one
    val words = (1 to 40).map(i => s"w$i")
    IncrementalDedup.buildIndex(Seq((1L, words.mkString(" "))).toDF("doc_id", "text"),
      "dedup_reappend_idx")
    IncrementalDedup.appendToIndex(
      Seq((1L, (words.init :+ "x1").mkString(" "))).toDF("doc_id", "text"),
      "dedup_reappend_idx")
    val rows = IncrementalDedup
      .probeBatch(spark, Seq((9L, words.mkString(" "))).toDF("doc_id", "text"),
        "dedup_reappend_idx", threshold = 0.8)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("match_id"),
        r.getAs[Double]("est_jaccard"))).toSeq
    assert(rows == Seq((9L, 1L, 1.0)), s"one row per pair at the max estimate: $rows")
    spark.sql("DROP TABLE IF EXISTS dedup_reappend_idx")
  }

  test("degenerate index buckets are skipped at the cap, kept below it") {
    import spark.implicits._
    dropIndex("dedup_cap_idx")
    // two identical indexed docs: every band bucket has exactly 2 members
    val t = (1 to 20).map(i => s"w$i").mkString(" ")
    IncrementalDedup.buildIndex(
      Seq((1L, t), (2L, t)).toDF("doc_id", "text"), "dedup_cap_idx")
    val batch = Seq((9L, t)).toDF("doc_id", "text")
    val under = IncrementalDedup.probeBatch(spark, batch, "dedup_cap_idx",
      maxBucket = 2).count()
    assert(under == 2, "below the cap both copies must match")
    val over = IncrementalDedup.probeBatch(spark, batch, "dedup_cap_idx",
      maxBucket = 1).count()
    assert(over == 0, "a bucket past the cap is skipped (documented recall trade)")
    spark.sql("DROP TABLE IF EXISTS dedup_cap_idx")
  }

  test("q189 bench form: deterministic slices, rerun hits the same index and rows") {
    val q = SparkEntry.queries("q189_dedup_probe_index")
    val first = q(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(first.nonEmpty, "the quarter-corpus batch must hit the index " +
      "(this corpus contains cross-slice near-dups)")
    // every reported pair crosses the slice boundary by construction
    first.foreach { case (newId, matchId, est) =>
      assert(est >= 0.8 && newId != matchId)
    }
    val again = q(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(again == first, "re-probe through the persisted index must be identical")
  }

  test("q199 probe-then-confirm: exactly the equal-token-set pairs; candidates are a strict superset") {
    val d = TestSpark.sf0001
    val confirmed = SparkEntry.queries("q199_exact_dup_probe_index")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(confirmed.nonEmpty, "this corpus has cross-slice exact dups")
    // ground truth re-derived independently: sorted distinct token
    // sets equal across the md5-slice boundary
    val tset = sort_array(array_distinct(split(col("text"), " ")))
    val b = substring(md5(col("doc_id").cast("string")), 1, 2)
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), b.as("b"), tset.as("t"))
    val truth = docs.filter(col("b") >= "c0").select(col("doc_id").as("new_id"), col("t"))
      .join(docs.filter(col("b") < "c0").select(col("doc_id").as("match_id"), col("t")), Seq("t"))
      .select("new_id", "match_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(confirmed.sorted == truth,
      s"confirmed pairs must be exactly the equal-token-set pairs " +
        s"(${confirmed.length} vs ${truth.length})")
    // and the confirm stage is LOAD-BEARING: threshold-1.0 candidates
    // include near-dup pairs whose differing tokens never win a min
    val q189 = SparkEntry.queries("q189_dedup_probe_index")(spark, d)
      .filter(col("est_jaccard") >= 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert((q189.toSet -- confirmed.toSet).nonEmpty,
      "est-1.0 candidates should strictly exceed the exact pairs on this corpus " +
        "(if this ever fails, the corpus lost its near-dup structure, not the code)")
  }

  test("single-band witness: at threshold 1.0, bandsUsed=1 finds the same pairs as all bands") {
    // sig equality implies EVERY band collides, so one band suffices
    // as a witness at threshold 1.0 — 1/Bands the candidate fan-out
    // (measured: q199's 10x scale factor drops x4.3 -> x1.8)
    val d = TestSpark.sf0001
    val b = substring(md5(col("doc_id").cast("string")), 1, 2)
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    dropIndex("bandwit_idx")
    IncrementalDedup.buildIndex(docs.filter(b < "c0"), "bandwit_idx")
    val batch = docs.filter(b >= "c0")
    def pairs(nBands: Int) = IncrementalDedup
      .probeBatch(spark, batch, "bandwit_idx", threshold = 1.0,
        maxBucket = Int.MaxValue, bandsUsed = nBands)
      .select("new_id", "match_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = pairs(1); val all = pairs(graft.ops.Dedup.Bands)
    assert(one == all && one.nonEmpty,
      s"single-band probe must find every est-1.0 pair: ${one.size} vs ${all.size}")
    intercept[IllegalArgumentException] {
      IncrementalDedup.probeBatch(spark, batch, "bandwit_idx", bandsUsed = 0)
    }
    spark.sql("DROP TABLE IF EXISTS bandwit_idx")
  }

  test("probe and append compile once per stream: batch ids 7 and 8 generate identical source") {
    // streaming batch ids are unique per trigger; if the id were a
    // literal inlined into the generated Java, every batch would miss
    // the compiled-class cache and recompile the probe's and the
    // append's whole-stage classes
    dropIndex("dedup_compile_idx")
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    IncrementalDedup.buildIndex(docs.filter(col("doc_id") < 200), "dedup_compile_idx", buckets = 4)
    val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 260)
    def probe(id: Long): Seq[String] = {
      val p = IncrementalDedup.probeBatch(spark, batch, "dedup_compile_idx", batchId = id)
      p.collect()
      GeneratedSource.of(p)
    }
    val (p7, p8) = (probe(7L), probe(8L))
    assert(p7.nonEmpty)
    GeneratedSource.firstDifference(p7, p8)
      .foreach(d => fail(s"probe source depends on the batch id:\n$d"))
    def append(id: Long): Seq[String] = GeneratedSource.ofInsert(spark, "dedup_compile_idx")(
      IncrementalDedup.appendToIndex(batch, "dedup_compile_idx", srcBatch = id))
    val (a7, a8) = (append(7L), append(8L))
    GeneratedSource.firstDifference(a7, a8)
      .foreach(d => fail(s"append source depends on the batch id:\n$d"))
    // the ids still reach the rows
    val tags = spark.table("dedup_compile_idx").select("src_batch").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(tags == Set(IncrementalDedup.NoBatch, 7L, 8L), s"src_batch tags: $tags")
    spark.sql("DROP TABLE IF EXISTS dedup_compile_idx")
  }

  test("build and append sign each document once: one MinHashSig per write plan") {
    import org.apache.spark.sql.execution.SparkPlan
    import spark.implicits._
    // an inner explode of `bands` let Catalyst infer size(bands) > 0
    // AND isnotnull(bands) and push it below the signing Project,
    // inlining minhash_sig twice more into a Filter
    val t = "dedup_sign_once_idx"
    dropIndex(t)
    def signings(p: SparkPlan): Int = GeneratedSource.exprCount[graft.functions.MinHashSig](p)
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val built = GeneratedSource.insertPlans(spark, t)(
      IncrementalDedup.buildIndex(docs.filter(col("doc_id") < 200), t, buckets = 4))
    assert(built.nonEmpty, "the build's write plan did not reach the listener")
    assert(built.map(signings) == Seq(1), s"build signings per plan: ${built.map(signings)}")
    val appended = GeneratedSource.insertPlans(spark, t)(IncrementalDedup.appendToIndex(
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 260), t))
    assert(appended.nonEmpty, "the append's write plan did not reach the listener")
    assert(appended.map(signings) == Seq(1), s"append signings per plan: ${appended.map(signings)}")
    // a doc with no text still writes no index row (an outer explode
    // alone would write it under a null bucket)
    IncrementalDedup.appendToIndex(Seq((9999L, null: String)).toDF("doc_id", "text"), t)
    assert(spark.table(t).filter(col("doc_id") === 9999L).count() == 0L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("an append adds at most one file per bucket, following a rebuilt index's bucket count") {
    // every appendable family: dedup, spans and novelty all append
    // through Bucketing.appendBucketed
    case class Family(table: String,
                      build: (DataFrame, String, Int) => Unit,
                      append: (DataFrame, String) => Unit,
                      // does a renamed copy of an appended doc hit it?
                      seesAppended: (DataFrame, String) => Boolean)
    val families = Seq(
      Family("dedup_files_idx", IncrementalDedup.buildIndex(_, _, _),
        IncrementalDedup.appendToIndex(_, _),
        (planted, t) => IncrementalDedup.probeBatch(spark, planted, t)
          .filter(col("match_id") === 300L && col("est_jaccard") === 1.0).count() == 1L),
      Family("spans_files_idx", IncrementalSpans.buildIndex(_, _, _),
        IncrementalSpans.appendToIndex(_, _),
        (planted, t) => IncrementalSpans.probeBatch(spark, planted, t).count() > 0L),
      Family("novelty_files_idx", IncrementalNovelty.buildIndex(_, _, _),
        IncrementalNovelty.appendToIndex(_, _),
        (planted, t) => IncrementalNovelty.screenBatch(spark, planted, t)
          .filter(col("total") > 0 && col("novel") === 0L).count() == 1L))
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "source", "text")
    val corpus = docs.filter(col("doc_id") < 300)
    // 4 write tasks, each holding rows of every bucket: unaligned, the
    // append would write 4 x 4 files
    val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 500).repartition(4)
    val planted = batch.filter(col("doc_id") === 300)
      .select(lit(99999L).as("doc_id"), col("source"), col("text"))
    families.foreach { f =>
      dropIndex(f.table)
      val dir = new java.io.File(s"/tmp/graft-test-warehouse/${f.table}")
      def partFiles(): Int = Option(dir.listFiles()).toSeq.flatten
        .count(_.getName.startsWith("part-"))
      f.build(corpus, f.table, 4)
      val built = partFiles()
      f.append(batch, f.table)
      assert(partFiles() - built <= 4, s"${f.table}: 4-bucket append added ${partFiles() - built} files")

      // rebuilt with another bucket count: the next append aligns to 8
      f.build(corpus, f.table, 8)
      val rebuilt = partFiles()
      f.append(batch, f.table)
      assert(partFiles() - rebuilt <= 8, s"${f.table}: 8-bucket append added ${partFiles() - rebuilt} files")
      // and the appended rows are where a probe looks
      assert(f.seesAppended(planted, f.table), s"${f.table}: the planted copy must hit the appended doc")
      spark.sql(s"DROP TABLE IF EXISTS ${f.table}")
    }
  }
}
