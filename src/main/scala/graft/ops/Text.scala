package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Text-analysis operators over the documents table (SURVEY §2.9):
  * token statistics, quality scoring, exact-dedup grouping, document
  * fingerprinting, and n-gram language identification.
  *
  * Everything here is built from codegen'd array/string functions —
  * no UDFs — so the hot path stays inside whole-stage codegen and
  * scales linearly with document count (one shuffle per groupBy).
  */
object Text {

  private val stopwords = Seq("the", "of", "and", "a", "to", "in")

  /** The stopword set as a SQL IN-list literal — one rendering shared
    * by every oracle/filter that embeds it (was copied four times). */
  private[graft] val stopwordsSqlList: String =
    stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  private def toks(c: Column): Column = split(c, " ")

  /** Exact deduplication, 100 TB shape: the reduction key is a 128-bit
    * content fingerprint computed map-side, so the shuffle carries
    * (16 B fp, 8 B id) per row — never the document text. One
    * representative (min doc_id) + duplicate count per distinct
    * content. (md5 collisions are negligible at any corpus size;
    * a paranoid variant would verify within-group with one extra
    * semi-join of the winners.) */
  def q30DedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(md5(col("text").cast("binary")).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("fp"))
      .orderBy(col("keep_id"))

  val q30Sql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_dups, md5(text) AS fp
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** Document fingerprinting: stable 128-bit content hash (md5) — the
    * scale-out key for exact dedup (shuffle 16 bytes, not the text). */
  def q31Fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"),
              col("n_chars"))
      .orderBy(col("doc_id"))

  val q31Sql: String =
    """SELECT doc_id, md5(text) AS fp, n_chars
      |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin

  /** Per-language token statistics (token counting over whitespace). */
  def q32TokenStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), size(toks(col("text"))).cast("bigint").as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           round(avg(col("n_tokens")), 4).as("avg_tokens"))
      .orderBy(col("lang"))

  val q32Sql: String =
    """SELECT lang, count(*) AS n_docs,
      | CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
      | round(avg(CAST(len(str_split(text, ' ')) AS DOUBLE)), 4) AS avg_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-document quality scoring: token count, average word length,
    * stopword ratio — the standard pre-training quality heuristics,
    * computed purely with array expressions (no shuffle at all: this
    * is a map-only pipeline that scales embarrassingly). */
  def q33QualityScore(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val nTok = size(t).cast("double")
    val stopList = stopwordsSqlList
    documents(s, d)
      .filter(col("doc_id") < 400)
      .select(
        col("doc_id"),
        size(t).cast("bigint").as("n_tokens"),
        round(length(regexp_replace(col("text"), lit(" "), lit(""))).cast("double") / nTok, 4)
          .as("avg_word_len"),
        round(size(expr(s"filter(split(text, ' '), t -> t IN $stopList)")).cast("double") / nTok, 4)
          .as("stopword_ratio"))
      .orderBy(col("doc_id"))
  }

  val q33Sql: String = {
    val stopList = stopwordsSqlList
    s"""SELECT doc_id,
       | CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
       | round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |       / len(str_split(text, ' ')), 4) AS avg_word_len,
       | round(CAST(len(list_filter(str_split(text, ' '), t -> t IN $stopList)) AS DOUBLE)
       |       / len(str_split(text, ' ')), 4) AS stopword_ratio
       |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin
  }

  /** Top-k token frequencies per language: explode + two-level agg
    * (the wordcount shape; partial aggregation bounds the shuffle). */
  def q34TopTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), explode(toks(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 10)
      .orderBy(col("lang"), col("n").desc, col("token"))

  val q34Sql: String =
    """SELECT lang, token, count(*) AS n
      |FROM (SELECT lang, unnest(str_split(text, ' ')) AS token FROM documents)
      |GROUP BY lang, token HAVING count(*) >= 10
      |ORDER BY lang, n DESC, token""".stripMargin

  /** Character-bigram profiles per language: deterministic, tiny, and
    * compiled into the plan as literal expressions — no driver collect.
    * Both the Spark query and the DuckDB oracle are generated from
    * THIS table, so they cannot drift. */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "in", "er", "an"),
    "es" -> Seq("de", "la", "os", "en", "ar"),
    "fr" -> Seq("le", "es", "en", "de", "re"),
    "de" -> Seq("en", "er", "ch", "de", "ei"),
    "zh" -> Seq("zh", "sh", "ng", "ia", "ao"))

  /** N-gram-heuristic language identification: score = Σ occurrences
    * of each profile bigram, winner by (score, lang) struct comparison
    * — ties break toward the larger language code identically in both
    * engines. Occurrences are counted with pure string arithmetic,
    * (len(text) − len(replace(text, g, ''))) / 2 — no per-gram array
    * materialization (a split-based count allocates an array per gram
    * per row, which GC-thrashes at corpus scale). Map-only, no
    * shuffle; exact same counts (non-overlapping left-to-right). */
  def q35LangId(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("lang").as("actual_lang"),
              predictedLang.as("predicted_lang"))
      .orderBy(col("doc_id"))

  /** The classifier itself — greatest over per-language (score, lang)
    * structs — shared by q35 (accuracy audit) and q193 (fertility). */
  private def predictedLang: Column = {
    val scoreCols = langProfiles.map { case (lang, grams) =>
      val diffs = grams.map(g =>
        length(col("text")) - length(expr(s"replace(text, '$g', '')")))
        .reduce(_ + _)
      struct((diffs.cast("double") / 2).as("score"), lit(lang).as("lang"))
    }
    greatest(scoreCols: _*).getField("lang")
  }

  /** DuckDB twin of [[predictedLang]]: same profiles, same
    * replace-based counting, same (score, lang) max — struct list_max
    * tie-breaks lexicographically like Spark's greatest over structs. */
  private val predictedLangSql: String = {
    val structs = langProfiles.map { case (lang, grams) =>
      val diffs = grams
        .map(g => s"(length(text) - length(replace(text, '$g', '')))")
        .mkString(" + ")
      s"struct_pack(score := CAST($diffs AS DOUBLE) / 2, lang := '$lang')"
    }.mkString(",\n   ")
    s"(list_max([$structs])).lang"
  }

  val q35Sql: String =
    s"""SELECT doc_id, lang AS actual_lang,
       | $predictedLangSql AS predicted_lang
       |FROM documents ORDER BY doc_id""".stripMargin

  /** The BPE-ish tokenizer pattern (letter runs / digit runs / single
    * symbols) — ONE constant shared by q36 and q193 in both engines
    * (RE2-compatible; interpolated verbatim into the oracle SQL), the
    * same cannot-drift discipline the q35 classifier gets. */
  private val bpePat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Token counting two ways: whitespace split vs the BPE-ish regex
    * tokenizer — the pre-training token-budget estimator. */
  def q36BpeTokens(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .select(col("lang"),
        size(toks(col("text"))).cast("bigint").as("ws_n"),
        size(regexp_extract_all(col("text"), lit(bpePat), lit(0))).cast("bigint").as("bpe_n"))
      .groupBy(col("lang"))
      .agg(sum(col("ws_n")).as("ws_tokens"),
           sum(col("bpe_n")).as("bpe_tokens"),
           count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))
  }

  val q36Sql: String =
    s"""SELECT lang,
       | CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS ws_tokens,
       | CAST(sum(len(regexp_extract_all(text, '$bpePat'))) AS BIGINT) AS bpe_tokens,
       | count(*) AS n_docs
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Custom HLL sketch aggregate (graft.functions.HllSketchAgg) next
    * to the exact count — per-source approximate distinct tokens.
    * Rows-only (the estimator is engine-specific); HllSpec pins the
    * error bound and partition-independence. */
  def q53HllDistinct(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), explode(toks(col("text"))).as("token"))
      .groupBy(col("source"))
      .agg(graft.functions.HllSketchAgg.hllDistinct(col("token")).as("approx_tokens"),
           countDistinct(col("token")).as("exact_tokens"))
      .orderBy(col("source"))

  /** q173: PERSISTED-SKETCH ROLLUP — the pattern that makes
    * distinct-count dashboards affordable at 100 TB: ONE corpus pass
    * builds a tiny (source, lang) → HLL-sketch-bytes table (the frame
    * a pipeline persists per vintage/partition), and every later
    * rollup — per-source here, plus the ALL row — aggregates those
    * kilobyte register arrays with `hll_merge` instead of re-scanning
    * the tokens. Because sketch build and merge share one register
    * kernel, the merged estimate is REGISTER-IDENTICAL to a direct
    * single-pass sketch (HllSpec pins that equality, plus the
    * cross-group union estimate and the precision-mismatch fail-fast).
    * Rows-only: the estimator is engine-specific. */
  def q173HllRollup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HllSketchAgg.{hllSketch, hllMergeEstimate}
    // stage 1 — the persisted form: one sketch per (source, lang),
    // MATERIALIZED (sources × langs rows × 4 KiB — the tiny table a
    // pipeline writes per vintage), so both rollups below genuinely
    // read the stored sketches and the corpus is scanned exactly once
    val built = documents(s, d)
      .select(col("source"), col("lang"), explode(toks(col("text"))).as("token"))
      .groupBy(col("source"), col("lang"))
      .agg(hllSketch(col("token")).as("sk"))
    val sketches = s.createDataFrame(
      s.sparkContext.parallelize(built.collect().toSeq, 1), built.schema)
    // stage 2 — rollups touch ONLY the sketch table
    val perSource = sketches.groupBy(col("source"))
      .agg(hllMergeEstimate(col("sk")).as("approx_tokens"))
    val all = sketches.agg(hllMergeEstimate(col("sk")).as("approx_tokens"))
      .select(lit("ALL").as("source"), col("approx_tokens"))
    perSource.unionByName(all).orderBy(col("source"))
  }

  /** q73: intra-document REPETITION signals — the Gopher-style
    * quality rules that catch boilerplate/spam before training:
    * duplicate-word fraction (1 − |distinct|/|tokens|) and the mass of
    * the single most frequent bigram. The word fraction is MAP-ONLY
    * (array expressions per row); the bigram mode needs one shuffle of
    * (doc, bigram-hash) counts — grouped twice, partial-aggregated
    * both times, never the text. */
  def q73Repetition(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val base = documents(s, d).filter(col("doc_id") < 300)
    val wordFrac = base.select(
      col("doc_id"),
      round(lit(1.0) - size(array_distinct(t)).cast("double") / size(t), 4)
        .as("dup_word_frac"))
    val bigramTop = base
      .select(col("doc_id"),
        explode(graft.ops.Dedup.shinglesOfTokens(t, 2)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(round(max(col("n")).cast("double") / sum(col("n")), 4)
        .as("top_bigram_frac"))
    wordFrac.join(bigramTop, Seq("doc_id"), "left")
      .orderBy(col("doc_id"))
  }

  val q73Sql: String =
    """WITH base AS (
      | SELECT doc_id, str_split(text, ' ') AS t FROM documents WHERE doc_id < 300
      |), words AS (
      | SELECT doc_id,
      |        round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
      |          AS dup_word_frac
      | FROM base
      |), bg AS (
      | SELECT doc_id, unnest([concat(t[i], ' ', t[i+1]) for i in range(1, len(t))]) AS bg
      | FROM base WHERE len(t) >= 2
      |), counts AS (
      | SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg
      |), top AS (
      | SELECT doc_id, round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS top_bigram_frac
      | FROM counts GROUP BY doc_id
      |)
      |SELECT words.doc_id AS doc_id, words.dup_word_frac, top.top_bigram_frac
      |FROM words LEFT JOIN top ON words.doc_id = top.doc_id
      |ORDER BY doc_id""".stripMargin

  /** q74: per-source heavy-hitter tokens via the mergeable SpaceSaving
    * sketch (graft.functions.SpaceSavingAgg) next to the exact top-5
    * — the bounded-memory replacement for the full wordcount shuffle
    * at corpus scale. m=64 exceeds this corpus's vocabulary, so the
    * sketch is exact here (asserted in SketchSpec with the exact
    * join); with real vocabularies the est-err interval brackets the
    * true count. Rows-only: the sketch layout is engine-specific. */
  def q74HeavyHitters(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), explode(toks(col("text"))).as("token"))
      .groupBy(col("source"))
      .agg(graft.functions.SpaceSavingAgg.spaceSavingTopK(col("token"), 64).as("ss"))
      .select(col("source"), posexplode(slice(col("ss"), 1, 5)).as(Seq("rank", "hit")))
      .select(col("source"), col("rank"), col("hit.token").as("token"),
              col("hit.count").as("est_count"), col("hit.err").as("err"))
      .orderBy(col("source"), col("rank"))

  /** q82: corpus-trained bigram language-model scoring — the
    * perplexity quality filter (the published curation recipe scores
    * each document against a reference LM and drops the tails; here
    * the LM is the corpus's own bigram MLE, the self-scoring variant).
    * P(w2|w1) = c(w1 w2) / c(w1 ·); per doc the mean log2 P over its
    * bigram OCCURRENCES, plus perplexity 2^(-mean).
    *
    * 100 TB shape: every shuffle carries 8-byte xxhash64 keys — docs
    * explode to (doc_id, bigram-fp, prefix-fp) map-side via the native
    * window-hash kernel (no bigram strings materialized, same
    * discipline as decontamination), both count tables are map-side
    * combined groupBys over those BIGINTs, the probability joins are
    * fp-keyed (AQE-eligible), and the final per-doc mean shuffles
    * (doc_id, logp). The LM table is corpus-vocabulary-sized, not
    * corpus-sized, so at scale it is broadcast-able or hash-joined —
    * never recomputed per doc. */
  def q82BigramLm(s: SparkSession, d: String): DataFrame =
    bigramLmScores(documents(s, d)).orderBy(col("doc_id"))

  /** Core of q82 over any (doc_id, text) frame — unit-tested against
    * hand-computed bigram MLEs in TextSpec. */
  def bigramLmScores(documents: DataFrame): DataFrame = {
    val sh = graft.functions.NativeExprs.shingleHashes(_: Column, _: Int)
    val docs = documents
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val rows = docs.select(col("doc_id"),
        explode(zip_with(
          sh(col("t"), 2),
          sh(slice(col("t"), lit(1), size(col("t")) - 1), 1),
          (b, p) => struct(b.as("fp12"), p.as("fp1")))).as("bg"))
      .select(col("doc_id"), col("bg.fp12"), col("bg.fp1"))
    // ONE corpus-scale aggregation builds the LM. The prefix totals
    // c(w1 ·) are a window-sum over the vocabulary-sized count table
    // (fp12 determines fp1, so fp1 rides as a grouping key for free) —
    // NOT a second aggregation of a separately-referenced c12 frame:
    // Spark does not reuse the exchange across two consumers of the
    // same aggregate subtree (measured: the corpus explode ran twice),
    // and a window keeps the LM a single-consumption subtree by
    // construction. Corpus-sized shuffles: the count groupBy, the
    // scoring join, the per-doc mean — exactly three.
    val c12 = rows.groupBy(col("fp12"), col("fp1")).agg(count(lit(1)).as("c12"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp1"))
    val lm = c12.withColumn("c1", sum(col("c12")).over(w))
      .select(col("fp12"), log2(col("c12").cast("double") / col("c1")).as("logp"))
    rows.join(lm, Seq("fp12"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("logp")).as("m"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("m"), 3).as("avg_logp2"),
        round(pow(lit(2.0), -col("m")), 2).as("ppl"))
  }

  val q82Sql: String =
    """WITH toks AS (
      | SELECT doc_id, str_split(text, ' ') AS t FROM documents
      | WHERE len(str_split(text, ' ')) >= 2
      |), big AS (
      | SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      | FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
      |), c12 AS (
      | SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2
      |), c1 AS (
      | SELECT w1, count(*) AS c1 FROM big GROUP BY 1
      |)
      |SELECT big.doc_id, count(*) AS n_bigrams,
      | round(avg(log2(CAST(c12.c12 AS DOUBLE) / c1.c1)), 3) AS avg_logp2,
      | round(pow(2, -avg(log2(CAST(c12.c12 AS DOUBLE) / c1.c1))), 2) AS ppl
      |FROM big
      |JOIN c12 ON big.w1 = c12.w1 AND big.w2 = c12.w2
      |JOIN c1 ON big.w1 = c1.w1
      |GROUP BY big.doc_id ORDER BY big.doc_id""".stripMargin

  /** q85: TF-IDF characteristic terms per source — q34 ranks raw
    * counts (dominated by corpus-wide common words); IDF weighting
    * (ln(S/df), df = sources containing the token) surfaces what makes
    * each source DIFFERENT, the signature-term primitive behind
    * source-level quality triage and domain tagging.
    *
    * 100 TB shape: the text is scanned ONCE into a map-side-combined
    * (source, token) tf aggregation; df is a token-partitioned window
    * COUNT over that vocab-×-sources table (single consumption — two
    * consumers of one aggregate subtree would re-run the corpus
    * explode, the q82 lesson); the source count comes from a second,
    * source-column-only pruned scan (dictionary pages, negligible)
    * broadcast as one row; the final top-3 window sorts the tf table
    * per source. n_src is defined over the DOCUMENTS table in BOTH
    * the Scala path and the oracle SQL (r8 ADVICE: the sides must
    * share one definition; tf-derived counting would instead force a
    * second consumption of the corpus-explode aggregate — the q82
    * lesson — for a count the pruned source-column scan gives for
    * free). A token-less source thus still counts toward n_src, on
    * both sides, by construction. */
  def q85TfIdf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents(s, d)
      .select(col("source"), explode(toks(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val nSrc = documents(s, d).select(col("source")).distinct()
      .agg(count(lit(1)).cast("double").as("n_src"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .crossJoin(broadcast(nSrc))
      .select(col("source"), col("token"), col("tf"),
        round(col("tf").cast("double") * log(col("n_src") / col("df")), 4).as("tf_idf"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("tf_idf").desc, col("token").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("source"), col("rk"), col("token"), col("tf"), col("tf_idf"))
      .orderBy(col("source"), col("rk"))
  }

  val q85Sql: String =
    """WITH tok AS (
      | SELECT source, unnest(str_split(text, ' ')) AS token FROM documents
      |), tf AS (
      | SELECT source, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
      |), df AS (
      | SELECT token, count(*) AS df FROM tf GROUP BY 1
      |), ns AS (
      | SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n_src FROM documents
      |), scored AS (
      | SELECT tf.source, tf.token, tf.tf,
      |   round(tf.tf * ln(ns.n_src / df.df), 4) AS tf_idf
      | FROM tf JOIN df USING (token), ns
      |)
      |SELECT source, rk, token, tf, tf_idf FROM (
      | SELECT *, CAST(row_number() OVER (PARTITION BY source
      |   ORDER BY tf_idf DESC, token) AS INT) AS rk
      | FROM scored
      |) WHERE rk <= 3 ORDER BY source, rk""".stripMargin

  // --------------------------------------------------------------- q154

  /** BM25 parameters (Robertson/Sparck Jones defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** q154: BM25 RETRIEVAL SCORING — the top-20 documents for the
    * corpus's own 3 most frequent tokens, scored with the classic
    * Okapi BM25 (idf · tf·(k1+1) / (tf + k1·(1−b+b·len/avglen))).
    * Completes the retrieval-scoring ladder above q85's TF-IDF: BM25's
    * tf saturation and length normalization are what production
    * retrieval (and hard-negative mining for embedding training)
    * actually uses. The query terms are derived IN-QUERY
    * (count desc, token asc — deterministic from exact ints), so the
    * query is self-contained on any corpus vintage.
    *
    * idf uses the +1-inside-the-log form, ln(1 + (N−df+0.5)/(df+0.5)),
    * so stop-word-grade terms (df ≈ N) score small-positive instead of
    * negative (the Lucene convention). Scores are sums of ≤3 exact-
    * rational-input terms evaluated identically in both engines;
    * rounded at 4 decimals and ORDERED BY THE ROUNDED score + doc_id
    * so the top-20 cut cannot straddle an ulp.
    *
    * 100 TB shape: THREE bounded token passes, each a map-side-
    * combined explode (doc lengths, corpus term totals, and the
    * query-term tf — the last filters to 3 terms via broadcast inner
    * join INSIDE the scan, so its aggregation is tiny). Lazy plans
    * don't share an uncached explode across consumers, and this is
    * deliberate: the round-10 review proposed folding passes 1+3 into
    * one left-join + (doc, marked-token) aggregation, and the
    * measurement REGRESSED 0.76 → 1.72 s at sf0.1 — hashing every
    * exploded token through a nullable-string group key costs more
    * than a second pure-long-keyed pass plus a filtered tiny pass.
    * Three cheap scans beat two expensive ones; measured, not
    * assumed. df and avglen are one-row broadcasts; scoring and
    * top-k run on the ≤ 3·N-row tf digest, never the text. */
  def q154Bm25(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
    // dlen feeds the corpus stats AND the scoring join — uncached,
    // the second consumer re-ran the tokenize pass (the measured
    // q82/q85 non-reuse), making the documented three passes four;
    // pin the doc-count-sized digest once (round-14 review)
    val dlen = Graph.ckpt(
      tok.groupBy(col("doc_id")).agg(count(lit(1)).as("len")))
    val stats = dlen.agg(count(lit(1)).as("n_docs"),
      avg(col("len")).as("avglen"))
    val qTerms = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(3)
      .select(col("token"))
    val tf = tok.join(broadcast(qTerms), Seq("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfd = col("tf").cast("double")
    val norm = tfd * (Bm25K1 + 1.0) /
      (tfd + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("len") / col("avglen")))
    tf
      .join(broadcast(df), Seq("token"))
      .join(dlen, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round(sum(idf * norm), 4).as("bm25"),
           count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  val q154Sql: String =
    """WITH tok AS (
      | SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
      |), dlen AS (
      | SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY 1
      |), stats AS (
      | SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(len) AS avglen FROM dlen
      |), qterms AS (
      | SELECT token FROM tok GROUP BY token
      | ORDER BY count(*) DESC, token LIMIT 3
      |), tf AS (
      | SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      | FROM tok JOIN qterms USING (token) GROUP BY 1, 2
      |), df AS (
      | SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
      |)
      |SELECT doc_id,
      |  round(sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
      |    * (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75
      |        + 0.75 * dlen.len / stats.avglen)))), 4) AS bm25,
      |  CAST(count(*) AS BIGINT) AS n_terms_hit
      |FROM tf JOIN df USING (token) JOIN dlen USING (doc_id), stats
      |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q157

  /** Number of merge rules q157 learns. */
  val BpeMerges = 8

  /** End-of-word marker symbol: a single SPACE. Collision-proof by
    * construction on both sides — words come from splitting text ON
    * SPACES, so no base symbol can ever be a space; and a MERGED
    * symbol is always the concatenation of ≥2 base symbols (length
    * ≥ 2, so it can never equal any 1-char string). A printable
    * multi-char marker like "</w>" would NOT be safe: three merges
    * over HTML-ish text build the literal symbol "</w>" and silently
    * alias it. */
  val BpeEow = " "

  /** Merge application semantics (the original BPE paper's, per rule):
    * greedy leftmost, one rule at a time in rank order — "aaa" under
    * (a,a) becomes [aa, a]. Implemented since r19 by the codegen'd
    * [[graft.functions.ApplyBpeMerges]] kernel (one call per plan, the
    * whole rank-ordered table via plan references); previously a
    * foldLeft of per-merge interpreted aggregate HOFs with the same
    * fold semantics, pinned bit-identical by TextStatsSpec's
    * abab/aaaa/banana identity tests and the reference trainer. */

  /** q157: BPE MERGE TRAINING (Sennrich et al., ACL 2016) — learn the
    * top [[BpeMerges]] byte-pair merges from the corpus and report the
    * merge table (rank, left, right, merged, weighted pair count).
    * q36 counts tokens under a FIXED BPE-ish rule; this LEARNS the
    * rules — the tokenizer-induction step at the head of every LLM
    * data pipeline.
    *
    * 100 TB shape (how real trainers work, distributed): the corpus
    * collapses ONCE to the (word, count) vocabulary digest — the only
    * full-text pass — and every merge iteration runs on that persisted
    * digest: adjacent-pair explode weighted by word count, map-side-
    * combined pair sum, top-1 to the driver (ONE row per iteration,
    * the k-means/logreg iterate-via-aggregation discipline), then the
    * merge applies lazily as a fold expression for the next
    * iteration's pairs. Expression depth grows by one fold per learned
    * rule — bounded by BpeMerges, not the corpus. The digest is
    * unpersisted after the merge table materializes (nMerges rows).
    * Ties break (count desc, left asc, right asc) under Spark's
    * binary (UTF-8 byte) string ordering — the spec's reference
    * trainer compares UTF-8 bytes too, since Java's natural String
    * order (UTF-16 code units) disagrees for supplementary-plane
    * symbols. Rows-only: the iterative
    * argmax is not single-query SQL; TextStatsSpec pins the table
    * against a reference in-memory trainer and on a hand-computable
    * planted corpus. */
  /** `endOfWord = true` is the actual Sennrich setup: each word's
    * symbol sequence ends with [[BpeEow]], so the trainer can learn
    * word-FINAL units (suffixes) distinctly from word-internal ones —
    * without it "s" mid-word and "s" at word end are the same symbol
    * and suffix structure is invisible. See the q157 scaladoc above
    * for the distributed shape and tie-break contract. */
  def bpeTrain(docs: DataFrame, nMerges: Int,
               endOfWord: Boolean = false): DataFrame =
    bpeTrainFromVocab(
      docs.select(explode(toks(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("wc")),
      nMerges, endOfWord)

  /** Merge training over an ALREADY-BUILT (w, wc) vocabulary digest —
    * the entry point for digests a pipeline maintains incrementally.
    * The streaming additive ledger keyed on the word string produces
    * exactly this frame, so a tokenizer refresh re-runs ONLY the merge
    * iterations (O(vocab) each) without re-scanning the corpus:
    * LedgerStreamSpec pins ledger-fed ≡ corpus-scan merge tables. */
  /** Base symbols of a word column `w`: one character per array slot.
    * ONE definition on purpose — the trainer and the encoder must
    * split words identically or trained merges silently stop matching
    * encode-time symbols (round-14 review hoisted the two copies). */
  private val wordChars =
    expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")

  def bpeTrainFromVocab(vocabCounts: DataFrame, nMerges: Int,
                        endOfWord: Boolean = false): DataFrame = {
    val s = vocabCounts.sparkSession
    val chars = wordChars
    val symsCol = if (endOfWord) concat(chars, array(lit(BpeEow))) else chars
    val vocab = IterFit.rebindNoAqe(vocabCounts
      // guard the incremental-refresh entry point against correction
      // residue: an over-retracted ledger legitimately holds wc ≤ 0
      // rows (LedgerStreamSpec's randomized trial produces them), and
      // a negative wc fed into the merge loop silently SUBTRACTS from
      // pair statistics; empty words carry no pairs but would add an
      // all-NULL/empty symbol row. Matches the corpus-scan path's
      // length(w) > 0 filter.
      .filter(col("wc") > 0 && length(col("w")) > 0)
      .select(col("wc").cast("long").as("wc"), symsCol.as("syms")))
      .persist()
    val learned = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var done = false
    try for (rank <- 1 to nMerges if !done) {
      // r19: the learned merges apply via ONE codegen'd kernel call
      // (ApplyBpeMerges — identical greedy-leftmost fold semantics per
      // merge, rank order) instead of a per-merge interpreted HOF
      // chain whose inlined literals recompiled the round's generated
      // class every iteration; the table rides plan references, so
      // all rounds share one compiled stage.
      val syms = graft.functions.NativeExprs.applyBpeMerges(
        col("syms"), learned.toSeq.map { case (_, a, b, _) => (a, b) })
      // the pair explode reads the CURRENT symbols — alias the folded
      // expression to `s` for the SQL-string transform below
      val topNow = vocab.select(col("wc"), syms.as("s"))
        // sequence(1, 0) counts DOWN (the shinglesOfTokens trap), so
        // single-symbol words need the explicit empty branch
        .select(col("wc"), explode(expr(
          "CASE WHEN size(s) < 2 THEN array() ELSE " +
          "transform(sequence(1, size(s) - 1), i -> struct(element_at(s, i) AS l, element_at(s, i + 1) AS r)) END")
        ).as("p"))
        .select(col("wc"), col("p.l").as("l"), col("p.r").as("r"))
        .groupBy(col("l"), col("r")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (topNow.isEmpty) done = true
      else {
        val r = topNow.head
        learned += ((rank, r.getString(0), r.getString(1), r.getLong(2)))
      }
    }
    // finally: a failed/cancelled iteration job must not pin the
    // cached vocabulary digest for the rest of the session
    finally vocab.unpersist()
    import s.implicits._
    learned.toSeq.toDF("rank", "left", "right", "pair_count")
      .select(col("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("pair_count"))
      .orderBy(col("rank"))
  }

  def q157BpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrain(documents(s, d), BpeMerges)

  /** `␟`-wrapped symbol encoding of a character-split word expression:
    * each character becomes `␟c␟`, concatenated — i.e. join with a
    * DOUBLE separator and cap both ends with a single one. Shared by
    * every v0/e0 stage so the three construction sites cannot drift. */
  private def symEncodeSql(wordExpr: String): String =
    s"chr(31) || array_to_string(regexp_split_to_array($wordExpr, ''), chr(31)||chr(31)) || chr(31)"

  /** One merge (l, r) applied to a `␟`-wrapped encoding `s`: replace
    * `␟l␟␟r␟` with `␟lr␟`. See the q157 oracle scaladoc for why the
    * per-symbol wrapping makes leftmost non-overlapping replace ≡ the
    * greedy-leftmost fold. */
  private def mergeReplaceSql: String =
    "replace(s, chr(31)||l||chr(31)||chr(31)||r||chr(31), chr(31)||l||r||chr(31))"

  /** The [[BpeMerges]] unrolled training stages shared by the q157 and
    * q177 oracles: p-k (weighted adjacent-pair counts), t-k (the
    * round's argmax merge), v-k (the merge applied to the training
    * vocab strings). */
  private def bpeTrainStagesSql: String =
    (1 to BpeMerges).map { k =>
      val j = k - 1
      s""", p$k AS (
        | SELECT l, r, CAST(sum(wc) AS BIGINT) AS cnt FROM (
        |  SELECT wc, sy[i] AS l, sy[i+1] AS r
        |  FROM (SELECT wc, list_filter(str_split(s, chr(31)), x -> x <> '') AS sy FROM v$j),
        |       LATERAL unnest(range(1, len(sy))) AS u(i)
        | ) GROUP BY l, r
        |), t$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1
        |), v$k AS (
        | SELECT wc, $mergeReplaceSql AS s
        | FROM v$j, t$k
        |)""".stripMargin
    }.mkString("\n")

  /** The q157 oracle — the q187 unrolled-iteration recipe applied to
    * BPE (round-16 promotion; previously rows-only as "iterative
    * argmax"): each of the [[BpeMerges]] rounds is one CTE stage —
    * weighted adjacent-pair counts, top-1 by (count desc, left, right)
    * (binary collation; the corpus is pure printable ASCII, so DuckDB's
    * codepoint order ≡ Spark's UTF-8 byte order), then the merge
    * applied via leftmost non-overlapping string `replace` over a
    * chr(31)-WRAPPED symbol encoding: each symbol is stored as
    * `␟sym␟` with its OWN separator pair, so a word is the plain
    * concatenation `␟a␟␟b␟␟a␟␟b␟` and the merge pattern is
    * `␟l␟␟r␟ → ␟lr␟`. Adjacent occurrences of the winning pair then
    * share NO characters, so leftmost non-overlapping `replace` is
    * exactly the [[graft.functions.ApplyBpeMerges]] greedy-leftmost fold — `abab` under
    * (a,b) becomes `␟ab␟␟ab␟` ≡ the fold's [ab, ab]. (The round-16
    * single-separator encoding `␟a␟b␟a␟b␟` was NOT: the first match
    * consumed the separator the second needed, so `replace` skipped
    * every second back-to-back occurrence while the fold merged both —
    * the round-17 HIGH advice fix, pinned by TextStatsSpec's
    * abab/aaaa/banana identity tests.) chr(31) is safe as a separator
    * because tokens are space-split (cannot contain 0x20) and the
    * corpus is printable ASCII (verified; non-ASCII would also break
    * the per-character split equivalence); splitting on chr(31) and
    * dropping empties recovers the symbol sequence. Assumes every round
    * finds a pair (any corpus with a 2+-char word does for 8 rounds);
    * the trainer's early-stop branch would shorten BOTH sides' output
    * only via an empty t-stage cross join — acceptable for an oracle
    * that the gate runs on real corpora. */
  val q157Sql: String = {
    val union = (1 to BpeMerges).map(k =>
      s"""SELECT $k AS rank, l AS "left", r AS "right", l||r AS merged, cnt AS pair_count FROM t$k""")
      .mkString(" UNION ALL ")
    s"""WITH vocab AS (
      | SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
      |  SELECT unnest(str_split(text, ' ')) AS w FROM documents)
      | WHERE length(w) > 0 GROUP BY w
      |), v0 AS (
      | SELECT wc, ${symEncodeSql("w")} AS s
      | FROM vocab
      |)$bpeTrainStagesSql
      |SELECT * FROM ($union) ORDER BY rank""".stripMargin
  }

  /** The q177 oracle — train (shared stages above, global vocab),
    * then ENCODE the per-source vocab by applying the learned merges
    * in rank order (e-k stages: the same leftmost-replace ≡
    * greedy-leftmost-fold identity as q157Sql) and roll up the
    * per-source token stats. Promoted from rows-only with q157
    * (round 16): the whole arc is deterministic given the corpus. */
  val q177Sql: String = {
    val encStages = (1 to BpeMerges).map { k =>
      val j = k - 1
      s""", e$k AS (
        | SELECT source, w, wc, $mergeReplaceSql AS s
        | FROM e$j, t$k
        |)""".stripMargin
    }.mkString("\n")
    s"""WITH srcvocab AS (
      | SELECT source, w, CAST(count(*) AS BIGINT) AS wc FROM (
      |  SELECT source, unnest(str_split(text, ' ')) AS w FROM documents)
      | WHERE length(w) > 0 GROUP BY source, w
      |), vocab AS (SELECT w, CAST(sum(wc) AS BIGINT) AS wc FROM srcvocab GROUP BY w
      |), v0 AS (
      | SELECT wc, ${symEncodeSql("w")} AS s
      | FROM vocab
      |)$bpeTrainStagesSql
      |, e0 AS (
      | SELECT source, w, wc, ${symEncodeSql("w")} AS s
      | FROM srcvocab
      |)$encStages
      |SELECT source, CAST(sum(wc) AS BIGINT) AS n_words,
      | CAST(sum(wc * len(list_filter(str_split(s, chr(31)), x -> x <> ''))) AS BIGINT) AS bpe_tokens,
      | round(CAST(sum(wc * length(w)) AS DOUBLE) /
      |       sum(wc * len(list_filter(str_split(s, chr(31)), x -> x <> ''))), 4) AS chars_per_token
      |FROM e$BpeMerges GROUP BY source ORDER BY source""".stripMargin
  }

  /** q177: BPE ENCODE — the APPLY step q157's training exists for:
    * tokenize the corpus under the learned merge table and report
    * per-source token counts and compression (chars per BPE token) —
    * the number a token-budgeted pipeline (q64/q83) actually needs
    * from a trained tokenizer.
    *
    * 100 TB shape (how real tokenizers deploy): merges apply to the
    * (source, word, count) VOCABULARY digest — the corpus's only
    * full-text pass is the word explode feeding one partial-aggregated
    * count — so the per-word merge fold (expression depth = nMerges,
    * bounded) runs once per DISTINCT word, not once per occurrence;
    * totals re-weight by word count. Encode uses the same
    * [[graft.functions.ApplyBpeMerges]] kernel the trainer's iterations used, so train and
    * encode agree on merge semantics BY CONSTRUCTION. Rows-only (the
    * trained table comes from q157's iterative argmax);
    * TextStatsSpec pins the stats against a driver-side reference
    * encoder and the merges-monotonicity property (more merges never
    * increase the token count). */
  def q177BpeEncode(s: SparkSession, d: String): DataFrame =
    bpeEncodeStats(documents(s, d), BpeMerges)

  def bpeEncodeStats(docs: DataFrame, nMerges: Int): DataFrame = {
    // ONE full-text pass (round-14 review): the per-source vocab
    // digest feeds BOTH the trainer (rolled up across sources) and
    // the encode stats — calling bpeTrain(docs, ...) re-exploded the
    // whole corpus a second time just to rebuild the same counts
    val srcVocab = Graph.ckpt(docs
      .select(col("source"), explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("wc")))
    val merges = bpeTrainFromVocab(
        srcVocab.groupBy(col("w")).agg(sum(col("wc")).as("wc")), nMerges)
      .collect()
      .map(r => (r.getString(1), r.getString(2))) // (left, right), rank order
    val chars = wordChars
    // r19: one kernel call over the full rank-ordered table (see
    // bpeTrainFromVocab) instead of nMerges chained interpreted HOFs
    val encoded = graft.functions.NativeExprs.applyBpeMerges(chars, merges.toSeq)
    srcVocab
      .select(col("source"), col("wc"),
        size(encoded).cast("long").as("n_syms"),
        length(col("w")).cast("long").as("n_chars"))
      .groupBy(col("source"))
      .agg(sum(col("wc")).as("n_words"),
           sum(col("wc") * col("n_syms")).as("bpe_tokens"),
           round(sum(col("wc") * col("n_chars")).cast("double") /
                 sum(col("wc") * col("n_syms")), 4).as("chars_per_token"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q94

  /** Redaction patterns: email-shaped and 555-prefixed phone-shaped
    * spans. Both stay inside the regex subset Java and RE2 interpret
    * identically (literal classes, +, {n} — no backrefs/lookarounds),
    * so the Spark path and the DuckDB oracle agree by construction. */
  val EmailPattern = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  val PhonePattern = "555-[0-9]{4}"

  /** PII scrubbing over any (doc_id, text) frame: per-doc match counts
    * plus the redacted text (emails → &lt;EMAIL&gt;, phones →
    * &lt;PHONE&gt;). Pure map-side string work — codegen'd
    * regexp_count/regexp_replace, no shuffle at all until a consumer
    * aggregates; at 100 TB this is the embarrassingly-parallel scrub
    * pass every training corpus takes before packing. */
  def piiRedact(docs: DataFrame): DataFrame =
    // Column-API regexp functions throughout: an expr() formulation
    // would push the pattern through SQL string-literal unescaping,
    // where non-ANSI parsing can silently strip the `\.` backslash —
    // the count and replace paths must read the IDENTICAL pattern
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailPattern)).cast("bigint").as("n_emails"),
      regexp_count(col("text"), lit(PhonePattern)).cast("bigint").as("n_phones"),
      regexp_replace(regexp_replace(col("text"), EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>").as("redacted"))

  /** q94: the scrub pass, oracle-hash-verified down to the redacted
    * STRINGS. The synthetic corpus contains no PII by construction, so
    * the query plants a deterministic doc_id-derived contact block
    * inline (1 email + doc_id%3 phone numbers per doc) — the plant is
    * part of the query on BOTH sides, so the full match-count and
    * replacement semantics are exercised and hash-compared end-to-end
    * rather than trivially zero. */
  def q94PiiRedact(s: SparkSession, d: String): DataFrame =
    piiRedact(documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" user"), col("doc_id").cast("string"),
          lit("@example.com"),
          expr("repeat(concat(' 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))," +
               " CAST(doc_id % 3 AS INT))")).as("text")))
      .orderBy(col("doc_id"))

  val q94Sql: String =
    """WITH aug AS (
      | SELECT doc_id,
      |   text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
      |   repeat(' 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
      |          CAST(doc_id % 3 AS INT)) AS t
      | FROM documents
      |)
      |SELECT doc_id,
      | CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS n_emails,
      | CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
      | regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
      |                '555-[0-9]{4}', '<PHONE>', 'g') AS redacted
      |FROM aug ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q95

  /** Vocabulary cutoff for q95 — the corpus draws from a ~31-token
    * shared vocabulary, so top-16 leaves a meaningful OOV tail. */
  val VocabTopV = 16

  /** Per-source OOV-rate scoring against the corpus top-V vocabulary —
    * the vocabulary-coverage triage a tokenizer-bound pipeline runs:
    * a source whose tokens fall outside the working vocabulary is
    * noise, the wrong language, or format junk, and OOV rate is the
    * cheapest signal for it.
    *
    * 100 TB shape: scan 1 builds the (token, count) table with
    * map-side combine and keeps only the top-V rows (vocab-sized,
    * broadcast); scan 2 re-explodes tokens and left-joins the
    * BROADCAST vocab in-partition — corpus tokens never shuffle; the
    * per-doc aggregation collapses map-side (each doc's tokens live
    * in one partition post-explode), so the only real exchange
    * carries per-source scalar partials. Two linear corpus scans,
    * zero token shuffles. */
  def vocabCoverage(docs: DataFrame, topV: Int): DataFrame = {
    val tok = docs.select(col("source"), col("doc_id"),
      explode(toks(col("text"))).as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc).limit(topV)
      .select(col("token"), lit(true).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
           sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("n_oov").cast("double") / col("n_tok")), 4).as("avg_oov"))
      .orderBy(col("source"))
  }

  /** q95: OOV-rate per source over the documents corpus. */
  def q95VocabCoverage(s: SparkSession, d: String): DataFrame =
    vocabCoverage(documents(s, d), VocabTopV)

  val q95Sql: String =
    s"""WITH tok AS (
      | SELECT source, doc_id, unnest(str_split(text, ' ')) AS token FROM documents
      |), vocab AS (
      | SELECT token FROM (SELECT token, count(*) AS c FROM tok GROUP BY 1)
      | ORDER BY c DESC, token LIMIT $VocabTopV
      |), per_doc AS (
      | SELECT source, doc_id, count(*) AS n_tok,
      |   sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
      | FROM tok LEFT JOIN vocab v USING (token)
      | GROUP BY source, doc_id
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      | round(avg(CAST(n_oov AS DOUBLE) / n_tok), 4) AS avg_oov
      |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q96

  /** Boilerplate span width and the document-frequency floor: spans of
    * [[BoilerplateN]] tokens appearing in ≥ [[BoilerplateMinDf]]
    * distinct documents are boilerplate findings. */
  val BoilerplateN = 8
  val BoilerplateMinDf = 3L

  /** Sizing of the survivor-fp Bloom filter that gates span-string
    * recovery in [[boilerplateSpans]]: 2²² expected items at 1% fpp ≈
    * 5 MB — broadcast-trivial, and generous against any survivor set a
    * templated corpus slice this size produces. A larger corpus can
    * only saturate it (higher fpp ⇒ more strings built then dropped by
    * the exact join), never corrupt it. */
  val BoilerplateBloomItems: Long = 1L << 22

  /** CROSS-DOCUMENT BOILERPLATE detection — n-token spans repeated
    * verbatim across many documents (headers, footers, license
    * blurbs, templated navigation): the repeated-substring filter
    * every web-scale corpus curation pipeline runs (C4's dedup of
    * three-sentence spans is this shape). q73 measures repetition
    * WITHIN a doc; this finds spans shared ACROSS docs.
    *
    * 100 TB shape, two phases over two linear scans:
    *  1. df counting on 8-byte xxhash64 window fingerprints
    *     ([[graft.functions.ShingleHashes]], distinct per doc) — the
    *     exchange carries (fp BIGINT, partial count) only, NEVER span
    *     strings (a string-keyed groupBy would shuffle ~corpus-sized
    *     text; PlanShapeSpec pins the fp-only exchange). Survivors
    *     (df ≥ minDf) are a tiny frame.
    *  2. string recovery for survivors only: re-scan, zip the ALIGNED
    *     fp and string window arrays, explode, join the survivor
    *     counts. The join is deliberately UNHINTED (round-13 verdict:
    *     a forced broadcast here was the suite's last unbounded one —
    *     the survivor set is content-dependent, and a heavily
    *     templated web crawl, the exact corpus a boilerplate pass
    *     exists for, yields billions of survivors and a driver OOM).
    *     AQE sees the ACTUAL post-aggregation size at the shuffle
    *     boundary and picks the broadcast join whenever survivors
    *     genuinely fit (the common case — PlanShapeSpec pins the
    *     adaptive demotion at test scale); when they don't, the
    *     shuffle join's span-string exchange is pruned map-side by
    *     Spark's runtime Bloom/semi-join filter on fp, so the strings
    *     that move are ~output-sized, not corpus-sized. Fp collisions
    *     would merge two spans' counts (~|spans|²/2⁶⁴ — negligible;
    *     the distinct() keeps both strings, so a collision is
    *     visible, not silent). */
  def boilerplateSpans(docs: DataFrame, n: Int, minDf: Long): DataFrame = {
    val toksCol = split(col("text"), " ")
    val fpCounts = docs
      .select(col("doc_id"), explode(Dedup.shingleFps(col("text"), n)).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDf)
    // r19 (guide §8 / §3.2): the old recovery pass materialized the
    // SPAN STRING for every position in the corpus (concat_ws over an
    // n-token slice, per token position) only for the join to throw
    // ~all of them away — measured 2.3–3.0 s of q96's ~3 s at sf0.1,
    // ~90% of the second pass. Now the string is built only for
    // positions whose fp passes a Bloom filter over the survivor set:
    // positions leave the scan as (pos, fp) next to the token array,
    // the filter prunes map-side IN the scan stage, and the slim
    // (span, fp) survivor rows feed the same unhinted join. Nothing
    // about the exchange story changes: the token array never reaches
    // the join (dropped in the same stage), the join input still
    // carries ~survivor-sized span strings, and AQE still picks the
    // join side. The filter is sized for [[BoilerplateBloomItems]]
    // fps at 1% fpp (a few MB); a corpus whose survivor set dwarfs
    // that (billions of templated spans) saturates it and the cost
    // degrades GRACEFULLY to exactly the old build-everything pass —
    // false positives only ever build a string the join then drops,
    // so the result is identical at every scale.
    // (one eager pass over the fpCounts plan; the join below re-derives
    // it lazily — same one-derivation cost the old single reference
    // paid, plus this digest-sized build)
    val bf = fpCounts.stat.bloomFilter("fp", BoilerplateBloomItems, 0.01)
    docs
      .select(toksCol.as("t"),
        posexplode(graft.functions.NativeExprs.shingleHashes(toksCol, n)).as(Seq("pos", "fp")))
      .filter(graft.functions.NativeExprs.bloomContainsLong(col("fp"), bf))
      .select(concat_ws(" ", slice(col("t"), col("pos") + 1, lit(n))).as("span"), col("fp"))
      .join(fpCounts, Seq("fp"))
      .select(col("span"), col("n_docs"))
      .distinct()
      .orderBy(col("n_docs").desc, col("span").asc)
  }

  /** q96: boilerplate spans over the documents corpus. */
  def q96Boilerplate(s: SparkSession, d: String): DataFrame =
    boilerplateSpans(documents(s, d), BoilerplateN, BoilerplateMinDf)

  /** Shingle width for the q180 novelty audit. */
  val NoveltyN = 5

  /** q180: FIRST-OCCURRENCE NOVELTY AUDIT — per source, how much of
    * each document's content is NEW to the corpus: the fraction of a
    * doc's distinct 5-gram shingles whose corpus-wide FIRST occurrence
    * (min doc_id) is that doc. The RefinedWeb-style duplicated-n-gram
    * quality signal, inter-document where q73's repetition rules are
    * intra-document: a doc that mostly restates earlier docs scores
    * low even when no single near-duplicate pair exists (paste-ups of
    * many sources evade pairwise dedup entirely). `n_mostly_dup`
    * counts docs with novelty < 0.5 — the rows a curation pass
    * quarantines.
    *
    * Scale shape: ONE corpus pass — shingles leave the scan as 8-byte
    * xxhash64 fps (never span text), the first-occurrence attribution
    * is a min window PARTITIONED BY fp (each partition is one
    * shingle's occurrence list — value-domain bounded, no fact-sized
    * partition), and everything after is two partial-aggregated
    * reductions. No join, no second scan. Oracle mirrors the logic
    * over span STRINGS (DuckDB can't compute xxhash64) — identical in
    * the collision-free regime the q96/TextStatsSpec discipline
    * already pins for this corpus. Docs shorter than the shingle
    * width carry no shingles and are excluded (novelty undefined). */
  def q180NoveltyAudit(s: SparkSession, d: String): DataFrame =
    noveltyAudit(documents(s, d))

  /** The per-doc intermediate of [[noveltyAudit]]: `(source, doc_id,
    * total, novel)` distinct-shingle counts. Exposed so
    * [[IncrementalNovelty]]'s batch-wise replay can be pinned equal to
    * this corpus-wide pass. */
  def noveltyPerDoc(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs
      .select(col("source"), col("doc_id"),
        explode(Dedup.shingleFps(col("text"), NoveltyN)).as("fp"))
    val w = Window.partitionBy(col("fp"))
    sh.withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("total"),
           sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
  }

  def noveltyAudit(docs: DataFrame): DataFrame =
    noveltyPerDoc(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("novel").cast("double") / col("total")), 4).as("mean_novelty"),
           sum(when(col("novel") * 2 < col("total"), 1L).otherwise(0L)).as("n_mostly_dup"))
      .orderBy(col("source"))

  val q180Sql: String = {
    val n = NoveltyN
    s"""WITH sh AS (
      | SELECT source, doc_id, unnest(list_distinct([array_to_string(t[i:i+${n - 1}], ' ')
      |   for i in range(1, len(t) - ${n - 2})])) AS span
      | FROM (SELECT source, doc_id, str_split(text, ' ') AS t FROM documents)
      | WHERE len(t) >= $n
      |), f AS (
      | SELECT source, doc_id,
      |   min(doc_id) OVER (PARTITION BY span) AS first_doc
      | FROM sh
      |), per_doc AS (
      | SELECT source, doc_id, count(*) AS total,
      |   sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS novel
      | FROM f GROUP BY source, doc_id
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(CAST(novel AS DOUBLE) / total), 4) AS mean_novelty,
      |  CAST(sum(CASE WHEN novel * 2 < total THEN 1 ELSE 0 END) AS BIGINT) AS n_mostly_dup
      |FROM per_doc GROUP BY source ORDER BY source""".stripMargin
  }

  val q96Sql: String = {
    val n = BoilerplateN
    s"""WITH sh AS (
      | SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+${n - 1}], ' ')
      |   for i in range(1, len(t) - ${n - 2})])) AS span
      | FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)
      | WHERE len(t) >= $n
      |)
      |SELECT span, CAST(count(*) AS BIGINT) AS n_docs
      |FROM sh GROUP BY span HAVING count(*) >= $BoilerplateMinDf
      |ORDER BY n_docs DESC, span""".stripMargin
  }

  // --------------------------------------------------------------- q104

  val CmsDepth = 4
  val CmsWidth = 1024

  /** Probe set: the corpus's six stopwords plus two tokens that never
    * occur — a fixed external vocabulary, the CMS use case (frequency
    * of tokens CHOSEN AFTER the scan; SpaceSaving can only answer for
    * tokens the stream itself promoted). */
  val CmsProbes: Seq[String] = stopwords ++ Seq("zzz_absent", "qqq_absent")

  /** Per-source CMS over ANY (source, token) stream + probe estimates
    * for `probes` — reusable core so tests can drive planted frames
    * and tiny widths. Output: (source, token, est_n). */
  def cmsProbe(tokens: DataFrame, probes: Seq[String],
               depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame =
    tokens
      .groupBy(col("source"))
      .agg(graft.functions.CountMinAgg.countMinSketch(col("token"), depth, width)
        .as("cms"))
      .select(col("source"), explode(typedLit(probes)).as("token"), col("cms"))
      .select(col("source"), col("token"),
        graft.functions.CountMinAgg.cmsEstimate(col("cms"), col("token"), depth, width)
          .as("est_n"))

  /** q104: Count–Min point-frequency estimates next to exact counts —
    * per (source, probe token) the exact occurrence count and the CMS
    * estimate. The exact side exists to EXHIBIT the guarantee
    * (true ≤ est ≤ true + εN) at test scale; production probes the
    * sketch alone — one 32 KB summary per source instead of the full
    * (source, token) wordcount exchange. Rows-only (DuckDB has no
    * CMS); CmsSpec pins exact-regime equality, the overestimate-only
    * direction, partition independence, and the planted-collision
    * bound. */
  def q104CmsFreq(s: SparkSession, d: String): DataFrame = {
    val tokens = documents(s, d)
      .select(col("source"), explode(toks(col("text"))).as("token"))
    val exact = tokens
      .filter(col("token").isin(CmsProbes: _*))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("exact_n"))
    cmsProbe(tokens, CmsProbes)
      .join(exact, Seq("source", "token"), "left")
      .select(col("source"), col("token"),
        coalesce(col("exact_n"), lit(0L)).as("exact_n"), col("est_n"))
      .orderBy(col("source"), col("token"))
  }

  // --------------------------------------------------------------- q106

  /** q106: token FREQUENCY SPECTRUM per source — vocabulary size,
    * hapax (count=1) and dis (count=2) legomena, hapax fraction, and
    * the top token frequency. The frequency-of-frequencies profile is
    * a standard corpus-health check: natural text follows Zipf
    * (hapax_frac ≈ 0.4–0.6); templated or machine-generated text
    * collapses the spectrum (tiny vocab, low hapax), while OCR noise
    * or encoding junk inflates it toward 1.0. Complements q95 (OOV
    * against a global vocab) with a per-source intrinsic signal.
    *
    * 100 TB shape: tokens leave the scan as (source, 8-byte xxhash64
    * fp) — the first groupBy partially aggregates map-side so the
    * exchange carries (source, fp, partial n), never token strings
    * (collision odds across a 10^6-token vocab ~1e-7, and a collision
    * merges two counts without changing the spectrum materially); the
    * second aggregation reduces a vocab-sized frame to one row per
    * source. The oracle groups by the token STRING — same counts. */
  def tokenSpectrum(docs: DataFrame): DataFrame =
    spectrumOfCounts(docs
      .select(col("source"), explode(toks(col("text"))).as("token"))
      .select(col("source"), xxhash64(col("token")).as("fp"))
      .groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("n")))

  /** The spectrum readout over an ALREADY-BUILT (source, fp, n) vocab
    * digest — the entry point for digests a pipeline maintains
    * incrementally (the streaming additive ledger keyed (source, fp)
    * produces exactly this frame; LedgerStreamSpec pins ledger-fed ≡
    * corpus-scan spectra). */
  def spectrumOfCounts(tf: DataFrame): DataFrame =
    tf
      // the ledger entry point needs the same correction-residue guard
      // as bpeTrainFromVocab (round-14 review): an over-retracted
      // additive ledger legitimately holds n <= 0 rows (the purge only
      // drops EXACT zeros), and counting them would inflate vocab and
      // deflate hapax_frac vs a corpus re-scan — the exact equality
      // LedgerStreamSpec pins. No-op for scan-built digests (n >= 1).
      .filter(col("n") > 0)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("vocab"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("n") === 2, 1L).otherwise(0L)).as("dis"),
        round(sum(when(col("n") === 1, 1d).otherwise(0d)) / count(lit(1)), 6)
          .as("hapax_frac"),
        max(col("n")).as("top_freq"))
      .orderBy(col("source"))

  def q106TokenSpectrum(s: SparkSession, d: String): DataFrame =
    tokenSpectrum(documents(s, d))

  val q106Sql: String =
    """WITH tf AS (
      | SELECT source, token, count(*) AS n
      | FROM (SELECT source, unnest(str_split(text, ' ')) AS token FROM documents)
      | GROUP BY source, token
      |)
      |SELECT source,
      | CAST(count(*) AS BIGINT) AS vocab,
      | CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      | CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
      | round(sum(CASE WHEN n = 1 THEN 1.0 ELSE 0.0 END) / count(*), 6) AS hapax_frac,
      | CAST(max(n) AS BIGINT) AS top_freq
      |FROM tf GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q107

  /** q107: per-document token ENTROPY — H = log2(n) − Σ c·log2(c) / n
    * over the doc's token counts. Low entropy flags repetitive /
    * templated / keyword-stuffed text that q73's duplicate-word
    * fraction expresses more bluntly; it is the Shannon form of the
    * same "too little information per token" quality gate.
    *
    * 100 TB shape: ZERO shuffle — the counts come from row-local
    * array expressions (distinct tokens × occurrence filter inside
    * one codegen'd projection), so the pass is embarrassingly
    * parallel and composes map-side in front of any filter. The
    * per-row cost is O(distinct·n) — bounded by doc length, the same
    * trade q73 makes to stay shuffle-free. Bounded ids keep the
    * oracle's list-comprehension mirror cheap; the operator itself
    * has no bound. */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    // the Σ c·log2(c) fold runs over SORTED counts on both engines
    // (round-14 review): array_distinct preserves first-occurrence
    // order while DuckDB's list_distinct REORDERS, and double
    // addition is non-associative — a doc whose terms summed in two
    // different orders can land a last-ulp apart and flip round(.,6)
    // on a rounding boundary. Ascending count order is canonical.
    val cnts = expr(
      "array_sort(transform(array_distinct(split(text, ' ')), " +
        "t -> size(filter(split(text, ' '), x -> x = t))))")
    val n = size(t).cast("double")
    docs.select(
        col("doc_id"),
        size(t).cast("bigint").as("n_tokens"),
        size(array_distinct(t)).cast("bigint").as("n_distinct"),
        round(log2(n) -
          aggregate(cnts, lit(0.0), (a, c) => a + c * log2(c)) / n, 6)
          .as("entropy"))
  }

  def q107TokenEntropy(s: SparkSession, d: String): DataFrame =
    tokenEntropy(documents(s, d).filter(col("doc_id") < 1200))
      .orderBy(col("doc_id"))

  val q107Sql: String =
    """WITH d AS (
      | SELECT doc_id, str_split(text, ' ') AS t FROM documents WHERE doc_id < 1200
      |), c AS (
      | SELECT doc_id, t,
      |   list_sort(list_transform(list_distinct(t),
      |     u -> len(list_filter(t, x -> x = u)))) AS cnts
      | FROM d
      |)
      |SELECT doc_id,
      | CAST(len(t) AS BIGINT) AS n_tokens,
      | CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
      | round(log2(len(t))
      |   - list_sum(list_transform(cnts, c -> c * log2(c))) / len(t), 6) AS entropy
      |FROM c ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q123

  /** q123: HEAPS-LAW vocabulary growth per source — cumulative
    * distinct-vocabulary size at each decile of the source's document
    * stream (doc_id order). Natural text grows vocabulary as a power
    * law (V ∝ N^β, β ≈ 0.5–0.7 — Heaps 1978); a templated source
    * flattens almost immediately, and a source whose curve is still
    * near-linear at the last decile is mostly novel content — the
    * growth-side complement of q106's static spectrum and a direct
    * "will more of this source keep adding new tokens" signal for
    * data mixing.
    *
    * 100 TB shape: deciles come from a per-source row_number window
    * over (id, rank) scalars; tokens leave the scan as (source,
    * xxhash64 fp, rank) and first-occurrence is a map-side-combined
    * min — the exchange carries 8-byte fps (q106 discipline, counts
    * only in the output); everything after operates on the
    * vocab-sized first-occurrence digest, and the cumulative window
    * covers ≤10 rows per source. Decile arithmetic is integer
    * (((fr−1)·10) div n) — bit-identical across engines. */
  def heapsLaw(docs: DataFrame): DataFrame = {
    // rank over an ids-only frame — ranking the raw docs frame would
    // drag the text column through the window's by-source exchange
    // (Catalyst can't prune below a Window); the token fps meet the
    // ranks in a by-doc_id join where both sides are scalars/fps
    val ranks = docs.select(col("source"), col("doc_id"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))))
    val n = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val firstRank = docs
      .select(col("doc_id"),
        explode(array_distinct(toks(col("text")))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("fp"))
      .join(ranks, Seq("doc_id"))
      .groupBy(col("source"), col("fp"))
      .agg(min(col("r")).as("fr"))
    val hist = firstRank.join(broadcast(n), Seq("source"))
      .select(col("source"),
        (expr("((fr - 1) * 10) div n_docs") + 1).as("decile"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("new_tokens"))
    hist
      .withColumn("vocab_cum", sum(col("new_tokens")).over(
        Window.partitionBy(col("source")).orderBy(col("decile"))))
      .orderBy(col("source"), col("decile"))
  }

  def q123HeapsLaw(s: SparkSession, d: String): DataFrame =
    heapsLaw(documents(s, d))

  val q123Sql: String =
    """WITH ranked AS (
      | SELECT source, str_split(text, ' ') AS t,
      |   row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
      | FROM documents
      |), n AS (
      | SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      | FROM documents GROUP BY source
      |), first AS (
      | SELECT source, tok, min(r) AS fr
      | FROM (SELECT source, r, unnest(list_distinct(t)) AS tok FROM ranked)
      | GROUP BY source, tok
      |), hist AS (
      | SELECT f.source, ((fr - 1) * 10) // n_docs + 1 AS decile,
      |   CAST(count(*) AS BIGINT) AS new_tokens
      | FROM first f JOIN n USING (source) GROUP BY 1, 2
      |)
      |SELECT source, decile, new_tokens,
      |  CAST(sum(new_tokens) OVER (PARTITION BY source ORDER BY decile) AS BIGINT)
      |    AS vocab_cum
      |FROM hist ORDER BY source, decile""".stripMargin

  // --------------------------------------------------------------- q127

  /** Bigram count floor for PMI — rare pairs make PMI explode toward
    * log2(N) (the classic low-count pathology), so association mining
    * standardly floors the pair count. */
  val PmiMinCount = 25L

  /** q127: POINTWISE MUTUAL INFORMATION over adjacent token pairs —
    * PMI(a,b) = log2(p(ab) / (p(a)p(b))), the classic collocation /
    * association score (Church & Hanks 1990): high-PMI pairs are
    * multi-word expressions ("new york"), near-zero pairs co-occur by
    * chance, negative pairs repel. Corpus-health use: a natural corpus
    * has a long positive PMI tail; templated text shows a few enormous
    * PMI pairs and nothing else.
    *
    * 100 TB shape: one scan explodes to adjacent pairs (map-side
    * zip of the token array with its tail — no self-join) and
    * partial-aggregates the (a, b) counts; unigram counts re-aggregate
    * the pair digest's margins... no — they need their own count (last
    * token of each doc joins no pair), so a second map-side-combined
    * wordcount runs on the same scan shape. Both digests are
    * vocab-sized; the unigram side broadcasts back onto the pair
    * frame twice. Token strings cross the exchange once each as
    * digest keys (bounded by vocab, not corpus — the q34 wordcount
    * argument; fps would save bytes but the PAIR table is the output
    * here, so the strings are needed). */
  def pmiBigrams(docs: DataFrame, minCount: Long): DataFrame = {
    val t = toks(col("text"))
    val pairs = docs
      .select(explode(arrays_zip(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))).as("a"),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))).as("b"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    // the unigram digest is consumed THREE times (a-side, b-side,
    // total) and Spark re-runs the corpus explode per consumer (the
    // measured q82/q85 non-reuse) — materialize the vocab-sized
    // digest once (the q187/q196 localCheckpoint idiom)
    val uni = Graph.ckpt(docs.select(explode(t).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w")))
    // n_pairs = Σ(len−1) = n_tokens − n_docs (split() output is never
    // empty): derived from the unigram digest + a metadata-only row
    // count instead of a third corpus tokenization
    val nTotal = uni.agg(sum(col("n_w")).as("n_tokens"))
    val nPairs = nTotal.crossJoin(docs.agg(count(lit(1)).as("n_docs")))
      .select((col("n_tokens") - col("n_docs")).as("n_pairs"))
    // the vocab-sized uni joins are left to the planner (the q112
    // rule: a forced broadcast of an unbounded digest bypasses the
    // threshold and OOMs at real vocab scale; AQE still broadcasts
    // the materialized digest whenever it is actually small) — only
    // the one-row totals keep their hints
    pairs
      .join(uni.select(col("w").as("a"), col("n_w").as("n_a")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("n_w").as("n_b")), Seq("b"))
      .crossJoin(broadcast(nTotal)).crossJoin(broadcast(nPairs))
      .select(col("a"), col("b"), col("n_ab"),
        round(log2((col("n_ab").cast("double") / col("n_pairs")) /
          ((col("n_a").cast("double") / col("n_tokens")) *
           (col("n_b").cast("double") / col("n_tokens")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(100)
  }

  def q127PmiBigrams(s: SparkSession, d: String): DataFrame =
    pmiBigrams(documents(s, d), PmiMinCount)

  val q127Sql: String =
    s"""WITH t AS (SELECT str_split(text, ' ') AS t FROM documents),
      |pairs AS (
      | SELECT t[i] AS a, t[i+1] AS b
      | FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t)
      |), pc AS (
      | SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM pairs
      | GROUP BY a, b HAVING count(*) >= $PmiMinCount
      |), uni AS (
      | SELECT w, CAST(count(*) AS BIGINT) AS n_w
      | FROM (SELECT unnest(t) AS w FROM t) GROUP BY w
      |), tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_tokens FROM uni),
      |np AS (SELECT n_tokens - (SELECT count(*) FROM documents) AS n_pairs FROM tot)
      |SELECT a, b, n_ab,
      |  round(log2((CAST(n_ab AS DOUBLE) / n_pairs)
      |    / ((CAST(ua.n_w AS DOUBLE) / n_tokens)
      |       * (CAST(ub.n_w AS DOUBLE) / n_tokens))), 6) AS pmi
      |FROM pc JOIN uni ua ON pc.a = ua.w JOIN uni ub ON pc.b = ub.w, tot, np
      |ORDER BY pmi DESC, a, b LIMIT 100""".stripMargin

  // --------------------------------------------------------------- q182

  /** Head size for the q182 rank–frequency fit. */
  val ZipfTopK = 100

  /** Salt width for q182's two-level top-k — the parallelism knob:
    * per-(lang, salt) partitions hold ~vocab/ZipfSaltW terms, so raise
    * it with the cluster (32 matches local[32]; a 1000-executor run
    * would use ~10⁴). */
  val ZipfSaltW = 32

  /** q182: ZIPF RANK–FREQUENCY FIT — per language, the log-log OLS
    * slope (and R²) of term frequency against frequency rank over the
    * top-[[ZipfTopK]] terms, plus vocabulary/token totals. Natural
    * text runs ≈ −1; a flat slope exposes template/synthetic text
    * (this corpus reads ≈ −0.22), a steep one a spam/boilerplate
    * injection dominating the head. Completes the lexical-health
    * triple: q106 profiles the frequency spectrum (tail), q123 the
    * Heaps vocabulary-growth curve, q182 the rank head.
    *
    * Scale shape: term frequencies are ONE token-level aggregation;
    * the top-K extraction is the two-level distributed top-k — a
    * row_number within (lang, xxhash64(token) % [[ZipfSaltW]]) keeps
    * every term whose global rank could be ≤ K (its local rank lower-
    * bounds the global rank), then the exact rank runs over the
    * ≤ SaltW·K survivors per language — no window ever sees a full
    * vocabulary in one partition (q160's no-fact-sized-window
    * discipline applied to the vocab digest). Ties break on the term
    * string, so ranks — and hence the fit — are deterministic and
    * engine-portable; regr_slope/regr_r2 aggregate ln() of the SAME
    * (rank, freq) integer pairs in both engines. */
  def q182ZipfFit(s: SparkSession, d: String): DataFrame =
    zipfFit(documents(s, d))

  def zipfFit(docs: DataFrame): DataFrame = {
    // tf feeds BOTH the top-K ranking and the totals — two consumers
    // of an uncached aggregate re-run the corpus explode (the
    // measured q82/q85 non-reuse), so pin the vocab digest once (the
    // q127 uni idiom; round-14 review)
    val tf = Graph.ckpt(docs
      .select(col("lang"), explode(toks(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n")))
    val top = zipfTopTerms(tf)
    val fit = top.groupBy(col("lang")).agg(
      round(expr("regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE)))"), 4)
        .as("zipf_slope"),
      round(expr("regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE)))"), 4)
        .as("zipf_r2"))
    val totals = tf.groupBy(col("lang")).agg(
      count(lit(1)).as("n_terms"), sum(col("n")).as("total_tokens"))
    totals.join(fit, Seq("lang")).orderBy(col("lang"))
  }

  /** The two-level exact top-K over a `(lang, token, n)` frequency
    * frame: `(lang, token, n, rk)` with rk ≤ [[ZipfTopK]]. Exposed so
    * the spec can pin agreement with the naive single-window ranking. */
  def zipfTopTerms(tf: DataFrame): DataFrame = {
    val wSalt = Window
      .partitionBy(col("lang"), pmod(xxhash64(col("token")), lit(ZipfSaltW)))
      .orderBy(col("n").desc, col("token").asc)
    val wLang = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("token").asc)
    tf.withColumn("lrk", row_number().over(wSalt)).filter(col("lrk") <= ZipfTopK)
      .drop("lrk")
      .withColumn("rk", row_number().over(wLang)).filter(col("rk") <= ZipfTopK)
  }

  val q182Sql: String =
    s"""WITH tf AS (
      | SELECT lang, token, count(*) AS n
      | FROM (SELECT lang, unnest(str_split(text, ' ')) AS token FROM documents)
      | GROUP BY lang, token
      |), top AS (
      | SELECT lang, n,
      |   row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rk
      | FROM tf QUALIFY rk <= $ZipfTopK
      |), fit AS (
      | SELECT lang,
      |   round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 4) AS zipf_slope,
      |   round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 4) AS zipf_r2
      | FROM top GROUP BY lang
      |), tot AS (
      | SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
      |   CAST(sum(n) AS BIGINT) AS total_tokens
      | FROM tf GROUP BY lang
      |)
      |SELECT t.lang, n_terms, total_tokens, zipf_slope, zipf_r2
      |FROM tot t JOIN fit f ON t.lang = f.lang ORDER BY t.lang""".stripMargin

  /** q193: TOKENIZER FERTILITY BY PREDICTED LANGUAGE — BPE-ish tokens
    * per whitespace word (fertility) and characters per token, grouped
    * by the n-gram-identified language: q35's classifier composed with
    * q36's two tokenizers. The multilingual token-budget planner's
    * first table — fertility is why a byte/char budget and a token
    * budget disagree per language, and the LANGUAGE column on raw
    * crawl data is usually absent (hence the predicted label, not the
    * curated `lang`).
    *
    * Scale shape: entirely map-side — classifier, both token counts,
    * and the char count are codegen'd string/array expressions in one
    * projection; the only exchange is the final ≤|profiles|-group
    * aggregation of five BIGINT counters. */
  def q193LangFertility(s: SparkSession, d: String): DataFrame =
    langFertility(documents(s, d))

  /** q193 over any (text) frame — the planted-test surface. */
  def langFertility(docs: DataFrame): DataFrame = {
    docs
      .select(predictedLang.as("predicted_lang"),
        size(toks(col("text"))).cast("bigint").as("ws_n"),
        size(regexp_extract_all(col("text"), lit(bpePat), lit(0))).cast("bigint").as("bpe_n"),
        length(regexp_replace(col("text"), lit(" "), lit(""))).cast("bigint").as("nc"))
      .groupBy(col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_n")).as("ws_tokens"),
        sum(col("bpe_n")).as("bpe_tokens"),
        round(sum(col("bpe_n")).cast("double") / sum(col("ws_n")), 6).as("fertility"),
        round(sum(col("nc")).cast("double") / sum(col("bpe_n")), 6).as("chars_per_token"))
      .orderBy(col("predicted_lang"))
  }

  val q193Sql: String =
    s"""WITH t AS (
       | SELECT $predictedLangSql AS predicted_lang,
       |  CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_n,
       |  CAST(len(regexp_extract_all(text, '$bpePat')) AS BIGINT) AS bpe_n,
       |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS nc
       | FROM documents
       |)
       |SELECT predicted_lang, count(*) AS n_docs,
       | CAST(sum(ws_n) AS BIGINT) AS ws_tokens,
       | CAST(sum(bpe_n) AS BIGINT) AS bpe_tokens,
       | round(CAST(sum(bpe_n) AS DOUBLE) / sum(ws_n), 6) AS fertility,
       | round(CAST(sum(nc) AS DOUBLE) / sum(bpe_n), 6) AS chars_per_token
       |FROM t GROUP BY predicted_lang ORDER BY predicted_lang""".stripMargin

  /** q194: QUALITY-SCORE CALIBRATION vs the exact-duplicate label —
    * the reliability-diagram audit for a closed-form quality proxy:
    * bin documents by stopword fraction (q33's heuristic, normalized
    * to [0,1]) into fixed 0.1-wide bins and report each bin's
    * duplicate incidence. The go/no-go check before a score gates a
    * filter (q77's adaptive filter): if dup_rate doesn't move across
    * bins, the score adds nothing over random for dedup prioritization.
    * Fixed-width bins rather than ntile: a global rank would be one
    * all-data window (the shape the suite-wide PlanShapeSpec sweep
    * bans); floor(score·10) is map-side and identical in both engines.
    *
    * Scale shape: score and fingerprint are map-side; the one exchange
    * partitions by the 16 B md5 for the copy-count window (q188's
    * fp-partitioned discipline — never the text); bins then collapse
    * in a ≤10-group aggregation. */
  def q194QualityCalibration(s: SparkSession, d: String): DataFrame =
    qualityCalibration(documents(s, d))

  /** q194 over any (text) frame — the planted-test surface. */
  def qualityCalibration(docs: DataFrame): DataFrame = {
    val stopList = stopwordsSqlList
    val score =
      size(expr(s"filter(split(text, ' '), t -> t IN $stopList)")).cast("double") /
        size(toks(col("text"))).cast("double")
    docs
      .select(md5(col("text").cast("binary")).as("fp"), score.as("score"))
      .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .select(least(floor(col("score") * 10).cast("bigint"), lit(9L)).as("bin"),
        col("score"), when(col("n_copies") > 1, 1L).otherwise(0L).as("is_dup"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dups"),
        round(sum(col("is_dup")).cast("double") / count(lit(1)), 6).as("dup_rate"),
        round(avg(col("score")), 6).as("avg_score"))
      .orderBy(col("bin"))
  }

  val q194Sql: String = {
    val stopList = stopwordsSqlList
    s"""WITH t AS (
       | SELECT md5(text) AS fp,
       |  CAST(len(list_filter(str_split(text, ' '), t -> t IN $stopList)) AS DOUBLE)
       |    / len(str_split(text, ' ')) AS score
       | FROM documents
       |), w AS (
       | SELECT score, count(*) OVER (PARTITION BY fp) AS n_copies FROM t
       |)
       |SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
       | count(*) AS n_docs,
       | CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       | round(CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |       / count(*), 6) AS dup_rate,
       | round(avg(score), 6) AS avg_score
       |FROM w GROUP BY bin ORDER BY bin""".stripMargin
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q30_dedup_exact", q30DedupExact _, Some(q30Sql)),
    ("q31_fingerprint", q31Fingerprint _, Some(q31Sql)),
    ("q32_token_stats", q32TokenStats _, Some(q32Sql)),
    ("q33_quality_score", q33QualityScore _, Some(q33Sql)),
    ("q34_top_tokens", q34TopTokens _, Some(q34Sql)),
    ("q35_lang_id", q35LangId _, Some(q35Sql)),
    ("q36_bpe_tokens", q36BpeTokens _, Some(q36Sql)),
    ("q53_hll_distinct", q53HllDistinct _, None),
    ("q173_hll_rollup", q173HllRollup _, None),
    ("q73_repetition", q73Repetition _, Some(q73Sql)),
    ("q74_heavy_hitters", q74HeavyHitters _, None),
    ("q82_bigram_lm", q82BigramLm _, Some(q82Sql)),
    ("q85_tfidf", q85TfIdf _, Some(q85Sql)),
    ("q94_pii_redact", q94PiiRedact _, Some(q94Sql)),
    ("q95_vocab_coverage", q95VocabCoverage _, Some(q95Sql)),
    ("q96_boilerplate", q96Boilerplate _, Some(q96Sql)),
    ("q104_cms_freq", q104CmsFreq _, None),
    ("q106_token_spectrum", q106TokenSpectrum _, Some(q106Sql)),
    ("q107_token_entropy", q107TokenEntropy _, Some(q107Sql)),
    ("q123_heaps_law", q123HeapsLaw _, Some(q123Sql)),
    ("q127_pmi_bigrams", q127PmiBigrams _, Some(q127Sql)),
    ("q154_bm25", q154Bm25 _, Some(q154Sql)),
    ("q157_bpe_train", q157BpeTrain _, Some(q157Sql)),
    ("q177_bpe_encode", q177BpeEncode _, Some(q177Sql)),
    ("q180_novelty_audit", q180NoveltyAudit _, Some(q180Sql)),
    ("q182_zipf_fit", q182ZipfFit _, Some(q182Sql)),
    ("q193_lang_fertility", q193LangFertility _, Some(q193Sql)),
    ("q194_quality_calibration", q194QualityCalibration _, Some(q194Sql)),
  )


}
