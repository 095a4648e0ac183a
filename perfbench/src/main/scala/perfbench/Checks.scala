package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

/** Output checks against the generators' ground truth. Each returns the
  * list of discrepancies; empty means the output is correct. They work
  * on plain values so the benchmark's tests can feed them corrupted
  * outputs. */
object Checks {

  /** What a mapwarper_etl pass wrote, tallied from its files. */
  final case class MapOutput(objects: Long, relations: Long, logs: Long,
                             logRules: Map[String, Long], bytes: Long)

  /** What a crawl did, as counted by the benchmark's transport. */
  final case class CrawlCounts(pages: Long, requests: Long, retries: Long, bytesSpooled: Long)

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.isFile && f.getName.startsWith("part-"))

  /** Reads the `type=<t>/part-*` NDJSON directories `writeTagged`
    * leaves: line counts per record type, log entries per rule type. */
  def readMapOutput(outDir: String): MapOutput = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def lines(t: String): Iterator[String] =
      files(new File(outDir, s"type=$t")).iterator.flatMap { f =>
        java.nio.file.Files.readAllLines(f.toPath).asScala.iterator.filter(_.nonEmpty)
      }
    val rules = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var logs = 0L
    lines("log").foreach { l =>
      logs += 1
      mapper.readTree(l).get("obj").get("logs").elements().asScala
        .foreach(e => rules(e.get("type").asText()) += 1)
    }
    val bytes = Seq("object", "relation", "log")
      .flatMap(t => files(new File(outDir, s"type=$t"))).map(_.length).sum
    MapOutput(lines("object").size.toLong, lines("relation").size.toLong, logs,
      rules.toMap, bytes)
  }

  def mapwarper(truth: Gen.MapTruth, out: MapOutput, crawl: CrawlCounts,
                expectedPages: Long, injectedFailures: Long): Seq[String] = {
    def eq(what: String, got: Long, want: Long) =
      if (got == want) None else Some(s"$what: got $got, want $want")
    val ruleDiffs = (truth.logRules.keySet ++ out.logRules.keySet).toSeq.sorted.flatMap { k =>
      eq(s"log entries of rule $k", out.logRules.getOrElse(k, 0L), truth.logRules.getOrElse(k, 0L))
    }
    Seq(
      eq("objects", out.objects, truth.objects),
      eq("relations", out.relations, truth.relations),
      eq("logs", out.logs, truth.logs),
      eq("pages spooled", crawl.pages, expectedPages),
      eq("ingest retries", crawl.retries, injectedFailures)).flatten ++ ruleDiffs
  }

  /** neardup_batch: from the ids the dedup pass kept. Every planted
    * group must be one cluster (its original, the group's smallest id,
    * kept; its exact and set-preserving copies dropped), and no
    * background doc may be merged with anything (all kept). Fuzzy
    * copies may go either way. */
  def neardup(corpus: Gen.DocCorpus, kept: Array[Long]): Seq[String] = {
    val keptSet = kept.toSet
    val errs = Seq.newBuilder[String]
    if (keptSet.size != kept.length) errs += s"${kept.length - keptSet.size} doc ids kept twice"
    val planted = (corpus.required.iterator.flatten ++ corpus.fuzzy.iterator.flatten).toSet
    val lostBackground = corpus.ids.count(id => !planted(id) && !keptSet(id))
    if (lostBackground > 0) errs += s"$lostBackground background docs merged into a cluster"
    val lostOriginals = corpus.required.count(g => !keptSet(g.head))
    if (lostOriginals > 0) errs += s"$lostOriginals planted groups lost their original"
    val split = corpus.required.count(g => g.tail.exists(keptSet))
    if (split > 0) errs += s"$split planted groups split across clusters"
    val unknown = kept.count(id => id < 0 || id >= corpus.size)
    if (unknown > 0) errs += s"$unknown kept ids not in the corpus"
    errs.result()
  }

  /** dedup_ingest, one batch: the matched (new_id, match_id) pairs must
    * be exactly the planted re-deliveries and copies, each against the
    * indexed doc it was made from. */
  def ingestBatch(batch: Int, expected: Map[Long, Long],
                  matches: Seq[(Long, Long)]): Seq[String] = {
    val want = expected.toSet
    val got = matches.toSet
    val missed = want -- got
    val extra = got -- want
    Seq(
      if (missed.isEmpty) None
      else Some(s"batch $batch: ${missed.size} planted duplicates not matched, e.g. ${missed.head}"),
      if (extra.isEmpty) None
      else Some(s"batch $batch: ${extra.size} unexpected matches, e.g. ${extra.head}")).flatten
  }
}
