package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Each output check passes the generator's own truth and rejects a
  * deliberately corrupted output. */
class ChecksSpec extends AnyFunSuite {

  private val truth = Gen.maps(9, 1500, 25).truth
  private val crawl = Checks.CrawlCounts(pages = 8, requests = 10, retries = 2, bytesSpooled = 1L)
  private def exact = Checks.MapOutput(truth.objects, truth.relations, truth.logs, truth.logRules, 1L)
  private def mapCheck(out: Checks.MapOutput, c: Checks.CrawlCounts = crawl) =
    Checks.mapwarper(truth, out, c, expectedPages = 8, injectedFailures = 2)

  test("mapwarper_etl: the exact tallies pass") {
    assert(mapCheck(exact).isEmpty)
  }

  test("mapwarper_etl: one dropped log record or log entry is rejected") {
    val e = exact
    assert(mapCheck(e.copy(logs = e.logs - 1)).nonEmpty)
    val rule = "self_intersection"
    assert(mapCheck(e.copy(logRules = e.logRules.updated(rule, e.logRules(rule) - 1))).nonEmpty)
  }

  test("mapwarper_etl: a lost relation, an extra object or a missed retry is rejected") {
    val e = exact
    assert(mapCheck(e.copy(relations = e.relations - 1)).nonEmpty)
    assert(mapCheck(e.copy(objects = e.objects + 1)).nonEmpty)
    assert(mapCheck(e, crawl.copy(retries = 1)).nonEmpty)
    assert(mapCheck(e, crawl.copy(pages = 7)).nonEmpty)
  }

  test("mapwarper_etl: output files are tallied per type and per log rule") {
    val dir: Path = Files.createTempDirectory("perfbench-out")
    def write(t: String, lines: String*): Unit = {
      val d = dir.resolve(s"type=$t"); Files.createDirectories(d)
      Files.write(d.resolve("part-00000.json"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.write(d.resolve(".part-00000.json.crc"), Array[Byte](1, 2))
    }
    write("object", """{"obj":{"id":"1"}}""", """{"obj":{"id":"layer-1"}}""")
    write("relation", """{"obj":{"from":"1","to":"layer-1"}}""")
    write("log",
      """{"obj":{"id":"2","logs":[{"type":"missing_uuid","message":"m"}]}}""",
      """{"obj":{"id":"3","logs":[{"type":"layer_error","message":"a"},{"type":"layer_error","message":"b"}]}}""")
    val out = Checks.readMapOutput(dir.toString)
    assert(out.objects == 2 && out.relations == 1 && out.logs == 2)
    assert(out.logRules == Map("missing_uuid" -> 1L, "layer_error" -> 2L))
    assert(out.bytes > 0)
  }

  private val corpus = Gen.docs(4, 2000, 0.1)
  private val planted = (corpus.required.flatten ++ corpus.fuzzy.flatten).toSet
  /** The output of a correct dedup: every background doc and every
    * group's original kept, every other group member dropped. */
  private val correctKept: Array[Long] =
    corpus.ids.filterNot(planted) ++ corpus.required.map(_.head)

  test("neardup: the correct clustering passes, fuzzy copies either way") {
    assert(Checks.neardup(corpus, correctKept).isEmpty)
    assert(Checks.neardup(corpus, correctKept ++ corpus.fuzzy.flatten).isEmpty)
  }

  test("neardup: a planted duplicate split out of its cluster is rejected") {
    val g = corpus.required.find(_.length > 1).get
    assert(Checks.neardup(corpus, correctKept :+ g(1)).nonEmpty)
  }

  test("neardup: merged background docs or a lost original are rejected") {
    val bg = corpus.ids.find(id => !planted(id)).get
    assert(Checks.neardup(corpus, correctKept.filterNot(_ == bg)).nonEmpty)
    val orig = corpus.required.head.head
    assert(Checks.neardup(corpus, correctKept.filterNot(_ == orig)).nonEmpty)
    assert(Checks.neardup(corpus, correctKept :+ correctKept.head).nonEmpty)
  }

  test("ingest: exactly the planted re-deliveries and copies must match") {
    val expected = Map(10L -> 3L, 11L -> 11L, 12L -> 5L)
    val matches = expected.toSeq
    assert(Checks.ingestBatch(1, expected, matches).isEmpty)
    assert(Checks.ingestBatch(1, expected, matches.filterNot(_._1 == 11L)).nonEmpty)
    assert(Checks.ingestBatch(1, expected, matches :+ (13L -> 4L)).nonEmpty)
    assert(Checks.ingestBatch(1, expected, matches.map { case (a, _) => a -> 0L }).nonEmpty)
  }
}
