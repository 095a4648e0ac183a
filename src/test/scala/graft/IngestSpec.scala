package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Ingest

class IngestSpec extends AnyFunSuite {

  test("withRetry: succeeds after transient failures, exhausts after limit") {
    var calls = 0
    val r = Ingest.withRetry(5)(() => {
      calls += 1
      if (calls < 3) Failure(new RuntimeException("transient")) else Success(42)
    })
    assert(r == Success(42) && calls == 3)

    var calls2 = 0
    val r2 = Ingest.withRetry(2)(() => { calls2 += 1; Failure(new RuntimeException("hard")): Try[Int] })
    assert(r2.isFailure && calls2 == 3) // initial try + 2 retries
  }

  test("throttle: spaces permits by the interval") {
    var now = 0L
    val t = new Ingest.Throttle(2000, () => now)
    assert(t.acquireDelay() == 0L)     // first permit free
    assert(t.acquireDelay() == 2000L)  // second must wait a full interval
    now = 5000L                        // long idle → bucket drained
    assert(t.acquireDelay() == 0L)
  }

  test("fetchAllPages: terminates on short page, errors stay in-band") {
    val pages = Map(
      0 -> Seq.fill(3)("r"), 1 -> Seq.fill(3)("r"), 2 -> Seq("r")) // short
    val got = Ingest.fetchAllPages(perPage = 3, retries = 0)(p => Success(pages(p)))
    assert(got.map(_._1) == Seq(0, 1, 2))
    assert(got.forall(_._2.isRight))

    var attempts = 0
    val flaky = Ingest.fetchAllPages(perPage = 3, retries = 3) {
      case 0 => Success(Seq.fill(3)("r"))
      case 1 => attempts += 1
        if (attempts < 3) Failure(new RuntimeException("503")) else Success(Seq("r"))
      case _ => fail("should have stopped")
    }
    assert(flaky == Seq((0, Right(Seq.fill(3)("r"))), (1, Right(Seq("r")))))

    val hard = Ingest.fetchAllPages(perPage = 3, retries = 1) {
      case 0 => Success(Seq.fill(3)("r"))
      case _ => Failure(new RuntimeException("down"))
    }
    assert(hard.map(_._1) == Seq(0, 1))
    assert(hard(1)._2 == Left("down"))
  }

  test("mapsPageUrl matches the reference's paginate() shape") {
    val url = Ingest.mapsPageUrl("http://maps.nypl.org/warper/", 250) _
    assert(url(0) == "http://maps.nypl.org/warper/maps.json?per_page=250")
    assert(url(1) == "http://maps.nypl.org/warper/maps.json?per_page=250&page=2")
  }

  test("itemLines splits a page body into one JSON line per item") {
    val body = """{"total_entries":3,"items":[{"id":1,"t":"a"},{"id":2}]}"""
    assert(Ingest.itemLines(body) == Seq("""{"id":1,"t":"a"}""", """{"id":2}"""))
    assert(Ingest.itemLines("""{"no_items":true}""") == Seq.empty)
  }

  test("crawlToSpool: fake transport end-to-end, retries absorb transient failures") {
    // 2 full pages + 1 short page; page 1 fails twice then succeeds
    // (inside the retry budget); throttle counts its permits
    var page1Attempts = 0
    val transport = new Ingest.HttpTransport {
      def get(url: String): Try[String] = url match {
        case u if u.endsWith("per_page=2") =>
          Success("""{"items":[{"id":0},{"id":1}]}""")
        case u if u.endsWith("page=2") =>
          page1Attempts += 1
          if (page1Attempts < 3) Failure(new RuntimeException("HTTP 503"))
          else Success("""{"items":[{"id":2},{"id":3}]}""")
        case _ => Success("""{"items":[{"id":4}]}""") // short ⇒ stop
      }
    }
    var now = 0L
    val throttle = new Ingest.Throttle(100, () => { now += 100; now })
    val dir = Files.createTempDirectory("crawl_spool").toString
    val files = Ingest.crawlToSpool(dir, perPage = 2, retries = 5, transport,
      Ingest.mapsPageUrl("http://maps.nypl.org/warper/", 2),
      throttle = Some(throttle))
    assert(files.map(_.getName) == Seq("page-0000.ndjson", "page-0001.ndjson", "page-0002.ndjson"))

    // no error lines: retries absorbed the 503s
    val lines = files.flatMap(f => Files.readAllLines(f.toPath).asScala)
    assert(lines == (0 to 4).map(i => s"""{"id":$i}"""))
    assert(page1Attempts == 3)
  }

  test("crawlToSpool: a hard page failure becomes an in-band error line") {
    val transport = new Ingest.HttpTransport {
      def get(url: String): Try[String] =
        if (url.endsWith("per_page=2")) Success("""{"items":[{"id":0},{"id":1}]}""")
        else Failure(new RuntimeException("connection refused"))
    }
    val dir = Files.createTempDirectory("crawl_err").toString
    val files = Ingest.crawlToSpool(dir, perPage = 2, retries = 1, transport,
      Ingest.mapsPageUrl("http://maps.nypl.org/warper/", 2))
    assert(files.length == 2)
    val errLine = Files.readString(files(1).toPath)
    assert(errLine.contains("\"type\":\"error\""))
    assert(errLine.contains("connection refused"))
    assert(errLine.contains("page=2")) // the failing URL rides in-band
  }

  test("crawlToSpool: a null-message exception still lands in-band, never crashes") {
    // getMessage is null on a bare NPE/timeout; the error text feeds
    // jsonQuote, which would itself NPE and crash the crawl the
    // in-band channel exists to protect (round-14 review)
    val transport = new Ingest.HttpTransport {
      def get(url: String): Try[String] =
        if (url.endsWith("per_page=2")) Success("""{"items":[{"id":0},{"id":1}]}""")
        else Failure(new NullPointerException())
    }
    val dir = Files.createTempDirectory("crawl_npe").toString
    val files = Ingest.crawlToSpool(dir, perPage = 2, retries = 0, transport,
      Ingest.mapsPageUrl("http://maps.nypl.org/warper/", 2))
    val errLine = Files.readString(files(1).toPath)
    assert(errLine.contains("\"type\":\"error\""))
    assert(errLine.contains("NullPointerException"), errLine)
  }
}
