package graft.ops

import scala.annotation.tailrec
import scala.util.{Failure, Success, Try}

/** Driver-side ingestion pacing + retry (SURVEY §2.1 S3/S4): the
  * offline analogue of the reference's crawl discipline — 25 s timeout
  * with 5 retries (/root/reference/mapwarper.js:12-16) and fixed
  * inter-request sleeps (SLEEP_MS, mapwarper.js:18,33-36).
  *
  * These run on the DRIVER around page acquisition (an inherently
  * serial, rate-limited courtesy loop); everything after the pages
  * land is distributed (`Mapwarper.readRecords` scans the spooled page
  * files with Spark's JSON source). Pure functions over an injected
  * fetch so they unit-test without a network.
  */
object Ingest {

  /** Up to `retries` re-attempts after the first failure. There is no
    * sleep here: in [[crawlToSpool]] every attempt waits on the
    * throttle inside its fetch. */
  def withRetry[T](retries: Int)(f: () => Try[T]): Try[T] = {
    @tailrec
    def loop(left: Int): Try[T] = f() match {
      case s @ Success(_) => s
      case fail @ Failure(_) => if (left <= 0) fail else loop(left - 1)
    }
    loop(retries)
  }

  /** Token-bucket throttle: at most one permit per `intervalMs`.
    * (The reference's fixed `SLEEP_MS` pacing generalized — a bucket
    * absorbs bursts without stretching total crawl time.) */
  final class Throttle(intervalMs: Long, clock: () => Long) {
    private var nextFree = 0L
    /** ms the caller must wait before proceeding; advances the bucket. */
    def acquireDelay(): Long = synchronized {
      val now = clock()
      val wait = math.max(0L, nextFree - now)
      nextFree = math.max(now, nextFree) + intervalMs
      wait
    }
  }

  /** Injectable HTTP transport (S3 online form) — the seam between the
    * crawl discipline (retry/throttle/pagination, pure and unit-tested)
    * and the wire. Tests inject a fake; production uses
    * [[JdkHttpTransport]]. */
  trait HttpTransport {
    def get(url: String): Try[String]
  }

  /** Live transport over java.net.HttpURLConnection with the
    * reference's GOT_OPTIONS timeout — 25 s
    * (/root/reference/mapwarper.js:12-16). Retries are layered on by
    * [[withRetry]] (the reference's `retries: 5`), not here. */
  final class JdkHttpTransport(timeoutMs: Int = 25000) extends HttpTransport {
    def get(url: String): Try[String] = Try {
      val conn = new java.net.URL(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setRequestProperty("Accept", "application/json")
      try {
        val code = conn.getResponseCode
        if (code >= 400) throw new java.io.IOException(s"HTTP $code for $url")
        val in = conn.getInputStream
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } finally conn.disconnect()
    }
  }

  /** Page-URL builder matching the reference's crawl surface
    * (/root/reference/mapwarper.js:20-26): 1-based pages, per_page
    * param omitted-page form for page 1. `page` here is 0-based. */
  def mapsPageUrl(baseUrl: String, perPage: Int)(page: Int): String = {
    val p = page + 1
    s"${baseUrl}maps.json?per_page=$perPage" + (if (p > 1) s"&page=$p" else "")
  }

  /** Splits a `{"items": [...]}` page body into one compact JSON line
    * per item (Jackson rides Spark's classpath). Driver-side only —
    * everything after the spool is Spark expressions over the declared
    * schema. */
  def itemLines(body: String): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(body)
    val items = root.get("items")
    if (items == null || !items.isArray) Seq.empty
    else (0 until items.size()).map(i => mapper.writeValueAsString(items.get(i)))
  }

  private def jsonQuote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The online crawl end-to-end: throttled, retried page fetches
    * through the injectable transport, each page's items ([[itemLines]])
    * spooled to its own page-NNNN.ndjson file in `outDir`. Returns the
    * page files in page order, ready for `Mapwarper.readRecords`. A
    * failed page becomes an in-band `{"type":"error"}` line — the
    * reference's error-record shape
    * (/root/reference/mapwarper.js:123-129) — never an exception. */
  def crawlToSpool(outDir: String, perPage: Int, retries: Int,
                   transport: HttpTransport, urlForPage: Int => String,
                   throttle: Option[Throttle] = None): Seq[java.io.File] = {
    val fetch: Int => Try[Seq[String]] = page => {
      throttle.foreach { t =>
        val wait = t.acquireDelay()
        if (wait > 0) Thread.sleep(wait)
      }
      transport.get(urlForPage(page)).map(itemLines)
    }
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    // clear STALE pages from a previous crawl into the same spool: a
    // shrunken upstream leaves orphan page-NNNN files past the new
    // last page, and a scan of the spool directory would read their
    // deleted records as live data (round-13 review)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("page-") && f.getName.endsWith(".ndjson"))
      .foreach(_.delete())
    fetchAllPages(perPage, retries)(fetch).map { case (page, result) =>
      val f = new java.io.File(dir, f"page-$page%04d.ndjson")
      val lines = result match {
        case Right(items) => items
        case Left(err) =>
          val url = jsonQuote(urlForPage(page))
          Seq(s"""{"type":"error","page":$page,"url":$url,"error":${jsonQuote(err)}}""")
      }
      java.nio.file.Files.write(f.toPath,
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      f
    }
  }

  /** Paginated fetch loop with in-band errors: pages are fetched
    * sequentially (rate-limited, like the reference's `series()`);
    * each result is Right(lines) or Left(error). A page that still
    * fails after its retries lands as one in-band Left(error) — which
    * [[crawlToSpool]] writes as a {type:'error'} record, mirroring
    * mapwarper.js:123-129 — and the crawl ends there: later pages are
    * not fetched. Otherwise it stops on the first short page
    * (termination rule, mapwarper.js:138-143). */
  def fetchAllPages(perPage: Int, retries: Int)(
      fetch: Int => Try[Seq[String]]): Seq[(Int, Either[String, Seq[String]])] = {
    val out = Seq.newBuilder[(Int, Either[String, Seq[String]])]
    var page = 0
    var done = false
    while (!done) {
      withRetry(retries)(() => fetch(page)) match {
        case Success(lines) =>
          out += ((page, Right(lines)))
          if (lines.length < perPage) done = true
        case Failure(e) =>
          // getMessage can be null (a bare NPE/timeout); the error text
          // feeds jsonQuote in crawlToSpool, which would itself NPE —
          // crashing the crawl the in-band channel exists to protect
          out += ((page, Left(Option(e.getMessage).getOrElse(e.getClass.getName))))
          done = true // can't trust total count after a hard failure
      }
      page += 1
    }
    out.result()
  }
}
