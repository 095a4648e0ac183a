package graft

import scala.util.{Success, Try}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Ingest, Mapwarper, MapwarperFixture}

/** The reference's two steps end-to-end in one test (SURVEY §3.1-3.2):
  * download (paginated crawl through the injectable transport, spooled
  * one file per page) → transform (`Mapwarper.readRecords` over the
  * returned page files → validate → route → project). This is the path
  * the `mapwarper_etl` benchmark times. No network, no temp NDJSON
  * hand-staging — the spool IS the handoff, exactly the dirs.current →
  * dirs.previous materialization barrier the reference has between
  * steps (mapwarper.js:152, 424).
  */
class CrawlPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("crawl → spool → paged scan → transform produces the golden routing") {
    val perPage = 4

    // serves the fixture's tagged {"type":…,"data":…} lines as page items,
    // the form the transform step reads
    def pagedTransport(items: Seq[String]): Ingest.HttpTransport =
      new Ingest.HttpTransport {
        def get(url: String): Try[String] = {
          val page = "[?&]page=(\\d+)".r.findFirstMatchIn(url)
            .map(_.group(1).toInt).getOrElse(1) - 1
          val slice = items.slice(page * perPage, (page + 1) * perPage)
          Success(s"""{"items":[${slice.mkString(",")}]}""")
        }
      }

    val mapsDir = java.nio.file.Files.createTempDirectory("crawl_maps").toString
    val layersDir = java.nio.file.Files.createTempDirectory("crawl_layers").toString
    val mapFiles = Ingest.crawlToSpool(mapsDir, perPage, retries = 0,
      pagedTransport(MapwarperFixture.mapLines),
      Ingest.mapsPageUrl("http://maps.nypl.org/warper/", perPage))
    val layerFiles = Ingest.crawlToSpool(layersDir, perPage, retries = 0,
      pagedTransport(MapwarperFixture.layerLines),
      p => s"http://maps.nypl.org/warper/layers.json?per_page=$perPage&page=${p + 1}")

    val tagged = Mapwarper.pipeline(
      Mapwarper.readRecords(spark, (mapFiles ++ layerFiles).map(_.getPath)))

    // identical routing to the in-memory fixture parse (the golden path)
    val expected = Mapwarper.pipeline(
      Mapwarper.parseRecords(spark, MapwarperFixture.allLines))
    val a = tagged.select(to_json(struct(col("type"), col("obj"))).as("j"))
      .collect().map(_.getString(0)).sorted
    val b = expected.select(to_json(struct(col("type"), col("obj"))).as("j"))
      .collect().map(_.getString(0)).sorted
    assert(a.length == b.length && a.sameElements(b),
      s"crawled pipeline diverged from the fixture pipeline (${a.length} vs ${b.length} rows)")

    // and the spool really was paginated: 20 maps / 4 per page = 5 full
    // pages + the empty short page that terminates the crawl
    assert(mapFiles.length == 6)
  }
}
