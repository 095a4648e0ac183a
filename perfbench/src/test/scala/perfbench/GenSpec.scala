package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def mapBytes(seed: Long): Seq[String] = {
    val c = Gen.maps(seed, 600, 20)
    Gen.pages(c.mapItems, 250).toSeq ++ Gen.pages(c.layerItems, 250)
  }

  private def docBytes(seed: Long): Seq[String] = {
    val c = Gen.docs(seed, 800, 0.1)
    val s = Gen.ingest(seed, c, 5, 40)
    c.ids.map(_.toString).toSeq ++ c.texts ++ s.batchIds.toSeq.flatMap(_.map(_.toString)) ++
      s.batchTexts.toSeq.flatten
  }

  test("the same seed gives byte-identical inputs; another seed does not") {
    assert(mapBytes(7) == mapBytes(7))
    assert(docBytes(7) == docBytes(7))
    assert(Gen.failingPages(7, 40) == Gen.failingPages(7, 40))
    assert(mapBytes(7) != mapBytes(8))
    assert(docBytes(7) != docBytes(8))
    // adjacent seeds draw unrelated inputs, not a shifted copy
    assert(Gen.maps(7, 600, 20).truth != Gen.maps(8, 600, 20).truth)
  }

  test("map truth tallies are consistent with the generated classes") {
    val t = Gen.maps(3, 2000, 30).truth
    assert(t.eligible + t.dropped == t.maps)
    assert(t.cleanMaps + t.deadMaps == t.eligible)
    assert(Gen.DeadRules.map(r => t.logRules.getOrElse(r, 0L)).sum == t.deadMaps)
    assert(Gen.DeadRules.forall(r => t.logRules.getOrElse(r, 0L) > 0), t.logRules)
    assert(t.pixelMaskMaps > 0 && t.layerErrorMaps > 0 && t.relations > 0)
  }

  test("every page set ends with a short page, and at least one request fails once") {
    val c = Gen.maps(5, 1000, 10)
    val pages = Gen.pages(c.mapItems, 250)
    assert(pages.length == 5 && pages.last == """{"items":[]}""")
    assert(Gen.failingPages(5, pages.length).nonEmpty)
  }

  test("planted doc groups: the original holds the smallest id of its group") {
    val c = Gen.docs(11, 3000, 0.1)
    assert(c.ids.distinct.length == c.size)
    assert(c.required.nonEmpty)
    c.required.zip(c.fuzzy).foreach { case (req, fz) =>
      assert((req ++ fz).min == req.head)
    }
    val planted = (c.required.flatten ++ c.fuzzy.flatten).length - c.required.length
    assert(math.abs(planted - 300) <= 4)
  }

  test("planted ingest duplicates point at indexed background docs") {
    val c = Gen.docs(2, 1000, 0.1)
    val s = Gen.ingest(2, c, 10, 60)
    val text = c.ids.zip(c.texts).toMap
    val grouped = (c.required.flatten ++ c.fuzzy.flatten).toSet
    assert(s.expected.head.isEmpty && s.expected.tail.exists(_.nonEmpty))
    for (b <- s.expected.indices; (newId, src) <- s.expected(b)) {
      assert(text.contains(src) && !grouped(src))
      val i = s.batchIds(b).indexOf(newId)
      assert(s.batchTexts(b)(i).split(" ").toSet == text(src).split(" ").toSet)
    }
  }
}
