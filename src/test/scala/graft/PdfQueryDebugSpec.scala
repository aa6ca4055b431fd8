package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression oracle for `q_pdf_documents` — the query whose rows-only
  * driver check once hid a total text wipe-out: a fixture corpus whose
  * pages differed only by DIGITS was (correctly) removed wholesale by the
  * digit-insensitive decoration classifier, leaving 16 rows of zero
  * spans. This spec runs the REAL query and pins what the rows must
  * contain, so the fixture and extractor can't silently cancel each
  * other out again.
  */
class PdfQueryDebugSpec extends AnyFunSuite with SharedSpark {

  test("q_pdf_documents: every layout yields real text spans, decoration removed") {
    val rows = SparkEntry.queries("q_pdf_documents")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (
        r.getAs[String]("doc_id"),
        r.getAs[Int]("n_spans"), r.getAs[Int]("n_sections"),
        r.getAs[Int]("n_blocks"), r.getAs[Int]("n_media"),
        r.getAs[Boolean]("has_decoration")))
      .sortBy(_._1)
    assert(rows.length == 16)
    rows.foreach { case (id, nSpans, nSections, nBlocks, nMedia, hasDeco) =>
      val i = id.stripPrefix("pdf_").toInt
      val nPages = 2 + i % 3
      // per page: a Chapter heading (section) + paragraph + closing block
      assert(nSections == nPages, s"$id sections")
      assert(nBlocks >= 2 * nPages, s"$id blocks: $nBlocks")
      assert(nSpans > nBlocks, s"$id spans")
      // image-layout docs (i % 8 == 6) carry exactly one image per page
      if (i % 8 == 6) assert(nMedia == nPages, s"$id media")
      else assert(nMedia == 0, s"$id media")
      // the shared running header and page numbers must be REMOVED
      assert(!hasDeco, s"$id decoration survived")
    }
    // structural counts must follow ONLY from the page count, never from
    // the layout family: text-only docs with equal nPages agree exactly
    rows.groupBy { case (id, _, _, _, _, _) =>
      2 + id.stripPrefix("pdf_").toInt % 3
    }.foreach { case (nPages, group) =>
      val textOnly = group.filter { case (_, _, _, _, nMedia, _) => nMedia == 0 }
      assert(textOnly.map(g => (g._2, g._3, g._4)).distinct.size == 1,
        s"layouts disagree at $nPages pages: $textOnly")
    }
  }
}
