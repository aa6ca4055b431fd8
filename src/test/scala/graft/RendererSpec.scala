package graft

import graft.extract.{HtmlToSpans, SpanRenderers}
import org.scalatest.funsuite.AnyFunSuite

class RendererSpec extends AnyFunSuite with SharedSpark {

  private val html =
    """<html><head><title>Doc Title</title></head><body>
      |<h2>Intro</h2>
      |<p>First paragraph.</p>
      |<ul><li>item one</li><li>item two</li></ul>
      |<table><tr><th>H</th></tr><tr><td>C</td></tr></table>
      |<p>before <img src="/i.png" alt="pic"> after</p>
      |</body></html>""".stripMargin

  test("CSV renderer matches the reference dataframe format shape") {
    val d = HtmlToSpans.extract(html)
    val csv = SpanRenderers.toCsv("https://x/", d.title, d.spans)
    val lines = csv.split("\n")
    assert(lines(0).startsWith("DocEltType;DocEltCmd;NestingLevel;Text;Lang"))
    assert(lines(1) == "Document;Start;1;;;;;;;;;;")
    assert(lines.last == "Document;End;1;;;;;;;;;;")
    // section start carries the title at level 1, contents at level 2
    assert(lines.exists(_.startsWith("Section;Start;1;\"Intro\"")))
    assert(lines.exists(_.startsWith("TextBlock;Text;2;\"First paragraph.\"")))
    // media spans are dropped in the reference projection: alt folded in text
    assert(!csv.contains("Media"))
    assert(lines.exists(_.contains("\"before pic after\"")))
    // stats columns populated for text rows (words of "First paragraph.")
    val first = lines.find(_.contains("First paragraph.")).get
    val cols = first.split(";")
    assert(cols(6) == "2") // Words
    // start/end balanced per type
    def count(p: String) = lines.count(_.startsWith(p))
    assert(count("Section;Start") == count("Section;End"))
    assert(count("List;Start") == count("List;End"))
    assert(count("TableCell;Start") == count("TableCell;End"))
  }

  test("markdown renderer: headers, lists, tables, images") {
    val d = HtmlToSpans.extract(html)
    val md = SpanRenderers.toMarkdown(d.title, d.spans)
    assert(md.startsWith("# Doc Title"))
    assert(md.contains("## Intro"))
    assert(md.contains("First paragraph.\n"))
    assert(md.contains("- item one"))
    assert(md.contains("| H"))
    assert(md.contains("![pic](/i.png)"))
  }

  test("markdown tables are GFM: rows break at row boundaries, header separator") {
    val tableHtml =
      """<html><body><table>
        |<tr><th>Name</th><th>Age</th></tr>
        |<tr><td>Ada</td><td>36</td></tr>
        |<tr><td>Alan</td><td>41</td></tr>
        |</table></body></html>""".stripMargin
    val d = HtmlToSpans.extract(tableHtml)
    val md = SpanRenderers.toMarkdown("", d.spans)
    // round-trip through a minimal GFM table parser: pipe-rows, a valid
    // separator after the header, and the original cells in order
    val lines = md.split("\n").filter(_.nonEmpty).toVector
    assert(lines.length == 4, md)
    assert(lines.forall(l => l.startsWith("|") && l.endsWith("|")), md)
    def cells(l: String): Vector[String] =
      l.stripPrefix("|").stripSuffix("|").split("\\|").map(_.trim).toVector
    assert(cells(lines(0)) == Vector("Name", "Age"))
    assert(cells(lines(1)).forall(_.matches(":?-{3,}:?")), s"separator ${lines(1)}")
    assert(cells(lines(1)).size == 2)
    assert(cells(lines(2)) == Vector("Ada", "36"))
    assert(cells(lines(3)) == Vector("Alan", "41"))
    // header-less table: no separator emitted, rows still break
    val noHeader = HtmlToSpans.extract(
      "<html><body><table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table></body></html>")
    val md2 = SpanRenderers.toMarkdown("", noHeader.spans)
    val lines2 = md2.split("\n").filter(_.nonEmpty).toVector
    assert(lines2.length == 2 && !md2.contains("---"), md2)
    assert(cells(lines2(0)) == Vector("a", "b") && cells(lines2(1)) == Vector("c", "d"))
  }

  test("markdown tables: '|' in cell text is escaped, not a column break") {
    val html =
      """<html><body><table>
        |<tr><th>Expr</th><th>Means</th></tr>
        |<tr><td>a|b</td><td>a or b</td></tr>
        |</table></body></html>""".stripMargin
    val d = HtmlToSpans.extract(html)
    val md = SpanRenderers.toMarkdown("", d.spans)
    val lines = md.split("\n").filter(_.nonEmpty).toVector
    assert(lines.length == 3, md)
    // a GFM parser splits on UNESCAPED pipes: the data row still has 2 cells
    def cells(l: String): Vector[String] = l.stripPrefix("|").stripSuffix("|")
      .split("(?<!\\\\)\\|").map(_.trim).toVector
    assert(cells(lines(2)) == Vector("a\\|b", "a or b"), md)
  }

  test("markdown tables: a rowspan in column 1 still breaks rows") {
    // row 2's first available cell is col 2 (col 1 occupied by the rowspan
    // continuation) — rows must break on the ROW coordinate, not col==1
    val html =
      """<html><body><table>
        |<tr><td rowspan="2">A</td><td>B</td></tr>
        |<tr><td>C</td></tr>
        |</table></body></html>""".stripMargin
    val d = HtmlToSpans.extract(html)
    val md = SpanRenderers.toMarkdown("", d.spans)
    val lines = md.split("\n").filter(_.nonEmpty).toVector
    assert(lines.length == 2, md)
    assert(lines(0).contains("A") && lines(0).contains("B") &&
      !lines(0).contains("C"), md)
    assert(lines(1).contains("C"), md)
  }

  test("preview.html tables: rows break on the row coordinate, <tr> closed") {
    val html =
      """<html><body><table>
        |<tr><td rowspan="2">A</td><td>B</td></tr>
        |<tr><td>C</td></tr>
        |</table></body></html>""".stripMargin
    val d = HtmlToSpans.extract(html)
    val prev = SpanRenderers.toPreviewHtml("https://x/", d.title, d.spans)
    assert("<tr>".r.findAllIn(prev).size == 2, prev)
    assert("</tr>".r.findAllIn(prev).size == 2, prev)
    // C sits in the SECOND row even though its first cell is col 2
    val rows = prev.split("<tr>").toVector
    assert(rows.length == 3)
    assert(rows(1).contains(">A") && rows(1).contains(">B") && !rows(1).contains(">C"), prev)
    assert(rows(2).contains(">C"), prev)
  }

  test("CSV round-trips uniqueness flags through the isUnique hook") {
    val d = HtmlToSpans.extract(html)
    val allDup = SpanRenderers.toCsv("https://x/", d.title, d.spans, _ => false)
    assert(allDup.contains(";false\n") && !allDup.contains(";true\n"))
  }

  test("preview.html renderer: head/body shape, sections, lists, tables, encode") {
    val d = HtmlToSpans.extract(html)
    val prev = SpanRenderers.toPreviewHtml("https://x/?a=1&b=2", d.title, d.spans)
    assert(prev.startsWith("<!doctype html>"))
    assert(prev.contains("<title>Doc Title</title>"))
    assert(prev.contains("bootstrap")) // stylesheet link like the reference
    assert(prev.contains("https://x/?a=1&amp;b=2")) // uri button, html-encoded
    assert(prev.contains("<h1>Intro</h1>")) // section title at level
    assert(prev.contains("<ul>") && prev.contains("<li>"))
    assert(prev.contains("<table>") && prev.contains("<tr>") &&
      prev.contains("<th>") && prev.contains("<td>"))
    assert(prev.contains("""<div class="p-2">First paragraph.</div>"""))
    assert(prev.contains("""<img class="p-2" src="/i.png" alt="pic">"""))
    assert(prev.trim.endsWith("</html>"))
  }

  test("preview rowspan/colspan attributes from cell coordinates") {
    val spanHtml =
      """<html><body><table>
        |<tr><td rowspan="2">a</td><td>b</td></tr>
        |<tr><td>c</td></tr>
        |</table></body></html>""".stripMargin
    val d = HtmlToSpans.extract(spanHtml)
    val prev = SpanRenderers.toPreviewHtml("https://x/", d.title, d.spans)
    assert(prev.contains("""<td rowspan="2">"""))
  }

  test("D4 pruning: non-unique blocks and fully-duplicate groups disappear") {
    import graft.core.TextStats
    val d = HtmlToSpans.extract(
      """<html><body>
        |<h2>Kept Section</h2><p>unique paragraph text</p>
        |<h2>Dup Section</h2><p>duplicated boilerplate text</p>
        |<ul><li>duplicated boilerplate text</li></ul>
        |</body></html>""".stripMargin)
    val dupHash = TextStats.textHash("duplicated boilerplate text")
    val isUnique = (h: Long) => h != dupHash
    val md = SpanRenderers.toMarkdown("T", d.spans, isUnique)
    assert(md.contains("unique paragraph text"))
    assert(!md.contains("duplicated boilerplate"))
    val prev = SpanRenderers.toPreviewHtml("https://x/", "T", d.spans, isUnique)
    assert(prev.contains("unique paragraph text"))
    assert(!prev.contains("duplicated boilerplate"))
    // the list that contained ONLY the duplicate block is pruned entirely
    assert(!prev.contains("<ul>"))
    // pruned view stays structurally valid
    assert(graft.core.SpanTree.validate(
      graft.core.SpanTree.pruneNonUnique(d.spans, isUnique)).isEmpty)
  }

  test("dataset card: front matter, size category, splits, website table") {
    import graft.ops.DatasetExport
    assert(DatasetExport.sizeCategory(500) == "n<1K")
    assert(DatasetExport.sizeCategory(5_000) == "1K<n<10K")
    assert(DatasetExport.sizeCategory(2_000_000) == "1M<n<10M")
    import spark.implicits._
    val prepared = Seq(
      ("https://a.com/1", "a.com", "train", 10L),
      ("https://a.com/2", "a.com", "test", 20L),
      ("https://b.com/3", "b.com", "train", 30L))
      .toDF("doc_id", "website", "split", "total_words")
    val card = DatasetExport.datasetCard(prepared, "my set", "en", 12345L)
    assert(card.startsWith("---\n"))
    assert(card.contains("size_categories: n<1K"))
    assert(card.contains("num_examples: 2")) // train
    assert(card.contains("download_size: 12345"))
    assert(card.contains("| a.com | 2 | 30 |"))
    assert(card.contains("| b.com | 1 | 30 |"))
    assert(card.contains("name: doc_id"))
  }
}
