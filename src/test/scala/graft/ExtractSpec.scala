package graft

import graft.core.{Span, SpanTree}
import graft.extract.{HtmlParser, HtmlToSpans}
import graft.crawl.SyntheticWeb
import org.scalatest.funsuite.AnyFunSuite

/** Golden HTML micro-fixtures (FIXTURES.md §3) — expected span sequences
  * hand-derived from the reference converter rules
  * (`html/HtmlDocumentConverter.cs`).
  */
class ExtractSpec extends AnyFunSuite {

  private def spansOf(html: String): Vector[Span] = HtmlToSpans.extract(html).spans
  private def kinds(spans: Seq[Span]): Seq[String] = spans.map(_.kind)
  private def ktext(spans: Seq[Span]): Seq[(String, String)] = spans.map(s => (s.kind, s.text))

  test("title_meta: <title> → doc title, no text block") {
    val d = HtmlToSpans.extract(
      "<html><head><title>My &amp; Title</title></head><body><p>body</p></body></html>")
    assert(d.title == "My & Title")
    assert(ktext(d.spans) == Seq(("TextBlock.Text", "body")))
  }

  test("headers_nesting: sibling headers nest by level, pop on equal/lower") {
    val html =
      """<html><body>
        |<h2>A</h2><p>pa</p>
        |<h3>B</h3><p>pb</p>
        |<h2>C</h2><p>pc</p>
        |</body></html>""".stripMargin
    assert(ktext(spansOf(html)) == Seq(
      ("Section.Start", "A"), ("TextBlock.Text", "pa"),
      ("Section.Start", "B"), ("TextBlock.Text", "pb"),
      ("Section.End", ""), ("Section.End", ""), // h2 C pops B then A
      ("Section.Start", "C"), ("TextBlock.Text", "pc"),
      ("Section.End", "")))
  }

  test("headers in containers: section attaches to the common container") {
    // two headers each wrapped in a div inside body: the header's section
    // must wrap its whole div (container registration, converter :67-171)
    val html =
      """<html><body>
        |<div><h2>A</h2><p>one</p></div>
        |<div><h2>B</h2><p>two</p></div>
        |</body></html>""".stripMargin
    val got = ktext(spansOf(html))
    assert(got == Seq(
      ("Section.Start", "A"), ("TextBlock.Text", "one"), ("Section.End", ""),
      ("Section.Start", "B"), ("TextBlock.Text", "two"), ("Section.End", "")),
      s"got: $got")
  }

  test("p[role=heading][aria-level] acts as header") {
    val html =
      """<html><body><p role="heading" aria-level="2">H</p><p>x</p></body></html>"""
    assert(ktext(spansOf(html)) == Seq(
      ("Section.Start", "H"), ("TextBlock.Text", "x"), ("Section.End", "")))
  }

  test("nav_vs_content_list") {
    val nav =
      """<html><body><ul>
        |<li><a href="/a">A</a></li><li><a href="/b">B</a></li>
        |</ul></body></html>""".stripMargin
    assert(kinds(spansOf(nav)) == Seq(
      "NavigationList.Start", "ListItem.Start", "TextBlock.Text", "ListItem.End",
      "ListItem.Start", "TextBlock.Text", "ListItem.End", "NavigationList.End"))
    val content =
      """<html><body><ul><li>plain one</li><li>plain two</li></ul></body></html>"""
    assert(kinds(spansOf(content)).head == "List.Start")
    // one non-anchor child is still a nav list; two are not
    val mixed1 =
      """<html><body><ul><li><a href="/a">A</a></li><li><span>s</span></li></ul></body></html>"""
    assert(kinds(spansOf(mixed1)).head == "NavigationList.Start")
    val mixed2 =
      """<html><body><ul><li><span>s</span></li><li><span>t</span></li><li><a href="/a">A</a></li></ul></body></html>"""
    assert(kinds(spansOf(mixed2)).head == "List.Start")
  }

  test("table_spans: rowspan/colspan coordinate bookkeeping") {
    val html =
      """<html><body><table>
        |<tr><th rowspan="2">R</th><th>B</th></tr>
        |<tr><td>C</td></tr>
        |<tr><td colspan="2">W</td></tr>
        |</table></body></html>""".stripMargin
    val got = ktext(spansOf(html)).filter(x => x._1.endsWith(".Start") || x._1 == "TextBlock.Text")
    assert(got == Seq(
      ("Table.Start", ""),
      ("TableHeader.Start", "1:2,1:1"), ("TextBlock.Text", "R"),
      ("TableHeader.Start", "1,2"), ("TextBlock.Text", "B"),
      // row 2: col 1 occupied by the rowspan cell → C lands at 2,2
      ("TableCell.Start", "2,2"), ("TextBlock.Text", "C"),
      ("TableCell.Start", "3:1,1:2"), ("TextBlock.Text", "W")), s"got: $got")
  }

  test("hidden_elements are skipped") {
    val html =
      """<html><body>
        |<div class="menu hidden"><p>no</p></div>
        |<div class="search-bar"><p>no</p></div>
        |<div role="search"><p>no</p></div>
        |<div aria-hidden="true"><p>no</p></div>
        |<p class="loginbox">no</p>
        |<p>yes</p>
        |</body></html>""".stripMargin
    assert(ktext(spansOf(html)) == Seq(("TextBlock.Text", "yes")))
  }

  test("inline style display:none / visibility:hidden hides; overrides render") {
    val html =
      """<html><body>
        |<div style="display:none"><p>no</p></div>
        |<div style="color: red; DISPLAY: NONE ;"><p>no</p></div>
        |<p style="visibility:hidden">no</p>
        |<p style="visibility: collapse">no</p>
        |<div style="display: block"><p>block yes</p></div>
        |<p style="visibility: visible">visible yes</p>
        |<p style="display:inline-block">inline yes</p>
        |<div style="display: none !important"><p>no</p></div>
        |</body></html>""".stripMargin
    assert(ktext(spansOf(html)) == Seq(
      ("TextBlock.Text", "block yes"),
      ("TextBlock.Text", "visible yes"),
      ("TextBlock.Text", "inline yes")))
  }

  test("style-block CSS hides by class/id/tag; cascade + inline override") {
    val html =
      """<html><head><style>
        |@charset "utf-8";
        |/* comment with .decoy{display:none} inside */
        |.hid-cls { color: red; display: none; }
        |#hid-id { visibility: hidden }
        |aside { display: NONE }
        |div.combo.two { display: none }
        |.flip { display: none }
        |.flip { display: block } /* later rule wins at equal specificity */
        |p.spec { display: none }  /* beats .spec-only show below */
        |.spec { display: block }
        |.imp { display: none !important }
        |@media print { .print-only-hide { display: none } }
        |</style></head><body>
        |<div class="hid-cls"><p>no</p></div>
        |<div id="hid-id"><p>no</p></div>
        |<aside><p>no</p></aside>
        |<div class="combo two"><p>no</p></div>
        |<div class="combo"><p>combo-one yes</p></div>
        |<p class="flip">flip yes</p>
        |<p class="spec">no</p>
        |<div class="hid-cls" style="display:block"><p>inline-override yes</p></div>
        |<div class="imp" style="display:block"><p>no</p></div>
        |<p class="print-only-hide">print yes</p>
        |<p style="display:none !important; display:block">no</p>
        |<p>plain yes</p>
        |</body></html>""".stripMargin
    // the @charset statement must not swallow the first rule (.hid-cls);
    // inline important beats a LATER normal inline declaration
    assert(ktext(spansOf(html)) == Seq(
      ("TextBlock.Text", "combo-one yes"),
      ("TextBlock.Text", "flip yes"),
      ("TextBlock.Text", "inline-override yes"),
      ("TextBlock.Text", "print yes"),
      ("TextBlock.Text", "plain yes")))
  }

  test("@media screen/all blocks join the cascade; other media never hide") {
    val html =
      """<html><head><style>
        |@media screen { .scr-hide { display: none } }
        |@media only screen { .only-scr-hide { visibility: hidden } }
        |@media all { .all-hide { display: none } }
        |@media print { .print-hide { display: none } }
        |@media print, screen { .multi-hide { display: none } }
        |@media screen and (max-width: 600px) { .cond-hide { display: none } }
        |@media screen { @media all { .nested-hide { display: none } } }
        |@media screen { .scr-show { display: none } }
        |.scr-show { display: block } /* later, equal specificity: wins */
        |</style></head><body>
        |<p class="scr-hide">no</p>
        |<p class="only-scr-hide">no</p>
        |<p class="all-hide">no</p>
        |<p class="print-hide">print yes</p>
        |<p class="multi-hide">no</p>
        |<p class="cond-hide">cond yes</p>
        |<p class="nested-hide">no</p>
        |<p class="scr-show">order yes</p>
        |<p>plain yes</p>
        |</body></html>""".stripMargin
    // screen/all (incl. "only" prefix, comma lists, nesting) hide on the
    // default medium; print-only and viewport-conditioned blocks are the
    // documented conservative never-hide; source order is preserved across
    // the @media boundary (.scr-show)
    assert(ktext(spansOf(html)) == Seq(
      ("TextBlock.Text", "print yes"),
      ("TextBlock.Text", "cond yes"),
      ("TextBlock.Text", "order yes"),
      ("TextBlock.Text", "plain yes")))
  }

  test("external stylesheet text feeds the hidden-element evaluation") {
    val html =
      """<html><head><link rel="stylesheet" href="/site.css"></head><body>
        |<div class="ext-aside"><p>no</p></div>
        |<p>kept</p>
        |</body></html>""".stripMargin
    // without the sheet the div renders; with it, it hides
    assert(ktext(HtmlToSpans.extract(html).spans.toSeq)
      .contains(("TextBlock.Text", "no")))
    val d = HtmlToSpans.extract(html, Seq(".ext-aside { display: none }"))
    assert(ktext(d.spans.toSeq) == Seq(("TextBlock.Text", "kept")))
  }

  test("inline_blocks: inline fragments join with single spaces, entities decode") {
    val html =
      """<html><body><div>one <span>two</span> three&nbsp;&amp; four<p>inner block</p>tail</div></body></html>"""
    // <p> is a nested block: emitted first (inner closes before outer div)
    assert(ktext(spansOf(html)) == Seq(
      ("TextBlock.Text", "inner block"),
      ("TextBlock.Text", "one two three & four tail")))
  }

  test("images_links: img alt folded into block AND emitted as media span") {
    val html =
      """<html><body><p>before <img src="/i.png" alt="pic"> after</p>
        |<a href="/x" title="childless title"></a></body></html>""".stripMargin
    val d = HtmlToSpans.extract(html)
    assert(d.spans.map(s => (s.kind, s.text, s.media_ref)) == Seq(
      ("Media.Image", "pic", "/i.png"),
      ("TextBlock.Text", "before pic after", ""),
      ("TextBlock.Text", "childless title", "")))
    // reference parity projection: media span dropped
    assert(SpanTree.referenceRows(d.spans).map(_.kind) ==
      Seq("TextBlock.Text", "TextBlock.Text"))
  }

  test("img without alt yields media span only, no text") {
    val html = """<html><body><p>x <img src="/i.png"> y</p></body></html>"""
    assert(ktext(spansOf(html)) == Seq(
      ("Media.Image", ""), ("TextBlock.Text", "x y")))
  }

  test("script/style/svg/noscript skipped; raw text not parsed") {
    val html =
      """<html><body><script>var a = "<p>no</p>";</script><style>p{}</style>
        |<svg><text>no</text></svg><p>yes</p></body></html>""".stripMargin
    assert(ktext(spansOf(html)) == Seq(("TextBlock.Text", "yes")))
    // U+0130 lowercases to two chars: the close tag is found in place
    val dotted = "\u0130" * 12
    val after = s"<html><body><p>$dotted</p><SCRIPT>var a = 1;</Script><p>after</p></body></html>"
    assert(ktext(spansOf(after)) ==
      Seq(("TextBlock.Text", dotted), ("TextBlock.Text", "after")))
  }

  test("bare text directly in list/table containers is dropped (builder guard)") {
    // a block element directly inside <ul> closes while the current container
    // is List → its AddTextBlock is dropped (NLPTextDocumentBuilder.cs:56-65)
    val html = """<html><body><ul><p>dropped</p><li>kept</li></ul></body></html>"""
    assert(ktext(spansOf(html)) == Seq(
      ("List.Start", ""), ("ListItem.Start", ""), ("TextBlock.Text", "kept"),
      ("ListItem.End", ""), ("List.End", "")))
    // bare TEXT inside <ul> is NOT dropped: it appends to the still-open
    // enclosing block (body's), which closes after the list — reference
    // AppendText semantics (HtmlDocumentConverter.cs:624-637)
    val html2 = """<html><body><ul>stray<li>kept</li></ul></body></html>"""
    assert(ktext(spansOf(html2)) == Seq(
      ("List.Start", ""), ("ListItem.Start", ""), ("TextBlock.Text", "kept"),
      ("ListItem.End", ""), ("List.End", ""), ("TextBlock.Text", "stray")))
  }

  test("links: rel=nofollow excluded, meta robots nofollow detected, base href") {
    val dom = HtmlParser.parse(
      """<html><head><base href="https://b.com/dir/"><meta name="robots" content="NOFOLLOW"></head>
        |<body><a href="x.html">a</a><a rel="nofollow" href="/no">b</a></body></html>""".stripMargin)
    val (hrefs, base, noFollow) = HtmlToSpans.rawLinks(dom)
    assert(hrefs == Vector("x.html"))
    assert(base.contains("https://b.com/dir/"))
    assert(noFollow)
  }

  private val pageUrl = "https://a.com/one/two/page.html"
  private def outLinks(head: String, body: String): (Vector[String], Boolean) =
    HtmlToSpans.outLinks(
      HtmlParser.parse(s"<html><head>$head</head><body>$body</body></html>"), pageUrl)

  test("out-links resolve against the document base URL, first occurrence kept") {
    val body = """<a href="x.html">x</a><a href="/root">r</a><a href="x.html#frag">again</a>""" +
      """<a href="https://other.org/abs">abs</a>"""
    val cases = Seq(
      "" -> Seq("https://a.com/one/two/x.html", "https://a.com/root"),
      """<base href="https://b.com/dir/">""" -> Seq("https://b.com/dir/x.html", "https://b.com/root"),
      """<base href="//c.com/d/">""" -> Seq("https://c.com/d/x.html", "https://c.com/root"),
      """<base href="/docs/">""" -> Seq("https://a.com/docs/x.html", "https://a.com/root"),
      """<base href="../up/">""" -> Seq("https://a.com/one/up/x.html", "https://a.com/root"),
      """<base href="">""" -> Seq("https://a.com/one/two/x.html", "https://a.com/root"),
      // a base that does not resolve to an http(s) URL: the page URL
      """<base href="mailto:me@a.com">""" -> Seq("https://a.com/one/two/x.html", "https://a.com/root"),
      // the first <base> with an href wins
      """<base target="_top"><base href="/first/"><base href="/second/">""" ->
        Seq("https://a.com/first/x.html", "https://a.com/root"))
    cases.foreach { case (head, links) =>
      assert(outLinks(head, body) == ((links.toVector :+ "https://other.org/abs", false)), head)
    }
  }

  test("out-links skip rel=nofollow anchors; a robots-meta nofollow page has none") {
    val body = """<a href="a.html">a</a><a rel="nofollow" href="b.html">b</a>""" +
      """<a rel="external NoFollow" href="c.html">c</a><map><area href="d.html"></map>""" +
      """<a name="no-href">n</a>"""
    assert(outLinks("", body) ==
      ((Vector("https://a.com/one/two/a.html", "https://a.com/one/two/d.html"), false)))
    for (content <- Seq("nofollow", "NOINDEX, NOFOLLOW", "none")) {
      val head = s"""<meta name="Robots" content="$content">"""
      assert(outLinks(head, body) == ((Vector.empty, true)), content)
      assert(HtmlToSpans.extract(s"<html><head>$head</head><body>$body</body></html>").noFollow)
    }
    assert(outLinks("""<meta name="description" content="nofollow">""", body)._2 == false)
  }

  test("synthetic web: extractor reproduces generator ground truth exactly") {
    checkSite(SyntheticWeb.generate(SyntheticWeb.Spec(hosts = 3, pagesPerHost = 8, hotHostFactor = 2)))
  }

  test("generator ground truth holds across seeds and modes (fuzz)") {
    for (seed <- Seq(7L, 99L, 1234L)) {
      checkSite(SyntheticWeb.generate(SyntheticWeb.Spec(
        hosts = 2, pagesPerHost = 6, hotHostFactor = 2, fanout = 4, seed = seed)))
      checkSite(SyntheticWeb.generate(SyntheticWeb.Spec(
        hosts = 2, pagesPerHost = 6, hotHostFactor = 1, fanout = 8, seed = seed,
        treeLinks = true, sharedDomain = true)))
    }
  }

  private def checkSite(site: SyntheticWeb.Site): Unit = {
    var checked = 0
    site.expected.foreach { case (url, exp) =>
      val page = site.pages(url)
      val d = HtmlToSpans.extract(page.html)
      assert(d.title == exp.title, s"title mismatch for $url")
      assert(d.spans == exp.spans,
        s"span mismatch for $url:\n got=${d.spans}\n exp=${exp.spans}")
      val dom = HtmlParser.parse(page.html)
      assert(HtmlToSpans.rawLinks(dom)._1 == exp.rawHrefs, s"links mismatch for $url")
      assert(SpanTree.validate(d.spans).isEmpty, s"invalid spans for $url")
      checked += 1
    }
    assert(checked > 10)
  }
  test("fuzz: malformed <style> CSS and external sheets never throw or hang") {
    val rnd = new java.util.Random(4321)
    val atoms = Vector("{", "}", ";", ":", ",", "@media", "@import x", "@charset",
      "display", "none", "visibility", "hidden", ".cls", "#id", "div", "*",
      ">", "!important", "/*", "*/", "url(\"a{b\")", "\"", "'", " ", "é")
    (0 until 150).foreach { i =>
      val css = (0 until rnd.nextInt(60))
        .map(_ => atoms(rnd.nextInt(atoms.size))).mkString(" ")
      val html = s"<html><head><style>$css</style></head>" +
        "<body><div class=\"cls\" id=\"id\"><p>body text</p></div></body></html>"
      val d = HtmlToSpans.extract(html) // must not throw
      assert(SpanTree.validate(d.spans).isEmpty, s"fuzz css $i: $css")
      // and via the external-sheet path too
      val d2 = HtmlToSpans.extract(
        "<html><body><p>kept text</p></body></html>", Seq(css))
      assert(d2.spans.exists(_.text == "kept text"), s"fuzz css $i hid unrelated text")
    }
  }

  test("fuzz: extractors never throw and always emit valid span trees on " +
      "malformed input (crawler robustness)") {
    val rnd = new java.util.Random(1234)
    val tags = Vector("div", "p", "ul", "ol", "li", "table", "tr", "td", "th",
      "h1", "h2", "h3", "span", "a", "img", "nav", "script", "style", "b")
    val atoms = Vector("text", "&amp;", "&nbsp;", "&#xFFFF;", "&bogus;", "<",
      ">", "\"", "'", " ", "é", "𝄞", "a=b&c", "<!--", "-->", "]]>")
    def genHtml(budget: Int): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < budget) {
        rnd.nextInt(7) match {
          case 0 => sb.append('<').append(tags(rnd.nextInt(tags.size)))
            .append(if (rnd.nextBoolean()) s""" href="${atoms(rnd.nextInt(atoms.size))}"""" else "")
            .append(if (rnd.nextInt(4) == 0) "" else ">") // sometimes unclosed tag
          case 1 => sb.append("</").append(tags(rnd.nextInt(tags.size))).append('>')
          case 2 => sb.append(atoms(rnd.nextInt(atoms.size)))
          case 3 => sb.append(" plain words here ")
          case 4 => sb.append("<table><tr><td rowspan=") // broken mid-attribute
            .append(rnd.nextInt(3) - 1).append('>')
          case 5 => sb.append("<!-- comment ").append(if (rnd.nextBoolean()) "-->" else "")
          case _ => sb.append((0 until rnd.nextInt(8)).map(_ =>
            (rnd.nextInt(0xD7FF) + 1).toChar).mkString) // random BMP chars
        }
        i += 1
      }
      // sometimes truncate mid-everything
      val s = sb.toString
      if (rnd.nextBoolean()) s.take(rnd.nextInt(s.length + 1)) else s
    }
    (0 until 150).foreach { i =>
      val html = genHtml(3 + rnd.nextInt(40))
      val d = HtmlToSpans.extract(html) // must not throw
      assert(SpanTree.validate(d.spans).isEmpty, s"fuzz doc $i invalid for: $html")
      // renderers must hold on whatever the extractor produced
      graft.extract.SpanRenderers.toMarkdown(d.title, d.spans)
      graft.extract.SpanRenderers.toCsv("https://x/", d.title, d.spans)
      graft.extract.SpanRenderers.toPreviewHtml("https://x/", d.title, d.spans)
    }
    // PDF path: random bytes and corrupted headers degrade to empty/partial
    // extraction, never an exception
    (0 until 100).foreach { _ =>
      val n = rnd.nextInt(2048)
      val bytes = new Array[Byte](n)
      rnd.nextBytes(bytes)
      if (rnd.nextBoolean() && n >= 5)
        Array[Byte]('%', 'P', 'D', 'F', '-').copyToArray(bytes)
      graft.extract.PdfToSpans.extract(bytes) // must not throw
    }
  }

  test("nbsp fidelity: decode to U+00A0, end-trim, interior preserved, word split") {
    // reference: WebUtility.HtmlDecode yields U+00A0 for &nbsp;
    // (HtmlDocumentConverter.cs:634 Trim('\u00A0') after decode; C# Trim()
    // strips raw U+00A0 before decode)
    val html = "<html><body>" +
      "<p>&nbsp;lead and&nbsp;inner trail&nbsp;</p>" + // entity ends + interior
      "<p>\u00A0raw\u00A0nbsp\u00A0</p>" +             // raw U+00A0 ends + interior
      "<p>&nbsp;&nbsp;</p>" +                          // NBSP-only block: dropped
      "<p>\u00A0</p>" +                                // raw-NBSP-only node: dropped
      "</body></html>"
    val texts = HtmlToSpans.extract(html).spans
      .filter(_.kind == "TextBlock.Text").map(_.text)
    assert(texts == Vector("lead and\u00A0inner trail", "raw\u00A0nbsp"))
    // C# IsWhiteSpace counts U+00A0 as a word separator (NLPTextAnalyzer.cs:217)
    assert(graft.core.TextStats.of("lead and\u00A0inner trail").words == 4)
    assert(graft.core.TextStats.trimCs("\u00A0x\u00A0") == "x")
  }
}
