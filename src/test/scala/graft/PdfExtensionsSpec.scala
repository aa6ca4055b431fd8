package graft

import graft.extract.PdfToSpans
import graft.extract.PdfFixture
import graft.extract.PdfFixture.Block
import org.scalatest.funsuite.AnyFunSuite

class PdfExtensionsSpec extends AnyFunSuite with CrawlFixture {

  test("PDF: lines group into blocks, /Title read, non-PDF rejected") {
    val pdf = PdfFixture.pdf(Seq(Seq(
      Block(Seq("first line of paragraph", "second line of paragraph")),
      Block(Seq("a separate paragraph")))), title = "My (Doc)")
    val d = PdfToSpans.extract(pdf)
    assert(d.title == "My (Doc)")
    val texts = d.spans.filter(_.kind == "TextBlock.Text").map(_.text)
    assert(texts == Vector(
      "first line of paragraph second line of paragraph",
      "a separate paragraph"))
    assert(graft.core.SpanTree.validate(d.spans).isEmpty)
    assert(PdfToSpans.extract("not a pdf".getBytes).spans.isEmpty)
    assert(PdfToSpans.extract(null: Array[Byte]).spans.isEmpty)
  }

  test("PDF: title heuristic starts Sections; bigger title closes smaller") {
    // 18pt title (>1.2x next, >8) -> Section; body 10pt; then a 24pt title
    // closes the 18pt section (24/18 >= 1.2) and opens its own
    val pdf = PdfFixture.pdf(Seq(Seq(
      Block(Seq("Small Chapter"), fontSize = 18),
      Block(Seq("body text under the small chapter heading")),
      Block(Seq("Big Part"), fontSize = 24),
      Block(Seq("body text under the big part")),
      Block(Seq("trailing final block of the document")))))
    val d = PdfToSpans.extract(pdf)
    assert(d.spans.map(s => (s.kind, s.text)) == Vector(
      ("Section.Start", "Small Chapter"),
      ("TextBlock.Text", "body text under the small chapter heading"),
      ("Section.End", ""),
      ("Section.Start", "Big Part"),
      ("TextBlock.Text", "body text under the big part"),
      ("TextBlock.Text", "trailing final block of the document"),
      ("Section.End", "")))
    assert(graft.core.SpanTree.validate(d.spans).isEmpty)
  }

  test("PDF: decoration removal drops repeated headers and page numbers (J5)") {
    // genuinely distinct per-page content (digit-masking would collapse
    // content differing only by numbers — which is exactly the classifier's
    // job, so content must differ in WORDS)
    val names = Vector("alpha", "beta", "gamma")
    val mk = (p: Int) => Seq(
      Block(Seq(s"unique ${names(p - 1)} content paragraph words here")),
      Block(Seq(s"more ${names(p - 1)} specific text")))
    val pdf = PdfFixture.pdf(Seq(mk(1), mk(2), mk(3)),
      header = "Corporate Confidential Header", pageNumbers = true)
    val texts = PdfToSpans.extract(pdf).spans
      .filter(_.kind == "TextBlock.Text").map(_.text)
    assert(texts.length == 6, texts.mkString("|"))
    assert(!texts.exists(_.contains("Confidential")))
    assert(!texts.exists(_.startsWith("Page ")))
    // single page: decoration removal does NOT apply (reference: pages > 1)
    val one = PdfFixture.pdf(Seq(mk(1)), header = "HeaderText", pageNumbers = true)
    val oneTexts = PdfToSpans.extract(one).spans
      .filter(_.kind == "TextBlock.Text").map(_.text)
    assert(oneTexts.exists(_ == "Page 1") || oneTexts.exists(_.contains("HeaderText")))
  }

  test("PDF: one-char blocks skipped; reading order is top-down") {
    val pdf = PdfFixture.pdf(Seq(Seq(
      Block(Seq("top paragraph first")),
      Block(Seq("*")), // one-char: skipped by the reference rule
      Block(Seq("bottom paragraph second")))))
    val texts = PdfToSpans.extract(pdf).spans
      .filter(_.kind == "TextBlock.Text").map(_.text)
    assert(texts == Vector("top paragraph first", "bottom paragraph second"))
  }

  test("PDF: FlateDecode streams extract identically to uncompressed") {
    val pages = Seq(
      Seq(
        Block(Seq("Chapter One"), fontSize = 18),
        Block(Seq("first page body paragraph with several words",
          "and a second line in the same paragraph")),
        Block(Seq("closing remarks of page one"))),
      Seq(
        Block(Seq("Chapter Two"), fontSize = 18),
        Block(Seq("second page body paragraph, distinct words")),
        Block(Seq("closing remarks of page two"))))
    val plain = PdfFixture.pdf(pages, title = "Flate Fixture",
      header = "Shared Running Header", pageNumbers = true)
    val flate = PdfFixture.pdf(pages, title = "Flate Fixture",
      header = "Shared Running Header", pageNumbers = true, compress = true)
    assert(flate.contains("/FlateDecode") && !plain.contains("/FlateDecode"))
    val dPlain = PdfToSpans.extract(plain)
    val dFlate = PdfToSpans.extract(flate)
    assert(dFlate.title == "Flate Fixture")
    assert(dFlate.spans == dPlain.spans, "compressed != uncompressed spans")
    assert(dFlate.spans.exists(_.kind == "TextBlock.Text"))
    // byte-path entry too (executor-side shape): bytes → identical spans
    val viaBytes = PdfToSpans.extract(
      flate.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(viaBytes.spans == dPlain.spans)
    // decorations were removed from the COMPRESSED variant as well
    assert(!dFlate.spans.exists(s => s.text.contains("Running Header") ||
      s.text.startsWith("Page ")))
    // an unsupported filter degrades to no text, never a crash
    val lzw = flate.replace("/FlateDecode", "/LZWDecode")
    assert(PdfToSpans.extract(lzw).spans.isEmpty)
    // a truncated/corrupt Flate stream degrades to no text, never a crash
    val corrupt = flate.replaceFirst("stream\r?\n.", "stream\nX")
    assert(PdfToSpans.extract(corrupt).spans.size <= dPlain.spans.size)
  }

  test("PDF 1.5: ObjStm + xref-stream layout extracts identically to classic") {
    val pages = Seq(
      Seq(
        Block(Seq("Modern Chapter"), fontSize = 18),
        Block(Seq("object-stream page body paragraph with words",
          "and a continuation line of the same paragraph")),
        Block(Seq("closing remarks of modern page one"))),
      Seq(
        Block(Seq("second modern page body, distinct words")),
        Block(Seq("closing remarks of modern page two"))))
    val classic = PdfFixture.pdf(pages, title = "Modern Twin",
      header = "Modern Running Header", pageNumbers = true, compress = true)
    val modern = PdfFixture.pdfModern(pages, title = "Modern Twin",
      header = "Modern Running Header", pageNumbers = true)
    // the modern layout really hides the catalog: no raw /Title visible
    assert(!modern.substring(modern.indexOf('\n')).contains("/Title ("))
    assert(modern.contains("/ObjStm") && modern.contains("/XRef"))
    val dClassic = PdfToSpans.extract(classic)
    val dModern = PdfToSpans.extract(modern)
    assert(dModern.title == "Modern Twin", s"title='${dModern.title}'")
    assert(dModern.spans == dClassic.spans, "modern != classic spans")
    assert(dModern.spans.exists(_.kind == "TextBlock.Text"))
    // xref machinery sees through the layout: type-2 entries resolve the
    // info dict from inside the object stream
    val xref = PdfToSpans.xrefStreamEntries(modern)
    assert(xref.values.exists(_._1 == 2), "no type-2 (in-ObjStm) entries")
    val bodies = PdfToSpans.objectStreamBodies(modern)
    assert(bodies.values.exists(_.contains("/Title")), bodies.toString)
  }

  test("PDF: ASCIIHex, ASCII85, and ASCII85+Flate chains extract identically") {
    val pages = Seq(Seq(
      Block(Seq("Filtered Chapter"), fontSize = 18),
      Block(Seq("body paragraph travelling through ascii armor",
        "with a second line in the paragraph")),
      Block(Seq("closing filtered remarks"))))
    val plain = PdfFixture.pdf(pages, title = "Filter Twin")
    val base = PdfToSpans.extract(plain)
    assert(base.spans.nonEmpty)
    for (chain <- Seq(
        Seq("ASCIIHexDecode"),
        Seq("ASCII85Decode"),
        Seq("ASCII85Decode", "FlateDecode"), // mail-safe classic
        Seq("ASCIIHexDecode", "FlateDecode"))) {
      val filtered = PdfFixture.pdfFiltered(pages, "Filter Twin", chain)
      val d = PdfToSpans.extract(filtered)
      assert(d.title == "Filter Twin", chain.toString)
      assert(d.spans == base.spans, s"chain $chain spans differ")
    }
    // an unsupported (image-only) filter in a chain degrades to no text
    val dct = PdfFixture.pdfFiltered(pages, "x", Seq("ASCII85Decode", "FlateDecode"))
      .replace("/FlateDecode", "/DCTDecode")
    assert(PdfToSpans.extract(dct).spans.isEmpty)
  }

  test("PDF: LZW and RunLength streams extract identically (incl. width growth)") {
    // enough distinct word pairs that the LZW dictionary crosses the
    // 9->10-bit width boundary (>254 adds) — the EarlyChange handshake
    // between encoder and decoder must hold across it
    val rnd = new java.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "omega", "sigma",
      "lambda", "kappa", "theta", "zeta")
    val names = Vector("One", "Two")
    val pages = Seq.tabulate(2) { p =>
      Seq(
        Block(Seq(s"LZW Chapter ${names(p)}"), fontSize = 18),
        Block(Seq.fill(6)(Seq.fill(14)(words(rnd.nextInt(words.length))).mkString(" "))),
        Block(Seq(s"${"a" * 28} run length material page ${names(p)}")))
    }
    val plain = PdfFixture.pdf(pages, title = "LZW Twin")
    val base = PdfToSpans.extract(plain)
    assert(base.spans.count(_.kind == "TextBlock.Text") >= 4)
    for (chain <- Seq(
        Seq("LZWDecode"),
        Seq("RunLengthDecode"),
        Seq("ASCII85Decode", "LZWDecode"),
        Seq("ASCIIHexDecode", "RunLengthDecode"))) {
      val d = PdfToSpans.extract(PdfFixture.pdfFiltered(pages, "LZW Twin", chain))
      assert(d.title == "LZW Twin", chain.toString)
      assert(d.spans == base.spans, s"chain $chain spans differ")
    }
  }

  test("PDF: hex strings show as text like literal strings") {
    def hex(s: String): String = s.map(c => f"${c.toInt}%02X").mkString
    val pdf = "%PDF-1.4\n" +
      "1 0 obj << /Length 120 >> stream\n" +
      s"BT /F1 10 Tf 72 700 Td <${hex("hex shown paragraph")}> Tj ET\n" +
      s"BT /F1 10 Tf 72 650 Td [<${hex("array hex")}> (and literal)] TJ ET\n" +
      "endstream endobj\n" +
      "trailer << /Root 1 0 R >>\n%%EOF\n"
    // /Length is wrong on purpose: the endstream fallback must still bound it
    val fixed = pdf.replace("/Length 120", "/Length 9999 0 R")
    val texts = PdfToSpans.extract(fixed).spans
      .filter(_.kind == "TextBlock.Text").map(_.text)
    assert(texts == Vector("hex shown paragraph", "array hexand literal"),
      texts.mkString("|"))
  }

  test("PDF: incremental update replaces the info dict (last definition wins)") {
    val base = PdfFixture.pdf(Seq(Seq(
      Block(Seq("body paragraph under an updated title")),
      Block(Seq("closing paragraph text")))), title = "Original Title")
    // an incremental save appends a replacement object 3 + a new trailer
    val updated = base +
      "3 0 obj << /Title (Updated Title) >> endobj\n" +
      "trailer << /Root 1 0 R /Info 3 0 R >>\n%%EOF\n"
    assert(PdfToSpans.extract(base).title == "Original Title")
    val d = PdfToSpans.extract(updated)
    assert(d.title == "Updated Title", s"got '${d.title}'")
    // text untouched by the update
    assert(d.spans == PdfToSpans.extract(base).spans)
  }

  test("PDF: marked-content dicts and stray '<' never swallow or fake text") {
    def hex(s: String): String = s.map(c => f"${c.toInt}%02X").mkString
    // tagged-PDF marked content: '/P <</MCID 0>> BDC' — the inner dict must
    // not parse as a hex string (phantom token) nor eat the real text
    val content = "BT /P <</MCID 0>> BDC /F1 10 Tf 72 700 Td " +
      "(tagged paragraph text) Tj EMC ET\n" +
      // a stray unterminated '<' (binary-ish) before more text
      "BT /F1 10 Tf 72 650 Td (after stray) Tj ET < ÿþ\n"
    val pdf = "%PDF-1.4\n" +
      s"1 0 obj << /Length ${content.length} >> stream\n" + content +
      "\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n"
    val texts = PdfToSpans.extract(pdf).spans
      .filter(_.kind == "TextBlock.Text").map(_.text)
    assert(texts == Vector("tagged paragraph text", "after stray"),
      texts.mkString("|"))
    // hex text still shows when it IS a valid hex string
    val okContent = s"BT /F1 10 Tf 72 700 Td <${hex("still hex")}> Tj ET"
    val ok = "%PDF-1.4\n" +
      s"1 0 obj << /Length ${okContent.length} >> stream\n" + okContent +
      "\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n"
    assert(PdfToSpans.extract(ok).spans.map(_.text) == Vector("still hex"))
  }

  test("PDF: indirect /Length falls back to the endstream scan (not length 5)") {
    val pdf = PdfFixture.pdf(Seq(Seq(
      Block(Seq("body paragraph behind an indirect length")),
      Block(Seq("second paragraph still extracted")))), title = "Ind")
    // rewrite every direct /Length N into an indirect '/Length 77 0 R':
    // trusting the leading digits as a byte count would truncate to 77
    val indirect = pdf.replaceAll("/Length \\d+ ", "/Length 77 0 R ")
    assert(indirect.contains("/Length 77 0 R"))
    val d = PdfToSpans.extract(indirect)
    val texts = d.spans.filter(_.kind == "TextBlock.Text").map(_.text)
    assert(texts == Vector("body paragraph behind an indirect length",
      "second paragraph still extracted"), texts.mkString("|"))
  }

  test("PDF: subset-font /ToUnicode CMap decodes remapped glyph codes") {
    val pages = Seq(
      Seq(
        Block(Seq("Subset Chapter"), fontSize = 18),
        Block(Seq("embedded subset font paragraph with words",
          "second line of the same paragraph")),
        Block(Seq("closing subset remarks, page one"))),
      Seq(
        Block(Seq("second page distinct body text")),
        Block(Seq("closing remarks page two"))))
    val plain = PdfFixture.pdf(pages, title = "Subset Twin",
      header = "Subset Running Header", pageNumbers = true)
    val subset = PdfFixture.pdfSubsetFont(pages, title = "Subset Twin",
      header = "Subset Running Header", pageNumbers = true)
    val dPlain = PdfToSpans.extract(plain)
    val dSub = PdfToSpans.extract(subset)
    assert(dSub.title == "Subset Twin")
    assert(dSub.spans == dPlain.spans, "subset-font != plain spans")
    assert(dSub.spans.exists(_.kind == "Section.Start"))
    // the show strings really are mojibake without the CMap: a font-blind
    // read of the content streams must NOT contain the page text
    val blind = PdfToSpans.contentStreams(subset)
      .flatMap(c => PdfToSpans.parsePage(c)).map(_.text)
    assert(blind.nonEmpty)
    assert(!blind.exists(_.contains("subset font paragraph")), blind.toString)
  }

  test("PDF: 2-byte CID codes decode through the Type0 /ToUnicode CMap") {
    val pages = Seq(
      Seq(
        Block(Seq("CID Chapter"), fontSize = 18),
        Block(Seq("two byte code paragraph body text",
          "second line of the cid paragraph")),
        Block(Seq("closing cid remarks one"))),
      Seq(Block(Seq("second cid page body, distinct")),
        Block(Seq("closing cid remarks two"))))
    val plain = PdfFixture.pdf(pages, title = "CID Twin",
      header = "CID Running Header", pageNumbers = true)
    val cid = PdfFixture.pdfSubsetFont(pages, title = "CID Twin",
      header = "CID Running Header", pageNumbers = true, twoByte = true)
    assert(cid.contains("/Type0"))
    val dPlain = PdfToSpans.extract(plain)
    val dCid = PdfToSpans.extract(cid)
    assert(dCid.title == "CID Twin")
    assert(dCid.spans == dPlain.spans, "cid != plain spans")
  }

  test("PDF: /Encoding /Differences glyph names decode without /ToUnicode") {
    val pages = Seq(
      Seq(
        Block(Seq("Diff Chapter"), fontSize = 18),
        Block(Seq("glyph name remapped paragraph, with punctuation: semi;",
          "and a second line (parenthetical) here")),
        Block(Seq("closing diff remarks 123"))),
      Seq(Block(Seq("second diff page body")),
        Block(Seq("closing diff remarks two"))))
    val plain = PdfFixture.pdf(pages, title = "Diff Twin",
      header = "Diff Running Header", pageNumbers = true)
    val diff = PdfFixture.pdfDifferencesFont(pages, title = "Diff Twin",
      header = "Diff Running Header", pageNumbers = true)
    assert(diff.contains("/Differences") && !diff.contains("/ToUnicode"))
    val dPlain = PdfToSpans.extract(plain)
    val dDiff = PdfToSpans.extract(diff)
    assert(dDiff.title == "Diff Twin")
    assert(dDiff.spans == dPlain.spans, "differences != plain spans")
  }

  test("PDF: embedded TrueType cmap decodes Type0 text with NO /ToUnicode") {
    // the modern-writer shape round 5 could not decode: Identity-H show
    // strings are raw glyph IDs; the embedded font program's cmap is the
    // only mapping back to Unicode
    val pages = Seq(
      Seq(
        Block(Seq("Embedded Chapter"), fontSize = 18),
        Block(Seq("embedded cmap paragraph body words",
          "second line of the embedded paragraph")),
        Block(Seq("closing embedded remarks, one"))),
      Seq(Block(Seq("second embedded page body")),
        Block(Seq("closing embedded remarks two"))))
    val plain = PdfFixture.pdf(pages, title = "Embedded Twin",
      header = "Embedded Running Header", pageNumbers = true)
    val emb = PdfFixture.pdfEmbeddedCmapFont(pages, title = "Embedded Twin",
      header = "Embedded Running Header", pageNumbers = true)
    assert(!emb.contains("/ToUnicode") && !emb.contains("/Differences"))
    assert(emb.contains("/FontFile2"))
    val dPlain = PdfToSpans.extract(plain)
    val dEmb = PdfToSpans.extract(emb)
    assert(dEmb.title == "Embedded Twin")
    assert(dEmb.spans == dPlain.spans, "embedded-cmap != plain spans")
    // font-blind read really is unreadable (2-byte codes → U+FFFD)
    val blind = PdfToSpans.contentStreams(emb)
      .flatMap(c => PdfToSpans.parsePage(c)).map(_.text)
    assert(blind.nonEmpty)
    assert(!blind.exists(_.contains("embedded cmap paragraph")), blind.toString)
  }

  test("PDF: embedded cmap variants — format 12, CIDToGIDMap stream, glyphIdArray") {
    val pages = Seq(
      Seq(Block(Seq("Variant Chapter"), fontSize = 18),
        Block(Seq("variant body paragraph text here",
          "second variant line of text"))),
      Seq(Block(Seq("second variant page body"))))
    val plain = PdfToSpans.extract(PdfFixture.pdf(pages, title = "Variant Twin",
      header = "Variant Header", pageNumbers = true))
    for ((label, doc) <- Seq(
        "format12" -> PdfFixture.pdfEmbeddedCmapFont(pages,
          title = "Variant Twin", header = "Variant Header",
          pageNumbers = true, format12 = true),
        "cid2gid-stream" -> PdfFixture.pdfEmbeddedCmapFont(pages,
          title = "Variant Twin", header = "Variant Header",
          pageNumbers = true, cidToGidStream = true),
        "glyphIdArray" -> PdfFixture.pdfEmbeddedCmapFont(pages,
          title = "Variant Twin", header = "Variant Header",
          pageNumbers = true, glyphIdArray = true))) {
      val d = PdfToSpans.extract(doc)
      assert(d.spans == plain.spans, s"$label != plain spans")
    }
  }

  test("TrueTypeCmap: smallest codepoint wins a shared glyph; corrupt program is empty") {
    import graft.extract.{PdfFixture => F, TrueTypeCmap}
    // 'A'(65)→gid5, 'B'(66)→gid6, 'a'(97)→gid5 again: the inversion must
    // deterministically keep 65 for gid 5
    val prog = F.trueTypeProgram(Seq((65, 5), (66, 6), (97, 5)))
    val m = TrueTypeCmap.glyphToUnicode(prog)
    assert(m == Map(5 -> "A", 6 -> "B"))
    // format 12 parses to the same inversion
    val m12 = TrueTypeCmap.glyphToUnicode(
      F.trueTypeProgram(Seq((65, 5), (66, 6), (97, 5)), format12 = true))
    assert(m12 == Map(5 -> "A", 6 -> "B"))
    // truncation anywhere degrades to empty, never throws
    (1 until prog.length by 7).foreach { cut =>
      TrueTypeCmap.glyphToUnicode(prog.substring(0, cut))
    }
    assert(TrueTypeCmap.glyphToUnicode("") == Map.empty)
    assert(TrueTypeCmap.glyphToUnicode("not a font at all") == Map.empty)
  }

  test("PDF 1.5 + subset font: font dict inside the ObjStm, CMap top-level") {
    val pages = Seq(
      Seq(
        Block(Seq("Modern Subset Chapter"), fontSize = 18),
        Block(Seq("object stream resident font paragraph",
          "with a continuation line of words")),
        Block(Seq("closing modern subset remarks"))),
      Seq(Block(Seq("second page distinct modern body")),
        Block(Seq("closing remarks of page two"))))
    val plain = PdfFixture.pdf(pages, title = "Modern Subset Twin",
      header = "Modern Subset Header", pageNumbers = true)
    val modern = PdfFixture.pdfModernSubsetFont(pages, title = "Modern Subset Twin",
      header = "Modern Subset Header", pageNumbers = true)
    // the layout really hides everything: no raw /Title, no raw font dict
    assert(!modern.substring(modern.indexOf('\n')).contains("/Title ("))
    assert(!modern.contains("/BaseFont /GRAFTM+Fixture\n"))
    assert(modern.contains("/ObjStm") && modern.contains("/XRef"))
    val dPlain = PdfToSpans.extract(plain)
    val dModern = PdfToSpans.extract(modern)
    assert(dModern.title == "Modern Subset Twin", s"title='${dModern.title}'")
    assert(dModern.spans == dPlain.spans, "modern subset != plain spans")
    assert(dModern.spans.exists(_.kind == "Section.Start"))
    // decorations removed through the font decode as well
    assert(!dModern.spans.exists(s => s.text.contains("Subset Header") ||
      s.text.startsWith("Page ")))
  }

  test("PDF: corrupt /ToUnicode CMaps degrade to Latin-1, never crash") {
    val pages = Seq(Seq(
      Block(Seq("resilience body paragraph words")),
      Block(Seq("closing paragraph"))))
    val good = PdfFixture.pdfSubsetFont(pages, title = "Corrupt CMap")
    // (section-less / truncated CMap payloads are unit-covered in
    // PdfCodecSpec, which can reach the private[extract] parser)
    // corrupt the document-level CMap: a dangling /ToUnicode reference and
    // truncated Flate stream bytes
    val variants = Seq(
      good.replaceFirst("(?s)(/ToUnicode 5 0 R)", "/ToUnicode 99 0 R"), // dangling ref
      { val i = good.indexOf("5 0 obj"); // truncate the CMap stream bytes
        if (i >= 0) good.substring(0, i + 60) + "X" * 20 + good.substring(i + 80)
        else good })
    variants.zipWithIndex.foreach { case (v, i) =>
      val d = PdfToSpans.extract(v) // must not throw
      // the text decodes as raw codes (mojibake) or partially — but the
      // structural pipeline (blocks, spans, validation) must survive
      assert(graft.core.SpanTree.validate(d.spans).isEmpty, s"variant $i")
    }
    // random bytes in place of the whole document never crash either
    val rnd = new java.util.Random(9)
    (0 until 50).foreach { _ =>
      val junk = "%PDF-1.4\n" + (0 until 400)
        .map(_ => rnd.nextInt(256).toChar).mkString
      PdfToSpans.extract(junk)
    }
  }

  test("PDF: /Info metadata — every string entry, classic and ObjStm-resident") {
    val pages = Seq(Seq(
      Block(Seq("metadata body paragraph with words")),
      Block(Seq("closing metadata paragraph"))))
    val info = Map(
      "Author" -> "Ada Author", "Subject" -> "Graft Subjects",
      "Keywords" -> "spark, pdf, graft", "Producer" -> "GraftWriter 1.0",
      // non-ASCII exercises the UTF-16BE (BOM'd hex string) path
      "Note" -> "résumé — café")
    val classic = PdfFixture.pdf(pages, title = "Meta Doc", info = info)
    val modern = PdfFixture.pdfModern(pages, title = "Meta Doc", info = info)
    for ((body, which) <- Seq((classic, "classic"), (modern, "modern"))) {
      val d = PdfToSpans.extract(body)
      assert(d.title == "Meta Doc", which)
      assert(d.metadata == info, s"$which: ${d.metadata}")
    }
    assert(PdfToSpans.docInfo(classic)("Title") == "Meta Doc")
    assert(PdfToSpans.docInfo(modern)("Author") == "Ada Author")
  }

  test("PDF end-to-end through the crawl engine and oracle, in parity") {
    import graft.crawl._
    import graft.core.ScopeFilter
    val host = "pdf.example.com"
    val pdfBody = PdfFixture.pdf(Seq(Seq(
      Block(Seq("Report Heading"), fontSize = 18),
      Block(Seq("pdf report body paragraph with several words")),
      Block(Seq("closing pdf remarks")))), title = "Annual Report")
    val pages = Map(
      s"https://$host/index.html" -> SyntheticPage(s"https://$host/index.html", host,
        200, "text/html", null,
        s"""<html><head><title>t</title></head><body><p>html page links to a pdf</p>
           |<a href="/report.pdf">r</a></body></html>""".stripMargin),
      s"https://$host/report.pdf" -> SyntheticPage(s"https://$host/report.pdf", host,
        200, "application/pdf", null, pdfBody))
    val site = SyntheticWeb.Site(pages, Map(host -> ""), Map.empty, s"https://$host/index.html")
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain, maxWaves = 5)
    val oracle = SequentialOracle.crawl(site, config)
    assert(oracle.documents.exists(d => d.doc_id.endsWith(".pdf") && d.title == "Annual Report"))

    val io = new TableIO(freshWarehouse("graft-pdf"), spark)
    engineOn(io, site, config, numPartitions = 2).run()
    import org.apache.spark.sql.functions.col
    val engineDocs = io.readAll("documents", TableIO.DocumentsSchema)
      .collect().map(r => (r.getString(0), r.getLong(7))).toSet
    assert(engineDocs == oracle.documents.map(d => (d.doc_id, d.seq)).toSet)
    val pdfRows = io.readAll("documents", TableIO.DocumentsSchema)
      .filter(col("doc_id").endsWith(".pdf")).collect()
    assert(pdfRows.nonEmpty)
  }

  test("objNumBefore: header separated from << by comments/whitespace") {
    // the old 48-char window missed headers pushed away by comments and
    // silently unbound the stream (ADVICE r05): token-scan must find them
    val pdf = "x\n12 0 obj  % writer note that runs on and on and on\n" +
      "% second comment line padding the gap well past fifty chars\n   \n"
    assert(PdfToSpans.objNumBefore(pdf + "<<", pdf.length) == 12)
    // no header at all -> -1 (never a number scavenged from data)
    val noHdr = "some stream data 99 then nothing\n   "
    assert(PdfToSpans.objNumBefore(noHdr + "<<", noHdr.length) == -1)
    // missing generation number is not a header
    val badHdr = "7 obj\n"
    assert(PdfToSpans.objNumBefore(badHdr + "<<", badHdr.length) == -1)
    // plain adjacent header still works
    val plain = "3 0 obj\n"
    assert(PdfToSpans.objNumBefore(plain + "<<", plain.length) == 3)
  }

  test("image XObjects surface as Media.Image spans at their draw position") {
    import graft.extract.PdfFixture.Block
    val blocks = Seq(
      Block(Seq("first paragraph above the image")),
      Block(Seq("second paragraph below the image")))
    // the reading-order anchor is the drawn TOP edge (imageY + imageH):
    // 660 + 80 = 740 sits between block 1 (y 760) and block 2 (y 718)
    val pdf = PdfFixture.pdfWithImage(Seq(blocks), title = "Illustrated",
      imageW = 120, imageH = 80, imageY = 660.0)
    val d = PdfToSpans.extract(pdf)
    assert(d.title == "Illustrated")
    val kinds = d.spans.map(_.kind)
    assert(kinds == Vector("TextBlock.Text", "Media.Image", "TextBlock.Text"),
      s"unexpected span order: $kinds")
    val img = d.spans(1)
    assert(img.text == "Im1")
    assert(img.media_ref == "xobject:Im1?w=120&h=80")
    // offsets stay dense through the media span
    assert(d.spans.map(_.offset) == Vector(0, 1, 2))

    // twin: dropping media spans yields EXACTLY the imageless document's
    // rows (the reference-parity projection must be untouched by media)
    val plain = PdfToSpans.extract(PdfFixture.pdf(Seq(blocks), title = "Illustrated"))
    assert(graft.core.SpanTree.referenceRows(d.spans) ==
      graft.core.SpanTree.referenceRows(plain.spans))
    assert(graft.core.SpanTree.referenceRows(d.spans) == plain.spans)
  }

  test("repeated per-page images are kept (not decoration-classified)") {
    import graft.extract.PdfFixture.Block
    val pages = Seq(
      Seq(Block(Seq("page one body text"))),
      Seq(Block(Seq("page two body text"))),
      Seq(Block(Seq("page three body text"))))
    val pdf = PdfFixture.pdfWithImage(pages, title = "Logo", imageY = 500.0)
    val d = PdfToSpans.extract(pdf)
    assert(d.spans.count(_.kind == "Media.Image") == 3,
      "every page's image must survive decoration removal")
  }

  test("nested cm transforms compose; image anchors at its drawn TOP-left") {
    // q 1 0 0 1 0 400 cm q 100 0 0 50 10 200 cm => composed translation
    // (10, 600); the drawn unit square's top edge is 600 + 50 = 650, so
    // the image sorts BETWEEN text at y=700 and y=500 (translation-only
    // tracking would read y=200 and missort it below everything)
    val content =
      "q 1 0 0 1 0 400 cm q 100 0 0 50 10 200 cm /Im1 Do Q Q\n" +
      "BT /F1 10 Tf 72 700 Td (above) Tj ET\n" +
      "BT /F1 10 Tf 72 500 Td (below) Tj ET\n"
    val blocks = PdfToSpans.parsePage(content, Map.empty,
      Map("Im1" -> PdfToSpans.ImageRef("Im1", 100, 50)))
    assert(blocks.map(b => (b.image.isDefined, b.text)) == Vector(
      (false, "above"), (true, ""), (false, "below")))
    val img = blocks(1)
    assert(img.yTop == 650.0 && img.xLeft == 10.0)
    // Q restored the outer state: a second draw AFTER the outer Q uses the
    // identity CTM again
    val content2 = content + "/Im1 Do\n"
    val blocks2 = PdfToSpans.parsePage(content2, Map.empty,
      Map("Im1" -> PdfToSpans.ImageRef("Im1", 100, 50)))
    val imgs = blocks2.filter(_.image.isDefined)
    assert(imgs.map(_.yTop).toSet == Set(650.0, 1.0)) // identity top = 0+1
  }

}
