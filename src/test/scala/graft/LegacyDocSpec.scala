package graft

import graft.core.{Span, SpanKinds, SpanTree}
import graft.extract.{LegacyDoc, LegacyDocFormat, LegacyDocSource}
import org.scalatest.funsuite.AnyFunSuite

/** S6: the legacy `##`-marker NLPTextDocument reader
  * (`wordslab.nlptextdoc/NLPTextDocumentReader.cs:12-226`) and its
  * round-trip writer.
  */
class LegacyDocSpec extends AnyFunSuite with SharedSpark {

  private def doc(spans: Seq[Span]): LegacyDoc =
    LegacyDoc("https://example.org/a", "A title", "01/02/2026 03:04:05",
      Map("Charset" -> "utf-8", "Lang" -> "en"), spans)

  private def s(kind: String, text: String, off: Int) = Span(kind, text, "", off)

  test("round-trip: nested sections, lists, tables, text blocks") {
    val spans = Seq(
      s("Section.Start", "Intro", 0),
      s("TextBlock.Text", "Hello world.", 1),
      s("List.Start", "Features", 2),
      s("ListItem.Start", "", 3),
      s("TextBlock.Text", "fast", 4),
      s("ListItem.End", "", 5),
      s("ListItem.Start", "", 6),
      s("Section.Start", "", 7), // nested group inside a list item
      s("TextBlock.Text", "deep", 8),
      s("Section.End", "", 9),
      s("ListItem.End", "", 10),
      s("List.End", "", 11),
      s("Table.Start", "Stats", 12),
      s("TableHeader.Start", "1,1", 13),
      s("TextBlock.Text", "name", 14),
      s("TableHeader.End", "", 15),
      s("TableCell.Start", "2:2,1:3", 16), // rowspan 2, colspan 3
      s("TextBlock.Text", "val", 17),
      s("TableCell.End", "", 18),
      s("Table.End", "", 19),
      s("Section.End", "", 20),
      s("NavigationList.Start", "", 21),
      s("ListItem.Start", "", 22),
      s("TextBlock.Text", "home", 23),
      s("ListItem.End", "", 24),
      s("NavigationList.End", "", 25))
    assert(SpanTree.validate(spans).isEmpty)
    val d = doc(spans)
    val text = LegacyDocFormat.render(d)
    val back = LegacyDocFormat.parse(text)
    assert(back.uri == d.uri)
    assert(back.title == d.title)
    assert(back.timestamp == d.timestamp)
    assert(back.metadata == d.metadata)
    assert(back.spans == d.spans)
  }

  test("media spans are dropped on write (legacy format predates media)") {
    val spans = Seq(
      s("Section.Start", "", 0),
      s("TextBlock.Text", "pic:", 1),
      Span(SpanKinds.MediaImage, "alt text", "https://e.org/i.png", 2),
      s("Section.End", "", 3))
    val back = LegacyDocFormat.parse(LegacyDocFormat.render(doc(spans)))
    assert(back.spans == Seq(
      s("Section.Start", "", 0),
      s("TextBlock.Text", "pic:", 1),
      s("Section.End", "", 2)))
  }

  test("Items compact form expands to ListItem-wrapped text blocks") {
    // hand-written legacy file exercising the reader-only Items syntax
    // (NLPTextDocumentReader.cs:183-216)
    val text =
      """## NLPTextDocument Title Legacy page
        |## NLPTextDocument Uri https://example.org/legacy
        |## NLPTextDocument Timestamp 12/31/2019 23:59:59
        |## NLPTextDocument Metadata Charset = iso-8859-1
        |
        |## 2 List Items Menu >> Home || About || || Contact
        |## 2 NavigationList Items >> Prev || Next
        |Trailing paragraph.
        |""".stripMargin
    val d = LegacyDocFormat.parse(text)
    assert(d.title == "Legacy page")
    assert(d.uri == "https://example.org/legacy")
    assert(d.timestamp == "12/31/2019 23:59:59")
    assert(d.metadata == Map("Charset" -> "iso-8859-1"))
    val expected = Seq(
      s("List.Start", "Menu", 0),
      s("ListItem.Start", "", 1), s("TextBlock.Text", "Home", 2), s("ListItem.End", "", 3),
      s("ListItem.Start", "", 4), s("TextBlock.Text", "About", 5), s("ListItem.End", "", 6),
      s("ListItem.Start", "", 7), s("TextBlock.Text", "Contact", 8), s("ListItem.End", "", 9),
      s("List.End", "", 10),
      s("NavigationList.Start", "", 11),
      s("ListItem.Start", "", 12), s("TextBlock.Text", "Prev", 13), s("ListItem.End", "", 14),
      s("ListItem.Start", "", 15), s("TextBlock.Text", "Next", 16), s("ListItem.End", "", 17),
      s("NavigationList.End", "", 18),
      s("TextBlock.Text", "Trailing paragraph.", 19))
    assert(d.spans == expected)
    assert(SpanTree.validate(d.spans).isEmpty)
  }

  test("legacy coordinate order row,rowspan,col,colspan maps to canonical text") {
    val text =
      """## 2 Table Start
        |## 3 TableCell Start 2,3
        |cell a
        |## 3 TableCell End
        |## 3 TableHeader Start 1,2,4,5
        |cell b
        |## 3 TableHeader End
        |## 2 Table End
        |""".stripMargin
    val d = LegacyDocFormat.parse(text)
    assert(d.spans(1).text == "2,3")       // row 2, col 3, unit spans
    assert(d.spans(4).text == "1:2,4:5")   // row 1 span 2, col 4 span 5
  }

  test("properties stop at the first non-property line; a '## NLPTextDocument' " +
      "line later reads as text (lenient)") {
    val text =
      """## NLPTextDocument Uri https://example.org/x
        |Body first line.
        |## NLPTextDocument Title not a property anymore
        |""".stripMargin
    val d = LegacyDocFormat.parse(text)
    assert(d.uri == "https://example.org/x")
    assert(d.title == "") // the late line is NOT a property
    assert(d.spans == Seq(
      s("TextBlock.Text", "Body first line.", 0),
      s("TextBlock.Text", "## NLPTextDocument Title not a property anymore", 1)))
  }

  test("well-formed element line with unknown element throws; a non-element " +
      "## line reads as text (lenient deviation)") {
    intercept[IllegalArgumentException](LegacyDocFormat.parse("x\n## 2 Bogus Start\n"))
    val d = LegacyDocFormat.parse("x\n## nonsense\n")
    assert(d.spans == Seq(
      s("TextBlock.Text", "x", 0), s("TextBlock.Text", "## nonsense", 1)))
  }

  test("text blocks beginning with ## round-trip (markdown headings in crawls)") {
    val spans = Seq(
      s("Section.Start", "Docs", 0),
      s("TextBlock.Text", "## Install", 1),
      s("TextBlock.Text", "run the installer", 2),
      s("Section.End", "", 3))
    val back = LegacyDocFormat.parse(LegacyDocFormat.render(doc(spans)))
    assert(back.spans == spans)
  }

  test("render refuses text that matches the format's own grammar " +
      "(would parse back as structure)") {
    intercept[IllegalArgumentException](LegacyDocFormat.render(doc(Seq(
      s("TextBlock.Text", "## 2 Section End", 0)))))
    intercept[IllegalArgumentException](LegacyDocFormat.render(doc(Seq(
      s("TextBlock.Text", "## NLPTextDocument Title sneaky", 0)))))
  }

  test("fuzz: 200 random valid span trees round-trip through render+parse") {
    // deterministic generator (no scalacheck in the offline cache):
    // respects the builder guard — no TextBlock directly inside
    // List/NavigationList/Table; cells only inside Table; items inside
    // List/NavigationList
    val rnd = new java.util.Random(42)
    def texts = Seq("plain text", "## looks like a heading", "with | pipes",
      "  indented", "a##b", "#single", "unicode é x")
    def genDoc(): Seq[Span] = {
      val out = Vector.newBuilder[Span]
      var off = 0
      def emit(kind: String, text: String): Unit = {
        out += Span(kind, text, "", off); off += 1
      }
      def block(depth: Int): Unit = rnd.nextInt(6) match {
        case 0 | 1 => emit("TextBlock.Text", texts(rnd.nextInt(texts.size)))
        case 2 if depth < 3 =>
          emit("Section.Start", if (rnd.nextBoolean()) "Sec" + rnd.nextInt(9) else "")
          (0 until rnd.nextInt(3)).foreach(_ => block(depth + 1))
          emit("Section.End", "")
        case 3 if depth < 3 =>
          val n = if (rnd.nextBoolean()) "List" else "NavigationList"
          emit(s"$n.Start", if (rnd.nextBoolean()) "L" + rnd.nextInt(9) else "")
          (0 until rnd.nextInt(3)).foreach { _ =>
            emit("ListItem.Start", "")
            (0 until rnd.nextInt(2) + (if (rnd.nextBoolean()) 1 else 0))
              .foreach(_ => block(depth + 1))
            emit("ListItem.End", "")
          }
          emit(s"$n.End", "")
        case 4 if depth < 3 =>
          emit("Table.Start", "")
          (1 to rnd.nextInt(2) + 1).foreach { r =>
            (1 to rnd.nextInt(2) + 1).foreach { c =>
              val hdr = r == 1 && rnd.nextBoolean()
              val name = if (hdr) "TableHeader" else "TableCell"
              // canonical Span contract: unit spans use the short form
              val (rs, cs) = (1 + rnd.nextInt(2), 1 + rnd.nextInt(2))
              val coords = if (rs == 1 && cs == 1) s"$r,$c" else s"$r:$rs,$c:$cs"
              emit(s"$name.Start", coords)
              if (rnd.nextBoolean())
                emit("TextBlock.Text", texts(rnd.nextInt(texts.size)))
              emit(s"$name.End", "")
            }
          }
          emit("Table.End", "")
        case _ => emit("TextBlock.Text", texts(rnd.nextInt(texts.size)))
      }
      (0 until 1 + rnd.nextInt(5)).foreach(_ => block(0))
      out.result()
    }
    (0 until 200).foreach { i =>
      val spans = genDoc()
      assert(SpanTree.validate(spans).isEmpty, s"doc $i invalid: $spans")
      val d = doc(spans)
      val back = LegacyDocFormat.parse(LegacyDocFormat.render(d))
      assert(back.spans == d.spans, s"doc $i mismatch")
      assert(back.uri == d.uri && back.metadata == d.metadata)
    }
  }

  test("LegacyDocSource reads a directory tree partition-parallel") {
    val dir = java.nio.file.Files.createTempDirectory("legacy").toFile
    val sub = new java.io.File(dir, "site/a"); sub.mkdirs()
    def write(f: java.io.File, d: LegacyDoc): Unit = {
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.print(LegacyDocFormat.render(d)) finally w.close()
    }
    val d1 = doc(Seq(
      s("Section.Start", "One", 0), s("TextBlock.Text", "first", 1),
      s("Section.End", "", 2)))
    val d2 = LegacyDoc("https://example.org/b", "B", "", Map.empty,
      Seq(s("TextBlock.Text", "second", 0)))
    write(new java.io.File(dir, "one.txt"), d1)
    write(new java.io.File(sub, "two.txt"), d2)
    // non-matching extension is ignored by the glob
    val w = new java.io.PrintWriter(new java.io.File(dir, "skip.md"), "UTF-8")
    try w.print("not a legacy file") finally w.close()

    val rows = LegacyDocSource.read(spark, dir.getAbsolutePath)
      .collect().sortBy(_.getAs[String]("uri"))
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("uri") == "https://example.org/a")
    assert(rows(0).getAs[String]("title") == "A title")
    assert(rows(1).getAs[String]("uri") == "https://example.org/b")
    val spans1: Seq[org.apache.spark.sql.Row] =
      rows(0).getSeq[org.apache.spark.sql.Row](rows(0).fieldIndex("spans"))
    assert(spans1.map(r => (r.getAs[String]("kind"), r.getAs[String]("text"))) ==
      Seq(("Section.Start", "One"), ("TextBlock.Text", "first"), ("Section.End", "")))
  }
}
