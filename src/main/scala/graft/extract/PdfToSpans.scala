package graft.extract

import graft.core.Span
import scala.collection.mutable

/** PDF → spans extraction implementing the REFERENCE'S CONVERSION RULES
  * (`wordslab.webscraper/pdf/PdfDocumentConverter.cs:30-113`) over a
  * minimal uncompressed-PDF text model:
  *
  *  1. per page: text-showing operators → positioned lines → blocks
  *     (consecutive lines whose vertical gap is ≤ 1.3 × line height — the
  *     Docstrum between-line multiplier the reference configures), blocks
  *     in reading order (top-to-bottom, left-to-right);
  *  2. decoration removal across pages when NumberOfPages > 1 (the
  *     reference's `DecorationTextBlockClassifier.Get(...)` + `Except`):
  *     a block whose digit-masked text appears at the same quantized
  *     position on the majority of pages (headers, footers, page numbers)
  *     is dropped;
  *  3. title/section heuristic over the flattened block stream
  *     (`PdfDocumentConverter.cs:62-107`): blocks of ≤ 1 char are skipped;
  *     a block of ≤ 2 lines whose first-line height is > 1.2× the next
  *     block's and > 8 starts a Section; larger titles close open smaller
  *     sections (the reference pops its `titlesLineHeights` stack on
  *     `current / top >= 1.2` but never pushes — an apparent bug that
  *     leaves every section open; we push, so nesting closes as evidently
  *     intended); the LAST block is always a plain text block.
  *
  * No PDF toolkit ships in this container, so the byte-level reader
  * handles the text subset directly: content streams filtered with
  * /FlateDecode (zlib via `java.util.zip.Inflater` — essentially every
  * real-world PDF), /ASCIIHexDecode, /ASCII85Decode, or chains of those
  * (`[/ASCII85Decode /FlateDecode]`), /LZWDecode (TIFF variant,
  * EarlyChange), /RunLengthDecode; PDF 1.5+ object streams (/ObjStm)
  * and cross-reference streams (/XRef, with PNG row predictors);
  * BT..ET text objects with the Tf, Td, TD, TL, T-star, Tm, Tj, quote
  * and TJ operators, and the document-info /Title resolved through the
  * trailer's /Info reference; literal AND `<hex>` string text shows.
  * Image-only filters (DCT, JPX, JBIG2, CCITT) are skipped.
  * Each content stream is one page (the fixture/page-tree simplification;
  * a real toolkit drops in at `extract` without touching the engine).
  */
object PdfToSpans {

  final case class TextLine(x: Double, y: Double, fontSize: Double, text: String)

  /** One /Subtype /Image XObject binding: resource name + dims from its
    * stream dict (the bytes stay in the PDF — the span carries a typed
    * reference, mirroring the HTML path's src-only Media.Image spans).
    */
  final case class ImageRef(name: String, width: Int, height: Int)

  /** A layout block: consecutive text lines, OR one drawn image (`image`
    * set, `lines` holding its draw position with fontSize 0).
    */
  final case class Block(lines: Vector[TextLine], image: Option[ImageRef] = None) {
    def text: String = lines.map(_.text).mkString(" ")
    def firstLineHeight: Double = lines.head.fontSize
    def xLeft: Double = lines.map(_.x).min
    def yTop: Double = lines.map(_.y).max
  }

  def extract(pdfBytes: Array[Byte]): ExtractedDoc =
    if (pdfBytes == null) ExtractedDoc("", Vector.empty, noFollow = true)
    else extract(new String(pdfBytes, java.nio.charset.StandardCharsets.ISO_8859_1))

  /** `pdf` is the raw bytes decoded ISO-8859-1 (lossless byte↔char). */
  def extract(pdf: String): ExtractedDoc = {
    if (pdf == null || !pdf.startsWith("%PDF"))
      return ExtractedDoc("", Vector.empty, noFollow = true)
    // ONE raw-stream scan feeds title resolution, the object catalog, and
    // content extraction (this runs per document inside the extract
    // mapPartitions — a 10 MB PDF must not pay three full-file passes)
    val streams = rawStreams(pdf)
    val cat = new Catalog(pdf, streams)
    val info = docInfoIn(pdf, cat)
    val (bindByContent, globalBind) = pageBindingsOf(cat)
    val pages = contentStreamPairsOf(streams).map { case (num, c) =>
      val (fonts, images) = bindByContent.getOrElse(num, globalBind)
      parsePage(c, fonts, images)
    }
    val blocks = removeDecorations(pages).flatten
    ExtractedDoc(info.getOrElse("Title", ""), buildSpans(blocks),
      noFollow = true, metadata = info - "Title")
  }

  // --- document info -----------------------------------------------------

  private val InfoRefRe = "/Info\\s+(\\d+)\\s+\\d+\\s+R".r

  /** EVERY string entry of the document-information dictionary (Title,
    * Author, Subject, Keywords, Producer, CreationDate, ...) — the
    * reference copies them all into document metadata
    * (`pdf/PdfDocumentConverter.cs:26-33`). Resolution order: follow the
    * LAST trailer's `/Info N 0 R` reference through the object catalog
    * (works when the info dict lives inside a PDF 1.5+ compressed object
    * stream, where a raw byte scan sees nothing), then fall back to the
    * classic raw /Title scan for xref-free fixtures. Values in literal
    * (escapes + octal) or hex form; a UTF-16BE BOM switches the text
    * decoding per PDF 32000 §7.9.2.2.
    */
  def docInfo(pdf: String): Map[String, String] = {
    if (pdf == null || !pdf.startsWith("%PDF")) return Map.empty
    docInfoIn(pdf, new Catalog(pdf, rawStreams(pdf)))
  }

  private def docInfoIn(pdf: String, cat: Catalog): Map[String, String] = {
    val resolved = InfoRefRe.findAllMatchIn(pdf).toSeq.lastOption // last trailer
      .flatMap(m => cat.body(m.group(1).toInt))
      .map(infoEntries).getOrElse(Map.empty)
    if (resolved.get("Title").exists(_.nonEmpty)) resolved
    else {
      val t = titleIn(pdf)
      if (t.nonEmpty) resolved + ("Title" -> t) else resolved
    }
  }

  private def isNameChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '.' || c == '-' || c == '+'

  /** `/Name (literal)` and `/Name <hex>` string entries of a dict body. */
  private def infoEntries(body: String): Map[String, String] = {
    val out = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < body.length) {
      if (body.charAt(i) == '/') {
        var j = i + 1
        while (j < body.length && isNameChar(body.charAt(j))) j += 1
        val name = body.substring(i + 1, j)
        var k = j
        while (k < body.length && body.charAt(k).isWhitespace) k += 1
        if (name.nonEmpty && k < body.length && body.charAt(k) == '(') {
          val (s, next) = parseLiteralString(body, k)
          out(name) = decodeTextString(s)
          i = next
        } else if (name.nonEmpty && k + 1 < body.length &&
            body.charAt(k) == '<' && body.charAt(k + 1) != '<') {
          parseHexString(body, k) match {
            case Some((s, next)) => out(name) = decodeTextString(s); i = next
            case None => i = k + 1
          }
        } else i = j max (i + 1)
      } else i += 1
    }
    out.toMap
  }

  /** PDF text string: a leading FE FF BOM means UTF-16BE; otherwise the
    * bytes read as PDFDocEncoding (≈ Latin-1 for the printable range).
    */
  private def decodeTextString(raw: String): String =
    if (raw.length >= 2 && raw.charAt(0) == 0xFE.toChar && raw.charAt(1) == 0xFF.toChar) {
      val bytes = new Array[Byte](raw.length - 2)
      var i = 0
      while (i < bytes.length) { bytes(i) = (raw.charAt(i + 2) & 0xff).toByte; i += 1 }
      new String(bytes, java.nio.charset.StandardCharsets.UTF_16BE)
    } else raw

  private def titleIn(s: String): String = {
    val i = s.indexOf("/Title")
    if (i < 0) return ""
    val open = s.indexOf('(', i)
    if (open < 0 || open > i + 16) return ""
    parseLiteralString(s, open)._1
  }

  private def parseLiteralString(s: String, open: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = open + 1
    var depth = 1
    while (i < s.length && depth > 0) {
      s.charAt(i) match {
        case '\\' if i + 1 < s.length =>
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case '\n' => // line continuation: backslash-newline vanishes
            case '\r' => // \<CR> or \<CR><LF>
              if (i + 2 < s.length && s.charAt(i + 2) == '\n') i += 1
            case d if d >= '0' && d <= '7' =>
              // octal escape \d, \dd or \ddd (PDF 32000 §7.3.4.2) — how
              // writers emit non-ASCII glyph codes in literal strings
              var v = 0; var k = 0
              while (k < 3 && i + 1 + k < s.length && {
                  val c = s.charAt(i + 1 + k); c >= '0' && c <= '7' }) {
                v = v * 8 + (s.charAt(i + 1 + k) - '0'); k += 1
              }
              sb.append((v & 0xff).toChar)
              i += k - 1
            case c => sb.append(c)
          }
          i += 1
        case '(' => depth += 1; sb.append('(')
        case ')' => depth -= 1; if (depth > 0) sb.append(')')
        case c => sb.append(c)
      }
      i += 1
    }
    (sb.toString, i)
  }

  // --- content streams ---------------------------------------------------

  private val FilterNames = "/([A-Za-z0-9]+Decode)".r

  /** zlib-inflate raw stream bytes (the string is the ISO-8859-1 image of
    * the bytes, lossless both ways). None on any malformed input — a broken
    * stream degrades to "no text", never a crash.
    */
  private def inflate(raw: String): Option[String] = {
    try {
      val inf = new java.util.zip.Inflater()
      inf.setInput(raw.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      val out = new java.io.ByteArrayOutputStream(math.max(64, raw.length * 4))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (inf.needsInput() || inf.needsDictionary())
          throw new java.util.zip.DataFormatException("truncated stream")
      }
      inf.end()
      Some(new String(out.toByteArray, java.nio.charset.StandardCharsets.ISO_8859_1))
    } catch { case _: Exception => None }
  }

  /** One raw stream object: its governing dictionary text and the stream
    * data (both as lossless ISO-8859-1 char images of the bytes).
    * `objNum` is the "N G obj" number preceding the dictionary (-1 when
    * the stream is not introduced by an object header) — what lets a
    * /ToUnicode or /Contents reference find ITS stream, and a content
    * stream find ITS page's font resources.
    */
  private final case class RawStream(dict: String, data: String, objNum: Int = -1)

  /** Object number of the "N G obj" header immediately before `ds`,
    * scanning backwards over whitespace runs and %-comment lines (a fixed
    * lookback window used to miss headers a writer separated from `<<` by
    * long comments, silently unbinding the stream — the font or /ToUnicode
    * it carried then degraded to Latin-1 mojibake). The scan is bounded at
    * 4 kB so a malformed file can't make it quadratic.
    */
  private[graft] def objNumBefore(pdf: String, ds: Int): Int = {
    if (ds <= 0) return -1
    val floor = math.max(0, ds - 4096)
    def isWs(c: Char) =
      c == ' ' || c == '\r' || c == '\n' || c == '\t' || c == '\f' || c == 0.toChar
    var i = ds - 1
    // skip trailing whitespace and whole %-comment tails between the
    // header and the dict (comments run from '%' to end of line)
    var scanning = true
    while (scanning && i >= floor) {
      while (i >= floor && isWs(pdf.charAt(i))) i -= 1
      if (i < floor) scanning = false
      else {
        // a '%' on this line comments out the rest of it — resume just
        // before the '%' (the header itself may share the comment's line:
        // "12 0 obj  % note")
        val lineStart = pdf.lastIndexOf('\n', i) + 1
        val pct = pdf.indexOf('%', lineStart)
        if (pct >= 0 && pct <= i) i = pct - 1 else scanning = false
      }
    }
    if (i - 2 < floor || !pdf.regionMatches(i - 2, "obj", 0, 3)) return -1
    i -= 3
    while (i >= floor && isWs(pdf.charAt(i))) i -= 1
    val genEnd = i // generation digits ("N G obj" requires both numbers)
    while (i >= floor && pdf.charAt(i).isDigit) i -= 1
    if (i == genEnd) return -1
    while (i >= floor && isWs(pdf.charAt(i))) i -= 1
    val numEnd = i
    while (i >= floor && pdf.charAt(i).isDigit) i -= 1
    if (i == numEnd) return -1
    try pdf.substring(i + 1, numEnd + 1).toInt
    catch { case _: NumberFormatException => -1 }
  }

  // the (\s+\d+\s+R)? tail detects an INDIRECT length ("/Length 5 0 R" —
  // common in real PDFs, where the writer backfills the length after the
  // data): the leading digits are an object number, not a byte count
  private val LengthRe = "/Length\\s+(\\d+)(\\s+\\d+\\s+R)?".r

  /** Start of the balanced `<<` that governs the `stream` keyword at
    * `streamKw` (nested dicts — /DecodeParms etc. — handled; a plain
    * `lastIndexOf("<<")` would stop at the innermost one).
    */
  private def dictStart(pdf: String, streamKw: Int): Int = {
    var i = streamKw - 1
    var depth = 0
    while (i >= 1) {
      if (pdf.charAt(i) == '>' && pdf.charAt(i - 1) == '>') { depth += 1; i -= 2 }
      else if (pdf.charAt(i) == '<' && pdf.charAt(i - 1) == '<') {
        depth -= 1
        if (depth == 0) return i - 1
        i -= 2
      } else i -= 1
    }
    -1
  }

  /** All stream objects in byte order. /Length bounds the data exactly —
    * compressed bytes may contain the "endstream" byte sequence by chance,
    * so the keyword alone is not a safe terminator; it IS the fallback
    * when /Length is absent or indirect ("/Length 5 0 R" — resolving the
    * reference from inside the scanner would recurse, and the keyword scan
    * is what correctly handled these before /Length trust existed).
    */
  private def rawStreams(pdf: String): Vector[RawStream] = {
    val out = Vector.newBuilder[RawStream]
    var i = 0
    var done = false
    while (!done) {
      val s = pdf.indexOf("stream", i)
      if (s < 0) done = true
      else {
        val ds = dictStart(pdf, s)
        val dict = if (ds >= 0) pdf.substring(ds, s) else ""
        var b = s + "stream".length
        if (b < pdf.length && pdf.charAt(b) == '\r') b += 1
        if (b < pdf.length && pdf.charAt(b) == '\n') b += 1
        val direct = LengthRe.findFirstMatchIn(dict)
          .filter(_.group(2) == null).map(m => b + m.group(1).toInt)
        val dataEnd = direct.filter(_ <= pdf.length).getOrElse {
          val e = pdf.indexOf("endstream", s)
          if (e < 0) { done = true; b } else e
        }
        if (!done) {
          out += RawStream(dict, pdf.substring(b, dataEnd), objNumBefore(pdf, ds))
          val endTok = pdf.indexOf("endstream", dataEnd)
          if (endTok < 0) done = true
          else i = endTok + "endstream".length
        }
      }
    }
    out.result()
  }

  /** Decoded data of a stream: the /Filter chain applied in order —
    * /FlateDecode (zlib), /ASCIIHexDecode, /ASCII85Decode, /LZWDecode
    * (honoring /DecodeParms /EarlyChange), /RunLengthDecode, and their
    * chains (e.g. `[/ASCII85Decode /FlateDecode]`, the classic
    * mail-safe wrapping). Image-only filters (DCT, JPX, JBIG2, CCITT) →
    * None — declared limitation, not a crash.
    */
  private def decodedData(st: RawStream): Option[String] = {
    val filters = FilterNames.findAllMatchIn(st.dict).map(_.group(1)).toVector
    filters.foldLeft(Option(st.data)) { (acc, f) =>
      acc.flatMap { d =>
        f match {
          case "FlateDecode" => inflate(d)
          case "ASCIIHexDecode" => asciiHexDecode(d)
          case "ASCII85Decode" => ascii85Decode(d)
          case "LZWDecode" => lzwDecode(d, earlyChangeOf(st.dict))
          case "RunLengthDecode" => runLengthDecode(d)
          case _ => None
        }
      }
    }
  }

  private val EarlyChangeRe = "/EarlyChange\\s+(\\d+)".r

  /** /EarlyChange from a stream dict's /DecodeParms (default 1). */
  private def earlyChangeOf(dict: String): Int =
    EarlyChangeRe.findFirstMatchIn(dict).map(_.group(1).toInt).getOrElse(1)

  /** /LZWDecode (PDF 32000 §7.4.4, the TIFF variant): MSB-first
    * variable-width codes starting at 9 bits, 256 = clear-table, 257 =
    * end-of-data, new entries from 258, width capped at 12 bits. With
    * `earlyChange` 1 (the spec default) the width grows ONE CODE EARLY
    * (at table size 2^w - 1); /DecodeParms << /EarlyChange 0 >> defers it
    * to 2^w. None on any malformed stream — degrade, never crash.
    */
  private[extract] def lzwDecode(s: String, earlyChange: Int = 1): Option[String] = {
    val out = new StringBuilder
    var table = mutable.ArrayBuffer.empty[String]
    var width = 9
    def reset(): Unit = {
      table = mutable.ArrayBuffer.tabulate(258)(i =>
        if (i < 256) i.toChar.toString else "")
      width = 9
    }
    reset()
    var bitBuf = 0L
    var bitCnt = 0
    var prev: String = null
    var i = 0
    while (i <= s.length) {
      if (bitCnt < width && i < s.length) {
        bitBuf = (bitBuf << 8) | (s.charAt(i) & 0xff)
        bitCnt += 8
        i += 1
      } else if (bitCnt >= width) {
        val code = ((bitBuf >> (bitCnt - width)) & ((1L << width) - 1)).toInt
        bitCnt -= width
        if (code == 257) return Some(out.toString) // EOD
        else if (code == 256) { reset(); prev = null }
        else {
          val entry =
            if (code < table.length) table(code)
            else if (code == table.length && prev != null) prev + prev.charAt(0)
            else return None // out-of-range code: corrupt stream
          out.append(entry)
          if (prev != null && table.length < 4096) table += (prev + entry.charAt(0))
          // earlyChange=1 widens one code before the table index needs it
          if (table.length >= (1 << width) - earlyChange && width < 12) width += 1
          prev = entry
        }
      } else i += 1 // trailing partial byte: pad bits exhausted
    }
    Some(out.toString) // EOD missing: tolerate, like the other decoders
  }

  /** /RunLengthDecode (PDF 32000 §7.4.5): length byte L — 0..127 copies
    * the next L+1 bytes literally, 129..255 repeats the next byte 257-L
    * times, 128 ends the data.
    */
  private[extract] def runLengthDecode(s: String): Option[String] = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val l = s.charAt(i) & 0xff
      if (l == 128) return Some(out.toString) // EOD
      else if (l < 128) {
        if (i + 1 + l + 1 > s.length) return None
        out.append(s.substring(i + 1, i + 1 + l + 1))
        i += 1 + l + 1
      } else {
        if (i + 1 >= s.length) return None
        val c = s.charAt(i + 1)
        var k = 0
        while (k < 257 - l) { out.append(c); k += 1 }
        i += 2
      }
    }
    Some(out.toString)
  }

  /** /ASCIIHexDecode: hex pairs, whitespace ignored, '>' terminates, an
    * odd trailing digit pads with 0 (PDF 32000 §7.4.2). None on a non-hex
    * byte — degrade, never crash.
    */
  private[extract] def asciiHexDecode(s: String): Option[String] = {
    val out = new StringBuilder
    var hi = -1
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '>') i = s.length
      else if (!c.isWhitespace) {
        val v = Character.digit(c, 16)
        if (v < 0) return None
        if (hi < 0) hi = v
        else { out.append(((hi << 4) | v).toChar); hi = -1 }
        i += 1
      } else i += 1
    }
    if (hi >= 0) out.append((hi << 4).toChar) // odd digit: low nibble 0
    Some(out.toString)
  }

  /** /ASCII85Decode: 5 chars '!'..'u' → 4 bytes base 85, 'z' = four zero
    * bytes, whitespace ignored, '~>' terminates; a partial final group of
    * n chars pads with 'u' and yields n-1 bytes (PDF 32000 §7.4.3).
    */
  private[extract] def ascii85Decode(s: String): Option[String] = {
    val out = new StringBuilder
    val grp = new Array[Int](5)
    var n = 0
    def flush(count: Int): Boolean = {
      if (count == 1) return false // a 1-char final group is invalid
      var v = 0L
      var i = 0
      while (i < 5) { v = v * 85 + (if (i < count) grp(i) else 84); i += 1 }
      var j = 0
      while (j < count - 1) {
        out.append(((v >> (8 * (3 - j))) & 0xff).toChar)
        j += 1
      }
      true
    }
    var i = 0
    var done = false
    while (i < s.length && !done) {
      val c = s.charAt(i)
      if (c == '~') done = true // '~>' terminator
      else if (c == 'z' && n == 0) out.append("\u0000\u0000\u0000\u0000")
      else if (c >= '!' && c <= 'u') {
        grp(n) = c - '!'
        n += 1
        if (n == 5) { if (!flush(5)) return None; n = 0 }
      } else if (!c.isWhitespace) return None
      i += 1
    }
    if (n > 0 && !flush(n)) return None
    Some(out.toString)
  }

  /** Text content streams in byte order (one per page). PDF 1.5+ metadata
    * streams — /ObjStm object catalogs and /XRef cross-reference streams —
    * are structural, never page content, and their inflated bytes can
    * contain "BT" by chance, so they are excluded here and routed to
    * `objectStreamBodies` / `xrefStreamEntries` instead. The reference's
    * PdfPig reads all of these as a matter of course
    * (`pdf/PdfDocumentConverter.cs:30-47`).
    */
  def contentStreams(pdf: String): Vector[String] =
    contentStreamsOf(rawStreams(pdf))

  private def contentStreamsOf(streams: Vector[RawStream]): Vector[String] =
    contentStreamPairsOf(streams).map(_._2)

  /** (object number, decoded content) pairs — the number is what lets a
    * page dict's /Contents reference bind ITS font resources to the page.
    */
  private def contentStreamPairsOf(
      streams: Vector[RawStream]): Vector[(Int, String)] =
    streams
      .filterNot(st => st.dict.contains("/ObjStm") || st.dict.contains("/XRef"))
      .flatMap(st => decodedData(st).filter(_.contains("BT")).map((st.objNum, _)))

  // --- PDF 1.5+ object catalog (xref streams + object streams) ------------

  private val ObjCountRe = "/N\\s+(\\d+)".r
  private val FirstRe = "/First\\s+(\\d+)".r

  /** Bodies of objects embedded in /ObjStm object streams, by object
    * number. An ObjStm is a Flate stream whose head (before /First) is N
    * whitespace-separated (objnum, offset) pairs and whose tail is the
    * concatenated object bodies — PDF 1.5+ writers put the whole
    * non-stream object catalog (info dict, page tree) in these, so a raw
    * byte scan of the file sees none of it.
    */
  def objectStreamBodies(pdf: String): Map[Int, String] =
    objectStreamBodiesOf(rawStreams(pdf))

  private def objectStreamBodiesOf(streams: Vector[RawStream]): Map[Int, String] =
    streams.filter(_.dict.contains("/ObjStm")).flatMap { st =>
      val parsed = for {
        d <- decodedData(st)
        n <- ObjCountRe.findFirstMatchIn(st.dict).map(_.group(1).toInt)
        first <- FirstRe.findFirstMatchIn(st.dict).map(_.group(1).toInt)
        if first <= d.length
      } yield {
        val header = d.substring(0, first).trim.split("\\s+")
          .filter(_.nonEmpty).flatMap(_.toIntOption)
        val pairs = header.grouped(2).collect { case Array(num, off) => (num, off) }
          .toVector.take(n)
        pairs.zipWithIndex.map { case ((num, off), i) =>
          val start = math.min(first + off, d.length)
          val end =
            if (i + 1 < pairs.length) math.min(first + pairs(i + 1)._2, d.length)
            else d.length
          num -> d.substring(start, math.max(start, end))
        }
      }
      parsed.getOrElse(Vector.empty)
    }.toMap

  private val WidthsRe = "/W\\s*\\[([^\\]]*)\\]".r
  private val IndexRe = "/Index\\s*\\[([^\\]]*)\\]".r
  private val SizeRe = "/Size\\s+(\\d+)".r
  private val PredictorRe = "/Predictor\\s+(\\d+)".r

  /** Entries of /XRef cross-reference streams: objnum → (type, f2, f3).
    * type 1 = regular object at byte offset f2; type 2 = object number
    * f3-th inside object stream f2; type 0 = free. Handles the /W field
    * widths, /Index subsection runs, and the PNG row predictors
    * (/Predictor 10-15: None/Sub/Up) real writers emit.
    */
  def xrefStreamEntries(pdf: String): Map[Int, (Int, Long, Long)] =
    xrefStreamEntriesOf(rawStreams(pdf))

  private def xrefStreamEntriesOf(
      streams: Vector[RawStream]): Map[Int, (Int, Long, Long)] =
    streams.filter(_.dict.contains("/XRef")).flatMap { st =>
      val parsed = for {
        d0 <- decodedData(st)
        w <- WidthsRe.findFirstMatchIn(st.dict).map(
          _.group(1).trim.split("\\s+").flatMap(_.toIntOption).toVector)
        if w.length == 3
      } yield {
        val rowW = w.sum
        val predictor = PredictorRe.findFirstMatchIn(st.dict)
          .map(_.group(1).toInt).getOrElse(1)
        val bytes = d0.toCharArray.map(c => (c & 0xff).toByte)
        val rows: Vector[Array[Int]] =
          if (predictor >= 10) unPng(bytes, rowW)
          else bytes.grouped(rowW).filter(_.length == rowW)
            .map(_.map(_ & 0xff)).toVector
        val index: Vector[(Int, Int)] = IndexRe.findFirstMatchIn(st.dict)
          .map(_.group(1).trim.split("\\s+").flatMap(_.toIntOption).toVector)
          .map(_.grouped(2).collect { case Vector(s0, c0) => (s0, c0) }.toVector)
          .getOrElse {
            val size = SizeRe.findFirstMatchIn(st.dict)
              .map(_.group(1).toInt).getOrElse(rows.length)
            Vector((0, size))
          }
        var rowIdx = 0
        val out = Vector.newBuilder[(Int, (Int, Long, Long))]
        index.foreach { case (start, count) =>
          var k = 0
          while (k < count && rowIdx < rows.length) {
            val r = rows(rowIdx)
            def field(off: Int, len: Int): Long = {
              var v = 0L; var j = 0
              while (j < len) { v = (v << 8) | r(off + j); j += 1 }
              v
            }
            // a zero-width type field defaults to type 1 (PDF 32000 §7.5.8.2)
            val t = if (w(0) == 0) 1 else field(0, w(0)).toInt
            out += ((start + k, (t, field(w(0), w(1)), field(w(0) + w(1), w(2)))))
            rowIdx += 1; k += 1
          }
        }
        out.result()
      }
      parsed.getOrElse(Vector.empty)
    }.toMap

  /** Undo a PNG row predictor: each (1 + rowW)-byte row leads with a
    * filter tag (0 None, 1 Sub, 2 Up — what PDF writers use).
    */
  private def unPng(bytes: Array[Byte], rowW: Int): Vector[Array[Int]] = {
    val rows = Vector.newBuilder[Array[Int]]
    var prev = new Array[Int](rowW)
    var i = 0
    while (i + rowW < bytes.length) {
      val tag = bytes(i) & 0xff
      val row = new Array[Int](rowW)
      var j = 0
      while (j < rowW) {
        val raw = bytes(i + 1 + j) & 0xff
        row(j) = tag match {
          case 0 => raw
          case 1 => (raw + (if (j > 0) row(j - 1) else 0)) & 0xff
          case 2 => (raw + prev(j)) & 0xff
          case _ => raw // unsupported PNG filter: best-effort pass-through
        }
        j += 1
      }
      rows += row
      prev = row
      i += 1 + rowW
    }
    rows.result()
  }

  /** One-pass object-resolution context shared by title/metadata lookup,
    * font resolution, and page binding: the xref-stream entries, ObjStm
    * bodies, and stream-by-object-number index are each computed AT MOST
    * once per document (extract runs per document inside the extract
    * mapPartitions — a 10 MB PDF must not re-inflate its metadata streams
    * for every font it declares).
    */
  private final class Catalog(pdf: String, streams: Vector[RawStream]) {
    lazy val xref: Map[Int, (Int, Long, Long)] = xrefStreamEntriesOf(streams)
    lazy val objStm: Map[Int, String] = objectStreamBodiesOf(streams)
    lazy val streamByNum: Map[Int, RawStream] =
      streams.filter(_.objNum >= 0).map(st => st.objNum -> st).toMap
    private val fontCache = mutable.Map.empty[Int, Option[PdfFont]]

    private def topLevelAt(from: Int, num: Int): Option[String] = {
      val re = ("(?<![0-9])" + num + "\\s+\\d+\\s+obj").r
      // LAST definition wins: an incremental update appends a replacement
      // object at the end of the file (PDF 32000 §7.5.6)
      re.findAllMatchIn(pdf.substring(from)).toSeq.lastOption.map { m =>
        val start = from + m.end
        val end = pdf.indexOf("endobj", start)
        pdf.substring(start, if (end < 0) pdf.length else end)
      }
    }

    /** Body text of object `num`: the xref stream's entry when one exists
      * (type 1 → parse at its byte offset; type 2 → the object-stream
      * catalog), else a top-level "num gen obj" scan, else the ObjStm
      * catalog (xref-free fixtures).
      */
    def body(num: Int): Option[String] = xref.get(num) match {
      case Some((1, off, _)) if off < pdf.length => topLevelAt(off.toInt, num)
      case Some((2, _, _)) => objStm.get(num)
      case _ => topLevelAt(0, num).orElse(objStm.get(num))
    }

    /** Decoded stream data of stream object `num`. */
    def streamData(num: Int): Option[String] =
      streamByNum.get(num).flatMap(decodedData)

    /** Font decoder for font object `num` (memoized — pages share fonts). */
    def font(num: Int): Option[PdfFont] =
      fontCache.getOrElseUpdate(num, body(num).flatMap(b => buildFont(this, b)))

    /** Every known non-stream object body: top-level definitions in file
      * order (later incremental updates win) plus ObjStm-resident bodies.
      * Top-level stream objects contribute only their dict text.
      */
    lazy val bodies: Map[Int, String] = {
      val top = TopObjRe.findAllMatchIn(pdf).map { m =>
        val start = m.end
        val endObj = pdf.indexOf("endobj", start)
        val streamKw = pdf.indexOf("stream", start)
        val end =
          if (endObj < 0) pdf.length
          else if (streamKw >= 0 && streamKw < endObj) streamKw
          else endObj
        m.group(1).toInt -> pdf.substring(start, end)
      }.toVector
      (top ++ objStm.toVector).toMap
    }
  }

  private val TopObjRe = "(?<![0-9])(\\d+)\\s+\\d+\\s+obj\\b".r

  // --- fonts: /ToUnicode CMaps and /Encoding /Differences ------------------
  //
  // Real-world PDFs overwhelmingly embed SUBSET fonts whose glyph codes are
  // not character codes — showing their strings as Latin-1 extracts
  // mojibake. The reference gets correct text for free from PdfPig's letter
  // extraction (`pdf/PdfDocumentConverter.cs:39-47`, `page.GetWords`); here
  // the /ToUnicode CMap each embedding writer emits (it is what makes
  // copy-paste work in viewers) maps codes back to Unicode, with simple-font
  // /Encoding /Differences glyph names as the second source and Latin-1 as
  // the declared fallback when a font carries neither.

  /** Decoder for one font: `codeBytes` is the show-string code width (1 =
    * simple font, 2 = CID/Type0 from the CMap's codespace), `map` the
    * code → Unicode mapping. Unmapped 1-byte codes fall back to Latin-1
    * (many writers only list the non-trivial part of the map); unmapped
    * 2-byte codes have no meaningful fallback → U+FFFD.
    */
  final case class PdfFont(codeBytes: Int, map: Map[Int, String]) {
    def decode(raw: String): String = {
      val sb = new StringBuilder(raw.length)
      if (codeBytes <= 1) {
        var i = 0
        while (i < raw.length) {
          val code = raw.charAt(i) & 0xff
          map.get(code) match {
            case Some(s) => sb.append(s)
            case None => sb.append(code.toChar)
          }
          i += 1
        }
      } else {
        var i = 0
        while (i + 1 < raw.length) {
          val code = ((raw.charAt(i) & 0xff) << 8) | (raw.charAt(i + 1) & 0xff)
          sb.append(map.getOrElse(code, "�"))
          i += 2
        }
        if (i < raw.length) sb.append((raw.charAt(i) & 0xff).toChar) // odd tail
      }
      sb.toString
    }
  }

  private val HexTokRe = "<([0-9A-Fa-f]+)>".r

  /** `begin`..`end` section bodies in order (CMap operators). */
  private def sections(s: String, begin: String, end: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    var done = false
    while (!done) {
      val b = s.indexOf(begin, i)
      if (b < 0) done = true
      else {
        val e = s.indexOf(end, b + begin.length)
        if (e < 0) done = true
        else { out += s.substring(b + begin.length, e); i = e + end.length }
      }
    }
    out.result()
  }

  /** UTF-16BE hex (`<0041>`, `<00660066>` for ligature expansions) →
    * string; a single byte pair reads as one char.
    */
  private def hexToUtf16(hex: String): String = {
    val h = if (hex.length % 2 == 1) hex + "0" else hex
    val bytes = new Array[Byte](h.length / 2)
    var i = 0
    while (i < bytes.length) {
      bytes(i) = Integer.parseInt(h.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    if (bytes.length % 2 == 0 && bytes.length >= 2)
      new String(bytes, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Parse a /ToUnicode CMap stream (PDF 32000 §9.10.3): the codespace
    * range fixes the code byte width; `bfchar` maps single codes, `bfrange`
    * maps runs — `<lo> <hi> <dstStart>` increments the LAST UTF-16 unit,
    * `<lo> <hi> [<d0> <d1> ...]` lists each destination.
    */
  private[extract] def parseCMap(data: String): PdfFont = {
    var codeBytes = 0
    sections(data, "begincodespacerange", "endcodespacerange").foreach { sec =>
      HexTokRe.findFirstMatchIn(sec).foreach(m =>
        codeBytes = math.max(codeBytes, m.group(1).length / 2))
    }
    val map = mutable.Map.empty[Int, String]
    sections(data, "beginbfchar", "endbfchar").foreach { sec =>
      HexTokRe.findAllMatchIn(sec).map(_.group(1)).grouped(2).foreach {
        case Seq(src, dst) =>
          if (codeBytes == 0) codeBytes = src.length / 2
          map(Integer.parseInt(src, 16)) = hexToUtf16(dst)
        case _ =>
      }
    }
    sections(data, "beginbfrange", "endbfrange").foreach { sec =>
      // token scan: <hex>, '[', ']' — the array form lists destinations
      var i = 0
      val toks = mutable.ArrayBuffer.empty[String]
      while (i < sec.length) {
        sec.charAt(i) match {
          case '<' =>
            val e = sec.indexOf('>', i)
            if (e < 0) i = sec.length
            else { toks += sec.substring(i + 1, e); i = e + 1 }
          case '[' => toks += "["; i += 1
          case ']' => toks += "]"; i += 1
          case _ => i += 1
        }
      }
      var t = 0
      while (t + 1 < toks.length) {
        val lo = Integer.parseInt(toks(t), 16)
        val hi = Integer.parseInt(toks(t + 1), 16)
        if (codeBytes == 0) codeBytes = toks(t).length / 2
        if (t + 2 < toks.length && toks(t + 2) == "[") {
          var c = lo
          var j = t + 3
          while (j < toks.length && toks(j) != "]") {
            if (c <= hi) map(c) = hexToUtf16(toks(j))
            c += 1; j += 1
          }
          t = j + 1
        } else if (t + 2 < toks.length) {
          val dst = hexToUtf16(toks(t + 2))
          var c = lo
          while (c <= hi) {
            // increment the last UTF-16 unit by the offset (§9.10.3 note:
            // the last byte of a range destination must not overflow)
            val off = c - lo
            map(c) =
              if (dst.isEmpty) ""
              else dst.substring(0, dst.length - 1) +
                (dst.charAt(dst.length - 1) + off).toChar
            c += 1
          }
          t += 3
        } else t = toks.length
      }
    }
    PdfFont(math.max(1, codeBytes), map.toMap)
  }

  /** Adobe Glyph List subset covering the ASCII names /Differences arrays
    * use for simple fonts, inverted for the fixture encoder. `uniXXXX` and
    * `uXXXX` forms are handled in `glyphToChar`.
    */
  private[extract] val AglNames: Map[String, Char] = Map(
    "space" -> ' ', "exclam" -> '!', "quotedbl" -> '"', "numbersign" -> '#',
    "dollar" -> '$', "percent" -> '%', "ampersand" -> '&',
    "quotesingle" -> '\'', "parenleft" -> '(', "parenright" -> ')',
    "asterisk" -> '*', "plus" -> '+', "comma" -> ',', "hyphen" -> '-',
    "period" -> '.', "slash" -> '/', "zero" -> '0', "one" -> '1',
    "two" -> '2', "three" -> '3', "four" -> '4', "five" -> '5',
    "six" -> '6', "seven" -> '7', "eight" -> '8', "nine" -> '9',
    "colon" -> ':', "semicolon" -> ';', "less" -> '<', "equal" -> '=',
    "greater" -> '>', "question" -> '?', "at" -> '@',
    "bracketleft" -> '[', "backslash" -> '\\', "bracketright" -> ']',
    "asciicircum" -> '^', "underscore" -> '_', "grave" -> '`',
    "braceleft" -> '{', "bar" -> '|', "braceright" -> '}',
    "asciitilde" -> '~') ++
    (('A' to 'Z') ++ ('a' to 'z')).map(c => c.toString -> c).toMap

  private def glyphToChar(name: String): Option[String] =
    if (name.startsWith("uni") && name.length >= 7)
      try Some(new String(Character.toChars(Integer.parseInt(name.substring(3, 7), 16))))
      catch { case _: NumberFormatException => None }
    else if (name.length >= 5 && name.charAt(0) == 'u' &&
        name.substring(1).forall(c => Character.digit(c, 16) >= 0))
      try Some(new String(Character.toChars(Integer.parseInt(name.substring(1), 16))))
      catch { case _: Exception => None }
    else AglNames.get(name).map(_.toString)

  private val DifferencesRe = "/Differences\\s*\\[([^\\]]*)\\]".r

  /** /Differences array: integers reposition the code counter, names
    * assign consecutive codes (PDF 32000 §9.6.6.3).
    */
  private[extract] def parseDifferences(arr: String): Map[Int, String] = {
    val map = mutable.Map.empty[Int, String]
    var code = 0
    arr.split("\\s+").filter(_.nonEmpty).foreach { t =>
      if (t.startsWith("/")) {
        glyphToChar(t.substring(1)).foreach(map(code) = _)
        code += 1
      } else t.toIntOption.foreach(code = _)
    }
    map.toMap
  }

  /** Balanced `<< ... >>` starting at `start` (index of the first '<'). */
  private def balancedDict(s: String, start: Int): String = {
    var i = start
    var depth = 0
    while (i + 1 < s.length) {
      if (s.charAt(i) == '<' && s.charAt(i + 1) == '<') { depth += 1; i += 2 }
      else if (s.charAt(i) == '>' && s.charAt(i + 1) == '>') {
        depth -= 1; i += 2
        if (depth == 0) return s.substring(start, i)
      } else i += 1
    }
    s.substring(start)
  }

  private val ToUnicodeRe = "/ToUnicode\\s+(\\d+)\\s+\\d+\\s+R".r
  private val FontTypeRe = "/Type\\s*/Font".r
  private val DescendantRe =
    "/DescendantFonts\\s*(\\[[^\\]]*\\]|\\d+\\s+\\d+\\s+R)".r
  private val FontDescriptorRe = "/FontDescriptor\\s+(\\d+)\\s+\\d+\\s+R".r
  private val FontFile2Re = "/FontFile2\\s+(\\d+)\\s+\\d+\\s+R".r
  private val CidToGidRefRe = "/CIDToGIDMap\\s+(\\d+)\\s+\\d+\\s+R".r
  private val PageTypeRe = "/Type\\s*/Page\\b".r
  private val PagesTypeRe = "/Type\\s*/Pages\\b".r
  private val RefNumRe = "(\\d+)\\s+\\d+\\s+R".r
  private val ContentsRe = "/Contents\\s*(\\[[^\\]]*\\]|\\d+\\s+\\d+\\s+R)".r
  private val ResourcesRe = "/Resources\\s*".r
  private val EncodingRefRe = "/Encoding\\s+(\\d+)\\s+\\d+\\s+R".r

  /** Build the decoder for one font dict body: /ToUnicode CMap first (the
    * authoritative map the embedding writer emits), /Encoding /Differences
    * (inline or referenced encoding dict) second, None → Latin-1 fallback.
    */
  private def buildFont(cat: Catalog, body: String): Option[PdfFont] = {
    if (FontTypeRe.findFirstIn(body).isEmpty) return None
    val fromCMap = ToUnicodeRe.findFirstMatchIn(body)
      .flatMap(m => cat.streamData(m.group(1).toInt))
      .flatMap(d => try Some(parseCMap(d)) catch { case _: Exception => None })
      .filter(_.map.nonEmpty)
    fromCMap.orElse {
      val encBody =
        EncodingRefRe.findFirstMatchIn(body).flatMap(m => cat.body(m.group(1).toInt))
          .orElse {
            val i = body.indexOf("/Encoding")
            if (i < 0) None
            else {
              var k = i + "/Encoding".length
              while (k < body.length && body.charAt(k).isWhitespace) k += 1
              if (k + 1 < body.length && body.charAt(k) == '<' &&
                  body.charAt(k + 1) == '<') Some(balancedDict(body, k))
              else None
            }
          }
      encBody.flatMap(e => DifferencesRe.findFirstMatchIn(e))
        .map(m => parseDifferences(m.group(1)))
        .filter(_.nonEmpty)
        .map(d => PdfFont(1, d))
    }.orElse(fontProgramFallback(cat, body))
  }

  /** Third decoding source, for the writer class that omits BOTH
    * /ToUnicode and /Differences: a /Type0 /Identity-H font whose
    * descendant embeds a TrueType program (/FontFile2). Identity-H makes
    * each 2-byte show code the CID, /CIDToGIDMap turns CIDs into glyph
    * IDs (the /Identity default, or an explicit 2-byte-per-CID stream),
    * and the program's own `cmap` table — inverted by [[TrueTypeCmap]] —
    * turns glyph IDs back into Unicode. Predefined non-Identity CMaps
    * (e.g. /UniGB-UCS2-H) need external CMap resources and stay a
    * declared deviation; fonts with no usable Unicode cmap fall through
    * to the U+FFFD behavior they had before.
    */
  private def fontProgramFallback(cat: Catalog, body: String): Option[PdfFont] = {
    if (!body.contains("/Type0")) return None
    if (!body.contains("/Identity-H") && !body.contains("/Identity-V"))
      return None
    val built = for {
      dm <- DescendantRe.findFirstMatchIn(body)
      descNum <- RefNumRe.findFirstMatchIn(dm.group(1)).map(_.group(1).toInt)
      desc <- cat.body(descNum).flatMap { b =>
        // /DescendantFonts may reference the ARRAY object rather than
        // inlining it — dereference one more hop in that case
        if (FontDescriptorRe.findFirstIn(b).isDefined) Some(b)
        else RefNumRe.findFirstMatchIn(b).flatMap(r => cat.body(r.group(1).toInt))
      }
      fdNum <- FontDescriptorRe.findFirstMatchIn(desc).map(_.group(1).toInt)
      fd <- cat.body(fdNum)
      ffNum <- FontFile2Re.findFirstMatchIn(fd).map(_.group(1).toInt)
      program <- cat.streamData(ffNum)
      g2u = TrueTypeCmap.glyphToUnicode(program)
      if g2u.nonEmpty
    } yield {
      val map = CidToGidRefRe.findFirstMatchIn(desc) match {
        case Some(m) => cat.streamData(m.group(1).toInt) match {
          case Some(s) => // explicit map: CID i → big-endian u16 at byte 2i
            (0 until s.length / 2).iterator.flatMap { cid =>
              val gid = ((s.charAt(2 * cid) & 0xff) << 8) |
                (s.charAt(2 * cid + 1) & 0xff)
              g2u.get(gid).map(cid -> _)
            }.toMap
          case None =>
            // an EXPLICIT CID→GID stream we cannot decode: falling back
            // to Identity here would emit confident-looking WRONG text
            // (CIDs hitting unrelated cmap entries); an empty map keeps
            // codeBytes=2 and degrades every code to U+FFFD — an honest
            // "undecodable" signal
            Map.empty[Int, String]
        }
        case None => g2u // /CIDToGIDMap /Identity (the default): CID == GID
      }
      PdfFont(2, map)
    }
    built
  }

  /** Resolve each page dict's /Resources /Font bindings: content-stream
    * object number → (font name → decoder), plus the union of all pages'
    * bindings as the fallback for content streams no page dict claims
    * (xref-free fixtures whose pages the raw scan can miss).
    */
  /** Per-page resource bindings: the font decoders AND the /Subtype /Image
    * XObjects reachable from each page's /Resources, keyed by the page's
    * content-stream object numbers (plus a global fallback for xref-free
    * fixtures whose pages can't be bound).
    */
  private def pageBindingsOf(cat: Catalog):
      (Map[Int, (Map[String, PdfFont], Map[String, ImageRef])],
       (Map[String, PdfFont], Map[String, ImageRef])) = {
    val perContent =
      mutable.Map.empty[Int, (Map[String, PdfFont], Map[String, ImageRef])]
    val gFonts = mutable.Map.empty[String, PdfFont]
    val gImages = mutable.Map.empty[String, ImageRef]
    cat.bodies.toVector.sortBy(_._1).foreach { case (_, body) =>
      if (PageTypeRe.findFirstIn(body).isDefined &&
          PagesTypeRe.findFirstIn(body).isEmpty) {
        val res = ResourcesRe.findFirstMatchIn(body).flatMap { m =>
          val k = m.end
          if (k + 1 < body.length && body.charAt(k) == '<' &&
              body.charAt(k + 1) == '<') Some(balancedDict(body, k))
          else RefNumRe.findPrefixMatchOf(body.substring(k))
            .flatMap(r => cat.body(r.group(1).toInt))
        }
        val fonts = res.map(fontBindingsIn(cat, _)).getOrElse(Map.empty)
        val images = res.map(imageBindingsIn(cat, _)).getOrElse(Map.empty)
        if (fonts.nonEmpty || images.nonEmpty) {
          gFonts ++= fonts
          gImages ++= images
          ContentsRe.findFirstMatchIn(body).toSeq.flatMap(m =>
            RefNumRe.findAllMatchIn(m.group(1)).map(_.group(1).toInt))
            .foreach(c => perContent(c) = (fonts, images))
        }
      }
    }
    (perContent.toMap, (gFonts.toMap, gImages.toMap))
  }

  private val SubtypeImageRe = "/Subtype\\s*/Image\\b".r
  private val WidthRe = "/Width\\s+(\\d+)".r
  private val HeightRe = "/Height\\s+(\\d+)".r

  /** `/Im1 9 0 R` bindings of a /XObject resource dict whose target is a
    * /Subtype /Image stream: name + /Width //Height from the stream dict
    * (the image BYTES stay in the PDF — only the typed reference surfaces,
    * as a Media.Image span at the draw position). Form XObjects and other
    * subtypes are ignored.
    */
  private def imageBindingsIn(cat: Catalog,
      resources: String): Map[String, ImageRef] = {
    val xi = resources.indexOf("/XObject")
    if (xi < 0) return Map.empty
    var k = xi + "/XObject".length
    while (k < resources.length && resources.charAt(k).isWhitespace) k += 1
    val xDict =
      if (k + 1 < resources.length && resources.charAt(k) == '<' &&
          resources.charAt(k + 1) == '<') Some(balancedDict(resources, k))
      else RefNumRe.findPrefixMatchOf(resources.substring(k))
        .flatMap(r => cat.body(r.group(1).toInt))
    xDict.map { xd =>
      val out = mutable.Map.empty[String, ImageRef]
      "/([A-Za-z0-9_.+-]+)\\s+(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(xd).foreach { m =>
        val name = m.group(1)
        val num = m.group(2).toInt
        // cat.bodies holds only the DICT text for top-level stream objects;
        // body(num) (full object incl. data) is the xref-resolved fallback
        cat.bodies.get(num).orElse(cat.body(num)).foreach { b =>
          val sk = b.indexOf("stream")
          val dict = if (sk >= 0) b.substring(0, sk) else b
          if (SubtypeImageRe.findFirstIn(dict).isDefined) {
            val w = WidthRe.findFirstMatchIn(dict).map(_.group(1).toInt).getOrElse(0)
            val h = HeightRe.findFirstMatchIn(dict).map(_.group(1).toInt).getOrElse(0)
            out(name) = ImageRef(name, w, h)
          }
        }
      }
      out.toMap
    }.getOrElse(Map.empty)
  }

  /** `/F1 6 0 R` and inline `/F1 << ... >>` bindings of a /Font resource
    * dict (reached from /Resources inline or by reference).
    */
  private def fontBindingsIn(cat: Catalog,
      resources: String): Map[String, PdfFont] = {
    val fi = resources.indexOf("/Font")
    if (fi < 0) return Map.empty
    var k = fi + "/Font".length
    while (k < resources.length && resources.charAt(k).isWhitespace) k += 1
    val fontDict =
      if (k + 1 < resources.length && resources.charAt(k) == '<' &&
          resources.charAt(k + 1) == '<') Some(balancedDict(resources, k))
      else RefNumRe.findPrefixMatchOf(resources.substring(k))
        .flatMap(r => cat.body(r.group(1).toInt))
    fontDict.map { fd =>
      val out = mutable.Map.empty[String, PdfFont]
      "/([A-Za-z0-9_.+-]+)\\s+(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(fd)
        .foreach(m => cat.font(m.group(2).toInt).foreach(out(m.group(1)) = _))
      "/([A-Za-z0-9_.+-]+)\\s*<<".r.findAllMatchIn(fd).foreach { m =>
        val d = balancedDict(fd, m.end - 2)
        buildFont(cat, d).foreach(out(m.group(1)) = _)
      }
      out.toMap
    }.getOrElse(Map.empty)
  }

  // --- page parsing: text operators → lines → blocks ----------------------

  /** Interpret the text operators of one content stream into layout blocks. */
  def parsePage(content: String): Vector[Block] =
    parsePage(content, Map.empty, Map.empty)

  def parsePage(content: String, fonts: Map[String, PdfFont]): Vector[Block] =
    parsePage(content, fonts, Map.empty)

  /** As above with the page's font decoders: `Tf` selects the current font
    * by resource name and every shown string's bytes map through its
    * /ToUnicode CMap or /Differences table; strings shown with an unbound
    * (or mapless) font keep the Latin-1 reading.
    *
    * `images` maps XObject resource names to /Subtype /Image dims: a
    * `/Im1 Do` draw emits an image block at the current transformation
    * matrix's translation (tracked through `cm` with a `q`/`Q` state
    * stack), so images interleave with text blocks in reading order.
    */
  def parsePage(content: String, fonts: Map[String, PdfFont],
      images: Map[String, ImageRef]): Vector[Block] = {
    val shows = mutable.ArrayBuffer.empty[TextLine]
    val draws = mutable.ArrayBuffer.empty[Block]
    var tx = 0.0; var ty = 0.0
    var fontSize = 12.0
    var leading = 14.4
    var curFont: Option[PdfFont] = None
    // full CTM (a b c d e f): `cm` CONCATENATES (CTM' = cm × CTM) and q/Q
    // save/restore the whole matrix — translation-only tracking would
    // misplace images under nested or sequential transforms
    var ctm = Array(1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    val gsStack = mutable.Stack.empty[Array[Double]]
    val toks = tokenize(content)
    var i = 0
    def num(j: Int): Double = toks(j).toDoubleOption.getOrElse(0.0)
    def show(raw: String): Unit = {
      val text = curFont.map(_.decode(raw)).getOrElse(raw)
      if (text.nonEmpty) {
        // consecutive shows on one baseline concatenate (glyph continuation)
        val at = shows.lastIndexWhere(l => l.y == ty)
        if (at >= 0 && shows(at).y == ty && at == shows.length - 1)
          shows(at) = shows(at).copy(text = shows(at).text + text)
        else shows += TextLine(tx, ty, fontSize, text)
      }
    }
    while (i < toks.length) {
      toks(i) match {
        case "Tf" if i >= 1 =>
          fontSize = num(i - 1); leading = fontSize * 1.2
          if (i >= 2 && toks(i - 2).startsWith("/"))
            curFont = fonts.get(toks(i - 2).substring(1))
        case "TL" if i >= 1 => leading = num(i - 1)
        case "Td" if i >= 2 => tx += num(i - 2); ty += num(i - 1)
        case "TD" if i >= 2 => leading = -num(i - 1); tx += num(i - 2); ty += num(i - 1)
        case "Tm" if i >= 6 => tx = num(i - 2); ty = num(i - 1)
        case "T*" => ty -= leading
        case "Tj" if i >= 1 => show(stringTok(toks(i - 1)))
        case "'" if i >= 1 => ty -= leading; show(stringTok(toks(i - 1)))
        case "TJ" if i >= 1 => show(stringTok(toks(i - 1))) // array folded by tokenizer
        case "BT" => tx = 0.0; ty = 0.0
        case "cm" if i >= 6 =>
          ctm = mulCtm(Array(num(i - 6), num(i - 5), num(i - 4),
            num(i - 3), num(i - 2), num(i - 1)), ctm)
        case "q" => gsStack.push(ctm.clone())
        case "Q" => if (gsStack.nonEmpty) ctm = gsStack.pop()
        case "Do" if i >= 1 && toks(i - 1).startsWith("/") =>
          images.get(toks(i - 1).substring(1)).foreach { img =>
            // an image XObject paints the unit square through the CTM:
            // the reading-order anchor is the drawn rect's TOP-LEFT (max
            // mapped y, min mapped x) — the raw translation is the
            // BOTTOM-left in PDF's y-up space and would sort a tall image
            // below text it visually precedes
            var xMin = Double.MaxValue
            var yMax = -Double.MaxValue
            var cu = 0
            while (cu < 4) {
              val u = cu & 1; val v = cu >> 1
              val x = u * ctm(0) + v * ctm(2) + ctm(4)
              val y = u * ctm(1) + v * ctm(3) + ctm(5)
              if (x < xMin) xMin = x
              if (y > yMax) yMax = y
              cu += 1
            }
            draws += Block(Vector(TextLine(xMin, yMax, 0.0, "")), Some(img))
          }
        case _ =>
      }
      i += 1
    }
    // images merge into reading order by the same (top-to-bottom,
    // left-to-right) key linesToBlocks applies to text lines; the no-image
    // path skips the merge sort so text-only extraction stays bit-identical
    val textBlocks = linesToBlocks(shows.toVector)
    if (draws.isEmpty) textBlocks
    else (textBlocks ++ draws).sortBy(b => (-b.yTop, b.xLeft))
  }

  /** Affine concatenation, PDF row-vector convention: applying `m1` then
    * `m2` (PDF 32000 §8.3.4 — `cm` computes CTM' = cm × CTM).
    */
  private def mulCtm(m1: Array[Double], m2: Array[Double]): Array[Double] =
    Array(
      m1(0) * m2(0) + m1(1) * m2(2),
      m1(0) * m2(1) + m1(1) * m2(3),
      m1(2) * m2(0) + m1(3) * m2(2),
      m1(2) * m2(1) + m1(3) * m2(3),
      m1(4) * m2(0) + m1(5) * m2(2) + m2(4),
      m1(4) * m2(1) + m1(5) * m2(3) + m2(5))

  private def stringTok(t: String): String =
    if (t.startsWith("\u0000S")) t.substring(2) else ""

  /** `<48656C6C6F>` hex string starting at `open` ('<') -> Some(decoded
    * text, index after '>'); None when the bracketed content is NOT a
    * spec-valid hex string (anything but hex digits + whitespace before
    * '>', or no '>' at all — PDF 32000 §7.3.4.3), so a lone '<' inside a
    * dict (`<</MCID 0>>`) or binary data never swallows page text: the
    * tokenizer falls back to treating the '<' as an ordinary char. An odd
    * final digit pads with 0. The decoded bytes are treated as
    * single-byte text — the simple-font case; CID/multi-byte encodings
    * need a font toolkit and stay out of scope.
    */
  private def parseHexString(s: String, open: Int): Option[(String, Int)] = {
    val sb = new StringBuilder
    var hi = -1
    var i = open + 1
    while (i < s.length && s.charAt(i) != '>') {
      val c = s.charAt(i)
      if (!c.isWhitespace) {
        val v = Character.digit(c, 16)
        if (v < 0) return None // not a hex string after all
        if (hi < 0) hi = v
        else { sb.append(((hi << 4) | v).toChar); hi = -1 }
      }
      i += 1
    }
    if (i >= s.length) return None // unterminated: binary '<', not a string
    if (hi >= 0) sb.append((hi << 4).toChar)
    Some((sb.toString, i + 1))
  }

  /** Tokenizer: literal and hex strings collapse to one token tagged with
    * a NUL+S prefix (TJ arrays fold their strings together, positioning
    * numbers ignored).
    */
  private def tokenize(content: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = content.length
    val cur = new StringBuilder
    def flush(): Unit = { if (cur.nonEmpty) { out += cur.toString; cur.clear() } }
    while (i < n) {
      content.charAt(i) match {
        case '(' =>
          flush()
          val (s, next) = parseLiteralString(content, i)
          out += ("\u0000S" + s)
          i = next - 1
        case '<' if i + 1 < n && content.charAt(i + 1) != '<' &&
            (i == 0 || content.charAt(i - 1) != '<') =>
          // hex string shown as text: <48656C6C6F> Tj — real writers emit
          // these for simple fonts as readily as literal strings. The
          // prev/next guards skip both '<' of a '<<' dict open, and a
          // failed strict parse falls through to the default case
          parseHexString(content, i) match {
            case Some((s, next)) =>
              flush()
              out += ("\u0000S" + s)
              i = next - 1
            case None => cur.append('<')
          }
        case '[' =>
          flush()
          // TJ array: concatenate its literal and hex strings
          val sb = new StringBuilder
          var j = i + 1
          while (j < n && content.charAt(j) != ']') {
            if (content.charAt(j) == '(') {
              val (s, next) = parseLiteralString(content, j)
              sb.append(s); j = next
            } else if (content.charAt(j) == '<') {
              parseHexString(content, j) match {
                case Some((s, next)) => sb.append(s); j = next
                case None => j += 1
              }
            } else j += 1
          }
          out += ("\u0000S" + sb.toString)
          i = j
        case c if c == ' ' || c == '\n' || c == '\r' || c == '\t' => flush()
        case c => cur.append(c)
      }
      i += 1
    }
    flush()
    out.result()
  }

  /** Reading order (top-to-bottom, left-to-right), then group consecutive
    * lines into blocks when the vertical gap ≤ 1.3 × line height (the
    * reference's Docstrum between-line multiplier).
    */
  def linesToBlocks(lines: Vector[TextLine]): Vector[Block] = {
    if (lines.isEmpty) return Vector.empty
    val ordered = lines.sortBy(l => (-l.y, l.x))
    val blocks = Vector.newBuilder[Block]
    var cur = Vector(ordered.head)
    ordered.tail.foreach { l =>
      val prev = cur.last
      val gap = prev.y - l.y
      if (gap >= 0 && gap <= 1.3 * math.max(prev.fontSize, l.fontSize)) cur :+= l
      else { blocks += Block(cur); cur = Vector(l) }
    }
    blocks += Block(cur)
    blocks.result()
  }

  // --- decoration removal (J5/Except; DecorationTextBlockClassifier) ------

  /** Digit-masked text + quantized position key: page numbers/headers/
    * footers repeat at the same spot with only digits changing.
    */
  private def decorationKey(b: Block): (String, Long, Long) =
    (b.text.replaceAll("[0-9]", "#"),
      math.round(b.yTop / 10.0), math.round(b.xLeft / 10.0))

  /** Drop blocks whose key recurs on the majority of pages (> 1 page).
    * Image blocks pass through untouched — media dedup is the dedup
    * pipeline's job, not the decoration classifier's (whose digit-mask
    * key is meaningless for an empty-text block).
    */
  def removeDecorations(pages: Vector[Vector[Block]]): Vector[Vector[Block]] = {
    if (pages.length <= 1) return pages
    val pageCountByKey = pages.zipWithIndex
      .flatMap { case (bs, p) =>
        bs.filter(_.image.isEmpty).map(b => (decorationKey(b), p)) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.size }
    val threshold = math.max(2, (pages.length + 1) / 2)
    pages.map(_.filterNot(b =>
      b.image.isEmpty && pageCountByKey(decorationKey(b)) >= threshold))
  }

  // --- section/title heuristic (PdfDocumentConverter.cs:62-107) -----------

  def buildSpans(blocks: Vector[Block]): Vector[Span] = {
    val spans = Vector.newBuilder[Span]
    var off = 0
    def emit(kind: String, text: String, ref: String = ""): Unit = {
      spans += Span(kind, text, ref, off); off += 1
    }
    val titleHeights = mutable.Stack.empty[Double]
    // the LAST TEXT block always emits as TextBlock.Text (it has no next
    // block to anchor the title-height ratio) — trailing image blocks
    // don't move that anchor
    val lastTextIdx = blocks.lastIndexWhere(_.image.isEmpty)
    var idx = 0
    while (idx < blocks.length) {
      val b = blocks(idx)
      b.image match {
        case Some(img) =>
          // media span at its reading-order position (HTML-path analog:
          // text = name, media_ref = typed xobject reference with dims)
          emit(graft.core.SpanKinds.MediaImage, img.name,
            s"xobject:${img.name}?w=${img.width}&h=${img.height}")
        case None if idx == lastTextIdx =>
          emit("TextBlock.Text", b.text)
        case None if b.text.trim.length > 1 => // rule: ignore one-char blocks
          val isTitle = b.lines.length <= 2 && {
            // next TEXT block's height anchors the ratio (images have none)
            val nextH = blocks.drop(idx + 1).find(_.image.isEmpty)
              .map(_.firstLineHeight).getOrElse(0.0)
            nextH > 0 && b.firstLineHeight / nextH > 1.2 && b.firstLineHeight > 8
          }
          if (isTitle) {
            while (titleHeights.nonEmpty && b.firstLineHeight / titleHeights.top >= 1.2) {
              titleHeights.pop(); emit("Section.End", "")
            }
            emit("Section.Start", b.text)
            titleHeights.push(b.firstLineHeight)
          } else emit("TextBlock.Text", b.text)
        case None =>
      }
      idx += 1
    }
    while (titleHeights.nonEmpty) { titleHeights.pop(); emit("Section.End", "") }
    spans.result()
  }
}
