package graft.extract

import java.util.Locale

import scala.collection.mutable.ArrayBuffer

/** Minimal HTML DOM for the extraction pipeline.
  *
  * This is intentionally NOT a full HTML5 parser (we are not porting
  * AngleSharp — see SURVEY.md §7 step 2): it handles well-formed markup plus
  * the common tolerances the synthetic corpus and fixtures need — void
  * elements, self-closing syntax, raw-text elements (script/style), HTML
  * comments, doctype, attribute quoting styles, stray end tags, and basic
  * auto-closing of li/tr/td/th/p. The extraction fidelity target is the
  * *converter rules* of `html/HtmlDocumentConverter.cs`, not browser-grade
  * parsing.
  */
sealed trait HNode
final case class HText(text: String) extends HNode
final class HElem(val tag: String, val attrs: Map[String, String]) extends HNode {
  val children: ArrayBuffer[HNode] = ArrayBuffer.empty
  var parent: HElem = _

  def attr(name: String): Option[String] = attrs.get(name)
  def hasAttr(name: String): Boolean = attrs.contains(name)
  def childElems: Seq[HElem] = children.collect { case e: HElem => e }.toSeq
  def firstElementChild: Option[HElem] = children.collectFirst { case e: HElem => e }
  def ancestorsAndSelf: List[HElem] = {
    var out = List.empty[HElem]
    var n: HElem = this
    while (n != null) { out = out :+ n; n = n.parent }
    out
  }
  /** All descendant elements in document order, self excluded. */
  def descendants: Iterator[HElem] = childElems.iterator.flatMap(c => Iterator(c) ++ c.descendants)
}

object HtmlParser {
  private val VoidElements = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")
  private val RawText = Set("script", "style")
  // Simplified auto-close rules: opening one of these closes an open same-tag
  // (or sibling-class) element up to its structural parent.
  private val AutoClose: Map[String, Set[String]] = Map(
    "li" -> Set("li"),
    "tr" -> Set("tr", "td", "th"),
    "td" -> Set("td", "th"),
    "th" -> Set("td", "th"),
    "p" -> Set("p"),
    "option" -> Set("option"))

  /** Parse into a synthetic root element ("#root"). Never throws. */
  def parse(html: String): HElem = {
    val root = new HElem("#root", Map.empty)
    var cur = root
    var i = 0
    val n = html.length

    def appendText(s: String): Unit =
      if (s.nonEmpty) cur.children += HText(s)

    def openElem(tag: String, attrs: Map[String, String], selfClosed: Boolean): Unit = {
      AutoClose.get(tag).foreach { closes =>
        if (cur.tag != "#root" && closes.contains(cur.tag)) {
          if (cur.parent != null) cur = cur.parent
        }
      }
      val e = new HElem(tag, attrs)
      e.parent = cur
      cur.children += e
      if (!selfClosed && !VoidElements.contains(tag)) {
        if (RawText.contains(tag)) () // content consumed by caller
        cur = e
      }
    }

    def closeElem(tag: String): Unit = {
      var node = cur
      while (node != null && node.tag != tag) node = node.parent
      if (node != null && node.tag != "#root") {
        cur = if (node.parent != null) node.parent else root
      } // unmatched end tag: ignored
    }

    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { appendText(html.substring(i)); i = n }
      else {
        if (lt > i) appendText(html.substring(i, lt))
        if (lt + 1 >= n) { i = n }
        else if (html.startsWith("<!--", lt)) {
          val end = html.indexOf("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else if (html.charAt(lt + 1) == '!' || html.charAt(lt + 1) == '?') {
          val end = html.indexOf('>', lt)
          i = if (end < 0) n else end + 1
        } else if (html.charAt(lt + 1) == '/') {
          val end = html.indexOf('>', lt)
          if (end < 0) { i = n }
          else {
            val tag = html.substring(lt + 2, end).trim.toLowerCase(Locale.ROOT)
            closeElem(tag)
            i = end + 1
          }
        } else {
          parseTag(html, lt) match {
            case Some((tag, attrs, selfClosed, after)) =>
              if (RawText.contains(tag) && !selfClosed) {
                val closeIdx = indexOfCloseTag(html, tag, after)
                openElem(tag, attrs, selfClosed = false)
                // attach raw content as a text child, then pop
                val contentEnd = if (closeIdx < 0) n else closeIdx
                cur.children += HText(html.substring(after, contentEnd))
                cur = if (cur.parent != null) cur.parent else root
                val gt = if (closeIdx < 0) -1 else html.indexOf('>', closeIdx)
                i = if (gt < 0) n else gt + 1
              } else {
                openElem(tag, attrs, selfClosed)
                i = after
              }
            case None =>
              appendText("<")
              i = lt + 1
          }
        }
      }
    }
    root
  }

  /** Index of the first `</tag` at or after `from`, tag matched without
    * case. Compares in place: indices into a lowercased copy would drift
    * past any char whose lowercase is longer (U+0130 `İ` → `i̇`).
    */
  private def indexOfCloseTag(html: String, tag: String, from: Int): Int = {
    val needle = s"</$tag"
    var i = html.indexOf("</", from)
    while (i >= 0 && !html.regionMatches(true, i, needle, 0, needle.length))
      i = html.indexOf("</", i + 1)
    i
  }

  /** Parses "<tag attr=... >" starting at `lt`. Returns (tag, attrs,
    * selfClosed, indexAfterGt).
    */
  private def parseTag(html: String, lt: Int): Option[(String, Map[String, String], Boolean, Int)] = {
    val n = html.length
    var i = lt + 1
    val tagStart = i
    while (i < n && (html.charAt(i).isLetterOrDigit || html.charAt(i) == '-')) i += 1
    if (i == tagStart) return None
    val tag = html.substring(tagStart, i).toLowerCase(Locale.ROOT)
    val attrs = Map.newBuilder[String, String]
    var selfClosed = false
    var done = false
    while (!done && i < n) {
      while (i < n && html.charAt(i).isWhitespace) i += 1
      if (i >= n) done = true
      else html.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && html.charAt(i + 1) == '>') { selfClosed = true; i += 2; done = true }
          else i += 1
        case _ =>
          val nameStart = i
          while (i < n && !html.charAt(i).isWhitespace &&
                 html.charAt(i) != '=' && html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
          val name = html.substring(nameStart, i).toLowerCase(Locale.ROOT)
          while (i < n && html.charAt(i).isWhitespace) i += 1
          if (i < n && html.charAt(i) == '=') {
            i += 1
            while (i < n && html.charAt(i).isWhitespace) i += 1
            if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
              val quote = html.charAt(i)
              i += 1
              val vStart = i
              while (i < n && html.charAt(i) != quote) i += 1
              attrs += name -> html.substring(vStart, math.min(i, n))
              if (i < n) i += 1
            } else {
              val vStart = i
              while (i < n && !html.charAt(i).isWhitespace && html.charAt(i) != '>') i += 1
              attrs += name -> html.substring(vStart, i)
            }
          } else if (name.nonEmpty) {
            attrs += name -> ""
          }
      }
    }
    Some((tag, attrs.result(), selfClosed, i))
  }

  private val NamedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "hellip" -> "…", "mdash" -> "—",
    "ndash" -> "–", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "laquo" -> "«",
    "raquo" -> "»", "eacute" -> "é", "egrave" -> "è",
    "agrave" -> "à", "ccedil" -> "ç", "uuml" -> "ü",
    "ouml" -> "ö", "auml" -> "ä", "szlig" -> "ß",
    "deg" -> "°", "middot" -> "·", "bull" -> "•",
    "euro" -> "€", "pound" -> "£", "times" -> "×")

  /** HTML entity decode — behavioral analog of C# WebUtility.HtmlDecode as
    * used at `html/HtmlDocumentConverter.cs:634`.
    */
  def htmlDecode(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val body = s.substring(i + 1, semi)
          val decoded: Option[String] =
            if (body.startsWith("#x") || body.startsWith("#X")) {
              try Some(new String(Character.toChars(Integer.parseInt(body.substring(2), 16))))
              catch { case _: Exception => None }
            } else if (body.startsWith("#")) {
              try Some(new String(Character.toChars(Integer.parseInt(body.substring(1)))))
              catch { case _: Exception => None }
            } else NamedEntities.get(body)
          decoded match {
            case Some(d) => sb.append(d); i = semi + 1
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
