package graft.extract

import java.util.Locale

import graft.core.{Span, SpanKinds, UrlCanonicalizer}
import scala.collection.mutable

/** Result of extracting one HTML or PDF document. `spans` is the
  * interleaved text+media span sequence (offsets dense); `noFollow`
  * reflects a `<meta name=robots content=nofollow|none>` page
  * (`Abot/Core/HyperLinkParser.cs:127-157`) and is always set for a PDF.
  * A page's out-links are not part of it: the crawl takes them from
  * [[HtmlToSpans.outLinks]], the one `<base href>` rule.
  */
final case class ExtractedDoc(
    title: String,
    spans: Vector[Span],
    noFollow: Boolean,
    // document-level provenance metadata (PDF /Info entries: Author,
    // Subject, Keywords, Producer, ... — the reference copies every string
    // entry of the info dictionary, `pdf/PdfDocumentConverter.cs:26-33`)
    metadata: Map[String, String] = Map.empty)

/** HTML tree -> span sequence, re-expressing the conversion rules of the
  * reference converter (`wordslab.webscraper/html/HtmlDocumentConverter.cs`)
  * and builder (`wordslab.nlptextdoc/NLPTextDocumentBuilder.cs`):
  *
  *  - invisible-element filter on class/role/aria-hidden (`:328-344`)
  *  - script/noscript/style/svg skipped (`:259-263`)
  *  - h1..h6 + p[role=heading][aria-level] start Sections, attached to their
  *    computed container element (`AnalyseDocumentStructureToDelimitSections`,
  *    `:67-171`), header-level nesting pops (`:410-443`)
  *  - ul/ol -> List or NavigationList (all-anchor detection `:483-511`),
  *    li -> ListItem with its own text block (`:513-523`)
  *  - table/tr/th/td with rowspan/colspan coordinate bookkeeping (`:525-605`)
  *  - text grouping per block-level element, single-space joining, entity
  *    decode + NBSP trim (`:624-637,664-732`); a/span treated inline (the
  *    reference promotes them per computed CSS, which we don't evaluate)
  *  - img: alt folded into the enclosing block exactly like the reference
  *    (`:607-618`) AND emitted additively as a "Media.Image" span carrying
  *    media_ref=src — dropping media spans restores reference parity
  *  - childless <a title=..> contributes its title text (`:359-369`)
  *  - bare text directly inside List/NavigationList/Table containers is
  *    dropped (builder guard, `NLPTextDocumentBuilder.cs:56-65`)
  */
object HtmlToSpans {

  /** `html` as a document; `extraCss` is fetched same-host external
    * stylesheet text fed into the hidden-element evaluation (the crawl
    * layer fetches `<link rel=stylesheet>` targets; see CssFetch).
    */
  def extract(html: String, extraCss: Seq[String] = Nil): ExtractedDoc = {
    val root = HtmlParser.parse(html)
    val (title, spans) = convert(root, extraCss)
    ExtractedDoc(title, spans, rawLinks(root)._3)
  }

  /** The document title and span sequence of a parsed page. */
  def convert(root: HElem, extraCss: Seq[String]): (String, Vector[Span]) = {
    val c = new Converter(root, StyleSheet.fromDom(root, extraCss))
    c.run()
    (c.docTitle, c.result())
  }

  /** The crawl's one link rule: the page's out-links, canonical, in
    * first-occurrence document order (in-page dedup D2,
    * `Abot/Core/HyperLinkParser.cs:114-115`), and whether the page is
    * nofollow, in which case it has none. Hrefs resolve against the
    * document base URL: the first `<base href>` resolved against the page
    * URL, or the page URL when there is no base or it does not resolve
    * (https://html.spec.whatwg.org/multipage/urls-and-fetching.html#document-base-url),
    * so a relative, `//host` or empty base keeps the page's links.
    */
  def outLinks(root: HElem, pageUrl: String): (Vector[String], Boolean) = {
    val (hrefs, base, noFollow) = rawLinks(root)
    if (noFollow) (Vector.empty, true)
    else {
      val baseUrl = base.flatMap(UrlCanonicalizer.resolve(pageUrl, _)).getOrElse(pageUrl)
      val links = mutable.LinkedHashSet.empty[String]
      hrefs.foreach(h => UrlCanonicalizer.resolve(baseUrl, h).foreach(links.add))
      (links.toVector, false)
    }
  }

  /** One DOM walk for everything the crawl follows: the a[href] /
    * area[href] values in document order, unresolved, skipping
    * rel=nofollow anchors; the first `<base href>`; and whether a robots
    * meta says nofollow or none.
    */
  private[graft] def rawLinks(root: HElem): (Vector[String], Option[String], Boolean) = {
    val hrefs = Vector.newBuilder[String]
    var base: Option[String] = None
    var noFollow = false
    root.descendants.foreach { e =>
      e.tag match {
        case "a" | "area" if e.hasAttr("href") &&
            !e.attr("rel").exists(_.toLowerCase(Locale.ROOT).split("[ ,]").contains("nofollow")) =>
          hrefs += e.attr("href").get
        case "base" if base.isEmpty => base = e.attr("href")
        case "meta" if !noFollow =>
          noFollow = e.attr("name").exists(_.equalsIgnoreCase("robots")) &&
            e.attr("content").exists { v =>
              val lv = v.toLowerCase(Locale.ROOT)
              lv.contains("nofollow") || lv.contains("none")
            }
        case _ =>
      }
    }
    (hrefs.result(), base, noFollow)
  }

  // ---------------------------------------------------------------------

  private val SkippedTags = Set("script", "noscript", "style", "svg")
  private val HeaderTags = Set("h1", "h2", "h3", "h4", "h5", "h6")

  private val BlockTags = Set(
    "article", "aside", "blockquote", "body", "br", "button", "canvas",
    "caption", "col", "colgroup", "dd", "div", "dl", "dt", "embed",
    "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hgroup", "hr", "li",
    "map", "object", "ol", "output", "p", "pre", "progress", "section",
    "table", "tbody", "textarea", "tfoot", "th", "thead", "tr", "ul", "video")

  private def isHeaderElem(e: HElem): Boolean =
    HeaderTags.contains(e.tag) ||
      (e.tag == "p" && e.attr("role").contains("heading") && e.hasAttr("aria-level"))

  private def headerLevel(e: HElem): Int =
    if (HeaderTags.contains(e.tag)) e.tag.substring(1).toInt
    else e.attr("aria-level").flatMap(v => v.toIntOption).getOrElse(1)

  private def isHiddenElem(e: HElem, css: StyleSheet): Boolean = {
    val cls = e.attr("class")
    val role = e.attr("role")
    (cls.exists(c => c.contains("hidden") || c.contains("invisible") ||
                     c.contains("login") || c.contains("search"))) ||
    role.exists(_.contains("search")) ||
    e.hasAttr("aria-hidden") ||
    cssHides(e, css)
  }

  /** Computed display/visibility hiding for one element: in-document
    * `<style>` rules (simple selectors, specificity + source order +
    * !important cascade) overridden by the inline `style` attribute
    * (unless the sheet declaration is !important and the inline one is
    * not — the CSS cascade). This is the reference's own scope: it
    * deliberately evaluates ONLY these two properties
    * (`WebsiteTextExtractor.cs:189-205` FilterDisplayAndVisibilityOnly,
    * applied at `html/HtmlDocumentConverter.cs:328-344`). External
    * stylesheets arrive through the fetch layer as extra sheet text.
    */
  private[extract] def cssHides(e: HElem, css: StyleSheet): Boolean = {
    val inline =
      if (css.isEmpty && !e.hasAttr("style")) return false
      else e.attr("style").map(parseDecls).getOrElse(Seq.empty)
    // element facts computed ONCE (the matchers run per rule otherwise)
    val classes = e.attr("class").map(_.split("\\s+").toSet)
      .getOrElse(Set.empty[String])
    val id = e.attr("id").map(_.trim)
    def value(prop: String): Option[String] = {
      // within the inline declarations, an !important one beats any later
      // normal one (same-origin cascade); otherwise last wins
      val decls = inline.filter(_._1 == prop)
      val inl = decls.filter(_._3).lastOption.orElse(decls.lastOption)
      val sheet = css.effective(e.tag, id, classes, prop)
      (inl, sheet) match {
        case (Some((_, v, imp)), Some((sv, simp))) =>
          if (simp && !imp) Some(sv) else Some(v)
        case (Some((_, v, _)), None) => Some(v)
        case (None, Some((sv, _))) => Some(sv)
        case _ => None
      }
    }
    value("display").contains("none") ||
      value("visibility").exists(v => v == "hidden" || v == "collapse")
  }

  /** `"display:none; visibility:hidden !important"` →
    * (prop, value, important) triples, lowercased and trimmed — shared by
    * the inline and stylesheet paths so `display: block` or
    * `visibility: visible` never false-positive on substring grounds.
    */
  private[extract] def parseDecls(s: String): Seq[(String, String, Boolean)] =
    s.split(';').toSeq.flatMap { decl =>
      val kv = decl.split(":", 2)
      if (kv.length != 2) None
      else {
        val prop = kv(0).trim.toLowerCase(Locale.ROOT)
        val rawV = kv(1).trim.toLowerCase(Locale.ROOT)
        val imp = rawV.endsWith("!important")
        val v = (if (imp) rawV.stripSuffix("!important") else rawV).trim
        if (prop.isEmpty || v.isEmpty) None else Some((prop, v, imp))
      }
    }

  /** One supported selector: optional leading tag plus any `.class` /
    * `#id` parts (`div.menu.hidden`, `#banner`, `aside`). Anything with
    * combinators, pseudo-classes, attributes or wildcards is unsupported
    * and contributes no rule — an unsupported selector can only UNDER-hide
    * (keep text the reference would drop), never over-hide.
    */
  private[extract] final case class SimpleSel(
      tag: Option[String], classes: Set[String], ids: Set[String]) {
    /** Match against precomputed element facts — the caller extracts
      * tag/id/classes ONCE per element, not once per rule.
      */
    def matches(eTag: String, eId: Option[String],
        eClasses: Set[String]): Boolean =
      tag.forall(_ == eTag) &&
      ids.forall(i => eId.contains(i)) &&
      classes.subsetOf(eClasses)
    /** CSS specificity on the supported subset: ids ≫ classes ≫ tag. */
    def specificity: Int = ids.size * 100 + classes.size * 10 + tag.size
  }

  private val SelPartRe = "([a-zA-Z][a-zA-Z0-9-]*)|\\.([A-Za-z0-9_-]+)|#([A-Za-z0-9_-]+)".r

  private[extract] def parseSimpleSel(sel: String): Option[SimpleSel] = {
    if (sel.isEmpty || sel.exists(c => c.isWhitespace || "*>+~:[,".contains(c)))
      return None
    var tag: Option[String] = None
    val classes = Set.newBuilder[String]
    val ids = Set.newBuilder[String]
    var consumed = 0
    for (m <- SelPartRe.findAllMatchIn(sel)) {
      if (m.start != consumed) return None // unparsed gap → unsupported
      consumed = m.end
      if (m.group(1) != null) {
        if (m.start != 0) return None // a tag is only valid leading
        tag = Some(m.group(1).toLowerCase(Locale.ROOT))
      } else if (m.group(2) != null) classes += m.group(2)
      else ids += m.group(3)
    }
    if (consumed != sel.length) None
    else Some(SimpleSel(tag, classes.result(), ids.result()))
  }

  /** The document's display/visibility rules in cascade order, indexed by
    * property so each lookup scans only that property's rules.
    */
  private[extract] final class StyleSheet(
      rules: Vector[(SimpleSel, String, String, Boolean)]) {
    def isEmpty: Boolean = rules.isEmpty
    private val byProp: Map[String, Vector[(SimpleSel, String, Boolean, Int)]] =
      rules.zipWithIndex
        .map { case ((sel, p, v, imp), i) => (p, (sel, v, imp, i)) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    /** Winning declaration for `prop` on an element given its precomputed
      * facts: !important beats normal, then specificity, then source order.
      */
    def effective(eTag: String, eId: Option[String], eClasses: Set[String],
        prop: String): Option[(String, Boolean)] = {
      val cands = byProp.getOrElse(prop, Vector.empty)
      var best: (Boolean, Int, Int) = null
      var bestVal: (String, Boolean) = null
      var i = 0
      while (i < cands.length) {
        val (sel, v, imp, ord) = cands(i)
        if (sel.matches(eTag, eId, eClasses)) {
          val key = (imp, sel.specificity, ord)
          if (best == null || Ordering[(Boolean, Int, Int)].gt(key, best)) {
            best = key
            bestVal = (v, imp)
          }
        }
        i += 1
      }
      Option(bestVal)
    }
  }

  private[extract] object StyleSheet {
    val empty = new StyleSheet(Vector.empty)

    /** Parse the concatenated `<style>` text of a document (plus any
      * fetched same-host external sheets). Comments stripped. @media
      * blocks whose medium list names `screen` or `all` (the default
      * medium AngleSharp evaluates for the reference,
      * `WebsiteTextExtractor.cs:189-205`) parse recursively in place —
      * their rules join the cascade in source order. Every OTHER
      * conditioned block (print/speech media, feature queries like
      * `(max-width: ...)` that depend on a viewport this engine doesn't
      * model, @supports, @keyframes, ...) is skipped whole: applying an
      * `@media print` hide unconditionally would wrongly drop screen
      * content, so those rules conservatively don't hide.
      */
    def parse(cssText: String): StyleSheet = new StyleSheet(parseRules(cssText))

    /** Does a media-query list apply to the default `screen` medium?
      * True for bare screen/all components (with an optional `only`
      * prefix) and for an empty list; feature-conditioned components are
      * conservatively false (no viewport to evaluate them against).
      */
    private[extract] def mediaAppliesToScreen(query: String): Boolean = {
      val q = query.trim
      if (q.isEmpty) return true // bare "@media {" = all media
      q.split(',').exists { comp0 =>
        val comp = comp0.trim.stripPrefix("only").trim
        comp == "screen" || comp == "all"
      }
    }

    private def parseRules(cssText: String): Vector[(SimpleSel, String, String, Boolean)] = {
      // Stripped ONCE up front (both replaces are idempotent, so this is
      // identical to the retired per-recursion stripping, minus its O(n²)
      // regex cost on deeply nested sheets):
      val css = cssText.replaceAll("(?s)/\\*.*?\\*/", " ")
        // brace-less at-statements (@charset "x"; @import url(...);
        // @namespace ...;) end at ';' — left in place they'd glue onto the
        // NEXT rule's selector text and make it look like an at-rule,
        // silently discarding that rule (real sheets open with @charset)
        .replaceAll("@(charset|import|namespace)[^;{}]*;", " ")
      val rules = Vector.newBuilder[(SimpleSel, String, String, Boolean)]
      // Applying @media blocks are ENTERED IN PLACE via an explicit frame
      // stack (resume-index, outer-limit) instead of recursion: rules keep
      // their source-order cascade position, nesting depth is bounded by
      // heap, not the JVM stack — a crafted sheet of ~10-20k nested
      // '@media screen{' levels fits under MaxCssChars and would otherwise
      // StackOverflowError, an Error nothing in the extract path catches
      // (ADVICE r06).
      var i = 0
      var limit = css.length
      var frames = List.empty[(Int, Int)]
      var done = false
      while (!done) {
        if (i >= limit) {
          frames match {
            case (ri, rl) :: tail => i = ri; limit = rl; frames = tail
            case Nil => done = true
          }
        } else {
          val ob = css.indexOf('{', i)
          if (ob < 0 || ob >= limit) i = limit
          else {
            val selText = css.substring(i, ob).trim
            if (selText.startsWith("@")) {
              var k = ob
              var d = 0
              var end = limit
              while (k < limit && end == limit) {
                val c = css.charAt(k)
                if (c == '{') d += 1
                else if (c == '}') { d -= 1; if (d == 0) end = k }
                k += 1
              }
              val lower = selText.toLowerCase(Locale.ROOT)
              if (lower.startsWith("@media") &&
                  mediaAppliesToScreen(lower.substring("@media".length))) {
                frames = (end + 1, limit) :: frames
                limit = end
                i = ob + 1
              } else i = end + 1
            } else {
              val cb = css.indexOf('}', ob)
              if (cb < 0 || cb >= limit) i = limit
              else {
                val decls = parseDecls(css.substring(ob + 1, cb))
                  .filter(d => d._1 == "display" || d._1 == "visibility")
                if (decls.nonEmpty)
                  selText.split(',').map(_.trim).filter(_.nonEmpty)
                    .flatMap(parseSimpleSel).foreach { ss =>
                      decls.foreach { case (p, v, imp) => rules += ((ss, p, v, imp)) }
                    }
                i = cb + 1
              }
            }
          }
        }
      }
      rules.result()
    }

    /** All in-document `<style>` blocks of a parsed page. */
    def fromDom(root: HElem, extraCss: Seq[String] = Nil): StyleSheet = {
      val blocks = root.descendants.filter(_.tag == "style").map(e =>
        e.children.collect { case HText(t) => t }.mkString("\n")).toVector
      if (blocks.isEmpty && extraCss.isEmpty) empty
      else parse((blocks ++ extraCss).mkString("\n"))
    }
  }

  private final class TableCoords {
    var row = 1
    var col = 1
    var rowSpanCells: mutable.ArrayBuffer[(Int, Int)] = _
    def isRowSpanCell: Boolean =
      rowSpanCells != null && rowSpanCells.exists(rc => rc._1 == row && rc._2 == col)
  }

  private final class Converter(root: HElem, css: StyleSheet) {
    // --- span builder state (NLPTextDocumentBuilder analog) ---
    private val spans = Vector.newBuilder[Span]
    private var spanCount = 0
    private var containerTypes = List[String]("Section") // doc root container
    var docTitle: String = ""

    private def emit(kind: String, text: String, mediaRef: String = ""): Unit = {
      spans += Span(kind, text, mediaRef, spanCount)
      spanCount += 1
    }
    private def startGroup(tpe: String, text: String): Unit = {
      emit(SpanKinds.start(tpe), text)
      containerTypes = tpe :: containerTypes
    }
    private def endGroup(tpe: String): Unit = {
      emit(SpanKinds.end(tpe), "")
      containerTypes = containerTypes.tail
    }
    private def addTextBlock(text: String): Unit = {
      val ct = containerTypes.head
      if (ct != "List" && ct != "NavigationList" && ct != "Table") {
        emit(SpanKinds.TextBlockText, text)
      }
    }

    // --- converter state ---
    private var textBuilders = List.empty[StringBuilder]
    private var disableTextBlockOutput = false
    private val tableCoordsStack = mutable.Stack.empty[TableCoords]
    private var sectionHeadersForContainers = Map.empty[HElem, HElem]
    private var registeredHeaders = Set.empty[HElem]

    def result(): Vector[Span] = spans.result()

    def run(): Unit = {
      analyseSections()
      visitChildNodes(root)
      // close any sections left open at root level is handled per-container
    }

    // --- section containment analysis (HtmlDocumentConverter.cs:67-171) ---
    private def analyseSections(): Unit = {
      val headers = root.descendants.filter(isHeaderElem).toVector
      if (headers.isEmpty) return
      val parentsOf: Map[HElem, List[HElem]] =
        headers.map(h => h -> h.ancestorsAndSelf).toMap

      final case class Candidates(header: HElem) {
        var commonParentWithPrevious: HElem = _
        var containerIfGroupedWithPrevious: HElem = _
        var commonParentWithNext: HElem = _
        var containerIfGroupedWithNext: HElem = _
      }
      final class NestState(var rootElement: HElem, var previousHeader: HElem)

      val candidatesList = mutable.ArrayBuffer.empty[Candidates]
      val nestStack = mutable.Stack.empty[NestState]
      nestStack.push(new NestState(root.firstElementChild.getOrElse(root), null))

      headers.foreach { header =>
        var rootElement = nestStack.top.rootElement
        while (!parentsOf(header).contains(rootElement) && nestStack.size > 1) {
          nestStack.pop()
          rootElement = nestStack.top.rootElement
        }
        var previousHeader = nestStack.top.previousHeader
        if (previousHeader != null && parentsOf(header).contains(previousHeader)) {
          rootElement = previousHeader
          previousHeader = null
          nestStack.push(new NestState(rootElement, previousHeader))
        }
        val cand = Candidates(header)
        candidatesList += cand
        if (previousHeader != null) {
          val prevParents = parentsOf(previousHeader)
          val curParents = parentsOf(header)
          curParents.zipWithIndex.find { case (p, _) => prevParents.indexOf(p) > 0 } match {
            case Some((commonAncestor, idxInCur)) =>
              val idxInPrev = prevParents.indexOf(commonAncestor)
              cand.commonParentWithPrevious = commonAncestor
              if (idxInCur > 0) cand.containerIfGroupedWithPrevious = curParents(idxInCur - 1)
              val prevCand = candidatesList(candidatesList.length - 2)
              prevCand.commonParentWithNext = commonAncestor
              prevCand.containerIfGroupedWithNext = prevParents(idxInPrev - 1)
            case None =>
          }
        }
        nestStack.top.previousHeader = header
      }

      val containerMap = mutable.LinkedHashMap.empty[HElem, HElem]
      headers.zipWithIndex.foreach { case (header, i) =>
        val headerParents = parentsOf(header)
        val cand = candidatesList(i)
        val distPrev =
          if (cand.commonParentWithPrevious == null) Int.MaxValue
          else headerParents.indexOf(cand.commonParentWithPrevious)
        val distNext =
          if (cand.commonParentWithNext == null) Int.MaxValue
          else headerParents.indexOf(cand.commonParentWithNext)
        var selected: HElem = null
        if (distPrev != distNext) {
          selected =
            if (distPrev < distNext) cand.containerIfGroupedWithPrevious
            else cand.containerIfGroupedWithNext
        } else if (distPrev != Int.MaxValue) {
          // same non-null depth; reference prefers grouped-with-previous
          // unless that container is <head>
          selected =
            if (cand.containerIfGroupedWithPrevious != null &&
                cand.containerIfGroupedWithPrevious.tag == "head")
              cand.containerIfGroupedWithNext
            else cand.containerIfGroupedWithPrevious
        }
        if (selected != null && (selected ne header) &&
            !selected.firstElementChild.exists(_ eq header)) {
          containerMap(selected) = header
        }
      }
      sectionHeadersForContainers = containerMap.toMap
      registeredHeaders = containerMap.values.toSet
    }

    // --- recursive visit (HtmlDocumentConverter.cs:232-324) ---
    private def visitChildNodes(parentNode: HElem): Unit = {
      var headersNestedAtThisLevel = List.empty[HElem]

      def startHeaderSection(headerElement: HElem): Unit = {
        val currentLevel = headerLevel(headerElement)
        var continue = true
        while (continue && headersNestedAtThisLevel.nonEmpty) {
          if (currentLevel <= headerLevel(headersNestedAtThisLevel.head)) {
            endGroup("Section")
            headersNestedAtThisLevel = headersNestedAtThisLevel.tail
          } else continue = false
        }
        var title: String = null
        if (headerElement.children.nonEmpty) {
          onStartOfTextBlock(collectPropertyText = true)
          visitChildNodes(headerElement)
          title = onEndOfTextBlock(collectPropertyText = true)
        }
        startGroup("Section", if (title == null) "" else title)
        headersNestedAtThisLevel = headerElement :: headersNestedAtThisLevel
      }

      sectionHeadersForContainers.get(parentNode).foreach(startHeaderSection)

      parentNode.children.foreach {
        case text: HText => visitTextNode(text)
        case elem: HElem =>
          if (!isHiddenElem(elem, css) && !SkippedTags.contains(elem.tag)) {
            elem.tag match {
              case "title" => visitTitle(elem)
              case "html" => visitHtmlElem(elem)
              case t if HeaderTags.contains(t) || isHeaderElem(elem) =>
                if (!registeredHeaders.contains(elem)) startHeaderSection(elem)
              case "ul" | "ol" => visitList(elem)
              case "li" => visitListItem(elem)
              case "table" => visitTable(elem)
              case "tr" => visitTableRow(elem)
              case "th" | "td" => visitTableHeaderOrCell(elem)
              case "img" => visitImage(elem)
              case "a" => visitLinkElem(elem)
              case _ => visitOther(elem)
            }
          }
      }

      while (headersNestedAtThisLevel.nonEmpty) {
        headersNestedAtThisLevel = headersNestedAtThisLevel.tail
        endGroup("Section")
      }
    }

    private def visitTextNode(t: HText): Unit = {
      // C# Trim() strips raw U+00A0 (Java trim does not) — an NBSP-only
      // text node must be skipped, like the reference (:352)
      val text = graft.core.TextStats.trimCs(t.text)
      if (text.nonEmpty) appendText(text)
    }

    private def visitLinkElem(e: HElem): Unit = {
      if (e.children.isEmpty && e.hasAttr("title")) appendText(e.attr("title").get)
      else visitOther(e)
    }

    private def visitHtmlElem(e: HElem): Unit = {
      onStartOfTextBlock()
      if (e.children.nonEmpty) visitChildNodes(e)
      onEndOfTextBlock()
    }

    private def visitOther(e: HElem): Unit = {
      val collect = !disableTextBlockOutput && BlockTags.contains(e.tag)
      if (collect) onStartOfTextBlock()
      if (e.children.nonEmpty) visitChildNodes(e)
      if (collect) onEndOfTextBlock()
    }

    private def visitTitle(e: HElem): Unit = {
      var title: String = null
      if (e.children.nonEmpty) {
        onStartOfTextBlock(collectPropertyText = true)
        visitChildNodes(e)
        title = onEndOfTextBlock(collectPropertyText = true)
      }
      if (title != null) docTitle = title
    }

    private def visitList(e: HElem): Unit = {
      val tpe = if (detectNavigationList(e)) "NavigationList" else "List"
      startGroup(tpe, "")
      if (e.children.nonEmpty) visitChildNodes(e)
      endGroup(tpe)
    }

    /** `HtmlDocumentConverter.DetectNavigationList:483-511`: a list whose
      * item children are all anchors except at most one non-anchor total.
      */
    private def detectNavigationList(listElem: HElem): Boolean = {
      var anchors = 0
      var nonAnchors = 0
      listElem.childElems.foreach { li =>
        if (li.tag != "li") return false
        li.childElems.foreach { c =>
          if (c.tag == "a") anchors += 1 else nonAnchors += 1
          if (nonAnchors > 1) return false
        }
      }
      anchors > 0
    }

    private def visitListItem(e: HElem): Unit = {
      startGroup("ListItem", "")
      onStartOfTextBlock()
      if (e.children.nonEmpty) visitChildNodes(e)
      onEndOfTextBlock()
      endGroup("ListItem")
    }

    private def visitTable(e: HElem): Unit = {
      startGroup("Table", "")
      tableCoordsStack.push(new TableCoords)
      if (e.children.nonEmpty) visitChildNodes(e)
      tableCoordsStack.pop()
      endGroup("Table")
    }

    private def visitTableRow(e: HElem): Unit = {
      if (e.children.nonEmpty) visitChildNodes(e)
      if (tableCoordsStack.nonEmpty) {
        val tc = tableCoordsStack.top
        tc.row += 1
        tc.col = 1
      }
    }

    private def visitTableHeaderOrCell(e: HElem): Unit = {
      if (tableCoordsStack.isEmpty) { visitOther(e); return }
      onStartOfTextBlock()
      val tc = tableCoordsStack.top
      while (tc.isRowSpanCell) tc.col += 1
      val rowSpan = e.attr("rowspan").flatMap(_.toIntOption).getOrElse(1)
      val colSpan = e.attr("colspan").flatMap(_.toIntOption).getOrElse(1)
      val coords =
        if (rowSpan == 1 && colSpan == 1) s"${tc.row},${tc.col}"
        else s"${tc.row}:$rowSpan,${tc.col}:$colSpan"
      val tpe = if (e.tag == "th") "TableHeader" else "TableCell"
      startGroup(tpe, coords)
      if (e.children.nonEmpty) visitChildNodes(e)
      onEndOfTextBlock()
      endGroup(tpe)
      if (rowSpan > 1) {
        if (tc.rowSpanCells == null) tc.rowSpanCells = mutable.ArrayBuffer.empty
        for (addRow <- 1 until rowSpan; addCol <- 0 until colSpan) {
          tc.rowSpanCells += ((tc.row + addRow, tc.col + addCol))
        }
      }
      tc.col += colSpan
    }

    private def visitImage(e: HElem): Unit = {
      val alt = e.attr("alt").getOrElse("")
      if (alt.nonEmpty) appendText(alt)
      // media generalization: emit the span (suppressed inside title capture)
      if (!disableTextBlockOutput) {
        val src = e.attr("src").getOrElse("")
        if (src.nonEmpty || alt.nonEmpty) {
          emit(SpanKinds.MediaImage, cleanText(alt), src)
        }
      }
    }

    // --- text-block collection (HtmlDocumentConverter.cs:624-657) ---
    private def cleanText(text: String): String = {
      // C# Trim() before decode strips RAW U+00A0 too (Java trim is
      // ASCII-only); decoded \u00A0 is then trimmed from the ends below
      val decoded = HtmlParser.htmlDecode(graft.core.TextStats.trimCs(text))
      decoded.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    }

    private def appendText(text: String): Unit = {
      textBuilders.headOption.foreach { tb =>
        if (tb.nonEmpty) tb.append(' ')
        tb.append(cleanText(text))
      }
    }

    private def onStartOfTextBlock(collectPropertyText: Boolean = false): Unit = {
      textBuilders = new StringBuilder :: textBuilders
      if (collectPropertyText) disableTextBlockOutput = true
    }

    private def onEndOfTextBlock(collectPropertyText: Boolean = false): String = {
      if (collectPropertyText) disableTextBlockOutput = false
      val tb = textBuilders.head
      textBuilders = textBuilders.tail
      if (tb.nonEmpty) {
        val text = tb.toString
        if (!collectPropertyText) addTextBlock(text)
        text
      } else null
    }
  }
}
