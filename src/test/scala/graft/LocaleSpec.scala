package graft

import java.util.Locale

import graft.core.{LangId, RobotsTxt, UrlCanonicalizer}
import graft.crawl.HttpFetcher
import graft.extract.HtmlToSpans
import graft.ops.{Dedup, Winnowing}
import org.scalatest.funsuite.AnyFunSuite

/** Output must not depend on the JVM's default locale. Under `tr-TR`,
  * `"I".toLowerCase` is a dotless `ı`, so every default-locale lowercasing
  * of ASCII input (tags, directives, hosts, mime types, text) changes its
  * result; each kernel here must give the same answer as under
  * `Locale.ROOT`.
  */
class LocaleSpec extends AnyFunSuite {

  private def under[T](locale: Locale)(f: => T): T = {
    val prev = Locale.getDefault
    Locale.setDefault(locale)
    try f
    finally Locale.setDefault(prev)
  }

  private val html =
    """<HTML><HEAD><TITLE>Index Title</TITLE>
      |<META NAME="ROBOTS" CONTENT="NOINDEX, NOFOLLOW">
      |<STYLE>@MEDIA SCREEN { DIV.HIDE { DISPLAY: NONE } }
      |LI.GONE { VISIBILITY: HIDDEN }</STYLE></HEAD>
      |<BODY><DIV CLASS="HIDE">hidden on screens</DIV>
      |<DIV>Visible INDIA text in a division</DIV><UL><LI CLASS="GONE">gone</LI>
      |<LI>kept item</LI></UL>
      |<A HREF="/in" REL="NOFOLLOW">skip</A> <A HREF="/ok">keep</A>
      |<SCRIPT>var I = "</DIV>";</SCRIPT></BODY></HTML>""".stripMargin

  private val robots = "USER-AGENT: *\nDISALLOW: /PRIVATE\nCRAWL-DELAY: 3\n"

  private val text = "IN THE BEGINNING IT WAS THIS INITIAL TEXT WITH IDEAS IN IT"

  private def kernels: Map[String, Any] = Map(
    "canonicalize" -> UrlCanonicalizer.canonicalize("HTTP://WWW.INDIA.EXAMPLE.COM/Index.html"),
    "urlHash" -> UrlCanonicalizer.canonicalize("HTTPS://MAIL.EXAMPLE.IN/")
      .map(UrlCanonicalizer.urlHash),
    "html" -> HtmlToSpans.extract(html),
    "robots" -> {
      val p = RobotsTxt.parse(robots)
      (p.allowed("/PRIVATE/x", "graftbot"), p.crawlDelaySec("graftbot"))
    },
    "langid" -> (LangId.profile(text), LangId.detect(text)),
    "stopwords" -> LangId.stopwordHeuristic(text),
    "winnowing" -> (Winnowing.normalize(text), Winnowing.fingerprints(text)),
    "simhash" -> Dedup.simHash64(text),
    "mime" -> HttpFetcher.mimeOf("APPLICATION/XHTML+XML; charset=UTF-8"))

  test("lowercasing kernels give the same output under tr-TR as under Locale.ROOT") {
    val root = under(Locale.ROOT)(kernels)
    val turkish = under(new Locale("tr", "TR"))(kernels)
    val differs = root.keys.filter(k => turkish(k) != root(k)).toSeq.sorted
    assert(differs.isEmpty, s"outputs that differ under tr-TR: $differs")
    // the inputs do exercise the kernels: under ROOT the directives parse
    val doc = root("html").asInstanceOf[graft.extract.ExtractedDoc]
    assert(doc.title == "Index Title" && doc.noFollow)
    assert(root("robots") == ((false, 3)))
    assert(root("mime") == "application/xhtml+xml")
  }
}
