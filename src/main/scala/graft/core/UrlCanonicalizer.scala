package graft.core

import java.net.URI
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Locale

/** URL canonicalization + hashing — the single shared definition used by the
  * frontier, the seen-set and link extraction (north rule: "canonicalized +
  * hashed URLs").
  *
  * Behavior modeled on the reference link pipeline:
  *  - fragment stripped before resolution
  *    (`Abot/Core/HyperLinkParser.cs:104-108`)
  *  - relative resolution against the document base URL, which
  *    `HtmlToSpans.outLinks` (the one `<base href>` rule) derives with
  *    `resolve` itself: the first `<base href>` resolved against the page
  *    URL, else the page URL (`HyperLinkParser.cs:85-96`); a `//host`
  *    href takes the base's scheme
  *  - lowercased scheme/host, default ports dropped, trailing host dot
  *    removed (C#'s Uri class does this implicitly; trailing-dot patch
  *    `Abot/Crawler/WebCrawler.cs:140-160`)
  *  - empty path normalized to "/"
  *  - hash = low 64 bits (little-endian) of MD5(canonical URL), the exact
  *    scheme of `Abot/Core/CompactCrawledUrlRepository.cs:39-58`.
  */
object UrlCanonicalizer {

  /** Resolve `href` against `baseUrl` and canonicalize. Returns None for
    * unparseable or non-http(s) results (the reference silently drops links
    * that fail Uri parsing, `HyperLinkParser.cs:110-121`).
    */
  def resolve(baseUrl: String, href: String): Option[String] = {
    try {
      // hrefs are IRIs in the wild — pre-encode BEFORE java.net.URI sees
      // them (it throws on non-ASCII), like canonicalize does. The
      // scheme-relative fix runs FIRST so an IDN host in a "//host/..."
      // href is punycoded, not percent-encoded.
      val base = new URI(iriToUri(baseUrl.split('#')(0)))
      val raw = href.split('#')(0)
      val fixed = iriToUri(
        if (raw.startsWith("//")) base.getScheme + ":" + raw else raw)
      val resolved =
        if (fixed.isEmpty) base
        else base.resolve(encodeSpaces(fixed))
      canonicalize(resolved.toString)
    } catch { case _: Exception => None }
  }

  /** Canonicalize an absolute URL string. */
  /** IRI → URI. Crawled hrefs are legally IRIs (raw unicode in host and
    * path) and the reference's .NET `Uri` accepts them (IdnHost punycodes
    * the host, the path is UTF-8 percent-encoded) — `java.net.URI`
    * rejects non-ASCII, which would silently drop every international
    * link. Pre-encode: `IDN.toASCII` on the host, UTF-8 percent-encoding
    * on every non-ASCII char elsewhere. Pure-ASCII input returns
    * IDENTICALLY (fast path), so existing url hashes are unaffected.
    */
  private val IriParts = "^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]*)([\\s\\S]*)$".r

  private def pctEncodeNonAscii(s: String): String = {
    if (s.forall(_ < 0x80)) s
    else {
      val sb = new StringBuilder
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
        if ((b & 0xff) < 0x80) sb.append(b.toChar)
        else sb.append(f"%%${b & 0xff}%02X")
      }
      sb.toString
    }
  }

  private[core] def iriToUri(s: String): String = {
    if (s.forall(_ < 0x80)) s
    else s match {
      case IriParts(pre, auth, rest) =>
        val authAscii =
          if (auth.forall(_ < 0x80)) auth
          else {
            // userinfo@host:port — IDN applies to the host alone; a :port
            // after an IPv6 ]-bracket is detected by position
            val (ui, hostPort) = auth.lastIndexOf('@') match {
              case -1 => ("", auth)
              case i => (auth.substring(0, i + 1), auth.substring(i + 1))
            }
            val (h, port) = hostPort.lastIndexOf(':') match {
              case i if i >= 0 && hostPort.indexOf(']') < i =>
                (hostPort.substring(0, i), hostPort.substring(i))
              case _ => (hostPort, "")
            }
            val hAscii =
              try java.net.IDN.toASCII(h)
              catch { case _: Exception => pctEncodeNonAscii(h) }
            // userinfo/port: IDN applies only to the host — everything
            // else percent-encodes (.NET Uri accepts unicode userinfo too)
            pctEncodeNonAscii(ui) + hAscii + pctEncodeNonAscii(port)
          }
        pre + authAscii + pctEncodeNonAscii(rest)
      case _ => pctEncodeNonAscii(s)
    }
  }

  def canonicalize(url: String): Option[String] = {
    try {
      val u = new URI(iriToUri(url.split('#')(0).trim)).normalize()
      val scheme = Option(u.getScheme).map(_.toLowerCase(Locale.ROOT)).orNull
      if (scheme != "http" && scheme != "https") return None
      var host = Option(u.getHost).map(_.toLowerCase(Locale.ROOT)).orNull
      if (host == null) return None
      while (host.endsWith(".")) host = host.dropRight(1)
      val defaultPort = if (scheme == "https") 443 else 80
      val port = if (u.getPort == -1 || u.getPort == defaultPort) -1 else u.getPort
      var path = Option(u.getRawPath).getOrElse("")
      if (path.isEmpty) path = "/"
      // java.net.URI.normalize can leave leading "../" on rootless paths:
      while (path.startsWith("/../")) path = "/" + path.stripPrefix("/../")
      val sb = new StringBuilder(scheme).append("://").append(host)
      if (port != -1) sb.append(':').append(port)
      sb.append(path)
      val q = u.getRawQuery
      if (q != null) sb.append('?').append(q)
      Some(sb.toString)
    } catch { case _: Exception => None }
  }

  private def encodeSpaces(s: String): String = s.replace(" ", "%20")

  /** host (authority without port) of a canonical URL; "" if unparseable. */
  def host(canonicalUrl: String): String =
    try Option(new URI(canonicalUrl).getHost).getOrElse("")
    catch { case _: Exception => "" }

  /** path + query, the robots-matching input (C# Uri.PathAndQuery). */
  def pathAndQuery(canonicalUrl: String): String =
    try {
      val u = new URI(canonicalUrl)
      val p = Option(u.getRawPath).filter(_.nonEmpty).getOrElse("/")
      val q = Option(u.getRawQuery).map("?" + _).getOrElse("")
      p + q
    } catch { case _: Exception => "/" }

  /** Low 64 bits of MD5(url), little-endian — the seen-set key
    * (`CompactCrawledUrlRepository.cs:39-58`).
    */
  def urlHash(canonicalUrl: String): Long = {
    val md = MessageDigest.getInstance("MD5")
    val d = md.digest(canonicalUrl.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 7
    while (i >= 0) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }
}

/** Crawl scope predicate — which candidate URLs belong to the crawl
  * (`wordslab.webscraper/html/HtmlFileUtils.cs:14-81`).
  */
object ScopeFilter {
  sealed trait Scope
  case object Domain extends Scope    // same base domain (last 2 DNS labels)
  case object SubDomain extends Scope // same full host
  case object Path extends Scope      // same host + root path prefix

  def baseDomain(host: String): String = {
    val tokens = host.split('.')
    if (tokens.length < 3) host
    else tokens(tokens.length - 2) + "." + tokens(tokens.length - 1)
  }

  /** `HtmlFileUtils.GetRootPath:69-81`: directory prefix of the root path,
    * cut at the last '/' before the first '.' (file-extension heuristic).
    */
  def rootPath(absolutePath: String): String = {
    val dotIndex = absolutePath.indexOf('.')
    if (dotIndex > 0) {
      val slashIndex = absolutePath.lastIndexOf('/', dotIndex)
      if (slashIndex >= 0) return absolutePath.substring(0, slashIndex + 1)
    }
    absolutePath
  }

  def shouldCrawl(scope: Scope, candidateUrl: String, rootUrl: String): Boolean = {
    val cHost = UrlCanonicalizer.host(candidateUrl)
    val rHost = UrlCanonicalizer.host(rootUrl)
    if (cHost.isEmpty || rHost.isEmpty) return false
    scope match {
      case Domain => baseDomain(cHost) == baseDomain(rHost)
      case SubDomain => cHost == rHost
      case Path =>
        cHost == rHost && {
          val cPath = UrlCanonicalizer.pathAndQuery(candidateUrl).split('?')(0)
          val rPath = UrlCanonicalizer.pathAndQuery(rootUrl).split('?')(0)
          cPath.startsWith(rootPath(rPath))
        }
    }
  }
}
