package graft.crawl

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.{Charset, StandardCharsets}
import java.time.Duration
import java.util.Locale
import java.util.zip.GZIPInputStream

/** Production HTTP fetcher — the S1/S2 surface of the reference
  * (`Abot/Core/PageRequester.cs:69-199`, `Abot/Core/WebContentExtractor.cs:
  * 22-111`) on java.net.http:
  *
  *  - GET with configurable User-Agent, gzip accepted, 15 s timeout,
  *    at most 7 manually-followed redirects (the chain is observed, not
  *    hidden inside the client — the engine treats targets as candidates);
  *  - charset resolution: Content-Type header param, else `<meta charset>`
  *    / http-equiv sniff in the first bytes, else UTF-8 (C5);
  *  - per-host politeness pacing INSIDE the fetch partition: consecutive
  *    fetches of one host wait out the host's crawl delay (wall-clock —
  *    this is the DomainRateLimiter analog, `Abot/Util/RateLimiter.cs`);
  *    correctness tests never use this class (no network in CI) — the pure
  *    helpers below are unit-tested instead.
  */
final class HttpFetcher(
    userAgent: String = "graftbot",
    timeoutSec: Int = 15,
    maxBodyBytes: Int = 10 * 1024 * 1024,
    delayMsByHost: Map[String, Long] = Map.empty,
    defaultDelayMs: Long = 100L) extends Fetcher {

  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NEVER)
    .connectTimeout(Duration.ofSeconds(timeoutSec.toLong))
    .build()

  @transient private lazy val lastFetchByHost =
    scala.collection.mutable.Map.empty[String, Long]

  private def pace(host: String): Unit = {
    val delay = delayMsByHost.getOrElse(host, defaultDelayMs)
    val now = System.currentTimeMillis()
    lastFetchByHost.get(host).foreach { last =>
      val wait = last + delay - now
      if (wait > 0) Thread.sleep(wait)
    }
    lastFetchByHost(host) = System.currentTimeMillis()
  }

  override def fetch(url: String, attempt: Int = 0): FetchResponse = {
    // `attempt` is retry bookkeeping for deterministic test fetchers; a real
    // HTTP GET is identical on every attempt
    try {
      val host = Option(new URI(url).getHost).getOrElse("")
      pace(host)
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofSeconds(timeoutSec.toLong))
        .header("User-Agent", userAgent)
        .header("Accept-Encoding", "gzip")
        .GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      val status = resp.statusCode()
      val contentType = resp.headers().firstValue("Content-Type").orElse("")
      val mime = HttpFetcher.mimeOf(contentType)
      // bot-wall detection (Abot/Core/PageRequester.cs:151-155): an
      // X-DataDome response header means the site rejects bots — surface
      // the sentinel status so the engine aborts the crawl politely
      if (resp.headers().firstValue("X-DataDome").isPresent)
        return FetchResponse(HttpFetcher.BotProtectionStatus, mime, null, "")
      if (status >= 300 && status < 400) {
        val loc = resp.headers().firstValue("Location").orElse(null)
        FetchResponse(status, mime, loc, "")
      } else if (status == 200 && mime == "application/pdf") {
        val raw = resp.body()
        val bytes = if (raw.length > maxBodyBytes) raw.take(maxBodyBytes) else raw
        FetchResponse(status, mime, null,
          new String(bytes, StandardCharsets.ISO_8859_1))
      } else if (status == 200 &&
          (HttpFetcher.isTextual(mime) || mime == "text/css")) {
        // text/css rides the same textual path: stylesheet bodies feed the
        // hidden-element evaluation (CssFetch), never the page converter
        // decompress FIRST, capping the DECOMPRESSED size: truncating the
        // compressed stream would make it undecodable, and the cap is meant
        // to bound what reaches the parser
        val raw = resp.body()
        val bytesOpt =
          if (resp.headers().firstValue("Content-Encoding").orElse("") == "gzip")
            HttpFetcher.gunzipCapped(raw, maxBodyBytes)
          else Some(if (raw.length > maxBodyBytes) raw.take(maxBodyBytes) else raw)
        bytesOpt match {
          case None => FetchResponse(-1, mime, null, "", // undecodable = fetch error
            errorClass = "UndecodableGzipBody",
            errorMessage = "Content-Encoding: gzip body is not valid gzip")
          case Some(bytes) =>
            val charset = HttpFetcher.resolveCharset(contentType, bytes)
            FetchResponse(status, mime, null, new String(bytes, charset))
        }
      } else {
        // surface the server's Retry-After (seconds form) so the engine's
        // retry re-add can record it (PageToCrawl.RetryAfter analog)
        val retryAfter = resp.headers().firstValue("Retry-After").orElse("").trim
        val sec = if (retryAfter.nonEmpty && retryAfter.forall(_.isDigit))
          retryAfter.toInt else 0
        FetchResponse(status, mime, null, "", retryAfterSec = sec)
      }
    } catch {
      case e: Exception => FetchResponse(-1, "", null, "",
        errorClass = e.getClass.getName,
        errorMessage = Option(e.getMessage).getOrElse(""),
        // first frames only: enough to locate the failure, bounded row size
        errorStack = e.getStackTrace.take(12).mkString("\n"))
    }
  }

  override def fetchRobots(host: String): String = {
    val r = fetch(s"https://$host/robots.txt")
    if (r.status == 200) r.body
    else {
      val r2 = fetch(s"http://$host/robots.txt")
      if (r2.status == 200) r2.body else ""
    }
  }
}

object HttpFetcher {

  /** Sentinel status for a bot-protection wall (DataDome): the engine
    * stops the whole crawl when it sees one (the reference aborts "to
    * comply with this policy").
    */
  val BotProtectionStatus: Int = -2

  /** mime type without parameters, lowercased. */
  def mimeOf(contentType: String): String =
    contentType.split(';')(0).trim.toLowerCase(Locale.ROOT)

  /** The reference's processed content types (`CrawlDecisionMaker.cs:99-144`,
    * config at `WebsiteTextExtractor.cs:121`).
    */
  def isTextual(mime: String): Boolean =
    mime == "text/html" || mime == "text/plain" || mime == ""

  /** Downloadable content: text plus PDF (the reference downloads and
    * converts PDFs — `CrawlDecisionMaker.cs:99-144` + the PdfPig path at
    * `pdf/PdfDocumentConverter.cs`). PDF bytes travel as an ISO-8859-1
    * string (lossless byte↔char) to the PdfToSpans converter.
    */
  def isProcessable(mime: String): Boolean =
    isTextual(mime) || mime == "application/pdf"

  private val HeaderCharset = """(?i)charset\s*=\s*"?([\w_\-:.]+)"?""".r
  private val MetaCharset =
    """(?i)<meta[^>]+charset\s*=\s*["']?([\w_\-:.]+)""".r

  /** Charset resolution order of `WebContentExtractor.GetContent`
    * (`WebContentExtractor.cs:22-111`): header param, then meta tag sniffed
    * from the body prefix, then UTF-8.
    */
  def resolveCharset(contentTypeHeader: String, bodyPrefix: Array[Byte]): Charset = {
    def lookup(name: String): Option[Charset] =
      try Some(Charset.forName(name)) catch { case _: Exception => None }
    HeaderCharset.findFirstMatchIn(Option(contentTypeHeader).getOrElse(""))
      .flatMap(m => lookup(m.group(1)))
      .orElse {
        val prefix = new String(bodyPrefix.take(4096), StandardCharsets.ISO_8859_1)
        MetaCharset.findFirstMatchIn(prefix).flatMap(m => lookup(m.group(1)))
      }
      .getOrElse(StandardCharsets.UTF_8)
  }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    try {
      val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } catch { case _: Exception => bytes }
  }

  /** Streaming gunzip capped at `maxOut` bytes of OUTPUT; None when the
    * stream is not valid gzip (the caller treats that as a fetch error —
    * feeding still-compressed bytes to a charset decoder/parser is garbage).
    */
  def gunzipCapped(bytes: Array[Byte], maxOut: Int): Option[Array[Byte]] = {
    try {
      val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0 && out.size < maxOut) {
        out.write(buf, 0, math.min(n, maxOut - out.size))
        n = if (out.size < maxOut) in.read(buf) else -1
      }
      Some(out.toByteArray)
    } catch { case _: Exception => None }
  }
}
