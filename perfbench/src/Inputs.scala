package perfbench

import graft.core.{ScopeFilter, UrlCanonicalizer}
import graft.crawl._

/** The benchmark's inputs, all pure functions of the seed. */
object Inputs {

  /** splitmix64 finaliser: the benchmark's own deterministic randomness. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rnd(seed: Long, parts: Long*): Long = parts.foldLeft(mix(seed))((h, p) => mix(h ^ p))
  def pick(bound: Int, seed: Long, parts: Long*): Int =
    java.lang.Math.floorMod(rnd(seed, parts: _*), bound.toLong).toInt

  /** A crawl input: the web the engine fetches, the plain web the oracle
    * crawls (identical links, so identical order and seen set), and the
    * crawl configuration.
    */
  final case class Web(site: SyntheticWeb.Site, plain: SyntheticWeb.Site,
      config: CrawlConfig, hotHost: String, preSeeded: Long)

  private def spec(hosts: Int, perHost: Int, hot: Int, seed: Long) =
    SyntheticWeb.Spec(hosts = hosts, pagesPerHost = perHost, hotHostFactor = hot,
      fanout = 64, seed = seed, treeLinks = true, sharedDomain = true)

  /** 6 s budget / 100 ms minimum delay: 60 pages per host per wave. */
  val CapBudgetMs = 6000L

  final case class Sizes(perHost: Int, preSeeded: Long)
  val Full = Sizes(perHost = 10, preSeeded = 1000000L)
  val Smoke = Sizes(perHost = 3, preSeeded = 200000L)

  /** The crawl input: 8 hosts under one domain, tree links (fanout 64), the
    * hot host holding half the pages so the per-host wave cap binds on it,
    * every 200-HTML body enriched to about 15 KB, fetch log on, and
    * `preSeeded` junk hashes in the seen set so the Bloom path engages
    * from wave 0.
    */
  def churn(seed: Long, z: Sizes): Web = {
    val sp = spec(8, z.perHost, 7, seed)
    val plain = SyntheticWeb.generate(sp)
    Web(enrich(plain, seed, 15000), plain,
      CrawlConfig(rootUrl = plain.rootUrl, scope = ScopeFilter.Domain,
        waveBudgetMs = CapBudgetMs, maxWaves = 60, logFetches = true,
        simulatedExtractCostNanos = 0L),
      SyntheticWeb.hostNameOf(sp, 0), z.preSeeded)
  }

  /** Two-host web for the warm-up crawl. */
  def tiny(seed: Long): Web = {
    val sp = spec(2, 6, 2, seed)
    val plain = SyntheticWeb.generate(sp)
    Web(plain, plain, CrawlConfig(rootUrl = plain.rootUrl, scope = ScopeFilter.Domain),
      SyntheticWeb.hostNameOf(sp, 0), 0L)
  }

  /** Junk seen hashes start at 2^40, far from real url hashes' range of use. */
  val JunkBase: Long = 1L << 40

  // ---- body enrichment ----------------------------------------------------

  private val syllables = Vector("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi",
    "da", "fe", "gu", "ho", "ji", "pe", "qua", "ri", "so", "tu", "we", "zo")
  private def word(seed: Long, parts: Long*): String = {
    val n = 1 + pick(3, seed, parts :+ 7L: _*)
    (0 until n).map(k => syllables(pick(syllables.size, seed, parts :+ k.toLong: _*))).mkString
  }
  private def sentence(seed: Long, words: Int, parts: Long*): String =
    (0 until words).map(k => word(seed, parts :+ (100L + k): _*)).mkString(" ")

  /** One link-free boilerplate block of a host's bounded pool. */
  private def block(seed: Long, host: Long, b: Long): String = {
    val sb = new StringBuilder
    sb.append("<h3>").append(sentence(seed, 4, host, b, 1L)).append("</h3>")
    sb.append("<p>").append(sentence(seed, 60, host, b, 2L)).append("</p>")
    pick(3, seed, host, b, 3L) match {
      case 0 =>
        sb.append("<ul>")
        (0 until 6).foreach(i => sb.append("<li>").append(sentence(seed, 8, host, b, 4L, i)).append("</li>"))
        sb.append("</ul>")
      case 1 =>
        sb.append("<table><tr><th>").append(word(seed, host, b, 5L)).append("</th><th>")
          .append(word(seed, host, b, 6L)).append("</th></tr>")
        (0 until 5).foreach { i =>
          sb.append("<tr><td>").append(sentence(seed, 3, host, b, 7L, i)).append("</td><td>")
            .append(sentence(seed, 3, host, b, 8L, i)).append("</td></tr>")
        }
        sb.append("</table>")
      case _ =>
        sb.append("<div class=\"pb-hidden\"><p>").append(sentence(seed, 30, host, b, 9L))
          .append("</p></div>")
    }
    sb.toString
  }

  private val PoolSize = 24
  private val Style =
    "<style>.pb-hidden{display:none}.pb-ghost{visibility:hidden}</style>"

  /** Append link-free content to every 200-HTML body until it is about
    * `targetBytes` long. Blocks come from a bounded pool per host (so
    * boilerplate repeats across pages), plus one page-unique paragraph and
    * a hidden element. Titles and links are untouched.
    */
  def enrich(site: SyntheticWeb.Site, seed: Long, targetBytes: Int): SyntheticWeb.Site = {
    val hosts = site.pages.values.map(_.host).toSeq.distinct.sorted.zipWithIndex.toMap
    val pools = hosts.map { case (h, i) =>
      h -> (0 until PoolSize).map(b => block(seed, i.toLong, b.toLong)).toVector }
    val pages = site.pages.map { case (url, p) =>
      if (p.status != 200 || p.content_type != "text/html" || !p.html.contains("</body>")) url -> p
      else {
        val pool = pools(p.host)
        val urlKey = UrlCanonicalizer.urlHash(url)
        val extra = new StringBuilder
        extra.append("<p>").append(sentence(seed, 40, urlKey, 11L)).append("</p>")
        extra.append("<div class=\"pb-ghost\">").append(sentence(seed, 12, urlKey, 12L)).append("</div>")
        var k = 0L
        while (p.html.length + Style.length + extra.length < targetBytes) {
          extra.append(pool(pick(PoolSize, seed, urlKey, 13L, k)))
          k += 1
        }
        val html = p.html.replace("</head>", Style + "</head>")
          .replace("</body>", extra.toString + "</body>")
        url -> p.copy(html = html)
      }
    }
    site.copy(pages = pages)
  }

  // ---- properties ---------------------------------------------------------

  /** Printed on every run, so drift of the inputs across seeds shows. */
  def properties(web: Web, oracle: SequentialOracle.Result): Seq[(String, Double)] = {
    val fetched = oracle.crawlOrder.map(_.url)
    val bodies = fetched.flatMap(u => web.site.pages.get(u)).map(_.html.length.toDouble).sorted
    val links = fetched.flatMap(u => web.plain.expected.get(u)).map(_.rawHrefs.size.toLong).sum
    val hot = oracle.crawlOrder.count(_.host == web.hotHost)
    Seq("pages" -> fetched.size.toDouble,
      "hosts" -> oracle.crawlOrder.map(_.host).distinct.size.toDouble,
      "body_bytes_median" -> Stats.quantile(bodies, 0.5),
      "body_bytes_p90" -> Stats.quantile(bodies, 0.9),
      "candidate_links" -> links.toDouble,
      "pre_seeded_rows" -> web.preSeeded.toDouble,
      "hot_host_share" -> (if (fetched.isEmpty) 0.0 else hot.toDouble / fetched.size))
  }
}

object Stats {
  /** Linear-interpolation quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)
}
