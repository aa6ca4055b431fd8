package graft.core

import java.util.Locale

/** robots.txt parsing + matching with the semantics of the reference's
  * patched NRobots (`wordslab.webscraper.dependencies/NRobotsPatched/`):
  *
  *  - line grammar (keyword prefix, inline "# comment" only after a space,
  *    malformed crawl-delay -> 0): `NRobotsPatched/Models/Entry.cs`
  *  - user-agent groups: consecutive UA lines share the following rules;
  *    duplicate UA names merge into the first group (`Robots.cs:116-180`)
  *  - UA lookup: case-insensitive EXACT name match, falling back to the
  *    "*" group (`Robots.cs:301-317`)
  *  - Allowed(): Disallow ALWAYS beats Allow (reference patch,
  *    `Robots.cs:239-253`); "/robots.txt" is always disallowed when any
  *    entries exist (`Robots.cs:230`); empty file / no matching group =>
  *    allowed; match input is path+query (`Robots.cs:238`)
  *  - pattern matcher = the Google robots.cc algorithm ('*' wildcard, '$'
  *    anchor only at pattern end) (`Robots.cs:363-412`)
  */
object RobotsTxt {

  final case class Rule(entryType: String, pattern: String) // "allow"|"disallow"
  final case class Group(userAgent: String, rules: Vector[Rule], crawlDelaySec: Int)
  final case class Parsed(groups: Vector[Group], sitemaps: Vector[String]) {
    val hasEntries: Boolean = groups.nonEmpty || sitemaps.nonEmpty

    def findGroup(userAgent: String): Option[Group] = {
      val exact = groups.find(_.userAgent.equalsIgnoreCase(userAgent))
      exact.orElse(groups.find(_.userAgent == "*"))
    }

    def allowed(pathAndQuery: String, userAgent: String): Boolean = {
      if (groups.isEmpty && sitemaps.isEmpty) return true
      if (pathAndQuery.split('?')(0) == "/robots.txt") return false
      findGroup(userAgent) match {
        case None => true
        case Some(g) =>
          !g.rules.exists(r => r.entryType == "disallow" && matches(pathAndQuery, r.pattern))
      }
    }

    def crawlDelaySec(userAgent: String): Int =
      findGroup(userAgent).map(_.crawlDelaySec).getOrElse(0)
  }

  val Empty: Parsed = Parsed(Vector.empty, Vector.empty)

  private final class MutableGroup(val userAgent: String) {
    var rules = Vector.empty[Rule]
    var crawlDelay = 0
  }

  def parse(content: String): Parsed = {
    if (content == null) return Empty
    val byName = scala.collection.mutable.LinkedHashMap.empty[String, MutableGroup]
    var currentGroup = List.empty[MutableGroup] // consecutive UA lines share rules
    var addedRulesToGroup = false
    val sitemaps = Vector.newBuilder[String]

    def stripComment(line0: String): String = {
      val i = line0.indexOf('#')
      if (i < 0) line0
      else if (i == 0 || line0(i - 1) == ' ') line0.substring(0, i)
      else line0
    }

    content.linesIterator.foreach { raw =>
      val line = stripComment(raw).trim
      if (line.nonEmpty) {
        val lower = line.toLowerCase(Locale.ROOT)
        def value(kw: String): String = line.substring(kw.length).trim
        if (lower.startsWith("user-agent:")) {
          val ua = value("user-agent:").stripSuffix("?")
          if (ua.nonEmpty) {
            if (addedRulesToGroup) { currentGroup = Nil; addedRulesToGroup = false }
            val g = byName.getOrElseUpdate(ua.toLowerCase(Locale.ROOT), new MutableGroup(ua))
            currentGroup = currentGroup :+ g
          }
        } else if (lower.startsWith("disallow:")) {
          val p = value("disallow:")
          if (p.nonEmpty && currentGroup.nonEmpty) {
            currentGroup.foreach(g => g.rules :+= Rule("disallow", p))
            addedRulesToGroup = true
          }
        } else if (lower.startsWith("allow:")) {
          val p = value("allow:")
          if (p.nonEmpty && currentGroup.nonEmpty) {
            currentGroup.foreach(g => g.rules :+= Rule("allow", p))
            addedRulesToGroup = true
          }
        } else if (lower.startsWith("crawl-delay:")) {
          val v = value("crawl-delay:").stripSuffix("?")
          val d = try v.toInt catch { case _: Exception => 0 }
          if (currentGroup.nonEmpty) {
            currentGroup.foreach(_.crawlDelay = d)
            addedRulesToGroup = true
          }
        } else if (lower.startsWith("sitemap:")) {
          sitemaps += value("sitemap:").stripSuffix("?")
        }
      }
    }
    Parsed(
      byName.values.map(g => Group(g.userAgent, g.rules, g.crawlDelay)).toVector,
      sitemaps.result())
  }

  /** Google robots.cc prefix matcher — returns true if `path` matches
    * `pattern` anchored at the start; '*' matches any run, '$' is special
    * only as the last pattern char. Port of the algorithm described at
    * github.com/google/robotstxt robots.cc (as used by the reference,
    * `NRobotsPatched/Robots.cs:363-412`).
    */
  def matches(path: String, pattern: String): Boolean = {
    val pathlen = path.length
    val pos = new Array[Int](pathlen + 1)
    pos(0) = 0
    var numpos = 1
    val lastPat = pattern.length - 1
    var patIndex = 0
    while (patIndex <= lastPat) {
      val pat = pattern.charAt(patIndex)
      if (pat == '$' && patIndex == lastPat) {
        return pos(numpos - 1) == pathlen
      }
      if (pat == '*') {
        numpos = pathlen - pos(0) + 1
        var i = 1
        while (i < numpos) { pos(i) = pos(i - 1) + 1; i += 1 }
      } else {
        var newnumpos = 0
        var i = 0
        while (i < numpos) {
          if (pos(i) < pathlen && path.charAt(pos(i)) == pat) {
            pos(newnumpos) = pos(i) + 1
            newnumpos += 1
          }
          i += 1
        }
        numpos = newnumpos
        if (numpos == 0) return false
      }
      patIndex += 1
    }
    true
  }
}
