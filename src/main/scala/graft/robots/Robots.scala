package graft.robots

import java.util.Locale

import graft.model.RobotsRules

/** robots.txt parsing + allow checking.
  *
  * The reference consumes robots.txt ONLY to discover sitemaps
  * (/root/reference/RAGnificent/utils/sitemap_utils.py:128-160:
  * `line.lower().startswith("sitemap:")` → `line[8:].strip()`); the
  * north_rule upgrades robots rules to fetch gating, so we also parse
  * User-agent groups with Allow/Disallow prefix rules and apply the
  * standard longest-match-wins check (Google REP semantics; a published
  * public standard, RFC 9309).
  */
object Robots {

  /** Sitemap lines exactly as the reference extracts them
    * (sitemap_utils.py:150-153): case-insensitive "sitemap:" prefix,
    * `line[8:].strip()`. */
  def sitemapsInRobots(body: String): Seq[String] = {
    if (body == null) return Nil
    body.linesIterator.collect {
      case line if line.toLowerCase(Locale.ROOT).startsWith("sitemap:") => line.substring(8).trim
    }.filter(_.nonEmpty).toSeq
  }

  /** Parse the rule groups that apply to `agent` (or `*`). RFC 9309
    * group semantics: consecutive User-agent lines open a group; rules
    * accumulate until the next User-agent line after at least one rule. */
  def parse(host: String, body: String, agent: String = "*"): RobotsRules = {
    val allow = Seq.newBuilder[String]
    val disallow = Seq.newBuilder[String]
    var crawlDelay: Option[Double] = None
    val agentLower = agent.toLowerCase(Locale.ROOT)
    var inMatchingGroup = false
    var groupHasRules = false
    if (body != null) body.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase(Locale.ROOT)
          val value = line.substring(colon + 1).trim
          key match {
            case "user-agent" =>
              if (groupHasRules) { inMatchingGroup = false; groupHasRules = false }
              val v = value.toLowerCase(Locale.ROOT)
              if (v == "*" || v == agentLower || agentLower.startsWith(v)) inMatchingGroup = true
            case "allow" if inMatchingGroup =>
              groupHasRules = true
              if (value.nonEmpty) allow += value
            case "disallow" if inMatchingGroup =>
              groupHasRules = true
              if (value.nonEmpty) disallow += value
            case "crawl-delay" if inMatchingGroup =>
              groupHasRules = true
              crawlDelay = try Some(value.toDouble) catch { case _: NumberFormatException => crawlDelay }
            case _ => ()
          }
        }
      }
    }
    RobotsRules(host, allow.result(), disallow.result(), sitemapsInRobots(body), crawlDelay)
  }

  /** Longest-match-wins allow check over prefix rules with `*` wildcard
    * and `$` end anchor. Allow wins ties. No rules → allowed. */
  def allows(path: String, allow: Seq[String], disallow: Seq[String]): Boolean = {
    val p = if (path == null || path.isEmpty) "/" else path
    def bestMatch(rules: Seq[String]): Int = {
      var best = -1
      rules.foreach { r => if (ruleMatches(p, r) && r.length > best) best = r.length }
      best
    }
    val a = bestMatch(allow)
    val d = bestMatch(disallow)
    a >= d // tie → allow; both -1 (no match) → allowed
  }

  private def ruleMatches(path: String, rule: String): Boolean = {
    val anchored = rule.endsWith("$")
    val r = if (anchored) rule.substring(0, rule.length - 1) else rule
    val parts = r.split("\\*", -1)
    var pos = 0
    var i = 0
    while (i < parts.length) {
      val part = parts(i)
      if (i == 0) {
        if (!path.startsWith(part)) return false
        pos = part.length
      } else {
        val idx = path.indexOf(part, pos)
        if (idx < 0) return false
        pos = idx + part.length
      }
      i += 1
    }
    if (anchored) {
      // last literal part must end exactly at path end (or a trailing *
      // already consumed everything)
      if (parts.last.isEmpty) true else pos == path.length
    } else true
  }
}
