package graft.html

import java.util.Locale

import graft.url.UrlCanonical

/** Page-level crawl directives a production crawler must honor but the
  * reference never parses: robots meta tags and rel=canonical.
  *
  * The reference extracts `<meta name=...>` pairs for METADATA only
  * (core/scraper.py:1023-1070 — description/keywords/og:*) and follows
  * every `<a href>` unconditionally (html_parser.rs:80-111). At 10^10
  * urls that is both impolite and wasteful: `noindex` pages must not
  * enter the training corpus, `nofollow` pages must not expand the
  * frontier, and `rel=canonical` declarations are the web's own dedup
  * signal (print/mobile/tracking variants of one page all point at the
  * canonical capture — collapsing them is cheaper than content-hash
  * dedup and catches variants whose bytes differ).
  *
  * Semantics follow the Robots Exclusion Protocol meta-tag convention
  * (RFC 9309's HTML sibling, as documented by the major engines):
  *   - every `<meta name="robots">`'s content is a comma-separated
  *     token list; `noindex`/`nofollow` set the flags, `none` sets
  *     both. Multiple tags UNION (the most restrictive combination
  *     wins), matching how engines treat conflicting directives.
  *   - name/token matching is case-insensitive; unknown tokens
  *     (noarchive, nosnippet, max-image-preview:...) are ignored.
  *   - the FIRST `<link rel="canonical" href=...>` wins; `rel` is a
  *     whitespace-separated token list ("alternate canonical" counts).
  *     The href resolves against the page url (relative hrefs legal).
  *   - per-anchor `rel="nofollow"` / `"sponsored"` / `"ugc"` exclude
  *     that single link from frontier expansion (the 2019 three-way
  *     split of the original nofollow).
  */
object PageDirectives {

  /** One page's directives. `canonical` is null when undeclared (or the
    * href fails to resolve) — callers coalesce to the page url. */
  final case class Directives(noindex: Boolean, nofollow: Boolean, canonical: String)

  private def relTokens(e: HtmlParser.Elem): Set[String] =
    e.attr("rel").map(_.toLowerCase(Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  def fromRoot(root: HtmlParser.Elem, baseUrl: String): Directives = {
    var noindex = false
    var nofollow = false
    HtmlParser.selectTag(root, "meta").foreach { m =>
      if (m.attr("name").exists(_.equalsIgnoreCase("robots"))) {
        m.attr("content").foreach { c =>
          c.toLowerCase(Locale.ROOT).split(",").map(_.trim).foreach {
            case "noindex"  => noindex = true
            case "nofollow" => nofollow = true
            case "none"     => noindex = true; nofollow = true
            case _          => // noarchive, nosnippet, ... — not ours
          }
        }
      }
    }
    val canonical = HtmlParser.selectTag(root, "link")
      .find(l => relTokens(l).contains("canonical") && l.attr("href").exists(_.nonEmpty))
      .flatMap(_.attr("href"))
      .map { href =>
        // resolve like an outlink: absolute kept (normalized), relative
        // joined against the page url; unresolvable → undeclared.
        if (href.startsWith("http://") || href.startsWith("https://"))
          UrlCanonical.normalize(href)
        else UrlCanonical.join(baseUrl, href)
      }
      .orNull
    Directives(noindex, nofollow, canonical)
  }

  def fromHtml(html: String, baseUrl: String): Directives =
    fromRoot(HtmlParser.parse(html), baseUrl)

  /** Outlinks eligible for frontier expansion: [[Doc.extractLinksFromRoot]]
    * semantics (skip javascript:/#, resolve relative, sort + dedup — quirk
    * Q9) minus anchors carrying rel nofollow/sponsored/ugc. A page-level
    * nofollow directive is the caller's job (it zeroes the whole set). */
  def followableLinksFromRoot(root: HtmlParser.Elem, baseUrl: String): Seq[String] = {
    val excluded = Set("nofollow", "sponsored", "ugc")
    val out = Seq.newBuilder[String]
    HtmlParser.selectWithAttr(root, "a", "href").foreach { e =>
      if (relTokens(e).intersect(excluded).isEmpty) {
        val href = e.attr("href").get
        if (!href.startsWith("javascript:") && !href.startsWith("#")) {
          if (href.startsWith("http://") || href.startsWith("https://")) out += href
          else {
            val joined = UrlCanonical.join(baseUrl, href)
            if (joined != null) out += joined
          }
        }
      }
    }
    val sorted = out.result().sorted
    val res = Seq.newBuilder[String]
    var prev: String = null
    sorted.foreach { s => if (s != prev) { res += s; prev = s } }
    res.result()
  }

  def followableLinks(html: String, baseUrl: String): Seq[String] =
    followableLinksFromRoot(HtmlParser.parse(html), baseUrl)
}
