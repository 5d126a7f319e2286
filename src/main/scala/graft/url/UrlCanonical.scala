package graft.url

import java.util.Locale

/** URL validation / sanitization / resolution with the semantics the
  * reference engine exhibits.
  *
  * Three distinct behaviors coexist in the reference and are kept as
  * three distinct functions here:
  *
  *  - `validate`  — /root/reference/RAGnificent/core/validators.py:16-44
  *    (scheme ∈ {http,https} ∧ netloc nonempty)
  *  - `sanitize`  — validators.py:47-79 (strip userinfo + fragment,
  *    Python urlunparse reassembly: empty path stays empty)
  *  - `resolve`   — WHATWG-style join as done by the Rust `url` crate in
  *    /root/reference/src/markdown_converter.rs:79-84 and
  *    /root/reference/src/html_parser.rs:94-103 (absolute URLs preserved
  *    verbatim on the link-extraction path; relative ones resolved and
  *    re-serialized: lowercased scheme/host, default port dropped, empty
  *    path → "/", dot segments removed).
  *
  * Pure, deterministic, no JDK URL classes (java.net.URI diverges from
  * the WHATWG rules on bare-authority serialization and on opaque
  * schemes). Designed to run inside whole-stage-codegen'd expressions.
  */
object UrlCanonical {

  /** Parsed URL. `authority` is userinfo@host:port as written (case of
    * host already lowered); `path` never includes query/fragment. */
  final case class Parsed(
      scheme: String,
      userinfo: String, // "" if absent
      host: String,
      port: Int, // -1 if absent
      path: String,
      query: String, // null if absent
      fragment: String // null if absent
  )

  private val SpecialSchemes = Map("http" -> 80, "https" -> 443, "ws" -> 80, "wss" -> 443, "ftp" -> 21)

  private def isSchemeChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.'

  /** Find "scheme:" prefix; returns scheme (lowercase) or null. */
  def schemeOf(url: String): String = {
    if (url == null || url.isEmpty) return null
    val c0 = url.charAt(0)
    if (!((c0 >= 'a' && c0 <= 'z') || (c0 >= 'A' && c0 <= 'Z'))) return null
    var i = 1
    while (i < url.length && isSchemeChar(url.charAt(i))) i += 1
    if (i < url.length && url.charAt(i) == ':') url.substring(0, i).toLowerCase(Locale.ROOT)
    else null
  }

  /** Parse an absolute URL. Returns null on failure (no scheme). For
    * non-special schemes (javascript:, mailto:, data:) callers should
    * treat the URL as opaque — see [[resolve]]. */
  def parse(url: String): Parsed = {
    val scheme = schemeOf(url)
    if (scheme == null) return null
    var rest = url.substring(scheme.length + 1)
    var fragment: String = null
    val hashIdx = rest.indexOf('#')
    if (hashIdx >= 0) { fragment = rest.substring(hashIdx + 1); rest = rest.substring(0, hashIdx) }
    var query: String = null
    val qIdx = rest.indexOf('?')
    if (qIdx >= 0) { query = rest.substring(qIdx + 1); rest = rest.substring(0, qIdx) }
    var userinfo = ""; var host = ""; var port = -1; var path = ""
    if (rest.startsWith("//")) {
      val afterSlashes = rest.substring(2)
      val slashIdx = afterSlashes.indexOf('/')
      val auth = if (slashIdx >= 0) afterSlashes.substring(0, slashIdx) else afterSlashes
      path = if (slashIdx >= 0) afterSlashes.substring(slashIdx) else ""
      val atIdx = auth.lastIndexOf('@')
      val hostPort = if (atIdx >= 0) { userinfo = auth.substring(0, atIdx); auth.substring(atIdx + 1) } else auth
      val colonIdx = hostPort.lastIndexOf(':')
      if (colonIdx >= 0 && hostPort.indexOf(']') < colonIdx) {
        host = hostPort.substring(0, colonIdx).toLowerCase(Locale.ROOT)
        val p = hostPort.substring(colonIdx + 1)
        port = if (p.isEmpty) -1 else try p.toInt catch { case _: NumberFormatException => return null }
      } else host = hostPort.toLowerCase(Locale.ROOT)
      if (SpecialSchemes.get(scheme).contains(port)) port = -1
    } else {
      path = rest // opaque or path-only
    }
    if (SpecialSchemes.contains(scheme) && path.isEmpty && host.nonEmpty) path = "/"
    Parsed(scheme, userinfo, host, port, path, query, fragment)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  def removeDotSegments(path: String): String = {
    val out = new StringBuilder
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); trimLastSegment(out) }
      else if (in == "/..") { in = "/"; trimLastSegment(out) }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val next = in.indexOf('/', start)
        if (next >= 0) { out.append(in.substring(0, next)); in = in.substring(next) }
        else { out.append(in); in = "" }
      }
    }
    out.toString
  }

  private def trimLastSegment(sb: StringBuilder): Unit = {
    var i = sb.length - 1
    while (i >= 0 && sb.charAt(i) != '/') i -= 1
    if (i >= 0) sb.setLength(i)
  }

  /** Percent-encode the few characters the WHATWG path serializer always
    * encodes and that occur in practice (space, `<`, `>`, `"`, `` ` ``,
    * `{`, `}`, `|`, `\`, `^`). Existing %XX sequences are left intact. */
  private def encodePath(path: String): String = {
    if (path.forall(c => c > ' ' && c != '<' && c != '>' && c != '"' && c != '`' && c != '{' && c != '}' && c != '|' && c != '\\' && c != '^' && c < 0x7f)) return path
    val sb = new StringBuilder(path.length + 8)
    path.foreach {
      case ' '  => sb.append("%20")
      case '<'  => sb.append("%3C")
      case '>'  => sb.append("%3E")
      case '"'  => sb.append("%22")
      case '`'  => sb.append("%60")
      case '{'  => sb.append("%7B")
      case '}'  => sb.append("%7D")
      case '|'  => sb.append("%7C")
      case '\\' => sb.append("%5C")
      case '^'  => sb.append("%5E")
      case c if c >= 0x7f || c < ' ' =>
        val bytes = c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        bytes.foreach(b => sb.append(f"%%${b & 0xff}%02X"))
      case c => sb.append(c)
    }
    sb.toString
  }

  /** WHATWG-style serialization (matches `url::Url::to_string`). */
  def serialize(p: Parsed): String = {
    val sb = new StringBuilder(64)
    sb.append(p.scheme).append(':')
    if (p.host.nonEmpty || p.scheme == "file") {
      sb.append("//")
      if (p.userinfo.nonEmpty) sb.append(p.userinfo).append('@')
      sb.append(p.host)
      if (p.port >= 0) sb.append(':').append(p.port)
    }
    val path = if (SpecialSchemes.contains(p.scheme) && p.path.isEmpty) "/" else p.path
    sb.append(encodePath(path))
    if (p.query != null) sb.append('?').append(p.query)
    if (p.fragment != null) sb.append('#').append(p.fragment)
    sb.toString
  }

  /** Normalize an absolute URL string (parse + serialize); null if it
    * doesn't parse. Non-special schemes are returned verbatim, matching
    * `Url::parse("javascript:void(0)").to_string()`. */
  def normalize(url: String): String = {
    val scheme = schemeOf(url)
    if (scheme == null) return null
    if (!SpecialSchemes.contains(scheme)) return url
    val p = parse(url)
    if (p == null || p.host.isEmpty) null
    else serialize(p.copy(path = removeDotSegments(p.path)))
  }

  /** `base.join(href)` per WHATWG / Rust url crate: the converter's
    * resolve step (markdown_converter.rs:79-84). Falls back to `href`
    * parsed alone, then to normalized base — mirroring
    * `base_url.join(href).unwrap_or_else(|_| Url::parse(href).unwrap_or(base_url.clone()))`. */
  def resolve(base: String, href: String): String = {
    val joined = join(base, href)
    if (joined != null) return joined
    val alone = normalize(href)
    if (alone != null) return alone
    val b = normalize(base)
    if (b != null) b else base
  }

  /** Join; null if it can't be resolved. */
  def join(base: String, href: String): String = {
    val hrefScheme = schemeOf(href)
    if (hrefScheme != null) {
      // absolute (maybe non-special/opaque)
      return if (SpecialSchemes.contains(hrefScheme)) normalize(href) else href
    }
    val b = parse(base)
    if (b == null || b.host.isEmpty && SpecialSchemes.contains(b.scheme)) return null
    if (href == null || href.isEmpty) return serialize(b.copy(path = removeDotSegments(b.path), fragment = null))
    if (href.startsWith("//")) return normalize(b.scheme + ":" + href)
    // split href into path?query#fragment
    var rest = href
    var fragment: String = null
    val hashIdx = rest.indexOf('#')
    if (hashIdx >= 0) { fragment = rest.substring(hashIdx + 1); rest = rest.substring(0, hashIdx) }
    var query: String = null
    val qIdx = rest.indexOf('?')
    if (qIdx >= 0) { query = rest.substring(qIdx + 1); rest = rest.substring(0, qIdx) }
    val path =
      if (rest.isEmpty) b.path
      else if (rest.startsWith("/")) rest
      else {
        // merge: base path up to last '/'
        val basePath = if (b.path.isEmpty) "/" else b.path
        val lastSlash = basePath.lastIndexOf('/')
        (if (lastSlash >= 0) basePath.substring(0, lastSlash + 1) else "/") + rest
      }
    val q = if (rest.isEmpty && query == null) b.query else query
    serialize(b.copy(path = removeDotSegments(path), query = q, fragment = fragment))
  }

  // --- Python-semantics helpers (validators.py / urlparse) ---

  /** validators.py:16-44 — scheme ∈ {http, https} and netloc nonempty. */
  def validate(url: String): Boolean = {
    if (url == null || url.isEmpty) return false
    val p = parse(url)
    p != null && (p.scheme == "http" || p.scheme == "https") && p.host.nonEmpty
  }

  /** validators.py:47-79 — strip userinfo and fragment, keep everything
    * else byte-for-byte (Python urlunparse does not normalize). */
  def sanitize(url: String): String = {
    if (url == null || url.isEmpty) return ""
    val scheme = schemeOf(url)
    if (scheme == null) {
      // urlparse treats it as path-only; fragment still stripped
      val h = url.indexOf('#')
      return if (h >= 0) url.substring(0, h) else url
    }
    var rest = url.substring(url.indexOf(':') + 1)
    val h = rest.indexOf('#')
    if (h >= 0) rest = rest.substring(0, h)
    if (rest.startsWith("//")) {
      val afterSlashes = rest.substring(2)
      var authEnd = afterSlashes.indexWhere(c => c == '/' || c == '?')
      if (authEnd < 0) authEnd = afterSlashes.length
      var auth = afterSlashes.substring(0, authEnd)
      val at = auth.lastIndexOf('@')
      if (at >= 0) auth = auth.substring(at + 1)
      url.substring(0, url.indexOf(':')) + "://" + auth + afterSlashes.substring(authEnd)
    } else url.substring(0, url.indexOf(':')) + ":" + rest
  }

  /** Python `urlparse(url).netloc` (throttle.py:246-252, chunk_utils.py:45):
    * userinfo@host:port, verbatim case, or "" if no authority. */
  def netloc(url: String): String = {
    if (url == null) return ""
    val scheme = schemeOf(url)
    val rest = if (scheme != null) url.substring(url.indexOf(':') + 1) else url
    if (!rest.startsWith("//")) return ""
    val afterSlashes = rest.substring(2)
    var end = afterSlashes.indexWhere(c => c == '/' || c == '?' || c == '#')
    if (end < 0) end = afterSlashes.length
    afterSlashes.substring(0, end)
  }

  /** Host only (lowercased, no userinfo/port) — the engine's partition key. */
  def hostOf(url: String): String = {
    val n = netloc(url)
    if (n.isEmpty) return ""
    val at = n.lastIndexOf('@')
    val hp = if (at >= 0) n.substring(at + 1) else n
    val colon = hp.lastIndexOf(':')
    (if (colon >= 0 && hp.indexOf(']') < colon) hp.substring(0, colon) else hp).toLowerCase(Locale.ROOT)
  }
}
