package graft.html

import java.util.Locale

import scala.collection.mutable.ArrayBuffer

/** Minimal HTML parser replicating, on the reference's well-formed HTML
  * subset, the behavior the Rust converter observes through
  * html5ever/scraper (/root/reference/src/markdown_converter.rs,
  * /root/reference/src/html_parser.rs):
  *
  *  - document-order traversal; `element.text()` = concatenation of all
  *    descendant text nodes with NO separator (html_parser.rs:113-122
  *    note: the converter path uses `text().collect::<String>()`, which
  *    concatenates without joining spaces — markdown_converter.rs:93,107)
  *  - raw-text elements: script/style (no entity decoding, no children);
  *    title is RCDATA (entities decoded, tags literal)
  *  - `pre`/`code` are NOT raw text in HTML5 — markup inside them parses
  *    as real elements (this is why the reference's medium.html code
  *    sample leaks an `h1` into extracted headings; replicated)
  *  - void elements, `<p>` auto-close before block elements, `<li>`
  *    auto-close before `li`
  *  - entity decoding for named + numeric character references
  *
  * No jsoup in the offline environment — and a from-scratch parser is
  * required anyway for byte-identity (SURVEY.md §7.4.2).
  */
object HtmlParser {

  sealed trait Node
  final class Elem(val tag: String, val attrs: List[(String, String)]) extends Node {
    val children: ArrayBuffer[Node] = new ArrayBuffer[Node](4)
    def attr(name: String): Option[String] = {
      var as = attrs
      while (as.nonEmpty) { if (as.head._1 == name) return Some(as.head._2); as = as.tail }
      None
    }
    def classes: Array[String] =
      attr("class").map(_.split("[ \t\n\r\f]+").filter(_.nonEmpty)).getOrElse(Array.empty)
    def id: Option[String] = attr("id")

    /** All descendant text, concatenated without separator (scraper's
      * `element.text().collect::<String>()`). Index-based walk: this is
      * called per selected element per page — `foreach` over ArrayBuffer
      * allocates a view + iterator per node visited. */
    def text: String = {
      // fast path: a single text child (most p/h*/li/a elements) — no
      // builder, no copy
      if (children.length == 1) children(0) match {
        case t: TextNode => return t.s
        case _           => ()
      }
      val sb = new java.lang.StringBuilder
      def walk(e: Elem): Unit = {
        val ch = e.children
        var i = 0
        while (i < ch.length) {
          ch(i) match {
            case t: TextNode => sb.append(t.s)
            case el: Elem    => walk(el)
          }
          i += 1
        }
      }
      walk(this)
      sb.toString
    }

    /** Cached pre-order descendant elements. Safe because the tree is
      * immutable once `parse` returns and selection only happens after
      * parsing (the cache is populated lazily on first selector use). */
    private[HtmlParser] var descCache: Array[Elem] = null
  }
  final class TextNode(val s: String) extends Node

  private val VoidElements = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")
  private val RawText = Set("script", "style")
  private val PClosers = Set(
    "address", "article", "aside", "blockquote", "details", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2", "h3",
    "h4", "h5", "h6", "header", "hr", "main", "menu", "nav", "ol", "p",
    "pre", "section", "table", "ul")

  /** Parse a document (or fragment — selectors search the whole tree, so
    * html5ever's implicit html/head/body wrappers are immaterial). */
  def parse(html: String): Elem = {
    val root = new Elem("#root", Nil)
    if (html == null || html.isEmpty) return root
    val stack = new ArrayBuffer[Elem](16)
    stack += root
    val n = html.length
    var i = 0
    val text = new java.lang.StringBuilder

    def flushText(): Unit = {
      if (text.length > 0) {
        stack.last.children += new TextNode(decodeEntities(text.toString))
        text.setLength(0)
      }
    }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          flushText()
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else {
            val end = html.indexOf('>', i)
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '/') {
          flushText()
          val end = html.indexOf('>', i)
          if (end < 0) { i = n }
          else {
            val tag = html.substring(i + 2, end).trim.toLowerCase(Locale.ROOT)
            // pop to matching open element, if present
            var idx = stack.length - 1
            while (idx > 0 && stack(idx).tag != tag) idx -= 1
            if (idx > 0) while (stack.length > idx) stack.remove(stack.length - 1)
            i = end + 1
          }
        } else if (c1.isLetter) {
          flushText()
          i = parseTag(html, i, stack)
        } else { text.append(c); i += 1 }
      } else {
        // bulk-copy the whole text run to the next '<' (single
        // arraycopy instead of a char-at-a-time loop — text runs are
        // most of the document)
        val lt = html.indexOf('<', i)
        val end = if (lt < 0) n else lt
        if (end > i) { text.append(html, i, end); i = end }
        else { text.append(c); i += 1 }
      }
    }
    flushText()
    root
  }

  /** Parse a start tag beginning at `i` (html(i) == '<'); returns the
    * index after the tag (and after raw-text content for script/style,
    * RCDATA for title). */
  private def parseTag(html: String, start: Int, stack: ArrayBuffer[Elem]): Int = {
    val n = html.length
    var i = start + 1
    val tagStart = i
    while (i < n && (html.charAt(i).isLetterOrDigit || html.charAt(i) == '-' || html.charAt(i) == ':')) i += 1
    val tag = html.substring(tagStart, i).toLowerCase(Locale.ROOT)
    // attributes
    var attrs: List[(String, String)] = Nil
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      while (i < n && isSpace(html.charAt(i))) i += 1
      if (i >= n) done = true
      else html.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && html.charAt(i + 1) == '>') { selfClosing = true; i += 2; done = true }
          else i += 1
        case _ =>
          val nameStart = i
          while (i < n && !isSpace(html.charAt(i)) && html.charAt(i) != '=' && html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
          val name = html.substring(nameStart, i).toLowerCase(Locale.ROOT)
          while (i < n && isSpace(html.charAt(i))) i += 1
          var value = ""
          if (i < n && html.charAt(i) == '=') {
            i += 1
            while (i < n && isSpace(html.charAt(i))) i += 1
            if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
              val quote = html.charAt(i); i += 1
              val vStart = i
              while (i < n && html.charAt(i) != quote) i += 1
              value = decodeEntities(html.substring(vStart, i))
              if (i < n) i += 1
            } else {
              val vStart = i
              while (i < n && !isSpace(html.charAt(i)) && html.charAt(i) != '>') i += 1
              value = decodeEntities(html.substring(vStart, i))
            }
          }
          if (name.nonEmpty && !attrs.exists(_._1 == name)) attrs = attrs :+ ((name, value))
      }
    }
    // implied end tags
    if (PClosers.contains(tag) && stack.last.tag == "p") stack.remove(stack.length - 1)
    if (tag == "li" && stack.last.tag == "li") stack.remove(stack.length - 1)
    val elem = new Elem(tag, attrs)
    stack.last.children += elem
    if (selfClosing || VoidElements.contains(tag)) return i
    if (RawText.contains(tag) || tag == "title" || tag == "textarea") {
      // consume raw content up to the matching close tag
      val closeIdx = indexOfCloseTagIgnoreCase(html, i, tag)
      val end = if (closeIdx < 0) n else closeIdx
      val raw = html.substring(i, end)
      val content = if (tag == "title" || tag == "textarea") decodeEntities(raw) else raw
      if (content.nonEmpty) elem.children += new TextNode(content)
      if (closeIdx < 0) return n
      val gt = html.indexOf('>', closeIdx)
      return if (gt < 0) n else gt + 1
    }
    stack += elem
    i
  }

  private def isSpace(c: Char): Boolean = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  private def indexOfCloseTagIgnoreCase(html: String, from: Int, tag: String): Int = {
    val needle = "</" + tag
    var i = from
    val n = html.length
    while (i >= 0) {
      i = html.indexOf('<', i)
      if (i < 0 || i + needle.length > n) return -1
      if (html.regionMatches(true, i, needle, 0, needle.length)) {
        val after = i + needle.length
        if (after >= n || html.charAt(after) == '>' || isSpace(html.charAt(after)) || html.charAt(after) == '/')
          return i
      }
      i += 1
    }
    -1
  }

  // --- entity decoding ---

  private val Named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "laquo" -> "«", "raquo" -> "»",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“",
    "rdquo" -> "”", "bull" -> "•", "middot" -> "·",
    "times" -> "×", "divide" -> "÷", "deg" -> "°",
    "plusmn" -> "±", "sect" -> "§", "para" -> "¶",
    "euro" -> "€", "pound" -> "£", "yen" -> "¥",
    "cent" -> "¢", "dagger" -> "†", "Dagger" -> "‡",
    "permil" -> "‰", "frac12" -> "½", "frac14" -> "¼",
    "frac34" -> "¾", "sup1" -> "¹", "sup2" -> "²",
    "sup3" -> "³", "iexcl" -> "¡", "iquest" -> "¿",
    "szlig" -> "ß", "agrave" -> "à", "aacute" -> "á",
    "eacute" -> "é", "egrave" -> "è", "uuml" -> "ü",
    "ouml" -> "ö", "auml" -> "ä", "ccedil" -> "ç",
    "ntilde" -> "ñ")

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 12) {
          val name = s.substring(i + 1, semi)
          if (name.startsWith("#")) {
            val cp =
              try {
                if (name.length > 1 && (name.charAt(1) == 'x' || name.charAt(1) == 'X'))
                  Integer.parseInt(name.substring(2), 16)
                else Integer.parseInt(name.substring(1))
              } catch { case _: Exception => -1 }
            if (cp >= 0 && cp <= 0x10ffff) { sb.appendAll(Character.toChars(cp)); i = semi + 1 }
            else { sb.append(c); i += 1 }
          } else Named.get(name) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None      => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // --- selection (document order, pre-order DFS) ---

  /** All elements in document order. `Doc.fromRoot` + link extraction
    * run 14+ selectors over the same tree per page: the pre-order walk
    * is computed ONCE per element and cached (allocation in the extract
    * hot path is the scalability budget — GC pause time doesn't shrink
    * with mutator threads). */
  def allElements(root: Elem): Iterator[Elem] = {
    if (root.descCache == null) {
      val buf = new ArrayBuffer[Elem](32)
      def walk(e: Elem): Unit = {
        val ch = e.children
        var i = 0
        while (i < ch.length) {
          ch(i) match {
            case el: Elem => buf += el; walk(el)
            case _        =>
          }
          i += 1
        }
      }
      walk(root)
      root.descCache = buf.toArray
    }
    root.descCache.iterator
  }

  def selectTag(root: Elem, tag: String): Iterator[Elem] =
    allElements(root).filter(_.tag == tag)

  /** Union selector in document order, e.g. "pre, code"
    * (markdown_converter.rs:227). */
  def selectTags(root: Elem, tags: Set[String]): Iterator[Elem] =
    allElements(root).filter(e => tags.contains(e.tag))

  def selectWithAttr(root: Elem, tag: String, attr: String): Iterator[Elem] =
    allElements(root).filter(e => e.tag == tag && e.attr(attr).isDefined)

  /** First match of the main-content container priority list
    * (html_parser.rs:18-37). Returns the subtree root, or the document
    * root when nothing matches. */
  def mainContent(root: Elem): Elem = {
    allElements(root).find(_.tag == "main")
      .orElse(allElements(root).find(_.tag == "article"))
      .orElse(allElements(root).find(_.id.contains("content")))
      .orElse(allElements(root).find(_.classes.contains("content")))
      .orElse(allElements(root).find(_.tag == "body"))
      .getOrElse(root)
  }
}
