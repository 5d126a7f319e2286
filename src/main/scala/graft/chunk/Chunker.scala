package graft.chunk

import java.util.Locale

import graft.url.UrlCanonical
import graft.html.Doc.{isUniWs, rustTrim}

/** Parent header entry (chunk_utils.py:175-184). */
final case class ParentHeader(text: String, level: Int, markdown: String)

/** Canonical chunk record — the reference `Chunk` dataclass
  * (/root/reference/RAGnificent/utils/chunk_utils.py:18-27) with the
  * open-schema metadata dict flattened to a typed struct (keys at
  * :62-72, :113-125, :287-292). Fields absent for a chunk_type are None
  * in the reference dict → Option here.
  * `created_at` is caller-provided (the reference stamps
  * `datetime.now()` — excluded from parity; we pass the page's warc_ts). */
final case class ChunkRec(
    id: String,
    content: String,
    heading: Option[String],
    heading_level: Option[Int],
    heading_path: Option[String],
    path_elements: Seq[String],
    parent_headers: Seq[ParentHeader],
    domain: String,
    word_count: Int,
    char_count: Int,
    nested_level: Option[Int],
    position: Option[Int],
    is_continuation: Option[Boolean],
    source_url: String,
    created_at: String,
    chunk_type: String
)

/** A parsed markdown section (chunk_utils.py:134-220). */
final case class Section(
    heading: String,
    content: String,
    level: Int,
    path: String,
    pathElements: Seq[String],
    parentHeaders: Seq[ParentHeader]
)

/** Semantic chunkers.
  *
  * `chunksFromMarkdown` is the CANONICAL chunker for Chunk records
  * (chunk_utils.py:37-220, Python semantics — quirks Q7/Q8 replicated:
  * words_per_chunk = chunk_size//5, step = wpc - overlap//5, heading
  * stack pops while level >= new level, pre-header content gets the
  * synthetic "Document Start" level-0 section).
  *
  * `rustSemanticChunks` is the content-strings-only variant
  * (/root/reference/src/chunker.rs:34-207) exposed for parity with
  * `ragnificent_rs.chunk_markdown` (src/lib.rs:110-119); quirk Q6: its
  * arithmetic is byte-indexed — identical to char-indexed on the ASCII
  * fixture corpus (documented divergence for non-ASCII).
  */
object Chunker {

  /** Python `str.split()` — split on Unicode whitespace runs, no empties. */
  def pySplit(s: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](16)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isUniWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isUniWs(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".toCharArray

  def md5Hex(s: String): String = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** `pySplit(s).length` without materializing the tokens — word_count
    * is a hot per-chunk field and the substrings were pure garbage. */
  def countWords(s: String): Int = {
    var count = 0
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isUniWs(s.charAt(i))) i += 1
      if (i < n) { count += 1; while (i < n && !isUniWs(s.charAt(i))) i += 1 }
    }
    count
  }

  /** `_parse_markdown_sections` (chunk_utils.py:134-220). */
  def parseMarkdownSections(markdown: String): Seq[Section] = {
    val sections = Seq.newBuilder[Section]
    val lines = markdown.split("\n", -1) // Python str.split("\n") keeps empties
    var headerStack = List.empty[(Int, String)] // (level, text), innermost last
    var curHeading: String = null
    var curContent: StringBuilder = null
    var curLevel = 0
    var curPath: String = null
    var curPathElements: Seq[String] = Nil
    var curParents: Seq[ParentHeader] = Nil

    def finalizeSection(): Unit = {
      if (curHeading != null) {
        sections += Section(curHeading, curContent.toString, curLevel, curPath, curPathElements, curParents)
        curHeading = null
      }
    }

    lines.foreach { line =>
      // manual header detection: ≤3 leading SPACES (lstrip(" ")), 1-6 '#',
      // then one space, then text (chunk_utils.py:152-161)
      var ls = 0
      while (ls < line.length && line.charAt(ls) == ' ') ls += 1
      val stripped = line.substring(ls)
      var isHeader = false
      if (ls <= 3 && stripped.startsWith("#")) {
        var i = 0
        while (i < stripped.length && stripped.charAt(i) == '#') i += 1
        if (i >= 1 && i <= 6 && i < stripped.length && stripped.charAt(i) == ' ') {
          isHeader = true
          val headingText = rustTrim(stripped.substring(i + 1))
          val level = i
          finalizeSection()
          while (headerStack.nonEmpty && headerStack.last._1 >= level)
            headerStack = headerStack.init
          val pathElements = headerStack.map(_._2) :+ headingText
          val path = pathElements.mkString(" > ")
          val parents = headerStack.map { case (lvl, text) =>
            ParentHeader(text, lvl, "#" * lvl + " " + text)
          }
          headerStack = headerStack :+ ((level, headingText))
          curHeading = line
          curContent = new StringBuilder(line).append('\n')
          curLevel = level
          curPath = path
          curPathElements = pathElements
          curParents = parents
        }
      }
      if (!isHeader) {
        if (curHeading != null) curContent.append(line).append('\n')
        else if (rustTrim(line).nonEmpty) {
          curHeading = "Document Start"
          curContent = new StringBuilder(line).append('\n')
          curLevel = 0
          curPath = "Document Start"
          curPathElements = Seq("Document Start")
          curParents = Nil
        }
      }
    }
    finalizeSection()
    sections.result()
  }

  /** `create_chunks_from_markdown` (chunk_utils.py:37-132). */
  def chunksFromMarkdown(
      markdown: String,
      sourceUrl: String,
      createdAt: String,
      chunkSize: Int = 1000,
      chunkOverlap: Int = 200
  ): Seq[ChunkRec] = {
    val domain = UrlCanonical.netloc(sourceUrl)
    val out = Seq.newBuilder[ChunkRec]
    parseMarkdownSections(markdown).foreach { section =>
      val content = section.content
      if (content.length <= chunkSize) {
        out += ChunkRec(
          id = md5Hex(s"$sourceUrl:${section.path}"),
          content = content,
          heading = Some(section.heading),
          heading_level = Some(section.level),
          heading_path = Some(section.path),
          path_elements = section.pathElements,
          parent_headers = section.parentHeaders,
          domain = domain,
          word_count = countWords(content),
          char_count = content.length,
          nested_level = Some(section.parentHeaders.size),
          position = None,
          is_continuation = None,
          source_url = sourceUrl,
          created_at = createdAt,
          chunk_type = "section"
        )
      } else {
        val words = pySplit(content)
        val wordsPerChunk = chunkSize / 5
        val overlapWords = chunkOverlap / 5
        val step = wordsPerChunk - overlapWords
        var i = 0
        while (i < words.length) {
          val chunkWords = words.slice(i, i + wordsPerChunk)
          if (chunkWords.nonEmpty) {
            val joined = chunkWords.mkString(" ")
            val chunkContent =
              if (i > 0) {
                var ctx = section.parentHeaders.map(_.markdown)
                if (section.heading.nonEmpty && !joined.startsWith(section.heading))
                  ctx = ctx :+ section.heading
                if (ctx.nonEmpty) ctx.mkString("\n") + "\n\n" + joined else joined
              } else joined
            out += ChunkRec(
              id = md5Hex(s"$sourceUrl:${section.path}:$i"),
              content = chunkContent,
              heading = Some(section.heading),
              heading_level = Some(section.level),
              heading_path = Some(section.path),
              path_elements = section.pathElements,
              parent_headers = section.parentHeaders,
              domain = domain,
              word_count = chunkWords.length,
              char_count = chunkContent.length,
              nested_level = Some(section.parentHeaders.size),
              position = Some(i / step),
              is_continuation = Some(i > 0),
              source_url = sourceUrl,
              created_at = createdAt,
              chunk_type = "content_chunk"
            )
          }
          i += step
        }
      }
    }
    out.result()
  }

  private val MarkdownHeadingLine = java.util.regex.Pattern.compile("(?m)^#+ ")

  /** `create_semantic_chunks` (chunk_utils.py:248-299): markdown →
    * chunksFromMarkdown; plain text → word windows, chunk_type
    * "text_chunk" (G5). */
  def semanticChunks(
      content: String,
      sourceUrl: String,
      createdAt: String,
      chunkSize: Int = 1000,
      chunkOverlap: Int = 200
  ): Seq[ChunkRec] = {
    if (MarkdownHeadingLine.matcher(content).find())
      return chunksFromMarkdown(content, sourceUrl, createdAt, chunkSize, chunkOverlap)
    val domain = UrlCanonical.netloc(sourceUrl)
    val words = pySplit(content)
    val wordsPerChunk = chunkSize / 5
    val overlapWords = chunkOverlap / 5
    val step = wordsPerChunk - overlapWords
    val out = Seq.newBuilder[ChunkRec]
    var i = 0
    while (i < words.length) {
      val chunkWords = words.slice(i, i + wordsPerChunk)
      if (chunkWords.nonEmpty) {
        val chunkContent = chunkWords.mkString(" ")
        out += ChunkRec(
          id = md5Hex(s"$sourceUrl:text:$i"),
          content = chunkContent,
          heading = None, heading_level = None, heading_path = None,
          path_elements = Nil, parent_headers = Nil,
          domain = domain,
          word_count = chunkWords.length,
          char_count = chunkContent.length,
          nested_level = None,
          position = Some(i / step),
          is_continuation = None,
          source_url = sourceUrl,
          created_at = createdAt,
          chunk_type = "text_chunk"
        )
      }
      i += step
    }
    out.result()
  }

  /** `chunk_text` (chunk_utils.py:302-334) — sliding word windows sized
    * by average word length (G3). */
  def chunkText(content: String, chunkSize: Int = 1000, chunkOverlap: Int = 200): Seq[String] = {
    if (content == null || content.isEmpty) return Nil
    val words = pySplit(content)
    val avgWordLength = content.length.toDouble / math.max(words.length, 1)
    var wordsPerChunk = (chunkSize / avgWordLength).toInt
    var overlapWords = (chunkOverlap / avgWordLength).toInt
    wordsPerChunk = math.max(wordsPerChunk, 1)
    overlapWords = math.min(overlapWords, wordsPerChunk - 1)
    val step = wordsPerChunk - overlapWords
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < words.length) {
      val cw = words.slice(i, i + wordsPerChunk)
      if (cw.nonEmpty) out += cw.mkString(" ")
      i += step
    }
    out.result()
  }

  private val ParaSplit = "\n\\s*\n".r

  /** `recursive_chunk_text` (chunk_utils.py:337-382) — paragraph-greedy
    * packing with tail overlap (G4). */
  def recursiveChunkText(content: String, chunkSize: Int = 1000, chunkOverlap: Int = 200): Seq[String] = {
    if (content == null || content.isEmpty) return Nil
    if (content.length <= chunkSize) return Seq(content)
    val paragraphs = ParaSplit.split(content)
    if (paragraphs.length > 1) {
      val chunks = Seq.newBuilder[String]
      var cur = ""
      paragraphs.foreach { para =>
        if (cur.length + para.length + 2 > chunkSize && cur.nonEmpty) {
          chunks += cur
          val overlap = if (chunkOverlap < cur.length) cur.substring(cur.length - chunkOverlap) else cur
          cur = overlap + "\n\n" + para
        } else if (cur.nonEmpty) cur = cur + "\n\n" + para
        else cur = para
      }
      if (cur.nonEmpty) chunks += cur
      chunks.result()
    } else chunkText(content, chunkSize, chunkOverlap)
  }

  // --- Rust chunker (G2) ---

  private val RsHeading = java.util.regex.Pattern.compile("^(#{1,6})\\s+(.+)$")

  /** `create_semantic_chunks` (src/chunker.rs:34-139) — returns content
    * strings only. Throws on invalid params like the Rust Err path. */
  def rustSemanticChunks(markdown: String, chunkSize: Int, chunkOverlap: Int): Seq[String] = {
    require(chunkSize > 0, "chunk_size must be greater than 0")
    require(chunkOverlap < chunkSize, "chunk_overlap must be less than chunk_size")
    // Rust str::lines(): split on \n, strip one trailing \r, no trailing
    // empty line for a trailing \n
    val lines = {
      val raw = markdown.split("\n", -1)
      val trimmed = if (raw.nonEmpty && raw.last.isEmpty) raw.dropRight(1) else raw
      trimmed.map(l => if (l.endsWith("\r")) l.substring(0, l.length - 1) else l)
    }
    val chunks = Seq.newBuilder[String]
    var current = ""
    lines.foreach { line =>
      if (RsHeading.matcher(line).matches()) {
        if (current.nonEmpty) { chunks += current }
        current = line
      } else {
        if (current.nonEmpty) current = current + "\n" + line
        else current = line
        if (current.length > chunkSize) {
          val splitPoint = findGoodSplitPoint(current, chunkSize - chunkOverlap)
          val first = current.substring(0, splitPoint)
          val remaining = current.substring(splitPoint)
          chunks += first
          current = rustTrim(remaining)
        }
      }
    }
    if (current.nonEmpty) chunks += current
    chunks.result()
  }

  /** `find_good_split_point` (chunker.rs:169-207). Byte arithmetic in
    * Rust == char arithmetic here on ASCII; the reference's own
    * byte/char index mix at :185-195 is a latent non-ASCII bug we do not
    * reproduce beyond ASCII. */
  def findGoodSplitPoint(text: String, approximatePosition: Int): Int = {
    if (approximatePosition >= text.length) return text.length
    val tail = text.substring(approximatePosition)
    val para = tail.indexOf("\n\n")
    if (para >= 0) return approximatePosition + para + 2
    val nl = tail.indexOf('\n')
    if (nl >= 0) return approximatePosition + nl + 1
    var i = 0
    while (i < tail.length) {
      val c = tail.charAt(i)
      if (c == '.' || c == '!' || c == '?') {
        var endPos = approximatePosition + i + 1
        while (endPos < text.length && isUniWs(text.charAt(endPos))) endPos += 1
        return endPos
      }
      i += 1
    }
    i = 0
    while (i < tail.length) {
      if (isUniWs(tail.charAt(i))) return approximatePosition + i + 1
      i += 1
    }
    approximatePosition
  }

  /** `calculate_semantic_density` (chunker.rs:211-258) — per-chunk scalar
    * (A7). */
  def semanticDensity(text: String): Float = {
    val words = pySplit(text)
    val wordCount = words.length.toFloat
    if (wordCount == 0.0f) return 0.0f
    val keywords = Array("function", "class", "method", "algorithm", "process",
      "system", "data", "model", "analysis", "implementation")
    var indicators = 0.0f
    words.foreach { word =>
      if (word.nonEmpty && Character.isUpperCase(word.charAt(0))) indicators += 0.5f
      if (word.exists(Character.isDigit)) indicators += 0.3f
      val lower = word.toLowerCase(Locale.ROOT)
      if (keywords.exists(lower.contains)) indicators += 0.7f
    }
    val density = math.min(indicators / wordCount, 1.0f)
    val lengthBonus = math.min(wordCount / 100.0f, 0.2f)
    density + lengthBonus
  }
}
