package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.{Charset => JCharset, CodingErrorAction, IllegalCharsetNameException, UnsupportedCharsetException}
import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Charset sniffing + tolerant decode for raw fetched HTML bytes.
  *
  * The reference hands `response.text` to its converter and lets the
  * HTTP client guess the encoding (core/scraper.py fetch path); a
  * batch pipeline over Common-Crawl-style WARC payloads gets raw bytes
  * with no live HTTP header, and real crawl corpora are full of legacy
  * encodings (windows-125x, iso-8859-x, shift_jis) — decoding
  * everything as UTF-8 silently mangles them. This is the WHATWG
  * encoding-sniffing algorithm abridged to its deterministic prefix
  * rules (the parts that don't need a full HTML parse):
  *
  *   1. BOM: EF BB BF → utf-8; FF FE → utf-16le; FE FF → utf-16be
  *      (BOM outranks any in-document declaration, per WHATWG).
  *   2. A `charset=` declaration inside a `<meta ...>` tag within the
  *      first `scanBytes` bytes (the spec prescans 1024), matched
  *      case-insensitively on an ISO-8859-1 view of the prefix — both
  *      the HTML5 `<meta charset="...">` form and the legacy
  *      `<meta http-equiv="Content-Type" content="...; charset=...">`
  *      form reduce to the same `charset=NAME` scan.
  *   3. Fallback: utf-8.
  *
  * Unknown/unsupported declared names fall back to utf-8 rather than
  * failing the row (hostile-input discipline of `Warc`/`Multimodal`:
  * a bad page must never kill a 10^10-page job); decode replaces
  * malformed/unmappable sequences with U+FFFD; a leading BOM char is
  * stripped from the decoded text (it is metadata, not content).
  *
  * Scale shape: one UDF call per document (byte-level prefix scan — a
  * per-row imperative op with no codegen'd builtin, same justification
  * as `TextOps.normalizeForDedup`), off the per-token hot path. */
object Charset {

  /** Sniff the encoding name (canonical lowercase) from raw bytes. */
  def sniff(bytes: Array[Byte], scanBytes: Int = 1024): String = {
    if (bytes == null || bytes.length == 0) return "utf-8"
    if (bytes.length >= 3 && bytes(0) == 0xEF.toByte && bytes(1) == 0xBB.toByte &&
        bytes(2) == 0xBF.toByte) return "utf-8"
    if (bytes.length >= 2 && bytes(0) == 0xFF.toByte && bytes(1) == 0xFE.toByte)
      return "utf-16le"
    if (bytes.length >= 2 && bytes(0) == 0xFE.toByte && bytes(1) == 0xFF.toByte)
      return "utf-16be"
    val n = math.min(bytes.length, scanBytes)
    // ISO-8859-1 view: every byte maps to a char, so ASCII-compatible
    // declarations are findable regardless of the actual encoding
    val prefix = new String(bytes, 0, n, JCharset.forName("ISO-8859-1")).toLowerCase(Locale.ROOT)
    val m = MetaCharset.matcher(prefix)
    while (m.find()) {
      val name = m.group(1)
      if (supported(name)) return name
    }
    "utf-8"
  }

  // charset=NAME inside a <meta ...> tag (quotes optional). The tag
  // anchor keeps `charset=` occurrences in body text from matching.
  private val MetaCharset =
    java.util.regex.Pattern.compile("""<meta[^>]{0,512}?charset\s*=\s*["']?\s*([a-z0-9._:-]+)""")

  private def supported(name: String): Boolean =
    try JCharset.isSupported(name)
    catch { case _: IllegalCharsetNameException => false }

  /** Decode with U+FFFD replacement; unknown charset falls back to
    * utf-8; a leading BOM char is stripped. */
  def decode(bytes: Array[Byte], charset: String): String = {
    if (bytes == null) return ""
    val cs =
      try JCharset.forName(charset)
      catch {
        case _: IllegalCharsetNameException | _: UnsupportedCharsetException =>
          JCharset.forName("UTF-8")
      }
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val out = dec.decode(ByteBuffer.wrap(bytes)).toString
    if (out.nonEmpty && out.charAt(0) == '\uFEFF') out.substring(1) else out
  }

  /** Sniff + decode in one step: (charset, text). */
  def decodeHtml(bytes: Array[Byte], scanBytes: Int = 1024): (String, String) = {
    val cs = sniff(bytes, scanBytes)
    (cs, decode(bytes, cs))
  }

  /** Column form: struct(charset, text) from a binary column. */
  val decodeHtmlUdf: Column => Column = {
    val f = udf { bytes: Array[Byte] =>
      val (cs, text) = decodeHtml(bytes)
      (cs, text)
    }
    c => f(c).cast("struct<charset:string,text:string>")
  }
}
