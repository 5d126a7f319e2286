package graft.sources

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.time.format.DateTimeParseException
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500) ingestion — the step BEFORE this engine's canonical
  * pages table exists: Common Crawl ships its corpus as WARC files
  * (`warc/1.0` records: a header block, a Content-Length-delimited
  * payload, a CRLF CRLF trailer), and a 100 TB pipeline's first job is
  * WARC → (url, warc_ts, html, ...) — exactly the `input_hint` table
  * shape the rest of this library consumes.
  *
  * The parser is a byte-level state machine (headers are ASCII/UTF-8
  * lines, the payload is OPAQUE BYTES addressed only by Content-Length
  * — never string-split a payload that can contain CRLF CRLF), hardened
  * like the media decoders (`multimodal/Multimodal.scala`): negative /
  * non-numeric / past-EOF lengths, truncated headers, and bad magic
  * quarantine the REST of the buffer as one error while keeping every
  * record already parsed — a corrupt tail never kills the job or the
  * file's good prefix.
  *
  * Scale shape: WARC is processed file-per-task in every real system
  * (records are individually gzipped members; the format is not
  * byte-splittable without an index), so [[readWarcFiles]] rides
  * Spark's `binaryFile` source — one task per file, parallelism =
  * file count (Common Crawl segments a crawl into ~64k files of ~1 GB
  * precisely so this layout scales). Gzip members are the documented
  * native-codec seam, as with compressed media: this sandbox parses
  * the uncompressed stream.
  *
  * Reference seam: the reference scrapes live HTML over HTTP
  * (core/scraper.py) — WARC ingestion is the batch-corpus analogue of
  * its fetch stage, feeding the same converter pipeline. */
object Warc {

  final case class WarcRecord(headers: Map[String, String], payload: Array[Byte])

  /** One parsed page row (or an error row quarantining a corrupt tail). */
  final case class WarcRow(rec_type: String, url: String, warc_ts: java.sql.Timestamp,
                           status: Long, content_length: Long, body: Array[Byte],
                           error: String)

  private val CRLF = "\r\n".getBytes(StandardCharsets.US_ASCII)

  private def indexOfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == CRLF(0) && b(i + 1) == CRLF(1)) return i
      i += 1
    }
    -1
  }

  /** Parse concatenated uncompressed WARC records. Returns the records
    * parsed plus an error describing the first corruption (if any) —
    * parsing stops at corruption because Content-Length framing cannot
    * be resynchronized safely. */
  def parseRecords(bytes: Array[Byte]): (Seq[WarcRecord], Option[String]) = {
    val out = Seq.newBuilder[WarcRecord]
    var i = 0
    while (i < bytes.length) {
      // tolerate inter-record CRLF padding
      while (i + 1 < bytes.length && bytes(i) == CRLF(0) && bytes(i + 1) == CRLF(1)) i += 2
      if (i >= bytes.length) return (out.result(), None)
      val magicEnd = indexOfCrlf(bytes, i)
      if (magicEnd < 0)
        return (out.result(), Some(s"truncated record start at offset $i"))
      val magic = new String(bytes, i, magicEnd - i, StandardCharsets.US_ASCII)
      if (magic != "WARC/1.0" && magic != "WARC/1.1")
        return (out.result(), Some(s"bad magic '${magic.take(16)}' at offset $i"))
      i = magicEnd + 2
      // header lines until the empty line
      val headers = Map.newBuilder[String, String]
      var done = false
      while (!done) {
        val lineEnd = indexOfCrlf(bytes, i)
        if (lineEnd < 0) return (out.result(), Some(s"truncated headers at offset $i"))
        if (lineEnd == i) { done = true; i += 2 }
        else {
          val line = new String(bytes, i, lineEnd - i, StandardCharsets.UTF_8)
          val colon = line.indexOf(':')
          if (colon <= 0)
            return (out.result(), Some(s"malformed header line '${line.take(40)}'"))
          headers += (line.substring(0, colon).trim.toLowerCase(Locale.ROOT) ->
            line.substring(colon + 1).trim)
          i = lineEnd + 2
        }
      }
      val hmap = headers.result()
      val len = hmap.get("content-length") match {
        case None => return (out.result(), Some("missing content-length"))
        case Some(v) =>
          try v.toLong catch {
            case _: NumberFormatException =>
              return (out.result(), Some(s"non-numeric content-length '${v.take(20)}'"))
          }
      }
      if (len < 0 || len > Int.MaxValue.toLong - 8)
        return (out.result(), Some(s"unreasonable content-length $len"))
      if (i + len > bytes.length)
        return (out.result(), Some(s"payload overruns buffer (need $len at offset $i)"))
      out += WarcRecord(hmap, java.util.Arrays.copyOfRange(bytes, i, i + len.toInt))
      i += len.toInt
    }
    (out.result(), None)
  }

  /** Split an HTTP response payload into (status, header map, body).
    * The body starts after the first CRLF CRLF; a payload without one
    * is all-body with status 0 (WARC tolerates non-HTTP payloads). */
  def httpResponse(payload: Array[Byte]): (Long, Map[String, String], Array[Byte]) = {
    var split = -1
    var i = 0
    while (split < 0 && i + 3 < payload.length) {
      if (payload(i) == '\r' && payload(i + 1) == '\n' &&
        payload(i + 2) == '\r' && payload(i + 3) == '\n') split = i
      i += 1
    }
    if (split < 0) return (0L, Map.empty, payload)
    val head = new String(payload, 0, split, StandardCharsets.UTF_8)
    val lines = head.split("\r\n")
    val status =
      if (lines.head.startsWith("HTTP/")) {
        val parts = lines.head.split(" ")
        if (parts.length >= 2) try parts(1).toLong catch { case _: NumberFormatException => 0L }
        else 0L
      } else 0L
    val hdrs = lines.tail.flatMap { l =>
      val c = l.indexOf(':')
      if (c > 0) Some(l.substring(0, c).trim.toLowerCase(Locale.ROOT) -> l.substring(c + 1).trim) else None
    }.toMap
    (status, hdrs, java.util.Arrays.copyOfRange(payload, split + 4, payload.length))
  }

  private def parseTs(v: String): java.sql.Timestamp =
    try java.sql.Timestamp.from(Instant.parse(v))
    catch { case _: DateTimeParseException => null }

  /** Inflate a (possibly multi-member) gzip buffer — WARC .gz files are
    * CONCATENATED gzip members, one per record, precisely so readers
    * can range-seek; `GZIPInputStream` consumes member boundaries
    * transparently, so whole-file decompression needs no native codec
    * (java.util.zip is zlib built into the JVM — unlike JPEG/MP3 this
    * seam closes for real). Corrupt gzip data degrades to the bytes
    * inflated so far plus an error, mirroring [[parseRecords]]. */
  def gunzipAll(bytes: Array[Byte]): (Array[Byte], Option[String]) = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, bytes.length * 4))
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes), 64 * 1024)
    val buf = new Array[Byte](64 * 1024)
    try {
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      (out.toByteArray, None)
    } catch {
      case e: java.io.IOException =>
        (out.toByteArray, Some(s"gzip: ${e.getMessage}"))
    } finally in.close()
  }

  private def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  /** All records of a WARC buffer as rows; gzip buffers (magic-sniffed)
    * are inflated first; response records carry the HTTP status + body,
    * a corrupt tail becomes ONE error row. */
  def rowsOf(raw: Array[Byte]): Seq[WarcRow] = {
    val (bytes, gzErr) = if (isGzip(raw)) gunzipAll(raw) else (raw, None)
    gzErr match {
      case Some(e) =>
        rowsOfUncompressed(bytes) :+ WarcRow(null, null, null, 0L, 0L, null, e)
      case None => rowsOfUncompressed(bytes)
    }
  }

  private def rowsOfUncompressed(bytes: Array[Byte]): Seq[WarcRow] = {
    val (recs, err) = parseRecords(bytes)
    val rows = recs.map { r =>
      val t = r.headers.getOrElse("warc-type", "")
      val url = r.headers.getOrElse("warc-target-uri", null)
      val ts = r.headers.get("warc-date").map(parseTs).orNull
      if (t == "response") {
        val (status, _, body) = httpResponse(r.payload)
        WarcRow(t, url, ts, status, r.payload.length.toLong, body, null)
      } else WarcRow(t, url, ts, 0L, r.payload.length.toLong, null, null)
    }
    rows ++ err.map(e => WarcRow(null, null, null, 0L, 0L, null, e)).toSeq
  }

  /** CDX-driven range fetch: one record addressed by the index's
    * (offset, length) — the byte slice is an independently parseable
    * unit in BOTH layouts (uncompressed: one record + trailer; .gz: one
    * complete gzip member per record, which is WHY the format gzips
    * member-per-record). This is the payload-side half of the
    * [[CommonCrawl.parseCdxj]] selection plane: filter the index, fetch
    * only matching slices, never scan the archive. */
  def recordAt(bytes: Array[Byte], offset: Long, length: Long): Either[String, WarcRecord] = {
    if (offset < 0 || length <= 0 || offset + length > bytes.length)
      return Left(s"range ($offset, $length) outside buffer of ${bytes.length}")
    val slice = java.util.Arrays.copyOfRange(bytes, offset.toInt, (offset + length).toInt)
    val (inflated, gzErr) = if (isGzip(slice)) gunzipAll(slice) else (slice, None)
    if (gzErr.isDefined) return Left(gzErr.get)
    parseRecords(inflated) match {
      case (Seq(rec), None) => Right(rec)
      case (Seq(_), Some(err)) => Left(s"trailing corruption after record: $err")
      case (recs, err) => Left(s"expected exactly one record in range, got ${recs.size}" +
        err.map(e => s" ($e)").getOrElse(""))
    }
  }

  // ---------------------------------------------------------------------
  // WET / WAT — Common Crawl's two derived file types, same WARC
  // framing, different record types: WET carries `conversion` records
  // whose payload is the page's extracted plain text (UTF-8 by spec);
  // WAT carries `metadata` records whose payload is a JSON envelope of
  // per-capture metadata (headers, title, outlinks). Together with the
  // response WARCs and the CDXJ index they are the complete distribution
  // set a Common-Crawl-style pipeline ingests.
  // ---------------------------------------------------------------------

  final case class WetRow(url: String, warc_ts: java.sql.Timestamp,
                          content_length: Long, text: String, error: String)

  /** Conversion records of a WET buffer (the leading warcinfo and any
    * other record types are skipped); gzip magic-sniffed like [[rowsOf]];
    * a corrupt tail quarantines as ONE error row after the good prefix;
    * payloads decode as UTF-8 with U+FFFD replacement — WET is UTF-8 by
    * spec, but a 100 TB corpus always carries a malformed tail
    * somewhere, and one bad byte must not kill the file. */
  def wetRowsOf(raw: Array[Byte]): Seq[WetRow] = {
    val (bytes, gzErr) = if (isGzip(raw)) gunzipAll(raw) else (raw, None)
    val (recs, err) = parseRecords(bytes)
    val rows = recs.filter(_.headers.getOrElse("warc-type", "") == "conversion").map { r =>
      WetRow(r.headers.getOrElse("warc-target-uri", null),
        r.headers.get("warc-date").map(parseTs).orNull,
        r.payload.length.toLong,
        new String(r.payload, StandardCharsets.UTF_8), null)
    }
    rows ++ (gzErr.toSeq ++ err.toSeq).map(e => WetRow(null, null, 0L, null, e))
  }

  /** WET files → (url, warc_ts, text) — the pages-table shape with the
    * text column already extracted (the entry point for pipelines that
    * consume Common Crawl's text extracts instead of raw HTML). One
    * task per file, like [[readWarcFiles]]. */
  def readWetFiles(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
    bin.flatMap { case (path, content) =>
      wetRowsOf(content).map(r => (path, r.url, r.warc_ts, r.content_length, r.text, r.error))
    }.toDF("path", "url", "warc_ts", "content_length", "text", "error")
  }

  final case class WatRow(url: String, warc_ts: java.sql.Timestamp,
                          json: String, error: String)

  /** Metadata records of a WAT buffer: the JSON envelope payload is
    * returned as a STRING column — field extraction is a codegen'd
    * projection ([[CommonCrawl.parseWat]]), not executor-side object
    * work, so a 100 TB WAT scan prunes fields inside Tungsten. */
  def watRowsOf(raw: Array[Byte]): Seq[WatRow] = {
    val (bytes, gzErr) = if (isGzip(raw)) gunzipAll(raw) else (raw, None)
    val (recs, err) = parseRecords(bytes)
    val rows = recs.filter(_.headers.getOrElse("warc-type", "") == "metadata").map { r =>
      WatRow(r.headers.getOrElse("warc-target-uri", null),
        r.headers.get("warc-date").map(parseTs).orNull,
        new String(r.payload, StandardCharsets.UTF_8), null)
    }
    rows ++ (gzErr.toSeq ++ err.toSeq).map(e => WatRow(null, null, null, e))
  }

  /** WAT files → (url, warc_ts, json) rows; chain
    * [[CommonCrawl.parseWat]] over `json` for typed metadata columns. */
  def readWatFiles(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
    bin.flatMap { case (path, content) =>
      watRowsOf(content).map(r => (path, r.url, r.warc_ts, r.json, r.error))
    }.toDF("path", "url", "warc_ts", "json", "error")
  }

  /** WARC files → the canonical pages-table shape (url, warc_ts,
    * html:binary, status) + per-file error rows. One task per file —
    * the layout WARC is distributed in. */
  def readWarcFiles(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
    bin.flatMap { case (path, content) =>
      rowsOf(content).map(r => (path, r.rec_type, r.url, r.warc_ts, r.status,
        r.content_length, r.body, r.error))
    }.toDF("path", "rec_type", "url", "warc_ts", "status", "content_length",
        "html", "error")
  }
}
