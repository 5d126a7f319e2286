package graft.sources

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.url.UrlCanonical

/** Common-Crawl index-side ingestion: SURT url keys and CDXJ index
  * lines. A 100 TB pipeline does NOT start by fetching WARC payloads —
  * it first scans the (orders-of-magnitude smaller) capture index to
  * SELECT which records to read: filter by url pattern / mime / status
  * in the index, then fetch only the matching WARC byte ranges. These
  * two operators are that selection plane; [[Warc]] is the payload
  * plane.
  *
  * SURT ("Sort-friendly URI Reordering Transform", the key format of
  * the CDX ecosystem — Heritrix/pywb/webarchive-commons): host labels
  * reversed and comma-joined so one host's, one domain's, or one TLD's
  * captures are CONTIGUOUS under a lexicographic sort — which is what
  * makes range-partitioned index scans ("everything under com,example")
  * a sorted-file slice instead of a full scan. Documented subset of the
  * canonicalizer: lowercase, scheme/userinfo/fragment dropped, one
  * leading `www.` label stripped, default ports dropped, query params
  * sorted (empty query → bare `?` kept, matching the param-sort
  * identity); IP hosts are NOT reversed (they are already
  * most-significant-first). Pure function of the url — partitioning /
  * cluster-size invariant like every key in this library. */
object CommonCrawl {

  /** Scala twin (drives the UDF; also the test/driver recomputation). */
  def surtKeyScala(url: String): String = {
    val p = UrlCanonical.parse(url)
    if (p == null || p.host.isEmpty) return null
    val host = {
      val h = p.host.toLowerCase(Locale.ROOT)
      if (h.startsWith("www.") && h.length > 4) h.substring(4) else h
    }
    val isIp = host.nonEmpty && host.forall(c => (c >= '0' && c <= '9') || c == '.')
    val key = if (isIp) host else host.split('.').reverse.mkString(",")
    val port = if (p.port >= 0) ":" + p.port else ""
    val path = (if (p.path.isEmpty) "/" else p.path).toLowerCase(Locale.ROOT)
    val query = p.query match {
      case null => ""
      case q => "?" + q.toLowerCase(Locale.ROOT).split('&').sorted.mkString("&")
    }
    key + port + ")" + path + query
  }

  val surtKeyUdf = udf(surtKeyScala _)

  def surtKey(url: Column): Column = surtKeyUdf(url)

  /** Parse WAT metadata-record JSON envelopes into typed columns — the
    * third Common-Crawl file type (WARC = payloads, WET = text extracts,
    * WAT = per-capture metadata). Extracts the fields a link-graph /
    * selection pipeline consumes: target url + capture date (envelope
    * WARC header copy), HTTP status, page title, and the outlink array
    * (`HTML-Metadata.Links`) as `array<struct<path,url,text>>` — the
    * input shape of `graph.LinkGraph` without touching any HTML payload.
    *
    * One codegen'd projection: `get_json_object` for scalars, `from_json`
    * for the links array (permissive mode — a malformed envelope yields
    * null columns, never an exception; the `_corrupt` tell is the nulls,
    * matching parseCdxj's bad-line contract). No UDF, no shuffle. */
  def parseWat(df: DataFrame, jsonCol: String): DataFrame = {
    val j = col(jsonCol)
    val hdr = "$.Envelope.WARC-Header-Metadata"
    val resp = "$.Envelope.Payload-Metadata.HTTP-Response-Metadata"
    val linksSchema = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
    df.select(
      get_json_object(j, s"$hdr.WARC-Target-URI").as("url"),
      try_to_timestamp(get_json_object(j, s"$hdr.WARC-Date"),
        lit("yyyy-MM-dd'T'HH:mm:ss'Z'")).as("warc_ts"),
      get_json_object(j, s"$resp.Response-Message.Status").cast("long").as("status"),
      get_json_object(j, s"$resp.HTML-Metadata.Head.Title").as("title"),
      from_json(get_json_object(j, s"$resp.HTML-Metadata.Links"), linksSchema).as("links"))
  }

  /** Build a WAT metadata envelope from extract outputs — the writer
    * half of [[parseWat]] (the crawl publishing link-graph metadata
    * without shipping payloads). One codegen'd `to_json` projection;
    * null title is omitted from the JSON (Spark's generator default),
    * which [[parseWat]] reads back as null — symmetric. `links` is the
    * same `array<struct<path,url,text>>` shape parseWat returns, so
    * parse(build(x)) round-trips every column. */
  def watEnvelope(url: Column, warcDateIso: Column, status: Column,
                  title: Column, links: Column): Column =
    to_json(struct(
      struct(
        struct(url.as("WARC-Target-URI"), warcDateIso.as("WARC-Date"))
          .as("WARC-Header-Metadata"),
        struct(
          struct(
            struct(status.cast("string").as("Status")).as("Response-Message"),
            struct(struct(title.as("Title")).as("Head"), links.as("Links"))
              .as("HTML-Metadata"))
            .as("HTTP-Response-Metadata"))
          .as("Payload-Metadata"))
        .as("Envelope")))

  /** Parse CDXJ index lines — `<urlkey> <ts14> <json>` — into typed
    * columns: one codegen'd projection (regexp field split +
    * get_json_object), no UDF, no shuffle; a malformed line yields
    * nulls, never an exception. `fetch_ts` parses the 14-digit
    * timestamp (UTC by session convention). The digest/offset/length/
    * filename fields are exactly what a range-fetch of the matching
    * WARC records needs. */
  def parseCdxj(df: DataFrame, lineCol: String): DataFrame = {
    val line = col(lineCol)
    val fieldRe = "^(\\S+) (\\d{14}) (.*)$"
    val json = regexp_extract(line, fieldRe, 3)
    df.select(
      regexp_extract(line, fieldRe, 1).as("urlkey"),
      regexp_extract(line, fieldRe, 2).as("ts14"),
      // try_: ANSI mode must not abort a 100 TB index scan on one bad line
      try_to_timestamp(regexp_extract(line, fieldRe, 2), lit("yyyyMMddHHmmss")).as("fetch_ts"),
      get_json_object(json, "$.url").as("url"),
      get_json_object(json, "$.mime").as("mime"),
      get_json_object(json, "$.status").cast("long").as("status"),
      get_json_object(json, "$.digest").as("digest"),
      get_json_object(json, "$.length").cast("long").as("length"),
      get_json_object(json, "$.offset").cast("long").as("offset"),
      get_json_object(json, "$.filename").as("warc_filename"))
  }
}
