package graft.text

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.html.HtmlParser
import graft.url.UrlCanonical

/** The reference's remaining per-row pipeline operators, Spark-first:
  * filename derivation (P16), title fallback (P15), metadata extraction
  * (P13), sensitive-data redaction (P20), content validation (P23),
  * search rerank (W6), deterministic embeddings (SimpleCount / hashing),
  * and the URL-export line format (S11). */
object PipelineOps {

  /** `_get_filename_from_url` (core/scraper.py:944-968): path parts
    * joined with "_", the invalid-char class (backslash, slash, star,
    * question mark, colon, quote, angle brackets, pipe) → "_",
    * extension by format (existing extension replaced). */
  def filenameFromUrl(url: String, outputFormat: String): String = {
    val p = UrlCanonical.parse(url)
    val path = if (p == null) "" else p.path
    val stripped = path.stripPrefix("/").stripSuffix("/")
    var filename = if (stripped.isEmpty) "index" else stripped.split("/", -1).mkString("_")
    filename = filename.replaceAll("[\\\\/*?:\"<>|]", "_")
    val ext = if (outputFormat == "markdown") ".md" else "." + outputFormat
    if (!filename.endsWith(ext)) {
      if (filename.contains(".")) filename = filename.substring(0, filename.lastIndexOf('.')) + ext
      else filename = filename + ext
    }
    filename
  }

  /** Column form of P16 — regexp chain, DuckDB-mirrorable. Assumes the
    * canonical-format case (no pre-existing extension handling beyond
    * the last dot, matching the Python semantics). */
  def filenameFromUrlCol(url: Column, outputFormat: String): Column = {
    val path = regexp_replace(url, "^[a-z]+://[^/]*", "") // strip scheme+authority
    val strippedBoth = regexp_replace(regexp_replace(path, "^/+", ""), "/+$", "")
    val joined = when(strippedBoth === "", "index")
      .otherwise(regexp_replace(strippedBoth, "/", "_"))
    val cleaned = regexp_replace(joined, "[\\\\*?:\"<>|]", "_")
    val ext = if (outputFormat == "markdown") ".md" else "." + outputFormat
    when(cleaned.endsWith(ext), cleaned)
      .when(cleaned.contains("."), concat(regexp_replace(cleaned, "\\.[^.]*$", ""), lit(ext)))
      .otherwise(concat(cleaned, lit(ext)))
  }

  /** `_extract_title` (rag/pipeline.py:1542-1556): first `# ` line of
    * the markdown, else url path tail title-cased (`-`/`_` → space),
    * else netloc. */
  def titleFallback(markdown: String, url: String): String = {
    markdown.split("\n", -1).find(_.startsWith("# ")) match {
      case Some(line) => line.substring(2).trim
      case None =>
        val p = UrlCanonical.parse(url)
        val path = if (p == null) "" else p.path.stripPrefix("/").stripSuffix("/")
        if (path.nonEmpty) {
          val tail = path.split("/", -1).last.replace("-", " ").replace("_", " ")
          // Python str.title(): capitalize letter runs
          tail.split(" ", -1).map { w =>
            if (w.isEmpty) w else w.substring(0, 1).toUpperCase(Locale.ROOT) + w.substring(1).toLowerCase(Locale.ROOT)
          }.mkString(" ")
        } else UrlCanonical.netloc(url)
    }
  }

  final case class PageMetadata(title: String, description: String, keywords: String,
                                og_title: String, og_image: String, url: String)

  /** `_extract_metadata` (core/scraper.py:1023-1070): title text
    * (whitespace-collapsed, Python `_get_text_from_element` semantics),
    * meta description/keywords by name, og:title/og:image by property. */
  def extractMetadata(html: String, url: String): PageMetadata = {
    val root = HtmlParser.parse(html)
    val title = HtmlParser.selectTag(root, "title").nextOption()
      .map(e => e.text.trim.replaceAll("\\s+", " ")).getOrElse("")
    def meta(attr: String, value: String): String =
      HtmlParser.selectTag(root, "meta")
        .find(e => e.attr(attr).contains(value) && e.attr("content").isDefined)
        .flatMap(_.attr("content")).getOrElse("")
    PageMetadata(
      title,
      meta("name", "description"),
      meta("name", "keywords"),
      meta("property", "og:title"),
      meta("property", "og:image"),
      url)
  }

  /** `redact_sensitive_data` (core/security.py:132-171) — the default
    * pattern chain, applied in order. */
  private val RedactPatterns: Seq[(String, String)] = Seq(
    ("(api[_-]?key|token)[\"']?\\s*[:=]\\s*[\"']?([a-zA-Z0-9]{20,})[\"']?", "$1: [REDACTED]"),
    ("[\\w.-]+@[\\w.-]+\\.\\w+", "[EMAIL REDACTED]"),
    ("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP REDACTED]"),
    ("(https?://)([^:@/]+):([^@/]+)@", "$1[USER REDACTED]:[PASS REDACTED]@"),
    ("\\b(?:\\d{4}[-\\s]?){3}\\d{4}\\b", "[CARD REDACTED]"),
    ("\\b\\d{3}-\\d{2}-\\d{4}\\b", "[SSN REDACTED]"),
    ("AKIA[0-9A-Z]{16}", "[AWS KEY REDACTED]"),
    ("(password|passwd|pwd)[\"']?\\s*[:=]\\s*[\"']?([^\"'\\s]{8,})[\"']?", "$1: [REDACTED]"))

  def redact(text: String): String = {
    if (text == null || text.isEmpty) return ""
    RedactPatterns.foldLeft(text) { case (t, (pat, rep)) => t.replaceAll(pat, rep) }
  }

  /** Column form — the same regexp_replace chain (codegen'd). */
  def redactCol(text: Column): Column =
    RedactPatterns.foldLeft(text) { case (c, (pat, rep)) => regexp_replace(c, pat, rep) }

  /** `validate_html_content` (core/validators.py:141-163): must look
    * like HTML, ≤20 script tags. */
  def validateHtmlContent(content: String): Boolean = {
    if (content == null || content.isEmpty) return false
    val lower = content.toLowerCase(Locale.ROOT)
    if (!lower.contains("<html") && !lower.contains("<body")) return false
    var count = 0
    var idx = lower.indexOf("<script")
    while (idx >= 0) { count += 1; idx = lower.indexOf("<script", idx + 1) }
    count <= 20
  }

  /** W6 rerank (rag/search.py:245-305): adjusted = 0.7·score +
    * 0.2·term_overlap + 0.1·length_factor; term_overlap =
    * |query∩content| / |query| over lowercased whitespace token SETS;
    * length_factor = min(1, 200/max(words,1)). Column-expression form
    * for a literal query string. */
  def rerank(results: DataFrame, scoreCol: String, contentCol: String, query: String, limit: Int): DataFrame = {
    val queryTerms = query.toLowerCase(Locale.ROOT).split("\\s+").filter(_.nonEmpty).distinct
    val content = col(contentCol)
    val contentTerms = array_distinct(split(lower(trim(content)), "\\s+"))
    val overlap =
      if (queryTerms.isEmpty) lit(0.0)
      else size(array_intersect(contentTerms, array(queryTerms.map(lit(_)): _*))).cast("double") / lit(queryTerms.length)
    val words = when(length(trim(content)) === 0, 0).otherwise(size(split(trim(content), "\\s+")))
    val lengthFactor = least(lit(1.0), lit(200.0) / greatest(words.cast("double"), lit(1.0)))
    results
      .withColumn("adjusted_score",
        round(col(scoreCol) * 0.7 + overlap * 0.2 + lengthFactor * 0.1, 6))
      .orderBy(desc("adjusted_score"))
      .limit(limit)
  }

  /** SimpleCountEmbedding (rag/embedding.py:486-548) — deterministic
    * count embedding: vocabulary = first-seen order over a FIXED corpus
    * ordering (the reference builds vocab in arrival order; we define
    * arrival order = ascending id for reproducibility), counts
    * L2-normalized. Vocab is built once (driver, bounded max_features)
    * and broadcast. */
  def countEmbedding(df: DataFrame, idCol: String, textCol: String, maxFeatures: Int = 512,
                     maxVocabScan: Int = 1 << 20, maxVocabChars: Int = 64 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Vocab pass is driver-bounded: collect only an ascending-id PREFIX
    // (orderBy+limit → TakeOrderedAndProject, K rows on the driver, never
    // the corpus). Grow K geometrically until the vocab saturates at
    // maxFeatures or the prefix covers the whole input — first-seen order
    // is identical across passes because each pass re-reads from id 0.
    // The prefix is HARD-CAPPED twice: at maxVocabScan ROWS (the r2
    // unboundedness fix) and at maxVocabChars accumulated CHARS (the r3
    // finding: 2^20 rows of multi-MB documents is still GBs on the
    // driver). The char cap costs no extra distributed work and no
    // global sort: a first TakeOrdered pass collects only (id, length)
    // — 16 bytes/row — the in-budget row count is a driver-side prefix
    // sum, and a second TakeOrdered pass collects exactly those texts.
    // An under-saturated capped vocab is reported, and is still a valid
    // first-seen vocabulary — just built from the first in-budget docs,
    // exactly what the reference would see on a truncated corpus.
    val vocab: Map[String, Int] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      var k = math.max(64, maxFeatures / 4)
      var stop = false
      while (m.size < maxFeatures && !stop) {
        m.clear()
        val limitK = math.min(k, maxVocabScan)
        val lens = df.select(col(idCol).cast("long"), length(col(textCol)).cast("long"))
          .orderBy(col(idCol)).limit(limitK).as[(Long, Long)].collect()
        val exhaustedRows = lens.length < limitK
        var acc = 0L; var nFit = 0
        while (nFit < lens.length && (nFit == 0 || acc + lens(nFit)._2 <= maxVocabChars)) {
          acc += lens(nFit)._2; nFit += 1 // first doc always kept (truncated below if huge)
        }
        val charCapped = nFit < lens.length
        val texts = df.select(col(idCol),
            when(length(col(textCol)) > maxVocabChars,
              substring(col(textCol), 1, maxVocabChars)).otherwise(col(textCol)))
          .orderBy(col(idCol)).limit(nFit).as[(Long, String)].collect()
        texts.iterator.takeWhile(_ => m.size < maxFeatures).foreach { case (_, t) =>
          t.toLowerCase(Locale.ROOT).split("\\s+").filter(_.nonEmpty).foreach { tok =>
            if (!m.contains(tok) && m.size < maxFeatures) m(tok) = m.size
          }
        }
        if (exhaustedRows && !charCapped) stop = true
        else if ((limitK == maxVocabScan || charCapped) && m.size < maxFeatures) {
          val cap = if (charCapped) s"$maxVocabChars-char" else s"$maxVocabScan-row"
          System.err.println(s"[graft] countEmbedding: vocab under-saturated " +
            s"(${m.size}/$maxFeatures features) at the $cap scan cap; " +
            "raise the cap or use hashEmbedding for open vocabularies")
          stop = true
        }
        k = k * 8
      }
      m.toMap
    }
    val bc = spark.sparkContext.broadcast(vocab)
    val embed = udf((t: String) => {
      val v = bc.value
      val vec = new Array[Double](v.size)
      t.toLowerCase(Locale.ROOT).split("\\s+").filter(_.nonEmpty).foreach { tok =>
        v.get(tok).foreach(i => vec(i) += 1.0)
      }
      val norm = math.sqrt(vec.map(x => x * x).sum)
      if (norm > 0) vec.map(_ / norm) else vec
    })
    df.withColumn("embedding", embed(col(textCol)))
  }

  /** Hashing-trick embedding — the scale path (no vocabulary state):
    * token → bucket = xxhash64(token) mod dim, counts L2-normalized.
    * Maps 1:1 onto SimpleCountEmbedding semantics with a fixed hash
    * vocabulary; fully distributed, no driver pass. */
  def hashEmbedding(text: Column, dim: Int): Column =
    graft.functions.GraftFunctions.hash_embedding(text, dim)

  /** S11 url-export line: `loc[,priority][,lastmod]`
    * (utils/sitemap_utils.py:477-499). */
  def urlExportLine(loc: Column, priority: Column, lastmod: Column): Column =
    concat(loc,
      when(priority.isNotNull, concat(lit(","), priority.cast("string"))).otherwise(lit("")),
      when(lastmod.isNotNull, concat(lit(","), lastmod)).otherwise(lit("")))

  /** rel=canonical consolidation — the web's own dedup signal, applied
    * BEFORE content-hash dedup: every capture is attributed to its
    * declared canonical target (undeclared → itself), and each target
    * keeps ONE representative capture — the self-canonical capture when
    * present (the page the site says is authoritative), else the
    * lexicographic-min variant url (deterministic under any
    * partitioning). Variants whose BYTES differ (mobile/print/tracking
    * renders of one page) collapse here even though no fingerprint
    * matches — cheaper than any similarity pass and exact by site
    * declaration.
    *
    * Input: one row per capture with `urlCol` and a nullable
    * `canonicalCol` (from [[graft.html.PageDirectives]]). Output: one
    * row per canonical target — (canonical_url, representative_url,
    * n_variants, has_self).
    *
    * Scale shape: ONE map-side-combinable groupBy — `min(struct)` picks
    * the representative inside partial aggregation, so a target with a
    * million tracking-param variants collapses in-task; no window, no
    * second pass, no skew surface beyond the aggregate Spark already
    * handles. */
  def canonicalGroups(df: DataFrame, urlCol: String, canonicalCol: String): DataFrame = {
    df.select(coalesce(col(canonicalCol), col(urlCol)).as("canonical_url"),
        col(urlCol).as("_cg_u"))
      .groupBy("canonical_url")
      .agg(
        min(struct(
          when(col("_cg_u") === col("canonical_url"), 0).otherwise(1).as("nonself"),
          col("_cg_u").as("u"))).as("_cg_rep"),
        count(lit(1)).as("n_variants"))
      .select(col("canonical_url"), col("_cg_rep.u").as("representative_url"),
        col("n_variants"), (col("_cg_rep.nonself") === 0).as("has_self"))
  }
}
