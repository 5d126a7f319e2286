package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.RefCrawl
import graft.synth.SyntheticWeb

/** What an output check compares a crawl against: `RefCrawl` run once at
  * the workload's own config, reduced to digests. */
final case class CrawlRef(traceRows: Long, traceSha: String, seenRows: Long, seenSha: String,
                          chunks: Long, medianRoundUrls: Long)

/** Seeded inputs, cached under `<dir>/inputs/<workload>-s<seed>-n<size>`.
  * A cached entry is reused only when its row counts and content hash
  * still match the ones recorded when it was generated, so a stale or
  * half-written cache is regenerated rather than measured. */
object Inputs {

  def sha(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** (rows, content hash) of a parquet table: order-independent sum of
    * per-row xxhash64 over every column. */
  def fingerprint(spark: SparkSession, path: String): (Long, Long) = {
    val df = spark.read.parquet(path)
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)")),
      lit(0)).cast("string")).head()
    (r.getLong(0), BigInt(r.getString(1)).toLong)
  }

  private def readProps(p: Path): Map[String, String] =
    if (!Files.isRegularFile(p)) Map.empty
    else new String(Files.readAllBytes(p), UTF_8).split("\n").toSeq.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap

  private def writeProps(p: Path, m: Seq[(String, String)]): Unit =
    Files.write(p, m.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n").getBytes(UTF_8))

  /** Reuse `dir` when every table in `tables` matches the fingerprint in
    * `inputs.props`; otherwise wipe it, run `make`, and record the new
    * fingerprints plus the props `make` returns. Returns the props. */
  def cached(spark: SparkSession, dir: Path, tables: Seq[String])(make: => Seq[(String, String)])
      : Map[String, String] = {
    val propsPath = dir.resolve("inputs.props")
    val props = readProps(propsPath)
    def valid = props.nonEmpty && tables.forall { t =>
      Files.isDirectory(dir.resolve(t)) && {
        val (n, h) = fingerprint(spark, dir.resolve(t).toString)
        props.get(s"$t.rows").contains(n.toString) && props.get(s"$t.hash").contains(h.toString)
      }
    }
    if (valid) { Report.note(s"inputs: reused $dir (row counts and content hash match)"); props }
    else {
      graft.util.LocalFs.deleteRecursively(dir)
      Files.createDirectories(dir)
      val extra = make
      val fps = tables.flatMap { t =>
        val (n, h) = fingerprint(spark, dir.resolve(t).toString)
        Seq(s"$t.rows" -> n.toString, s"$t.hash" -> h.toString)
      }
      writeProps(propsPath, fps ++ extra)
      Report.note(s"inputs: generated $dir")
      readProps(propsPath)
    }
  }

  /** The crawl workloads' site, expected texts and reference digest. */
  def crawlSite(spark: SparkSession, base: Path, w: CrawlWorkload, seed: Long): (String, CrawlRef) = {
    val dir = base.resolve(s"${w.name}-s$seed-n${w.pages}")
    val tables = Seq("pages.parquet", "expected.parquet") ++
      (if (w.sideTables) Seq("redirects.parquet", "faults.parquet") else Nil)
    val props = cached(spark, dir, tables) {
      SyntheticWeb.generate(spark, dir.toString, w.pages, w.hosts, seed = seed, partitions = Main.Cores,
        withExpectedText = true, benchRps = Some(w.rps),
        withRedirects = w.sideTables, withFaults = w.sideTables)
      val ref = reference(spark, dir.toString, w)
      ref.productElementNames.zip(ref.productIterator.map(_.toString)).toSeq
    }
    val ref = CrawlRef(props("traceRows").toLong, props("traceSha"), props("seenRows").toLong,
      props("seenSha"), props("chunks").toLong, props("medianRoundUrls").toLong)
    (dir.toString, ref)
  }

  /** Runs `RefCrawl` at the workload's config and writes
    * `expected.parquet` (url, text): the markdown each fetched url must
    * carry. A redirect alias carries its destination's page rendered
    * with the alias as base url. */
  private def reference(spark: SparkSession, dir: String, w: CrawlWorkload): CrawlRef = {
    import spark.implicits._
    val pageRows = spark.read.parquet(s"$dir/pages.parquet")
      .select("url", "html", "text").as[(String, Array[Byte], String)].collect()
    val pages = pageRows.map { case (u, h, _) => u -> new String(h, UTF_8) }.toMap
    val texts = pageRows.map { case (u, _, t) => u -> t }.toMap
    val robots = spark.read.parquet(s"$dir/robots.parquet").as[(String, String)].collect()
      .map { case (h, b) => h -> graft.robots.Robots.parse(h, b) }.toMap
    val sitemaps = spark.read.parquet(s"$dir/sitemaps.parquet").as[(String, String, String)]
      .collect().map { case (_, u, x) => u -> x }.toMap
    val limits = spark.read.parquet(s"$dir/host_limits.parquet").as[(String, Double)].collect().toMap
    val seeds = spark.read.text(s"$dir/seeds.txt").as[String].collect().toSeq
    val redirects =
      if (!w.sideTables) Map.empty[String, String]
      else spark.read.parquet(s"$dir/redirects.parquet").as[(String, String)].collect().toMap
    val faults =
      if (!w.sideTables) Map.empty[String, Int]
      else spark.read.parquet(s"$dir/faults.parquet").as[(String, Long)].collect()
        .map { case (u, n) => u -> n.toInt }.toMap
    val cfg = w.config(None)
    val ref = RefCrawl.run(pages, robots, sitemaps, limits, seeds,
      redirects = redirects, redirectMaxHops = cfg.redirectMaxHops,
      faults = faults, fetchMaxRetries = cfg.fetchMaxRetries,
      defaultRps = cfg.defaultRps, roundSeconds = cfg.roundSeconds, maxDepth = cfg.maxDepth,
      maxRounds = w.maxRounds, chunkSize = cfg.chunkSize, chunkOverlap = cfg.chunkOverlap,
      seenTtlRounds = cfg.seenTtlRounds)

    def follow(u: String): Option[String] = {
      var cur = u
      var hops = 0
      val path = scala.collection.mutable.Set(u)
      while (redirects.contains(cur)) {
        if (hops >= cfg.redirectMaxHops) return None
        val nxt = redirects(cur)
        if (path.contains(nxt)) return None
        path += nxt; cur = nxt; hops += 1
      }
      Some(cur)
    }
    val expected = ref.trace.map(_.url).distinct.flatMap { u =>
      if (!redirects.contains(u)) texts.get(u).map(u -> _)
      else follow(u).filter(pages.contains).map(dst =>
        u -> graft.html.DocRender.toMarkdown(graft.html.Doc.fromHtml(pages(dst), u)))
    }
    expected.toDF("url", "text").coalesce(1).write.mode("overwrite").parquet(s"$dir/expected.parquet")

    val rows = ref.trace.map(t => s"${t.round}\t${t.host}\t${t.rank}\t${t.url}").sorted
    val perRound = ref.trace.groupBy(_.round).values.map(_.size.toDouble).toSeq
    CrawlRef(rows.size, sha(rows.iterator), ref.seen.size, sha(ref.seen.toSeq.sorted.iterator),
      ref.chunkCount, Stats.median(perRound).toLong)
  }

  /** Documents with planted clones, from a site's page texts. Originals
    * are pages [0, docs) in batch 0 (the corpus); a seeded subset is
    * planted again as exact clones (id + ExactBase) and near clones (id +
    * NearBase, one token prepended); pages [docs, docs + fresh) are new
    * documents. Clones and new documents spread over batches 1..batches. */
  def plantedDocs(pagesPath: String, spark: SparkSession, docs: Long, fresh: Long, batches: Int,
                  exactShare: Double, nearShare: Double, seed: Long): DataFrame = {
    val pages = spark.read.parquet(pagesPath)
      .select(regexp_extract(col("url"), "page(\\d+)$", 1).cast("long").as("i"), col("text"))
      .filter(col("i") < docs + fresh)
    def picked(stream: Long, share: Double) =
      pmod(xxhash64(col("i"), lit(seed), lit(stream)), lit(1000L)) < lit((share * 1000).toLong)
    def batchOf(c: org.apache.spark.sql.Column) = (pmod(c, lit(batches.toLong)) + 1).cast("int")
    val orig = pages.filter(col("i") < docs)
    orig.select(col("i").as("doc_id"), col("text"), lit(0).as("batch"))
      .unionByName(orig.filter(picked(1, exactShare))
        .select((col("i") + CurateWorkload.ExactBase).as("doc_id"), col("text"), batchOf(col("i")).as("batch")))
      .unionByName(orig.filter(picked(2, nearShare))
        .select((col("i") + CurateWorkload.NearBase).as("doc_id"), concat(lit("zzz "), col("text")).as("text"),
          batchOf(col("i") + 1).as("batch")))
      .unionByName(pages.filter(col("i") >= docs)
        .select(col("i").as("doc_id"), col("text"), batchOf(col("i")).as("batch")))
  }

  /** Curate inputs: a seeded site and its planted documents. Returns
    * (site dir, docs path, planted ids). */
  def curateDocs(spark: SparkSession, base: Path, w: CurateWorkload, seed: Long)
      : (String, String, Set[Long]) = {
    val dir = base.resolve(s"${w.name}-s$seed-n${w.docs}")
    val site = dir.resolve("site").toString
    val docsPath = dir.resolve("docs.parquet").toString
    cached(spark, dir, Seq("site/pages.parquet", "docs.parquet")) {
      SyntheticWeb.generate(spark, site, w.docs + w.fresh, CurateWorkload.Hosts, seed = seed,
        partitions = Main.Cores, withExpectedText = true, benchRps = Some(CurateWorkload.Rps))
      plantedDocs(s"$site/pages.parquet", spark, w.docs, w.fresh, w.batches, w.exactShare, w.nearShare, seed)
        .repartition(Main.Cores).write.mode("overwrite").parquet(docsPath)
      Nil
    }
    val planted = spark.read.parquet(docsPath).filter(col("doc_id") >= CurateWorkload.ExactBase)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    (site, docsPath, planted)
  }
}
