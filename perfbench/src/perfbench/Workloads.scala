package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotStore
import graft.dedup.Dedup
import graft.frontier.Scheduler
import graft.jobs.CrawlJob
import graft.sources.BucketedPages

sealed trait Workload { def name: String }

/** A crawl of a seeded `SyntheticWeb` site, on the bucketed pages layout. */
final case class CrawlWorkload(name: String, pages: Long, hosts: Int, rps: Double,
                               sideTables: Boolean, maxDepth: Int, maxRounds: Int,
                               seenTtlRounds: Option[Int], seenSketch: String,
                               bloomThreshold: Long) extends Workload {
  def config(table: Option[String]): Scheduler.Config =
    Scheduler.Config(defaultRps = rps, roundSeconds = 5.0, maxDepth = maxDepth,
      seenTtlRounds = seenTtlRounds, seenSketch = seenSketch, bucketedPagesTable = table)
}

/** The near-dedup chain over crawl-shaped documents with planted clones. */
final case class CurateWorkload(name: String, docs: Long, fresh: Long, batches: Int,
                                exactShare: Double, nearShare: Double) extends Workload

object CurateWorkload {
  val ExactBase = 10000000L
  val NearBase = 20000000L
  /** Site shape the documents are drawn from. */
  val Hosts = 64
  val Rps = 8000.0
}

object Workloads {
  /** Why each workload exists is in perfbench/README.md. */
  val all: Seq[Workload] = Seq(
    // budget-unbound breadth crawl: converter- and write-bound; seen stays
    // under the default bloomThreshold, so no seen sketch engages
    CrawlWorkload("crawl_wide", pages = 2000, hosts = 16, rps = 8000.0, sideTables = false,
      maxDepth = 99, maxRounds = 50, seenTtlRounds = None, seenSketch = "bloom",
      bloomThreshold = 100000L),
    // politeness-bound continuous recrawl: fixed per-round costs dominate;
    // the cuckoo sketch engages (low bloomThreshold) and expires keys
    CrawlWorkload("crawl_recrawl", pages = 2000, hosts = 16, rps = 4.0, sideTables = true,
      maxDepth = 3, maxRounds = 3, seenTtlRounds = Some(1), seenSketch = "cuckoo",
      bloomThreshold = 100L),
    // shuffle-bound near-dedup chain; touches neither frontier nor converter
    CurateWorkload("curate", docs = 2500, fresh = 500, batches = 3,
      exactShare = 0.05, nearShare = 0.05))

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"unknown workload $n"))
}

/** An iteration source for one workload in one session: `setUp` builds
  * the one-time layout, `iteration` runs and checks one iteration. */
trait Runner {
  def setUp(): Unit
  def iteration(keep: Boolean): IterResult
  /** What `IterResult.items` counts. */
  def unit: String
  def storeBytesPerItem(r: IterResult): Double
  /** Workload-specific lines of the traced run (report and spans file only). */
  def extras(last: IterResult): Seq[(String, Metric)]
  def layerInputs: LayerInputs
}

/** One measured iteration's outcome. `ok` is false when the output check
  * failed; `problem` then says why. */
final case class IterResult(wallS: Double, items: Long, roundS: Seq[Double], storeBytes: Long,
                            counts: Map[String, Double], ok: Boolean, problem: String,
                            window: (Long, Long))

object Fs {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Crawl iterations: run, then (outside the timed region) check. */
final class CrawlRunner(spark: SparkSession, w: CrawlWorkload, siteDir: String, ref: CrawlRef,
                        seed: Long, workBase: Path, tracer: Tracer) extends Runner {
  private val table = "perfbench_pages_bucketed"
  private val cfg: Scheduler.Config = w.config(Some(table))
  private var iterNo = 0
  private var kept: Option[Path] = None

  /** The one-time layout build (part of set-up). */
  def setUp(): Unit = BucketedPages.createBucketedTable(spark, s"$siteDir/pages.parquet", table,
    buckets = Main.Cores)

  def unit = "urls"

  def storeBytesPerItem(r: IterResult): Double = r.storeBytes.toDouble / r.items

  def extras(last: IterResult): Seq[(String, Metric)] =
    last.counts.toSeq.sortBy(_._1).map { case (k, v) => s"crawl.$k" -> Metric(v, "count", 1) } ++
      Seq("crawl.fetch_yield" -> Metric(last.counts("fetched") / last.counts("scheduled"), "share", 1),
        "checkpoint.resume.s" -> Metric(resumeSeconds(), "s", 3))

  /** The dedup layer runs on the site's page texts with planted clones. */
  def layerInputs: LayerInputs = LayerInputs(siteDir, w.pages, w.hosts, seed, ref.medianRoundUrls, cfg,
    w.bloomThreshold, Inputs.plantedDocs(s"$siteDir/pages.parquet", spark, w.pages * 4 / 5, w.pages / 5,
      batches = 4, exactShare = 0.05, nearShare = 0.05, seed))

  private def crawl(workDir: String): Int =
    tracer.span("jobs.crawl.run")(CrawlJob.run(spark, siteDir, workDir, cfg,
      maxRounds = w.maxRounds, bloomThreshold = w.bloomThreshold))

  /** `CrawlJob.run` re-entered on the kept finished work dir: median of 3. */
  private def resumeSeconds(): Double = {
    val wd = kept.getOrElse(throw new IllegalStateException("no kept crawl to resume"))
    val xs = (1 to 3).map { _ =>
      tracer.span("checkpoint.resume") { val t0 = System.nanoTime(); crawl(wd.toString); (System.nanoTime() - t0) / 1e9 }
    }
    graft.util.LocalFs.deleteRecursively(wd)
    kept = None
    Stats.median(xs)
  }

  /** Runs one crawl into a fresh work dir, checks it and deletes the dir
    * unless `keep` (then the dir is returned in `kept`). */
  def iteration(keep: Boolean): IterResult = {
    iterNo += 1
    val wd = workBase.resolve(s"crawl-$iterNo")
    graft.util.LocalFs.deleteRecursively(wd)
    val startWall = java.time.Instant.now()
    val t0 = System.nanoTime()
    val last = crawl(wd.toString)
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val store = new SnapshotStore(wd.toString)
    val ms = (0 to last).map(store.manifest)
    val commitNs = (0 to last).map { v =>
      Files.getLastModifiedTime(wd.resolve(s"snapshots/v$v.json"))
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
    }
    // round r's span runs from the previous commit (crawl start for round
    // 0); round_s takes the intervals between consecutive commits only
    val bounds = Tracer.epochNs(startWall) +: commitNs
    bounds.zip(bounds.tail).foreach { case (a, b) => tracer.derived("crawl.round", a, b) }
    val roundS = commitNs.zip(commitNs.tail).map { case (a, b) => (b - a) / 1e9 }
    val counts = CrawlRunner.counts(ms)
    val storeBytes = Fs.bytesUnder(wd)
    val c0 = System.nanoTime()
    val problem = tracer.span("check")(check(store, last, counts))
    Report.note(f"check ${(System.nanoTime() - c0) / 1e9}%.2f s")
    if (keep) kept = Some(wd) else graft.util.LocalFs.deleteRecursively(wd)
    IterResult(wall, counts("fetched").toLong, roundS, storeBytes, counts, problem.isEmpty,
      problem.getOrElse(""), (startWall.toEpochMilli, endMs))
  }

  /** None when the crawl's trace, seen set and chunk count equal the
    * reference digest and every fetched url's markdown is byte-identical
    * to its expected text. */
  private def check(store: SnapshotStore, last: Int, counts: Map[String, Double]): Option[String] = {
    import spark.implicits._
    val trace = (0 to last).flatMap { v =>
      store.readTable(spark, v, "trace").as[(Int, String, Int, String)].collect()
    }.map(t => s"${t._1}\t${t._2}\t${t._3}\t${t._4}").sorted
    val seen = (0 to last).flatMap { v =>
      store.readTable(spark, v, "seen_delta").select("url").as[String].collect()
    }.distinct.sorted
    val results = spark.read.parquet((0 to last).map(v => store.manifest(v).tables("results").path): _*)
      .select("url", "markdown")
    val expected = spark.read.parquet(s"$siteDir/expected.parquet")
    val mismatched = results.join(expected, Seq("url"), "left")
      .filter(col("text").isNull || col("text") =!= col("markdown")).count()
    val nResults = results.count()
    if (trace.size != ref.traceRows || Inputs.sha(trace.iterator) != ref.traceSha)
      Some(s"trace differs from RefCrawl (${trace.size} rows, reference ${ref.traceRows})")
    else if (seen.size != ref.seenRows || Inputs.sha(seen.iterator) != ref.seenSha)
      Some(s"seen set differs from RefCrawl (${seen.size} urls, reference ${ref.seenRows})")
    else if (counts("chunks").toLong != ref.chunks)
      Some(s"chunk count ${counts("chunks").toLong} differs from RefCrawl's ${ref.chunks}")
    else if (mismatched > 0) Some(s"$mismatched fetched urls' markdown differs from the expected text")
    else if (nResults != counts("fetched").toLong)
      Some(s"results rows $nResults differ from the manifests' fetched ${counts("fetched").toLong}")
    else None
  }
}

object CrawlRunner {
  val summed = Seq("scheduled", "fetched", "missing", "robots_denied", "cache_hits", "chunks",
    "redirects_followed", "fetch_failed", "retry_attempts")
  val cumulative = Seq("cuckoo_expired_deletes", "cuckoo_expiry_rebuilds")

  /** `crawl.*` counts from the committed manifests. */
  def counts(ms: Seq[SnapshotStore.Manifest]): Map[String, Double] = {
    val s = summed.map(k => k -> ms.map(_.metrics.getOrElse(k, 0.0)).sum)
    val c = cumulative.map(k => k -> ms.last.metrics.getOrElse(k, 0.0))
    (Seq("rounds" -> ms.size.toDouble) ++ s ++ c).toMap
  }
}

/** Curate iterations: the d10-shaped chain over all documents, then the
  * d14-shaped incremental chain, one batch per round, against the corpus
  * indexes built at set-up. */
final class CurateRunner(spark: SparkSession, w: CurateWorkload, siteDir: String, docsPath: String,
                         planted: Set[Long], seed: Long, workBase: Path, tracer: Tracer) extends Runner {
  private val idx = workBase.resolve("curate-index")
  private val docs = spark.read.parquet(docsPath)
  private val nDocs = docs.count()
  private val nBatchDocs = docs.filter(col("batch") > 0).count()

  def unit = "docs"

  def storeBytesPerItem(r: IterResult): Double = r.storeBytes.toDouble / w.docs

  def extras(last: IterResult): Seq[(String, Metric)] =
    last.counts.toSeq.sortBy(_._1).map { case (k, v) => s"curate.$k" -> Metric(v, "count", 1) }

  /** Crawl layers run on the documents' site with the default config; the
    * round size is one incremental batch. */
  def layerInputs: LayerInputs = LayerInputs(siteDir, w.docs + w.fresh, CurateWorkload.Hosts, seed,
    nBatchDocs / w.batches, Scheduler.Config(defaultRps = CurateWorkload.Rps, maxDepth = 99), 100000L, docs)

  /** The one-time layout build (part of set-up): the corpus-side exact
    * fingerprint index and MinHash/LSH bucket index, persisted. */
  def setUp(): Unit = {
    val corpus = docs.filter(col("batch") === 0)
    Dedup.exactIndex(corpus, "text").write.mode("overwrite").parquet(idx.resolve("exact").toString)
    Dedup.lshIndex(corpus, "doc_id", "text", w = 3, m = 32, bands = 8)
      .write.mode("overwrite").parquet(idx.resolve("lsh").toString)
  }

  /** d10 shape: LSH pairs → exact verify → cluster resolve; materialises
    * the removed ids. */
  private def fullChain(all: DataFrame): Set[Long] = {
    val cand = Dedup.minhashLshPairs(all, "doc_id", "text", w = 3, m = 32, bands = 8, threshold = 0.5)
    val pairs = Dedup.verifyJaccard(cand, all, "doc_id", "text", w = 3)
      .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
    val kept = Dedup.nearDedup(all, "doc_id", pairs)
    all.select("doc_id").join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
  }

  /** d14 shape for one batch against the persisted corpus indexes. */
  private def incremental(batch: DataFrame, corpus: DataFrame): Set[Long] = tracer.span("dedup.incremental") {
    val s1 = Dedup.incrementalExact(batch, spark.read.parquet(idx.resolve("exact").toString),
      "doc_id", "text").select("doc_id", "text").localCheckpoint()
    val cands = Dedup.incrementalLshCandidates(s1, spark.read.parquet(idx.resolve("lsh").toString),
      "doc_id", "text", w = 3, m = 32, bands = 8, threshold = 0.5)
      .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
    val near = Dedup.verifyJaccard(cands, s1.unionByName(corpus), "doc_id", "text", w = 3)
      .filter(col("jaccard") >= 0.5).select("id_a")
    batch.select("doc_id").join(s1.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(near.select(col("id_a").as("doc_id")))
      .collect().map(_.getLong(0)).toSet
  }

  def iteration(keep: Boolean): IterResult = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val all = docs.select("doc_id", "text")
    val removedFull = tracer.span("curate.full_chain")(fullChain(all))
    val corpus = docs.filter(col("batch") === 0).select("doc_id", "text")
    var removedInc = Set.empty[Long]
    val roundS = (1 to w.batches).map { b =>
      val r0 = System.nanoTime()
      val batch = docs.filter(col("batch") === b).select("doc_id", "text")
      removedInc ++= incremental(batch, corpus)
      (System.nanoTime() - r0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val problem =
      if (removedFull != planted)
        Some(s"full chain removed ${removedFull.size} ids, planted ${planted.size}; " +
          s"first wrong: ${(removedFull diff planted).take(3) ++ (planted diff removedFull).take(3)}")
      else if (removedInc != planted)
        Some(s"incremental chain removed ${removedInc.size} ids, planted ${planted.size}")
      else None
    IterResult(wall, nDocs + nBatchDocs, roundS, Fs.bytesUnder(idx),
      Map("removed_full" -> removedFull.size.toDouble, "removed_incremental" -> removedInc.size.toDouble),
      problem.isEmpty, problem.getOrElse(""), (startMs, endMs))
  }
}
