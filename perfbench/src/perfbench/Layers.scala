package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotStore
import graft.chunk.Chunker
import graft.dedup.Dedup
import graft.frontier.{CuckooFilter, FetchRetry, Frontier, Scheduler}
import graft.html.{Doc, DocRender, HtmlParser}
import graft.jobs.CrawlJob
import graft.sources.{BucketedPages, Charset}
import graft.synth.SyntheticWeb
import graft.url.Redirects

/** What the per-layer suite runs on: a workload's site, its round size,
  * its crawl config and its documents for the dedup layer. */
final case class LayerInputs(siteDir: String, nPages: Long, nHosts: Int, seed: Long,
                             roundSize: Long, cfg: Scheduler.Config, bloomThreshold: Long,
                             docs: DataFrame)

/** Times each layer through its public entry point, on inputs derived from
  * the workload. Spark layers: median of `Reps` runs, each forced with a
  * no-op write or a count. Converter layers: single-threaded over a fixed
  * page sample, with the thread's allocated bytes. */
final class Layers(spark: SparkSession, in: LayerInputs, tracer: Tracer, stats: SparkStats,
                   workBase: java.nio.file.Path) {
  import spark.implicits._

  private val Reps = 2
  private val SamplePages = 200
  private val FprProbes = 1000000
  private val out = ArrayBuffer.empty[(String, Metric)]

  private def put(name: String, m: Metric): Unit = out += name -> m

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median seconds of `Reps` runs of `f`, recorded as a span each. */
  private def seconds(name: String)(f: => Unit): Double =
    Stats.median((1 to Reps).map { _ =>
      tracer.span(name) { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    })

  private def timed(name: String)(f: => Unit): Unit = put(s"$name.s", Metric(seconds(name)(f), "s", Reps))

  private lazy val pages = spark.read.parquet(s"${in.siteDir}/pages.parquet")
  private lazy val limits = spark.read.parquet(s"${in.siteDir}/host_limits.parquet")
  private lazy val rules = CrawlJob.robotsRules(spark, spark.read.parquet(s"${in.siteDir}/robots.parquet")).cache()

  private def frontierRows(urls: DataFrame): DataFrame =
    Frontier.withFrontierKeys(urls, "raw").select(col("url"), col("url_hash"), col("host"),
      lit(0).as("depth"), lit(null).cast("double").as("priority"))

  /** `n` urls of the site in a seeded order, frontier-shaped. */
  private def sampleUrls(n: Long, stream: Long): DataFrame =
    frontierRows(pages.orderBy(xxhash64(col("url"), lit(in.seed), lit(stream)))
      .limit(n.toInt).select(col("url").as("raw")))

  def run(): Seq[(String, Metric)] = {
    converters()
    fetchAndFrontier()
    dedup()
    out.toSeq
  }

  private def converters(): Unit = {
    val sample = pages.orderBy("url").limit(SamplePages).select("url", "html", "warc_ts")
      .as[(String, Array[Byte], java.sql.Timestamp)].collect()
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val n = sample.length
    val html = new Array[String](n)
    val roots = new Array[HtmlParser.Elem](n)
    val docs = new Array[Doc](n)
    val mds = new Array[String](n)
    val layers: Seq[(String, Int => Unit)] = Seq(
      "sources.decode" -> (i => html(i) = Charset.decodeHtml(sample(i)._2)._2),
      "html.parse" -> (i => roots(i) = HtmlParser.parse(html(i))),
      "html.doc" -> (i => docs(i) = Doc.fromRoot(roots(i), sample(i)._1)),
      "html.markdown" -> (i => mds(i) = DocRender.toMarkdown(docs(i))),
      "html.links" -> (i => Doc.extractLinksFromRoot(roots(i), sample(i)._1)),
      "chunk.semantic" -> (i => Chunker.semanticChunks(mds(i), sample(i)._1,
        sample(i)._3.toInstant.toString, in.cfg.chunkSize, in.cfg.chunkOverlap)))
    // pass 0 warms the JIT; passes 1..5 are measured, median reported
    val passes = (0 to 5).map { _ =>
      layers.map { case (name, f) =>
        val a0 = mx.getThreadAllocatedBytes(tid)
        val t0 = System.nanoTime()
        tracer.span(name) { var i = 0; while (i < n) { f(i); i += 1 } }
        (name, (System.nanoTime() - t0).toDouble / n, (mx.getThreadAllocatedBytes(tid) - a0).toDouble / n)
      }
    }.drop(1)
    layers.foreach { case (name, _) =>
      val ps = passes.map(_.find(_._1 == name).get)
      put(s"$name.ns_per_page", Metric(Stats.median(ps.map(_._2)), "ns/page", ps.size * n))
      put(s"$name.alloc_bytes_per_page", Metric(Stats.median(ps.map(_._3)), "B/page", ps.size * n))
    }

    val nExtract = math.min(in.nPages, 4000L)
    val fetched = pages.orderBy("url").limit(nExtract.toInt)
      .select(col("url"), xxhash64(col("url")).as("url_hash"), Frontier.hostUdf(col("url")).as("host"),
        lit(0).as("depth"), col("html"), col("warc_ts")).localCheckpoint()
    val s = seconds("jobs.extract")(force(CrawlJob.extract(spark, fetched, in.cfg).toDF()))
    put("jobs.extract.pages_per_s", Metric(nExtract / s, "pages/s", Reps))
  }

  private def fetchAndFrontier(): Unit = {
    val table = "perfbench_layer_pages"
    timed("sources.layout")(BucketedPages.createBucketedTable(spark, s"${in.siteDir}/pages.parquet",
      table, buckets = Main.Cores))

    val cands = sampleUrls(in.roundSize, 1).localCheckpoint()
    val nCands = cands.count()
    val batch = cands.select("url", "url_hash", "host", "depth")
    val a = System.currentTimeMillis()
    timed("sources.fetch")(force(BucketedPages.fetch(spark, table, batch)))
    stats.settle()
    val inBytes = stats.tasksIn(a, System.currentTimeMillis()).map(_.input).sum
    put("sources.fetch.input_bytes_per_url", Metric(inBytes.toDouble / Reps / nCands, "B/url", Reps))

    timed("frontier.initial")(CrawlJob.initialFrontier(spark, in.siteDir, rules).count(): Unit)
    timed("frontier.assign")(force(Scheduler.assignBatches(cands, limits, in.cfg)))
    timed("frontier.robots_gate") {
      val (allowed, denied, gate) = Scheduler.robotsGate(cands, rules.toDF())
      force(allowed); force(denied); gate.unpersist(): Unit
    }
    timed("frontier.rank_select")(force(Scheduler.rankSelect(cands, limits, in.cfg)))

    val seen = sampleUrls(4 * in.roundSize, 2)
      .unionByName(cands.filter(pmod(col("url_hash"), lit(2L)) === 0))
      .select("url_hash", "url").distinct().localCheckpoint()
    val nSeen = seen.count()
    var cf: CuckooFilter = null
    timed("frontier.sketch_build") { cf = CuckooFilter.build(seen, nSeen) }
    val engaged = in.cfg.seenSketch == "cuckoo" && nSeen > in.bloomThreshold
    timed("frontier.not_seen")(force(Frontier.notSeenCuckoo(cands, seen, if (engaged) Some(cf) else None)))
    // known non-members: seeded random keys outside the seen set
    val seenHashes = seen.select("url_hash").as[Long].collect().toSet
    val rnd = new java.util.Random(in.seed)
    val others = Iterator.continually(rnd.nextLong()).filterNot(seenHashes).take(FprProbes).toArray
    put("frontier.sketch_fpr", Metric(others.count(h => cf.mightContain(h)).toDouble / others.length,
      "share", others.length))

    val keys = Array.tabulate(200000)(i => SyntheticWeb.mix64(i.toLong ^ (in.seed << 20)))
    val perKey = (0 to 3).map { _ =>
      val f = CuckooFilter(keys.length.toLong)
      keys.foreach(f.insert)
      tracer.span("frontier.cuckoo_delete") {
        val t0 = System.nanoTime()
        keys.foreach(f.delete)
        (System.nanoTime() - t0).toDouble / keys.length
      }
    }.drop(1)
    put("frontier.cuckoo_delete.ns_per_key", Metric(Stats.median(perKey), "ns/key", perKey.size * keys.length))

    val nPages = in.nPages
    val nHosts = in.nHosts
    val seed = in.seed
    val ids = pages.select(col("url"), regexp_extract(col("url"), "page(\\d+)$", 1).cast("long").as("i"))
    val faultOf = udf((i: Long) => SyntheticWeb.faultOf(i).map(_.toLong))
    val faults = ids.select(col("url"), faultOf(col("i")).as("fail_times"))
      .filter(col("fail_times").isNotNull).localCheckpoint()
    timed("frontier.fetch_retry")(force(FetchRetry.withAttempts(batch, faults, in.cfg.fetchMaxRetries)))
    val redirectOf = udf((i: Long) => SyntheticWeb.redirectOf(i, nPages, nHosts, seed))
    val rmap = ids.select(col("url").as("src"), redirectOf(col("i")).as("dst"))
      .filter(col("dst").isNotNull).localCheckpoint()
    timed("url.redirects_resolve")(force(Redirects.resolveMap(rmap.select(col("src").as("url")), rmap,
      in.cfg.redirectMaxHops)))

    val round = Scheduler.rankSelect(cands, limits, in.cfg).localCheckpoint()
    var v = 0
    timed("checkpoint.commit") {
      val store = new SnapshotStore(workBase.resolve("layer-commit").toString)
      store.commit(spark, v, Map(
        "seen_delta" -> round.select("url_hash", "url", "host"),
        "trace" -> round.select(lit(v).as("round"), col("host"), col("rank"), col("url")),
        "carry" -> cands.join(round.select("url_hash"), Seq("url_hash"), "left_anti")),
        Map("scheduled" -> nCands.toDouble), partitionKeyCol = Some("host"))
      v += 1
    }
    graft.util.LocalFs.deleteRecursively(workBase.resolve("layer-commit"))
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
  }

  private def dedup(): Unit = {
    val all = in.docs.select("doc_id", "text").localCheckpoint()
    var cand: DataFrame = null
    timed("dedup.lsh_pairs") {
      cand = Dedup.minhashLshPairs(all, "doc_id", "text", w = 3, m = 32, bands = 8, threshold = 0.5)
        .localCheckpoint()
    }
    val nCand = cand.count()
    put("dedup.lsh_pairs.count", Metric(nCand.toDouble, "count", 1))
    var verified: DataFrame = null
    timed("dedup.verify") {
      verified = Dedup.verifyJaccard(cand, all, "doc_id", "text", w = 3).localCheckpoint()
    }
    val pairs = verified.filter(col("jaccard") >= 0.5).select("id_a", "id_b").localCheckpoint()
    put("dedup.verify.yield", Metric(pairs.count().toDouble / math.max(nCand, 1L), "share", nCand.toInt))
    timed("dedup.resolve")(force(Dedup.nearDedup(all, "doc_id", pairs)))

    val corpus = in.docs.filter(col("batch") === 0).select("doc_id", "text")
    val exact = Dedup.exactIndex(corpus, "text").localCheckpoint()
    val lsh = Dedup.lshIndex(corpus, "doc_id", "text", w = 3, m = 32, bands = 8).localCheckpoint()
    val batch = in.docs.filter(col("batch") === 1).select("doc_id", "text").localCheckpoint()
    timed("dedup.incremental") {
      val s1 = Dedup.incrementalExact(batch, exact, "doc_id", "text").select("doc_id", "text")
      val c = Dedup.incrementalLshCandidates(s1, lsh, "doc_id", "text", w = 3, m = 32, bands = 8,
        threshold = 0.5).select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
      force(Dedup.verifyJaccard(c, s1.unionByName(corpus), "doc_id", "text", w = 3))
    }
  }
}
