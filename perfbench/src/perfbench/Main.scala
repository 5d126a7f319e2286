package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.jobs.CrawlJob

/** Human-readable report lines (stdout, before the JSON result line). */
object Report {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A report line stamped with seconds since JVM start. */
  def note(s: String): Unit =
    println(f"# [${(System.currentTimeMillis() - jvmStartMs) / 1e3}%6.1fs] $s")

  def metric(name: String, m: Metric): Unit =
    println(f"metric $name%-40s ${fmt(m.value)}%24s ${m.unit}%-8s n=${m.n}")

  /** Every digit of the double, never in exponent form. */
  def fmt(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.math.BigDecimal.valueOf(v).toPlainString
  }

  def json(correct: Boolean, attempted: Int, failed: Int, ms: Seq[(String, Metric)]): String =
    ms.map { case (k, m) => s""""$k":{"value":${fmt(m.value)},"unit":"${m.unit}"}""" }
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")
}

/** The benchmark: one workload, one seed, one JVM (see perfbench/README.md).
  *
  * Untraced (`--trace 0`): input generation (cached), several set-ups
  * (session start + the workload's one-time layout build), a cold first
  * iteration, warm-up until two consecutive iterations agree, then timed
  * iterations for `--seconds`. Every iteration's output is checked
  * outside its timed region.
  *
  * Traced (`--trace 1`): the same set-up and warm-up, then untraced and
  * traced iterations alternated (the difference is the tracing overhead),
  * then the per-layer suite. Spans and listener aggregates are written to
  * `<dir>/traces/`. */
object Main {
  val Cores = 4
  private val SetUps = 3
  private val WarmTolerance = 0.1

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, dir: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("dir")).toAbsolutePath)
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  /** Per-run state shared by both workload kinds. */
  private final class Ctx(val a: Args) {
    val workload: Workload = Workloads.byName(a.workload)
    val heap = new HeapMonitor
    val tracer = new Tracer(enabled = false)
    val stats = new SparkStats
    val work: Path = a.dir.resolve("run").resolve("work")
    val results = ArrayBuffer.empty[IterResult]
    var spark: SparkSession = _
  }

  def run(a: Args): Int = {
    val c = new Ctx(a)
    Files.createDirectories(c.work)
    c.spark = CrawlJob.session(Cores, "perfbench")
    Report.note("session started")
    val inputs = a.dir.resolve("inputs")

    // inputs: generated (or reused) before any set-up; excluded from setup_s
    val mk: SparkSession => Runner = c.workload match {
      case w: CrawlWorkload =>
        val (site, ref) = Inputs.crawlSite(c.spark, inputs, w, a.seed)
        Report.note(s"reference: ${ref.traceRows} trace rows, ${ref.seenRows} seen, ${ref.chunks} chunks, " +
          s"median round ${ref.medianRoundUrls} urls")
        s => new CrawlRunner(s, w, site, ref, a.seed, c.work, c.tracer)
      case w: CurateWorkload =>
        val (site, docs, planted) = Inputs.curateDocs(c.spark, inputs, w, a.seed)
        Report.note(s"curate: ${planted.size} planted clones")
        s => new CurateRunner(s, w, site, docs, planted, a.seed, c.work, c.tracer)
    }

    // set-up: session start + layout build, SetUps times (once when
    // traced: setup_s is an untraced metric), median reported
    var runner: Runner = null
    val setups = (1 to (if (a.trace) 1 else SetUps)).map { _ =>
      c.spark.stop()
      val t0 = System.nanoTime()
      c.spark = CrawlJob.session(Cores, "perfbench")
      val sessionS = (System.nanoTime() - t0) / 1e9
      runner = mk(c.spark)
      val t1 = System.nanoTime()
      runner.setUp()
      sessionS + (System.nanoTime() - t1) / 1e9
    }
    Report.note(s"set-ups (s): ${setups.map(Report.fmt).mkString(", ")}")

    // cold first iteration, then warm-up until two consecutive iterations
    // agree within WarmTolerance, while the next one is predicted to fit a
    // warm-up budget of half of `seconds` (a warm iteration takes about
    // half the cold one, then about as long as the last)
    val warm = ArrayBuffer(iterate(c, runner))
    def settled = warm.size >= 3 &&
      math.abs(warm.last.wallS - warm(warm.size - 2).wallS) <= WarmTolerance * warm(warm.size - 2).wallS
    def predicted = if (warm.size == 1) warm.head.wallS / 2 else warm.last.wallS
    def fits = warm.drop(1).map(_.wallS).sum + predicted <= a.seconds / 2
    while (!settled && fits) warm += iterate(c, runner)
    Report.note(s"warm-up walls (s): ${warm.map(x => Report.fmt(x.wallS)).mkString(" -> ")}")

    val out = if (a.trace) traced(c, runner) else untraced(c, runner, warm.head, setups)

    val failed = c.results.count(!_.ok)
    Report.metric("error_rate", Metric(failed.toDouble / c.results.size, "share", c.results.size))
    c.results.filterNot(_.ok).foreach(r => Report.note(s"FAILED: ${r.problem}"))
    val okCounts = c.results.filter(_.ok).map(_.counts)
    val drift = okCounts.exists(_ != okCounts.head)
    if (drift) Report.note("FAILED: counts differ between iterations")
    c.spark.stop()
    val correct = failed == 0 && !drift
    println(Report.json(correct, c.results.size, failed + (if (drift) 1 else 0), out))
    if (correct) 0 else 3
  }

  private def untraced(c: Ctx, runner: Runner, cold: IterResult, setups: Seq[Double]): Seq[(String, Metric)] = {
    val timed = ArrayBuffer.empty[IterResult]
    while (timed.map(_.wallS).sum < c.a.seconds) {
      System.gc()
      timed += iterate(c, runner)
    }
    val ok = timed.filter(_.ok).toSeq
    require(ok.nonEmpty, "no iteration passed its output check")
    val rounds = ok.flatMap(_.roundS)
    // over every iteration of the run: one iteration sees too few GCs for a steady peak
    val heapPeak = c.heap.peakIn(c.results.filter(_.ok).map(_.window).toSeq).getOrElse(c.heap.usedNow())
    val tput = Metric(Stats.median(ok.map(r => r.items / r.wallS)), "1/s", ok.size)
    Report.metric(s"${runner.unit}_per_s", tput.copy(unit = s"${runner.unit}/s"))
    Report.metric("iter_s.p50", Metric(Stats.median(ok.map(_.wallS)), "s", ok.size))
    Report.metric("round_s.p90", Metric(Stats.quantile(rounds, 0.9), "s", rounds.size))
    Stats.tail(rounds).foreach { case (p, v) => Report.metric(s"round_s.p$p", Metric(v, "s", rounds.size)) }
    Report.metric("warmup_s", Metric(cold.wallS, "s", 1))
    Seq[(String, Metric)](
      "items_per_s" -> tput,
      "round_s.p50" -> Metric(Stats.median(rounds), "s", rounds.size),
      "setup_s" -> Metric(Stats.median(setups), "s", setups.size),
      "heap_live_peak_mb" -> Metric(heapPeak / 1048576.0, "MB", c.results.count(_.ok)),
      "store_bytes_per_url" -> Metric(Stats.median(ok.map(runner.storeBytesPerItem)), "B/url", ok.size)
    ).map { case (k, m) => Report.metric(k, m); k -> m }
  }

  private def iterate(c: Ctx, runner: Runner, keep: Boolean = false): IterResult = {
    val steal0 = Host.stealTicks()
    val r =
      try runner.iteration(keep)
      catch {
        case e: Exception =>
          e.printStackTrace()
          IterResult(0, 0, Nil, 0, Map.empty, ok = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}",
            (0L, 0L))
      }
    c.results += r
    Report.note(f"iteration ${c.results.size}%2d wall ${r.wallS}%.3f s, ${r.items} ${runner.unit}, " +
      f"steal ${(Host.stealTicks() - steal0) / 100.0}%.2f s" + (if (r.ok) "" else s", CHECK FAILED: ${r.problem}"))
    r
  }

  /** One untraced and one traced iteration, then the layer suite.
    * `spark.*` aggregates cover the traced iteration only. */
  private def traced(c: Ctx, runner: Runner): Seq[(String, Metric)] = {
    val sc = c.spark.sparkContext
    c.tracer.enabled = false
    System.gc()
    val plain = iterate(c, runner)
    c.tracer.enabled = true
    c.tracer.iter = 1
    sc.addSparkListener(c.stats)
    System.gc()
    val traced = c.tracer.span("iteration")(iterate(c, runner, keep = true))
    c.stats.settle()
    sc.removeSparkListener(c.stats)
    c.tracer.iter = -1
    val overhead = traced.wallS / plain.wallS - 1
    val sparkAgg = c.stats.aggregate(Seq(traced.window), Cores)
    val extras = if (traced.ok) runner.extras(traced) else Nil
    extras.foreach { case (k, m) => Report.metric(k, m) }

    sc.addSparkListener(c.stats)
    val layers = new Layers(c.spark, runner.layerInputs, c.tracer, c.stats, c.work).run()
    c.stats.settle()
    sc.removeSparkListener(c.stats)

    val out = layers ++ sparkAgg ++ Seq(
      "trace.overhead_share" -> Metric(overhead, "share", 2))
    out.foreach { case (k, m) => Report.metric(k, m) }
    val file = c.a.dir.resolve("traces").resolve(s"${c.a.workload}-s${c.a.seed}.jsonl")
    c.tracer.write(file, (out ++ extras).map { case (k, m) =>
      s"""{"metric":"$k","value":${Report.fmt(m.value)},"unit":"${m.unit}","n":${m.n}}""" })
    Report.note(s"spans written to $file")
    // the chase probe takes seconds, so only the traced run pays for it
    val (llc, dram) = Host.memLat()
    Report.note(f"host: llc chase $llc%.1f ns, dram chase $dram%.1f ns (healthy about 25 and 100)")
    out
  }
}
