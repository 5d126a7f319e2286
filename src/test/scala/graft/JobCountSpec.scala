package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.Scheduler
import graft.jobs.CrawlJob
import graft.synth.SyntheticWeb

/** Per-crawl Spark action counts, pinned. Every action costs a round of
  * driver scheduling latency, so a refactor of the round loop must not
  * add one: each crawl below covers one round-loop shape, and the number
  * of actions it submits may not grow.
  *
  * An action is one SQL execution (a write, count, collect, checkpoint…)
  * or one job outside any running SQL execution (a parquet schema read,
  * an RDD aggregate, a local-iterator partition). Raw job counts are not
  * stable: AQE submits a job per query stage, and when two concurrent
  * queries share a cached relation, which of them materializes it is a
  * race — identical crawls measured 125–131 raw jobs. A job's SQL
  * execution id is not trusted on its own either: a pool thread spawned
  * inside an execution inherits that id as a thread-local, so its later
  * plain jobs carry an execution that has long ended. */
class JobCountSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private lazy val siteDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs_site").toString
    SyntheticWeb.generate(spark, dir, 200L, 4, seed = 42L, partitions = 4)
    dir
  }

  private val MarkerKey = "graft.jobcount.marker"

  /** Counts actions in bus order; the bus delivers events in submission
    * order, so once the closing marker arrives, so has every action
    * submitted before it. */
  private final class ActionLog extends SparkListener {
    private val active = scala.collection.mutable.Set.empty[Long]
    private val marks = scala.collection.mutable.Map.empty[String, (Int, Int)] // marker → (actions, jobs)
    private var actions = 0
    private var jobs = 0

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { actions += 1; active += s.executionId }
      case s: SparkListenerSQLExecutionEnd => synchronized { active -= s.executionId }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      synchronized {
        prop(MarkerKey) match {
          case Some(m) => if (!marks.contains(m)) marks(m) = (actions, jobs)
          case None =>
            jobs += 1
            if (!prop("spark.sql.execution.id").exists(id => active(id.toLong))) actions += 1
        }
      }
    }

    /** (actions, raw jobs) between the two marker jobs. */
    def between(start: String, end: String): (Int, Int) = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (synchronized(!marks.contains(end)) && System.nanoTime() < deadline) Thread.sleep(20)
      synchronized {
        val (a1, j1) = marks.getOrElse(end, sys.error(s"marker job '$end' never reported"))
        val (a0, j0) = marks(start)
        (a1 - a0, j1 - j0)
      }
    }
  }

  private def marker(name: String): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerKey, name)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
  }

  /** (actions, raw jobs, last committed round) for one crawl on a fresh work dir. */
  private def countCrawl(cfg: Scheduler.Config, maxRounds: Int,
                         bloomThreshold: Long): (Int, Int, Int) = {
    siteDir // generate the site outside the counted window
    // a suite run earlier in this JVM may have left join thresholds set
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    val workDir = java.nio.file.Files.createTempDirectory("graft_jobs_crawl").toString
    val log = new ActionLog
    spark.sparkContext.addSparkListener(log)
    try {
      marker("start")
      val last = CrawlJob.run(spark, siteDir, workDir, cfg, maxRounds = maxRounds,
        bloomThreshold = bloomThreshold)
      marker("end")
      val (actions, jobs) = log.between("start", "end")
      (actions, jobs, last)
    } finally {
      spark.sparkContext.removeSparkListener(log)
      graft.util.LocalFs.deleteRecursively(workDir)
    }
  }

  /** The crawl ends at `wantLast` and submits at most `maxActions`
    * actions. Each bound was measured identically over three runs; a
    * change may lower one (dropping a wasted action), never raise it. */
  private def check(name: String, cfg: Scheduler.Config, maxRounds: Int,
                    bloomThreshold: Long, wantLast: Int, maxActions: Int): Unit = {
    val (actions, jobs, last) = countCrawl(cfg, maxRounds, bloomThreshold)
    assert(last == wantLast && actions <= maxActions,
      s"$name: $actions Spark actions ($jobs jobs) over rounds 0..$last; " +
        s"pinned at most $maxActions over 0..$wantLast")
  }

  test("action count: fresh-epoch fast path (budget-unbound, pre-assigned epochs)") {
    check("fast path", Scheduler.Config(roundSeconds = 500.0), maxRounds = 50,
      bloomThreshold = 100L, wantLast = 3, maxActions = 50)
  }

  test("action count: budget-bound general path (carry, multi-batch epochs)") {
    check("general path", Scheduler.Config(), maxRounds = 5,
      bloomThreshold = 100L, wantLast = 4, maxActions = 77)
  }

  test("action count: cuckoo sketch under a seen TTL (per-round expiry deletes)") {
    check("cuckoo + TTL", Scheduler.Config(seenTtlRounds = Some(2), seenSketch = "cuckoo"),
      maxRounds = 6, bloomThreshold = 10L, wantLast = 5, maxActions = 115)
  }

  test("action count: sharded Bloom seen set") {
    check("sharded", Scheduler.Config(bloomShards = Some(4)), maxRounds = 5,
      bloomThreshold = 100L, wantLast = 4, maxActions = 79)
  }
}
