package graft.frontier

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.sketch.BloomFilter

/** The crawl's URL-seen set (J1): an exact window over the committed
  * per-round seen deltas, fronted by one prefilter sketch.
  *
  * Seen is committed as per-round DELTAS (append semantics, like a real
  * Iceberg append — a full rewrite per round would be quadratic in total
  * crawl size); the live set is a FLAT multi-path read over the ACTIVE
  * deltas (not an incremental union DAG, which would deepen the plan
  * every round). With a TTL (cache.py:211-311 recrawl semantics) the
  * active window excludes deltas older than ttl rounds — an expired url
  * blocks nothing and a link-rediscovery re-fetches it. Under adaptive
  * recrawl the frozen due urls are excluded from the blocking set until
  * each is refetched (a post-freeze delta re-blocks it).
  *
  * The sketch is chosen once per crawl — broadcast Bloom, [[ShardedBloom]]
  * files or a [[CuckooFilter]] — and only ever decides which candidates
  * skip the exact anti-join, so it can hold stale or extra keys but never
  * miss a seen one. Every update returns a new value and never mutates a
  * published sketch: plans built earlier in the round captured the old
  * one (a local-mode broadcast can alias it). */
final case class SeenSet private (window: SeenSet.Window, sketch: SeenSketch) {
  import SeenSet._

  /** Rows in the TTL window (before the due exclusion). */
  def count: Long = window.count
  /** The blocking set (url_hash, url). */
  def exact: DataFrame = window.exact

  /** `candidates` minus the seen set. */
  def notSeen(candidates: DataFrame): DataFrame = sketch.notSeen(candidates, exact)

  /** Move the window to round `r`: under a TTL older deltas leave it (and
    * the sketch retires them); under adaptive recrawl the due exclusion
    * shrinks as refetch deltas land. Otherwise the set is unchanged. */
  def advance(r: Int): SeenSet =
    if (window.ttl.isEmpty && window.due.isEmpty) this
    else {
      val s = copy(window = window.copy(at = r))
      s.copy(sketch = sketch.expire(s))
    }

  /** Freeze the adaptive-recrawl due set at round `r`. */
  def freeze(dueFrontier: DataFrame, r: Int): SeenSet =
    copy(window = window.copy(at = r, due = Some(Due(dueFrontier, r))))

  /** Append round `d.round`'s committed delta and fold it into the sketch. */
  def add(d: Delta): SeenSet = {
    val s = copy(window = window.copy(deltas = window.deltas :+ d, at = d.round))
    // a window that no TTL or due set moves serves the next round as is:
    // read it here, on the caller's (bookkeeping) thread, instead of in
    // the next round's critical path
    if (window.ttl.isEmpty && window.due.isEmpty) s.window.all
    s.copy(sketch = sketch.add(window.spark.read.parquet(d.path), s))
  }

  /** Manifest metrics of the sketch path. */
  def metrics: Map[String, Double] = sketch.metrics
}

object SeenSet {
  final case class Delta(round: Int, path: String, rows: Long)
  /** The adaptive-recrawl due frontier frozen at round `frozenAt`. */
  final case class Due(frontier: DataFrame, frozenAt: Int)

  /** Deltas `deltas` seen from round `at`. The DataFrames are built once
    * per window value, so each round reads its window once. */
  final case class Window(spark: SparkSession, deltas: Vector[Delta], ttl: Option[Int],
                          at: Int, due: Option[Due]) {
    def active: Vector[Delta] = ttl.fold(deltas)(t => deltas.filter(d => at - d.round <= t))
    def count: Long = active.map(_.rows).sum
    lazy val all: DataFrame = {
      val paths = active.map(_.path)
      if (paths.isEmpty) {
        import spark.implicits._
        Seq.empty[(Long, String)].toDF("url_hash", "url")
      } else spark.read.parquet(paths: _*).select("url_hash", "url")
    }
    /** `all` minus the still-due urls (due AND not refetched since the freeze). */
    lazy val exact: DataFrame = due match {
      case None => all
      case Some(Due(frontier, frozenAt)) =>
        val since = deltas.filter(_.round >= frozenAt).map(_.path)
        val stillDue =
          if (since.isEmpty) frontier.select("url_hash")
          else frontier.select("url_hash")
            .join(spark.read.parquet(since: _*).select("url_hash"), Seq("url_hash"), "left_anti")
        all.join(stillDue, Seq("url_hash"), "left_anti")
    }
  }

  /** The seen set a crawl starts (or resumes) round `at` with: `deltas`
    * are the committed rounds' seen deltas, the sketch is built over the
    * active window once it holds more than `bloomThreshold` urls
    * (sharded files always cover the full window: a shard gap would be a
    * false negative). */
  def open(spark: SparkSession, cfg: Scheduler.Config, workDir: String, bloomThreshold: Long,
           deltas: Vector[Delta], at: Int, due: Option[Due]): SeenSet = {
    val w = Window(spark, deltas, cfg.seenTtlRounds, at, due)
    val n = w.count
    // sized for growth; rebuilt (amortized, geometric) when outgrown
    val cap = math.max(bloomThreshold * 8, n * 4).max(1024L)
    val engaged = n > bloomThreshold
    val sketch = cfg.bloomShards match {
      case Some(s) =>
        val sh = ShardedBloom.Shards(s"$workDir/bloom_shards", s,
          itemsPerShard = math.max(1024L, cap / s), fpp = 0.03)
        // rebuilt from the committed window: a kill between commit and
        // shard-add can otherwise lose a delta
        ShardedBloom.clear(sh.dir)
        if (n > 0) ShardedBloom.add(w.exact, sh)
        ShardedSketch(sh)
      case None if cfg.seenSketch == "cuckoo" =>
        CuckooSketch(bloomThreshold, cap,
          if (engaged) Some(CuckooFilter.build(w.exact, cap)) else None,
          cfg.seenTtlRounds, deletedThrough = cfg.seenTtlRounds.fold(-1)(t => at - t - 1),
          expiredDeletes = 0L, expiryRebuilds = 0L)
      case None =>
        BloomSketch(bloomThreshold, cap,
          if (engaged) Some(Frontier.buildBloom(w.exact, cap)) else None)
    }
    SeenSet(w, sketch)
  }
}

/** The prefilter contract the three sketch paths share. */
sealed trait SeenSketch {
  /** `candidates` minus `exact`: rows the sketch rules out skip the join. */
  def notSeen(candidates: DataFrame, exact: DataFrame): DataFrame
  /** Fold a committed `delta` in; `seen` already holds it. */
  def add(delta: DataFrame, seen: SeenSet): SeenSketch
  /** Retire rounds that left `seen`'s TTL window. */
  def expire(seen: SeenSet): SeenSketch = this
  def metrics: Map[String, Double] = Map.empty
}

/** One driver-built sketch broadcast to the probe side, engaged past
  * `threshold` seen urls: (re)built over the window when absent or over
  * half of `cap` (geometric growth), otherwise the delta's own sketch
  * absorbs the current one — mergeInPlace only mutates its receiver, so
  * the published sketch stays untouched. */
sealed abstract class SingleSketch[S] extends SeenSketch {
  def threshold: Long
  def cap: Long
  def sketch: Option[S]
  protected def build(df: DataFrame, cap: Long): S
  protected def merge(delta: DataFrame, cur: S): S
  /** This sketch path holding `s` at capacity `cap`; `rebuiltAt` is the
    * round of a rebuild over the window. */
  protected def updated(cap: Long, s: S, rebuiltAt: Option[Int]): SeenSketch

  def add(delta: DataFrame, seen: SeenSet): SeenSketch = {
    val n = seen.count
    if (n <= threshold) this
    else sketch match {
      case Some(cur) if n <= cap / 2 => updated(cap, merge(delta, cur), None)
      case _ =>
        val c = math.max(n * 4, cap)
        updated(c, build(seen.window.all, c), Some(seen.window.at))
    }
  }
}

/** One broadcast Bloom filter. */
final case class BloomSketch(threshold: Long, cap: Long, sketch: Option[BloomFilter])
    extends SingleSketch[BloomFilter] {
  def notSeen(candidates: DataFrame, exact: DataFrame): DataFrame =
    Frontier.notSeen(candidates, exact, sketch)
  protected def build(df: DataFrame, cap: Long): BloomFilter = Frontier.buildBloom(df, cap)
  protected def merge(delta: DataFrame, cur: BloomFilter): BloomFilter =
    Frontier.buildBloom(delta, cap).mergeInPlace(cur)
  protected def updated(cap: Long, s: BloomFilter, rebuiltAt: Option[Int]): SeenSketch =
    copy(cap = cap, sketch = Some(s))
}

/** Per-hash-range Bloom FILES in the work dir (the 10^10 path): no
  * broadcast, every delta added from round 0, publish generation-fenced. */
final case class ShardedSketch(shards: ShardedBloom.Shards) extends SeenSketch {
  def notSeen(candidates: DataFrame, exact: DataFrame): DataFrame =
    ShardedBloom.notSeen(candidates, exact, shards)

  def add(delta: DataFrame, seen: SeenSet): SeenSketch = {
    ShardedBloom.add(delta, shards)
    this
  }
}

/** A deletable single sketch: under a TTL, rounds that leave the window
  * are DELETED from a copy (O(expired delta + slot-array memcpy)) instead
  * of accumulating as stale positives until a rebuild. A missing delta
  * file (snapshot expire dropped it), a not-found delete (bookkeeping
  * drift) or a saturated sketch falls back to a rebuild from the window;
  * deletes only ever remove rounds OUTSIDE the exact window, so neither
  * path can introduce a false negative. `deletedThrough` is the last
  * round whose delta is already absent from the sketch; the two counters
  * are the manifest's proof of which path carried expiry. */
final case class CuckooSketch(threshold: Long, cap: Long, sketch: Option[CuckooFilter],
                              ttl: Option[Int], deletedThrough: Int,
                              expiredDeletes: Long, expiryRebuilds: Long)
    extends SingleSketch[CuckooFilter] {
  def notSeen(candidates: DataFrame, exact: DataFrame): DataFrame =
    Frontier.notSeenCuckoo(candidates, exact, sketch)
  protected def build(df: DataFrame, cap: Long): CuckooFilter = CuckooFilter.build(df, cap)
  protected def merge(delta: DataFrame, cur: CuckooFilter): CuckooFilter =
    CuckooFilter.buildWithBuckets(delta, cur.numBuckets).mergeInPlace(cur)
  // a rebuild over the window holds no expired round
  protected def updated(cap: Long, s: CuckooFilter, rebuiltAt: Option[Int]): SeenSketch =
    copy(cap = cap, sketch = Some(s), deletedThrough =
      (for (t <- ttl; at <- rebuiltAt) yield at - t - 1).getOrElse(deletedThrough))

  override def expire(seen: SeenSet): SeenSketch = (ttl, sketch) match {
    case (Some(t), Some(cf)) =>
      val at = seen.window.at
      val expiring = seen.window.deltas.filter(d => d.round > deletedThrough && at - d.round > t)
      if (expiring.isEmpty) this
      else {
        val copied = cf.copySketch()
        val through = math.max(deletedThrough, at - t - 1)
        (if (copied.saturated) None else deleteAll(copied, expiring, seen.window.spark)) match {
          case Some(n) => copy(sketch = Some(copied), deletedThrough = through,
            expiredDeletes = expiredDeletes + n)
          case None =>
            val c = math.max(seen.count * 4, cap)
            copy(cap = c, sketch = Some(build(seen.exact, c)),
              deletedThrough = through, expiryRebuilds = expiryRebuilds + 1L)
        }
      }
    case _ => this
  }

  /** Delete every key of `expiring` from `cf`; None at the first missing
    * file or failed delete. */
  private def deleteAll(cf: CuckooFilter, expiring: Seq[SeenSet.Delta],
                        spark: SparkSession): Option[Long] =
    expiring.foldLeft(Option(0L)) { (acc, d) =>
      acc.flatMap { n =>
        if (!new java.io.File(d.path).exists()) None
        else {
          val keys = spark.read.parquet(d.path).select(col("url_hash"))
            .as[Long](Encoders.scalaLong).toLocalIterator().asScala
          var deleted = 0L
          if (keys.forall(k => cf.delete(k) && { deleted += 1; true })) Some(n + deleted) else None
        }
      }
    }

  override def metrics: Map[String, Double] = Map(
    "cuckoo_expired_deletes" -> expiredDeletes.toDouble,
    "cuckoo_expiry_rebuilds" -> expiryRebuilds.toDouble)
}
