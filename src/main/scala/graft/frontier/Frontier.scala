package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.GraftFunctions
import graft.url.UrlCanonical

/** Frontier key functions + URL-seen set (J1/A8/F5).
  *
  * The reference's seen/cache key is blake2b-16(url)
  * (/root/reference/RAGnificent/core/cache.py:176-178) behind an
  * in-process dict; at 10^10-frontier scale that becomes: canonical-url
  * 64-bit hash as the partition/join key, a broadcast Bloom sketch as
  * the fast-path membership test, and an exact left_anti join as the
  * correctness backstop (Bloom false positives only ever cause an extra
  * exact check, never a wrong result). */
object Frontier {

  /** Canonical frontier key: sanitize (strip userinfo+fragment,
    * validators.py:47-79) then WHATWG-normalize. Null for invalid or
    * non-http(s) urls (validators.py:16-44 gate). */
  def canonicalKey(url: String): String = {
    if (url == null || !UrlCanonical.validate(url)) return null
    UrlCanonical.normalize(UrlCanonical.sanitize(url))
  }

  def keyHash(canonicalUrl: String): Long = GraftFunctions.url64(canonicalUrl)

  val canonicalKeyUdf = udf((u: String) => Option(canonicalKey(u)))
  val hostUdf = udf((u: String) => UrlCanonical.hostOf(u))
  val pathUdf = udf((u: String) => {
    val p = UrlCanonical.parse(u)
    if (p == null) "/" else {
      val q = if (p.query != null) "?" + p.query else ""
      (if (p.path.isEmpty) "/" else p.path) + q
    }
  })

  /** Normalized frontier columns from a raw url column: url (canonical),
    * url_hash, host. Invalid urls are dropped. */
  def withFrontierKeys(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("url", canonicalKeyUdf(col(urlCol)))
      .filter(col("url").isNotNull)
      .withColumn("url_hash", xxhash64(col("url")))
      .withColumn("host", hostUdf(col("url")))

  /** Split-path seen filter: rows whose hash the Bloom sketch rules out
    * skip the exact anti-join entirely; only possible-members join.
    * `seen` must have url_hash. At small scale (or bloom=None) this
    * degrades to a plain left_anti join. */
  def notSeen(frontier: DataFrame, seen: DataFrame, bloom: Option[BloomFilter]): DataFrame =
    splitNotSeen(frontier, seen, bloom.map { bf =>
      val b = frontier.sparkSession.sparkContext.broadcast(bf)
      h => b.value.mightContainLong(h)
    })

  /** [[notSeen]] with the cuckoo sketch as the prefilter — same split
    * (definitely-new bypasses the exact anti-join; maybe-seen pays it),
    * same no-false-negative contract, but the sketch supports the TTL
    * path's per-round DELETES (see [[CuckooFilter]]). */
  def notSeenCuckoo(frontier: DataFrame, seen: DataFrame,
                    cuckoo: Option[CuckooFilter]): DataFrame =
    splitNotSeen(frontier, seen, cuckoo.map { cf =>
      val b = frontier.sparkSession.sparkContext.broadcast(cf)
      h => b.value.mightContain(h)
    })

  /** The split itself. `mightContain` reads a broadcast sketch, so the
    * closure ships only the broadcast handle. */
  private def splitNotSeen(frontier: DataFrame, seen: DataFrame,
                           mightContain: Option[Long => Boolean]): DataFrame = {
    val exact = (df: DataFrame) => df.join(seen.select("url_hash"), Seq("url_hash"), "left_anti")
    mightContain match {
      case Some(test) =>
        val maybe = udf(test)
        frontier.filter(!maybe(col("url_hash")))
          .unionByName(exact(frontier.filter(maybe(col("url_hash")))))
      case None => exact(frontier)
    }
  }

  /** Build the Bloom sketch over the seen set. Sized from the actual
    * count; at the 10^10 design point expectedNumItems is the frontier
    * cardinality estimate and fpp trades broadcast bytes vs wasted exact
    * joins (0.03 → ~9 bits/key ≈ 11 GB at 10^10 — sharded per executor
    * range at that scale; single sketch here). */
  def buildBloom(seen: DataFrame, expectedItems: Long, fpp: Double = 0.03): BloomFilter =
    seen.stat.bloomFilter("url_hash", math.max(expectedItems, 1000L), fpp)
}
