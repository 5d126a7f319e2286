package graft.rag

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pluggable batched text encoder — the seam where a real embedding
  * model plugs in (the reference's SentenceTransformer/OpenAI backends,
  * /root/reference/RAGnificent/rag/embedding.py:115-304). The Spark-side
  * contract is the part that matters at scale: executors pull batches of
  * `batchSize` texts through `encodeBatch` inside mapPartitions, so a
  * real model gets contiguous batches (GPU-friendly) and the driver never
  * sees a vector. The sandbox ships only the deterministic stub below —
  * no model runtime exists here — but swapping in an ONNX/JNI encoder
  * changes ONE class, none of the plumbing. */
trait BatchEncoder extends Serializable {
  def name: String
  def dim: Int
  def encodeBatch(texts: Array[String]): Array[Array[Float]]
}

/** Deterministic stub encoder: hashing-trick token counts, L2-normalized
  * (the same semantics as GraftFunctions.hash_embedding — a stand-in for
  * SimpleCountEmbedding, embedding.py:486-548). */
final case class HashBatchEncoder(dim: Int) extends BatchEncoder {
  override def name: String = s"hash-$dim"
  override def encodeBatch(texts: Array[String]): Array[Array[Float]] =
    texts.map { t =>
      val vec = new Array[Float](dim)
      graft.chunk.Chunker.pySplit(if (t == null) "" else t.toLowerCase(Locale.ROOT)).foreach { tok =>
        val h = graft.functions.Sketch.hashString(
          org.apache.spark.unsafe.types.UTF8String.fromString(tok), 42L)
        val b = ((h % dim) + dim) % dim
        vec(b.toInt) += 1.0f
      }
      val norm = math.sqrt(vec.map(x => x.toDouble * x).sum)
      if (norm > 0) vec.map(x => (x / norm).toFloat) else vec
    }
}

/** The embed stage: sha256 content-addressed cache join (J5; the
  * reference's `.npy` cache keyed by compute_text_hash,
  * embedding.py:63-112) + batched encoding of the misses. */
object Embedder {

  /** compute_text_hash parity (embedding.py:63-65): sha256 hex. */
  def textSha(text: Column): Column = sha2(text, 256)

  /** Embed `df(textCol)` against a cache table `(text_sha, embedding)`.
    *
    * Plan shape: ONE pass over df's lineage — sha projection + cache
    * left-join, materialized because the joined result has two
    * consumers (the miss-side distinct-encode branch and the final
    * join-back). r2 forked the un-materialized `withSha` three ways, so
    * a 10^9-chunk upstream derivation would have re-run per consumer.
    * Materialization is an EAGER `localCheckpoint`, not `persist`: a
    * persisted block pins executor storage until someone calls
    * unpersist, and this function has no way to know when its caller's
    * last action ran — every embedWithCache in a long-lived session
    * (RagPipeline runs, the bench probe loop) leaked blocks until
    * executor exit. Checkpoint blocks are registered with the
    * ContextCleaner instead: when the returned lineage is dropped, the
    * blocks are released at the next GC — no caller-side handle to
    * manage (RagSpec asserts both consumers scan the checkpoint RDD).
    * Misses are DISTINCT texts
    * (encode each unique text once, like the content-addressed cache
    * would) encoded in `batchSize` groups inside mapPartitions, then
    * joined back. Returns df + text_sha + embedding + from_cache.
    * `newEntries(result)` gives the rows to upsert back into the cache.
    *
    * `materialize = false` opts out (callers that checkpoint the
    * upstream themselves, e.g. a snapshot-committed chunk table). */
  def embedWithCache(df: DataFrame, textCol: String, cache: DataFrame,
                     encoder: BatchEncoder, batchSize: Int = 64,
                     materialize: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cacheTbl = cache.select(col("text_sha"), col("embedding").as("_cached_emb"))
    val joined0 = df.withColumn("text_sha", textSha(col(textCol)))
      .join(cacheTbl, Seq("text_sha"), "left")
    val joined =
      if (materialize) joined0.localCheckpoint(true) // eager; blocks GC'd with the lineage
      else joined0
    val missTexts = joined.filter(col("_cached_emb").isNull)
      .select(col("text_sha"), col(textCol).as("_t"))
      .dropDuplicates("text_sha")
    val encoded = missTexts.as[(String, String)].mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val embs = encoder.encodeBatch(batch.map(_._2).toArray)
        batch.iterator.zip(embs.iterator).map { case ((sha, _), e) => (sha, e) }
      }
    }.toDF("text_sha", "_enc_emb")
    joined
      .join(encoded, Seq("text_sha"), "left")
      .withColumn("from_cache", col("_cached_emb").isNotNull)
      .withColumn("embedding", coalesce(col("_cached_emb"), col("_enc_emb")))
      .drop("_cached_emb", "_enc_emb")
  }

  /** Cache rows produced by this embed pass (miss side only) — upsert
    * these into the cache table for the next run. */
  def newEntries(embedded: DataFrame): DataFrame =
    embedded.filter(!col("from_cache"))
      .select(col("text_sha"), col("embedding"))
      .dropDuplicates("text_sha")
}
