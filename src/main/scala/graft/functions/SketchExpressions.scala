package graft.functions

import java.util.Locale

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass native expressions for the dedup sketches.
  *
  * Why not `transform`/`aggregate` higher-order built-ins: Spark's HOFs
  * are themselves CodegenFallback (interpreted), and interpreted mode
  * performs NO common-subexpression elimination — an m-way minhash
  * written as m HOF trees re-tokenizes the document m times per row.
  * These expressions tokenize once and compute all signatures in one
  * tight loop (measured ~100x on the sf0.1 documents table). */
object Sketch {

  /** xxhash64 of a UTF-8 string slice with seed 42 (matches Spark's
    * xxhash64() builtin on strings). */
  def hashString(s: UTF8String, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(s, StringType, seed)

  def hashLong(v: Long, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(v, LongType, seed)

  /** Lowercased whitespace tokens of a text. */
  def tokens(text: String): Array[String] =
    graft.chunk.Chunker.pySplit(text.toLowerCase(Locale.ROOT))

  /** Word w-shingle strings. */
  def shingleStrings(text: String, w: Int): Array[String] = {
    val ts = tokens(text)
    if (ts.length < w) return Array.empty
    Array.tabulate(ts.length - w + 1)(i => ts.slice(i, i + w).mkString(" "))
  }
}

/** minhash_sig(text, w, m) → array<bigint>: m minhash values over word
  * w-shingles. One tokenize pass, one string hash per shingle, m cheap
  * long-remixes per shingle. */
case class MinhashSig(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(text: Any, wAny: Any, mAny: Any): Any = {
    val w = wAny.asInstanceOf[Int]
    val m = mAny.asInstanceOf[Int]
    val shingles = Sketch.shingleStrings(text.toString, w)
    val sig = Array.fill(m)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val base = Sketch.hashString(UTF8String.fromString(shingles(i)), 42L)
      var j = 0
      while (j < m) {
        val h = Sketch.hashLong(base, j.toLong)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig.map(Long.box).toArray[Any])
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): MinhashSig =
    copy(f, s, t)
  override def prettyName: String = "minhash_sig"
}

/** simhash64(text) → bigint: 64-bit SimHash over lowercased whitespace
  * tokens (one pass, bit votes in a local array). */
case class Simhash64(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(text: Any): Any = {
    val ts = Sketch.tokens(text.toString)
    val votes = new Array[Int](64)
    var i = 0
    while (i < ts.length) {
      val h = Sketch.hashString(UTF8String.fromString(ts(i)), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
  override protected def withNewChildInternal(c: Expression): Simhash64 = copy(c)
  override def prettyName: String = "simhash64"
}

/** cosine_sim(a, b) over two array<float|double> columns, one pass. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  private def valueAt(arr: ArrayData, et: DataType, i: Int): Double = et match {
    case FloatType  => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case _          => arr.get(i, et).asInstanceOf[Number].doubleValue()
  }
  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    val aet = left.dataType.asInstanceOf[ArrayType].elementType
    val bet = right.dataType.asInstanceOf[ArrayType].elementType
    val n = math.min(aa.numElements(), bb.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = valueAt(aa, aet, i)
      val y = valueAt(bb, bet, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim = copy(l, r)
  override def prettyName: String = "cosine_sim"
}

/** hyperplane_bucket(vec, planes, seed) → bigint: sign sketch of
  * `planes` deterministic pseudo-gaussian hyperplanes (Box–Muller over
  * splitmix64 uniforms keyed by (plane, dim, seed)). */
case class HyperplaneBucket(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Double]]]()

  private def planesFor(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    planeCache.computeIfAbsent((nPlanes, dim, seed), _ => {
      Array.tabulate(nPlanes) { p =>
        Array.tabulate(dim) { j =>
          val u1 = (graft.synth.SyntheticWeb.mix64(p * 7919L + j * 104729L + seed) >>> 11) * (1.0 / (1L << 53)) + 1e-12
          val u2 = (graft.synth.SyntheticWeb.mix64(p * 104729L + j * 7919L + seed + 1) >>> 11) * (1.0 / (1L << 53)) + 1e-12
          math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
        }
      }
    })

  override def nullSafeEval(vec: Any, planesAny: Any, seedAny: Any): Any = {
    val arr = vec.asInstanceOf[ArrayData]
    val et = first.dataType.asInstanceOf[ArrayType].elementType
    val nPlanes = planesAny.asInstanceOf[Int]
    val seed = seedAny.asInstanceOf[Number].longValue()
    val dim = arr.numElements()
    val ps = planesFor(nPlanes, dim, seed)
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var j = 0
      val plane = ps(p)
      while (j < dim) {
        val x = et match {
          case FloatType  => arr.getFloat(j).toDouble
          case DoubleType => arr.getDouble(j)
          case _          => arr.get(j, et).asInstanceOf[Number].doubleValue()
        }
        dot += x * plane(j)
        j += 1
      }
      if (dot >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): HyperplaneBucket =
    copy(f, s, t)
  override def prettyName: String = "hyperplane_bucket"
}

/** jaccard_shingles(text_a, text_b, w) → double: exact word-w-shingle
  * Jaccard computed with hash sets in one pass (for the verify stage —
  * avoids materializing shingle-array columns through a shuffle). */
case class JaccardShingles(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, wAny: Any): Any = {
    val w = wAny.asInstanceOf[Int]
    val sa = Sketch.shingleStrings(a.toString, w).toSet
    val sb = Sketch.shingleStrings(b.toString, w).toSet
    val uni = (sa ++ sb).size
    if (uni == 0) 0.0 else (sa & sb).size.toDouble / uni
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): JaccardShingles =
    copy(f, s, t)
  override def prettyName: String = "jaccard_shingles"
}

/** hash_embedding(text, dim) → array<double>: hashing-trick count
  * embedding, L2-normalized (deterministic stand-in for the reference's
  * SimpleCountEmbedding, rag/embedding.py:486-548, with a fixed hashed
  * vocabulary — the distributed no-state variant). */
case class HashEmbedding(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(text: Any, dimAny: Any): Any = {
    val dim = dimAny.asInstanceOf[Int]
    val vec = new Array[Double](dim)
    Sketch.tokens(text.toString).foreach { tok =>
      val h = Sketch.hashString(UTF8String.fromString(tok), 42L)
      vec(java.lang.Math.floorMod(h, dim.toLong).toInt) += 1.0
    }
    var norm = 0.0
    var i = 0
    while (i < dim) { norm += vec(i) * vec(i); i += 1 }
    if (norm > 0) {
      val n = math.sqrt(norm)
      i = 0
      while (i < dim) { vec(i) /= n; i += 1 }
    }
    new GenericArrayData(vec.map(Double.box).toArray[Any])
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HashEmbedding = copy(l, r)
  override def prettyName: String = "hash_embedding"
}
