package graft.search

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 keyword scoring — the lexical half of hybrid retrieval. The
  * reference's rerank formula (W6, search.py:148-243) already blends a
  * keyword-overlap component into vector results; BM25 is the canonical
  * corpus-statistics form of that signal, and with it the engine serves
  * the full hybrid-search pattern: BM25 candidates ∪ vector candidates
  * → W6 rerank.
  *
  * Scoring (Lucene/Robertson form):
  *
  *   idf(t)      = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
  *   score(d, q) = Σ_{t ∈ q} idf(t) · tf_td·(k1+1) /
  *                 (tf_td + k1·(1 - b + b·dl_d/avgdl))
  *
  * Cross-engine exactness (the float discipline every operator here
  * follows — see `sample/Dsir.scala`, `sample/Sampling.scala`):
  *   - idf per query term is computed DRIVER-side from the collected
  *     (term, df) rows (bounded: one row per query term), rounded to 6
  *     decimals — the one transcendental (ln) never runs distributed
  *     and its cross-engine ulp drift dies in the rounding granule;
  *   - every other operation is IEEE +,-,*,/ in a PINNED evaluation
  *     order an independent engine can mirror literally;
  *   - the per-doc sum LEFT-FOLDS contributions in ascending term
  *     order (`sort_array` + `aggregate`), so the score is one
  *     deterministic double — no partial-aggregation association drift.
  *
  * Scale shape: the tf branch prunes the token stream MAP-SIDE to the
  * query terms (an `isin` over literals) before any shuffle; tf and dl
  * are map-side-combinable aggregates (a doc's own tokens bound every
  * key); df is an aggregate over the already-tiny tf table; no window,
  * no all-pairs. Per-query cost: the pruned tf pass PLUS a per-doc
  * length aggregation — the latter is query-independent, so a 100 TB
  * deployment precomputes it once: inject scalar stats via
  * [[stats]]/[[Stats]] AND the (doc_id, dl) table via `docLengths`,
  * and scoring a query is one pruned scan joined to the stored length
  * table — the counts-injection pattern of `Sampling.temperatureMix`. */
object Bm25 {

  /** Corpus statistics for [[score]]: total docs, average token length,
    * and document frequency per query term (terms absent from `df` have
    * df = 0). Computed once per corpus, reused across queries. */
  final case class Stats(nDocs: Long, avgdl: Double, df: Map[String, Long])

  private def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)

  private def docLengths(toks: DataFrame): DataFrame =
    toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))

  /** Normalize a query like the token stream: lowercase, trim, drop
    * blanks, dedup, ascending order (the left-fold order of [[score]]). */
  def normalizeQuery(query: Seq[String]): Seq[String] =
    query.map(_.trim.toLowerCase(Locale.ROOT)).filter(_.nonEmpty).distinct.sorted

  /** One-pass corpus statistics for `query`'s terms. */
  def stats(docs: DataFrame, idCol: String, textCol: String,
            query: Seq[String]): Stats = {
    val terms = normalizeQuery(query)
    require(terms.nonEmpty, "query has no usable terms")
    val toks = tokens(docs, idCol, textCol)
    val dl = docLengths(toks)
    val Array(g) = dl.agg(count(lit(1)).as("n"), sum("dl").as("s")).collect()
    val n = g.getLong(0)
    require(n > 0, "empty corpus")
    val avgdl = g.getLong(1).toDouble / n
    val dfRows = toks.filter(col("token").isin(terms: _*))
      .select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Stats(n, avgdl, dfRows)
  }

  /** Per-doc token lengths (doc_id, dl) — the query-independent half of
    * the corpus statistics; persist it once and pass to [[score]]. */
  def docLengthTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docLengths(tokens(docs, idCol, textCol))

  /** BM25 scores for every document matching ≥1 query term: (doc_id,
    * n_terms_hit, score), score > 0, one row per matching doc. Pass a
    * precomputed [[Stats]] (scalars) and `docLengths`
    * ([[docLengthTable]] output) to skip both corpus aggregations —
    * the 100 TB path; by default both derive from `docs` in-plan. */
  def score(docs: DataFrame, idCol: String, textCol: String,
            query: Seq[String], k1: Double = 1.2, b: Double = 0.75,
            corpusStats: Option[Stats] = None,
            docLengths: Option[DataFrame] = None): DataFrame = {
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0 and 0 <= b <= 1, got ($k1, $b)")
    val terms = normalizeQuery(query)
    require(terms.nonEmpty, "query has no usable terms")
    val st = corpusStats.getOrElse(stats(docs, idCol, textCol, query))
    require(st.nDocs > 0 && st.avgdl > 0, s"degenerate corpus stats $st")
    // driver-side idf in a fixed evaluation order, 6-decimal granule
    // (ln ulp drift is ~1e-16; the granule is 10 orders above it)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idf: Map[String, Double] = terms.map { t =>
      val df = st.df.getOrElse(t, 0L)
      t -> round6(math.log((st.nDocs - df + 0.5) / (df + 0.5) + 1))
    }.toMap
    val toks = tokens(docs, idCol, textCol)
    val dl = docLengths.map(_.select(col("doc_id"), col("dl")))
      .getOrElse(Bm25.docLengths(toks))
    val tf = toks.filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val idfCol: Column = terms.tail.foldLeft(
      when(col("token") === terms.head, lit(idf(terms.head)))) {
      (acc, t) => acc.when(col("token") === t, lit(idf(t)))
    }
    // pinned order: (idf * (tf*(k1+1))) / (tf + k1*((1-b) + (b*dl)/avgdl))
    val contrib = idfCol * (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(st.avgdl)))
    tf.join(dl, "doc_id")
      .select(col("doc_id"), col("token"), contrib.as("c"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        aggregate(sort_array(collect_list(struct(col("token"), col("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("score"))
  }

  /** Top-k BM25 results — `TakeOrderedAndProject` shape, ties broken by
    * doc id for a deterministic result set. */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           query: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75,
           corpusStats: Option[Stats] = None,
           docLengths: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    score(docs, idCol, textCol, query, k1, b, corpusStats, docLengths)
      .orderBy(desc("score"), asc("doc_id")).limit(k)
  }
}
