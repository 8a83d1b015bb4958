package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{textTokens, tokenize}
import graft.functions.expr.SearchExprs.{search_features, search_score, search_stats}

/** Full-text relevance search — the Spark-native re-expression of the
  * reference's Elasticsearch query surface (SURVEY §2.G).
  *
  * Reference query (SearchBizcard/es_search_bizcard.py:59-84): a `bool`
  * query with an optional `multi_match` must-clause over fields
  * `name^3, company, job_title, addr`, an optional non-scoring `term`
  * filter on `owner`, top-`limit` by `_score` desc.
  *
  * ES's BM25 internals are not observable from the reference (no pinned
  * scores anywhere — README.md:103-147 shows shapes only), so we declare
  * a deterministic TF-IDF (SURVEY §7.3):
  *
  *   score(doc) = Σ_field boost_f · Σ_{t ∈ query} tf(t, f, doc) · idf(t, f)
  *   idf(t, f)  = ln(1 + (N − df + 0.5) / (df + 0.5))      (BM25-style idf)
  *
  * with case-insensitive whitespace tokenization. This keeps the
  * reference's boost intent (name 3×) with fully reproducible scores
  * that a SQL oracle can recompute.
  *
  * Scale posture: [[search]] reads the corpus twice and shuffles no
  * postings. One global aggregate collects N, the filtered count, Σdl
  * per field and df per (field, term) — a few dozen numbers at any
  * corpus size. One scoring scan then scores each row on its own and
  * feeds a `TakeOrderedAndProject` top-k, so there is no explode, no
  * join and no hash exchange. Each scan evaluates one native expression
  * ([[graft.functions.expr.SearchExprs]]) that tokenizes every field
  * once per row, with the query's terms and statistics held in the
  * expression object: the plans, their generated code and their explain
  * strings are the same for every query over the same fields, so the
  * planning cost does not grow with the query's terms. Precondition:
  * `idCol` is a key — each row is scored as its own document, so rows
  * sharing an id would be ranked apart, not as one doc. Every table the
  * engine serves is LWW-merged on its id, which makes the id a key.
  */
object Search {

  /** Per-(doc, term) term frequencies for one text field.
    * `posexplode`-free: tf is a plain count after explode.
    */
  private def termFreq(docs: DataFrame, idCol: String, field: String,
                       queryTerms: Seq[String]): DataFrame =
    docs
      .select(col(idCol).as("_doc"), explode(tokenize(col(field))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("_doc", "term")
      .agg(count(lit(1)).as("tf"))

  /** idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) over one field. */
  private def idf(tf: DataFrame, n: Long): DataFrame =
    tf.groupBy("term")
      .agg(countDistinct(col("_doc")).as("df"))
      .select(col("term"),
        log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          .as("idf"))

  /** Score one text field for the given query terms: returns
    * (_doc, fscore) with fscore = Σ_t tf·idf, rows only for docs with at
    * least one hit (ES semantics: non-matching docs score 0 and are kept
    * only if another field matches).
    */
  def scoreField(docs: DataFrame, idCol: String, field: String,
                 queryTerms: Seq[String]): DataFrame = {
    val n = docs.count() // one cheap metadata-only count per scored field
    val tf = termFreq(docs, idCol, field, queryTerms)
    val idfs = broadcast(idf(tf, n))
    tf.join(idfs, "term")
      .groupBy("_doc")
      .agg(sum(col("tf") * col("idf")).as("fscore"))
  }

  /** BM25 relevance over one text field — the scorer Elasticsearch
    * actually runs under the reference's `multi_match`
    * (es_search_bizcard.py:65-68; ES default similarity since 5.0):
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * with the same BM25 idf the TF-IDF path already uses. Unlike
    * [[scoreField]], term frequency saturates (a 50-hit doc is not 50×
    * a 1-hit doc) and long documents are penalized toward the corpus
    * mean length — the two effects that make BM25 the default.
    *
    * Determinism across engines: dl is an exact integer token count;
    * Σdl over the corpus is an exact integer-valued double sum (order
    * independent below 2^53), so `avgdl` is one IEEE division — the
    * oracle recomputes it bit-for-bit. Per-(doc, term) scores are a
    * fixed parenthesized IEEE expression; only the ≤|query|-term final
    * sum is order-sensitive, absorbed by 4-decimal rounding (the
    * qG1/qG3 precedent).
    *
    * Scale shape: same as [[scoreField]] — explode → two hash aggs →
    * broadcast idf join — plus one narrow (doc, length) projection
    * joined back on the doc key; avgdl is a two-scalar aggregate to
    * the driver (constant-size at any corpus scale).
    */
  def bm25(docs: DataFrame, idCol: String, field: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
           numDocs: Option[Long] = None): DataFrame = {
    val lens = docs.select(col(idCol).as("_doc"),
      size(tokenize(col(field))).cast("double").as("dl"))
    val agg = lens.agg(sum(col("dl")).as("s"), count(lit(1)).as("c")).head()
    // degenerate corpora: empty docs → sum is NULL; all-empty-text →
    // Σdl = 0 and dl/avgdl would be 0/0 = NaN. avgdl = 1.0 is a safe
    // identity there (every dl is 0, so the length term is just b·0).
    val (totLen, n) =
      (if (agg.isNullAt(0)) 0.0 else agg.getDouble(0), agg.getLong(1))
    val avgdl = if (n == 0L || totLen == 0.0) 1.0 else totLen / n
    val tf = termFreq(docs, idCol, field, queryTerms)
    val idfs = broadcast(idf(tf, numDocs.getOrElse(n)))
    tf.join(idfs, "term").join(lens, "_doc")
      .select(col("_doc"),
        (col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))).as("tscore"))
      .groupBy("_doc")
      .agg(sum(col("tscore")).as("_score"))
  }

  /** Multi-field boosted search over a document table.
    *
    * @param fields   (fieldName, boost) pairs — the reference uses
    *                 name^3, company^1, job_title^1, addr^1
    *                 (es_search_bizcard.py:65-68).
    * @param ownerFilter optional exact, non-scoring filter
    *                 (es_search_bizcard.py:72-73 `term` in filter context)
    * @param aliveCol optional soft-delete guard: is_alive = 1
    *                 (upsert_bizcard_to_es.py:71, README.md:97)
    * @param numDocs  corpus size N for the idf. Default: the number of
    *                 live docs (`aliveCol` applied, `ownerFilter` not),
    *                 counted in the statistics pass at no extra job —
    *                 ES's semantics, idf over the whole index, unaffected
    *                 by filter context. Pass a value to override it.
    * @param scorer   "tfidf" (the declared reproducible scorer, qG1/qG3)
    *                 or "bm25" — the scorer ES actually runs under the
    *                 reference's multi_match (es_search_bizcard.py:62-70;
    *                 default similarity since ES 5.0), with per-FIELD
    *                 dl/avgdl as Lucene computes it (each field is its
    *                 own inverted index with its own length norms).
    * @param combine  cross-field combination: "sum" (ES most_fields —
    *                 Σ_field boost·fieldScore) or "max" (ES best_fields,
    *                 the multi_match DEFAULT the reference relies on:
    *                 score = max_field boost·fieldScore, so a doc
    *                 matching fully in one field outranks one spreading
    *                 the same terms thinly across many).
    * @param tieBreaker best_fields softening (ES `tie_breaker`, only
    *                 meaningful with combine = "max"): score =
    *                 best + tieBreaker · Σ(other fields) — 0.0 (the ES
    *                 default) is pure best_fields, 1.0 degenerates to
    *                 the sum form; in between, secondary-field matches
    *                 break ties between docs with equal best fields.
    */
  def search(docs: DataFrame, idCol: String, fields: Seq[(String, Double)],
             query: String, limit: Int,
             ownerFilter: Option[(String, String)] = None,
             aliveCol: Option[String] = None,
             numDocs: Option[Long] = None,
             scorer: String = "tfidf",
             combine: String = "sum",
             k1: Double = 1.2, b: Double = 0.75,
             tieBreaker: Double = 0.0): DataFrame = {
    require(Set("tfidf", "bm25")(scorer), s"unknown scorer $scorer")
    require(Set("sum", "max")(combine), s"unknown combine $combine")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tie_breaker must be in [0, 1], got $tieBreaker")
    val queryTerms = textTokens(query)
    require(queryTerms.nonEmpty || ownerFilter.nonEmpty,
      "at least one of query / owner filter required (es_search_bizcard.py:75)")
    require(fields.nonEmpty, "at least one scored field required")
    val alive = aliveCol.fold(docs)(c => docs.filter(col(c) === 1))
    val inFilter = ownerFilter.fold(lit(true)) { case (c, v) => col(c) === v }

    // owner-filter-only query: same schema as the scored path (_score
    // present, 0.0 — ES filter-context semantics) and a deterministic
    // order so limit() is stable across runs/engines
    if (queryTerms.isEmpty)
      return alive.filter(inFilter).withColumn("_score", lit(0.0))
        .orderBy(asc(idCol)).limit(limit)

    // Two scans, no join and no posting shuffle. Pass 1 is ONE global
    // aggregate that brings the corpus statistics to the driver: N,
    // the filtered count c, Σdl per field, df per (field, term). Pass 2
    // scores each row on its own, with idf and avgdl as constants built
    // by the same formulas, and keeps the top-k. Each pass evaluates one
    // native expression that tokenizes every field once per row; the
    // query's constants ride in the expression object, so both stages
    // compile once per field list, not once per query or term count.
    val terms = queryTerms.distinct
    val texts = fields.map { case (f, _) => col(f) }
    val stats = alive
      .agg(count(lit(1)), count(when(inFilter, 1)),
        search_stats(when(inFilter, search_features(texts, terms)), fields.size, terms.size))
      .head()
    val n = numDocs.getOrElse(stats.getLong(0))
    val c = stats.getLong(1)
    val sums = stats.getSeq[Long](2)
    val (dlSums, df) = sums.splitAt(fields.size)
    // idf(t, f) = ln(1 + (N − df + 0.5) / (df + 0.5)) with the operation
    // order and the StrictMath.log of Spark's `log` column, so it equals
    // the idf column of [[scoreField]] / [[bm25]] bit for bit
    def idf(d: Long): Double =
      StrictMath.log(1.0 + (n.toDouble - d + 0.5) / (d + 0.5))
    // per-field avgdl over the filtered corpus; the all-empty-field
    // guard (Σdl = 0 → avgdl 1.0) mirrors [[bm25]]'s
    val avgdl = dlSums.map(s => if (s == 0L || c == 0L) 1.0 else s.toDouble / c)
    val score = search_score(texts, terms, fields.map(_._2), df.map(idf), avgdl,
      scorer, combine, k1, b, tieBreaker)

    // rank on the score ROUNDED to the engine's 4-decimal precision
    // (raw `_score` stays in the output — callers own its precision):
    // the raw float sum's order of terms can vary between plans, so a
    // rounded-score tie at the limit boundary would otherwise flip
    // which doc survives run-to-run (the qG5/SearchIndex.query lesson
    // — same fixed total order the oracles replay). A doc without a hit
    // scores null and sorts last, so dropping it after the top-k keeps
    // exactly the top-k hits; a filter before it would be pushed below
    // the projection and score every row twice.
    alive.filter(inFilter)
      .withColumn("_score", score)
      .orderBy(round(col("_score"), 4).desc, col(idCol).asc)
      .limit(limit)
      .filter(col("_score").isNotNull)
  }
}
