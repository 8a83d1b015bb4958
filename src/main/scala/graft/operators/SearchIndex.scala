package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{lowerText, textTokens, tokenize}

/** Materialized inverted index — the scale path for the search surface
  * (§2.G): tokenize the corpus ONCE into a postings table, precompute
  * document frequencies, then serve every query by probing postings.
  *
  * At 100 TB the difference is structural: [[Search.search]] re-scans
  * and re-tokenizes the corpus per query; an index build is one pass,
  * after which a query touches only `|terms|` postings partitions —
  * write the postings bucketed/partitioned by term and the probe is a
  * partition-pruned scan, no full-corpus I/O. idf comes from the stats
  * table (tiny, broadcast).
  *
  * The scoring formula is identical to [[Search]] (same TF-IDF, §7.3),
  * asserted equal in tests and by the DuckDB oracle.
  */
object SearchIndex {

  /** Bucket count of the on-disk postings layout — ONE constant shared
    * by [[writeIndex]] and [[queryStored]]: a writer/prober mismatch
    * would silently prune away valid postings. */
  val IndexBuckets = 256

  /** Driver-side twin of `pmod(xxhash64(term), buckets)` (same seed 42
    * as the SQL function) for partition-pruned probes. */
  def bucketOf(term: String, buckets: Int): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType, 42L)
    ((h % buckets) + buckets) % buckets
  }

  /** One-pass index build over multiple fields.
    * @param materialize eagerly localCheckpoint the postings so that
    *        downstream consumers (stats derivation, stage writes) read
    *        materialized blocks instead of re-running the tokenize +
    *        shuffle lineage per consumer — [[mergeStored]] uses this to
    *        pay the delta tokenization once per fold, not per table.
    * @return (postings(field, term, doc, tf), stats(field, term, df), n)
    */
  def build(docs: DataFrame, idCol: String, fields: Seq[String],
            materialize: Boolean = false): (DataFrame, DataFrame, Long) = {
    val perField = fields.map { f =>
      docs.select(lit(f).as("field"), col(idCol).as("doc"),
          explode(tokenize(col(f))).as("term"))
    }
    val postings0 = perField.reduce(_ unionAll _)
      .groupBy("field", "term", "doc")
      .agg(count(lit(1)).as("tf"))
    val postings = if (materialize) postings0.localCheckpoint(true) else postings0
    val stats = postings.groupBy("field", "term")
      .agg(count(lit(1)).as("df")) // one posting row per (term, doc)
    (postings, stats, docs.count())
  }

  /** Persist the index partitioned by term-prefix bucket so query-time
    * probes prune to |terms| buckets (the partition-pruned layout named
    * above; IndexBuckets keeps directory fan-out sane at any corpus
    * size). The meta table stores the corpus size `n` (probes never
    * re-count the corpus) and `last_batch` — the replay fence for
    * [[mergeStored]]'s at-least-once callers. */
  def writeIndex(postings: DataFrame, stats: DataFrame, n: Long,
                 dir: String, batchId: Long = -1L): Unit = {
    postings
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(IndexBuckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
    stats.write.mode("overwrite").parquet(s"$dir/stats")
    stats.sparkSession.range(0, 1, 1, 1)
      .select(lit(n).as("n"), lit(batchId).as("last_batch"))
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Resolve the readable index root WITHOUT mutating: after a crashed
    * swap the live dir is missing but `<dir>__old` holds the complete
    * pre-swap index — read it in place (the same non-mutating reader
    * fallback as [[graft.streaming.CardStream.tableOrEmpty]]; the
    * WRITER restores the directory on its next merge). */
  private def readableDir(spark: SparkSession, dir: String): String = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir)) &&
        fs.exists(new org.apache.hadoop.fs.Path(dir + "__old"))) dir + "__old"
    else dir
  }

  /** (n, last_batch) from the stored meta table (crash-safe reader). */
  def readMeta(spark: SparkSession, dir: String): (Long, Long) = {
    val row = spark.read.parquet(s"${readableDir(spark, dir)}/meta")
      .select(col("n"), col("last_batch")).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Read a stored index back into the [[build]] shape (bucket column
    * stripped from postings; n from meta; `__old` fallback after a
    * crashed swap). */
  def readIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame, Long) = {
    val d = readableDir(spark, dir)
    val postings = spark.read.parquet(s"$d/postings").drop("bucket")
    val stats = spark.read.parquet(s"$d/stats")
    (postings, stats, readMeta(spark, dir)._1)
  }

  /** Incremental index maintenance — fold a new batch's index into an
    * existing one without rebuilding (the reference's ES upsert is
    * incremental, upsert_bizcard_to_es.py:77-90; at 100 TB a
    * per-batch full postings rebuild is not an option).
    *
    * `merge(build(b1), build(b2)) == build(b1 ∪ b2)` exactly, PROVIDED
    * the batches carry disjoint doc ids — the upsert-key contract
    * (route replayed/updated docs through the LWW merge upstream, or
    * delete their postings first). tf rows from disjoint docs never
    * collide, so the postings fold is a pure union; df counts add.
    * Each fold is one keyed shuffle; since both sides are written
    * bucketed by term hash, at cluster scale this becomes a per-bucket
    * merge touching only buckets the delta actually hits.
    */
  def merge(postings: DataFrame, stats: DataFrame, n: Long,
            deltaPostings: DataFrame, deltaStats: DataFrame,
            deltaN: Long): (DataFrame, DataFrame, Long) = {
    val p = postings.unionByName(deltaPostings)
      .groupBy("field", "term", "doc").agg(sum("tf").as("tf"))
    val s = stats.unionByName(deltaStats)
      .groupBy("field", "term").agg(sum("df").as("df"))
    (p, s, n + deltaN)
  }

  /** Incremental maintenance of a STORED index: build the delta batch's
    * postings, fold them into the on-disk index, and cut over with ONE
    * parent-directory swap (postings + stats + meta staged together,
    * then the shared [[graft.streaming.CardStream.swapStaged]] rename
    * tail). A per-table swap could crash between tables and leave
    * postings and stats from different index versions; the single
    * parent swap keeps the whole index one consistent version.
    *
    * Replay fence: pass the caller's micro-batch id as `batchId` —
    * at-least-once replay of an ALREADY-MERGED batch (crash after the
    * swap, before the checkpoint commit) would otherwise violate the
    * disjoint-doc-id contract and double-count every tf/df in the
    * batch. When `batchId` equals the stored `last_batch`, the fold is
    * skipped and the current corpus size returned.
    * Returns the new corpus size. */
  def mergeStored(spark: SparkSession, dir: String, newDocs: DataFrame,
                  idCol: String, fields: Seq[String],
                  batchId: Long = -1L): Long = {
    import org.apache.hadoop.fs.Path
    graft.streaming.CardStream.recoverSwap(spark, dir) // single-writer path
    val (n0, lastBatch) = readMeta(spark, dir)
    if (batchId >= 0 && batchId == lastBatch) return n0 // replayed batch
    // materialize=true: the delta tokenization is computed once; the
    // postings and stats stage writes both read its checkpoint blocks
    val (dp, ds, dn) = build(newDocs, idCol, fields, materialize = true)
    val (p, s, n) = readIndex(spark, dir)
    val (mp, ms, mn) = merge(p, s, n, dp, ds, dn)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = s"${dir}__stage"
    fs.delete(new Path(stage), true)
    // stage writes execute while the live index is still readable
    mp.withColumn("bucket", pmod(xxhash64(col("term")), lit(IndexBuckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$stage/postings")
    ms.write.mode("overwrite").parquet(s"$stage/stats")
    spark.range(0, 1, 1, 1).select(lit(mn).as("n"), lit(batchId).as("last_batch"))
      .write.mode("overwrite").parquet(s"$stage/meta")
    graft.streaming.CardStream.swapStaged(spark, dir)
    mn
  }

  /** Query the index: probe postings for the query terms, join the
    * broadcast idf table, weighted-sum per doc. The RANK KEY is the
    * score rounded to 4 decimals (the [[graft.operators
    * .GraphAnalytics.adamicAdar]] convention; the raw `_score` stays
    * in the output — callers own its precision): the raw float sum's
    * partition order is nondeterministic, so two docs whose scores
    * agree at 4 decimals could otherwise swap places at a `limit`
    * boundary run-to-run (observed: a rounded-score tie at the
    * qG5 limit-20 edge flipped with the thread count); rounding first
    * makes the (score desc, doc asc) order a fixed total order every
    * engine reproduces. */
  def query(postings: DataFrame, stats: DataFrame, n: Long,
            boosts: Seq[(String, Double)], queryText: String,
            limit: Int): DataFrame = {
    val terms = textTokens(queryText)
    require(terms.nonEmpty, "empty query")
    val boostMap = boosts.toMap
    val boostCol = boosts.foldLeft(lit(1.0)) { case (acc, (f, b)) =>
      when(col("field") === f, lit(b)).otherwise(acc) }
    val idf = stats.filter(col("term").isin(terms: _*))
      .select(col("field"), col("term"),
        log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          .as("idf"))
    postings
      .filter(col("term").isin(terms: _*) &&
        col("field").isin(boostMap.keys.toSeq: _*))
      .join(broadcast(idf), Seq("field", "term"))
      .groupBy(col("doc"))
      .agg(sum(col("tf") * col("idf") * boostCol).as("_score"))
      .orderBy(round(col("_score"), 4).desc, col("doc").asc)
      .limit(limit)
  }

  /** Probe a bucketed on-disk index (written by [[writeIndex]]) —
    * partition pruning on the term bucket keeps I/O at |terms| buckets;
    * reads fall back to `__old` after a crashed swap (non-mutating). */
  def queryStored(spark: SparkSession, dir: String, n: Long,
                  boosts: Seq[(String, Double)], queryText: String,
                  limit: Int): DataFrame = {
    val d = readableDir(spark, dir)
    val terms = textTokens(queryText)
    val postings = spark.read.parquet(s"$d/postings")
      .filter(col("bucket").isin(terms.map(bucketOf(_, IndexBuckets)): _*))
    val stats = spark.read.parquet(s"$d/stats")
    query(postings, stats, n, boosts, queryText, limit)
  }

  /** [[queryStored]] with the corpus size served from the stored meta
    * table — no per-query counting pass over the corpus. */
  def queryStored(spark: SparkSession, dir: String,
                  boosts: Seq[(String, Double)], queryText: String,
                  limit: Int): DataFrame =
    queryStored(spark, dir, readMeta(spark, dir)._1, boosts, queryText, limit)

  /** Batch search: queries arrive as a DATAFRAME of (qid, term) rows —
    * the shape of a query WORKLOAD (a more-like-this corpus sweep, a
    * recommendation batch, an eval set), where looping [[query]] would
    * launch one job per query. One term-keyed join of the query table
    * against the postings + one (qid, doc) fold serves every query in
    * a single pass; per-query top-k is the bounded-heap aggregate.
    *
    * Scoring is [[query]]'s tf·idf over the single `field`, but each
    * (term, doc) contribution quantizes to INTEGER MILLIS before the
    * fold (`round(1000·tf·idf)`) — a batch run's scores feed
    * downstream rank fusion ([[Hybrid.rrf]]) and oracles, so the sum
    * must be partition-order-independent (the [[graft.operators.Dsir]]
    * ln-quantization precedent; [[query]]'s raw-double sum is fine for
    * a single interactive probe, not for a gated batch).
    *
    * 100 TB shape: postings and queries both shuffle once on `term`
    * (the stats/idf side is per-term, broadcast); the (qid, doc) fold
    * is map-side combined; no per-query jobs, no corpus rescans.
    * `excludeSelf` drops doc == qid rows BEFORE the fold — the
    * more-like-this convention where qids are corpus doc ids.
    *
    * @return (qid, id, score) — score integer millis, top `k` per qid
    *         ranked (score desc, id asc).
    */
  def batchQuery(postings: DataFrame, stats: DataFrame, n: Long,
                 field: String, queries: DataFrame, k: Int,
                 excludeSelf: Boolean = false): DataFrame = {
    val q = queries.select(col("qid"), col("term")).distinct()
    val idf = stats.filter(col("field") === field)
      .select(col("term"),
        log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5))
          / (col("df") + lit(0.5))).as("idf"))
    val probe = postings.filter(col("field") === field)
      .join(idf, Seq("term"))
      .join(q, Seq("term"))
    val guarded =
      if (excludeSelf) probe.filter(col("doc") =!= col("qid")) else probe
    val scored = guarded
      .groupBy(col("qid"), col("doc"))
      .agg(sum(round(col("tf") * col("idf") * lit(1000.0)).cast("long"))
        .as("score"))
    TopK.grouped(scored, Seq("qid"),
        struct((-col("score")).as("ns"), col("doc").as("i")), k)
      .select(col("qid"), col("best.i").as("id"), (-col("best.ns")).as("score"))
      .orderBy(col("qid"), desc("score"), col("id"))
  }

  // -------------------------------------------------- fuzzy search

  /** Fuzzy term expansion + scoring against a built index — the ES
    * `fuzzy` query: expand the (typo'd) query term to every VOCABULARY
    * term within `maxEdits` Levenshtein edits, then score docs as a
    * weighted term query. Expansion runs on the stats table (the
    * vocabulary — |V| rows, NOT the corpus), pre-pruned by the cheap
    * length window |len(t) − len(q)| ≤ maxEdits before the O(len²)
    * edit-distance compare; the surviving expansion set is broadcast
    * to the postings probe. Lucene's FuzzyQuery automaton does the
    * same expansion against its term dictionary.
    *
    * Scoring follows Lucene's fuzzy boost: each expanded term scores
    * tf·idf scaled by `max(0, 1 − dist / min(|q|, |t|))` — exact
    * matches keep full weight, distant expansions fade out.
    *
    * @return (doc, _score) ranked score desc / doc asc, top `limit`.
    */
  def fuzzyQuery(postings: DataFrame, stats: DataFrame, n: Long,
                 field: String, term: String, maxEdits: Int,
                 limit: Int): DataFrame = {
    val q = lowerText(term).trim
    require(q.nonEmpty && !q.contains(" "), s"need one non-empty term, got '$term'")
    require(maxEdits >= 0, s"need maxEdits >= 0, got $maxEdits")
    val expanded = stats.filter(col("field") === field)
      .filter(abs(length(col("term")) - lit(q.length)) <= maxEdits)
      .withColumn("dist", levenshtein(col("term"), lit(q)))
      .filter(col("dist") <= maxEdits)
      .select(col("field"), col("term"),
        log(lit(1.0) +
          (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          .as("idf"),
        greatest(lit(0.0), lit(1.0) - col("dist").cast("double") /
          least(length(col("term")), lit(q.length)).cast("double"))
          .as("boost"))
    postings.filter(col("field") === field)
      .join(broadcast(expanded), Seq("field", "term"))
      .groupBy(col("doc"))
      .agg(sum(col("tf") * col("idf") * col("boost")).as("_score"))
      // ranked on the rounded score — same limit-boundary determinism
      // rationale as [[query]]; raw _score stays in the output
      .orderBy(round(col("_score"), 4).desc, col("doc").asc)
      .limit(limit)
  }

  /** [[fuzzyQuery]] over a raw document frame (index built in-flight —
    * the one-shot form; at scale, build once and probe). */
  def fuzzySearch(docs: DataFrame, idCol: String, field: String,
                  term: String, maxEdits: Int, limit: Int): DataFrame = {
    val (postings, stats, n) = build(docs, idCol, Seq(field))
    fuzzyQuery(postings, stats, n, field, term, maxEdits, limit)
  }

  // ------------------------------------------------- phrase search

  /** Positional postings for ONE field: (doc, pos, term), one row per
    * token occurrence — what [[build]]'s tf rows deliberately discard,
    * and what `match_phrase` needs (ES keeps positions in its postings
    * for exactly this; the reference's index mapping is ES-default =
    * positions on). One narrow scan, no shuffle. */
  /** TF-IDF keyword extraction — the document-tagging primitive on
    * top of [[build]]'s postings: each document's top terms by
    * `round(1000·tf·idf)` (the [[batchQuery]] integer-milli idf
    * convention, so scores are engine-exact and the ranking
    * quantizes BEFORE the limit). One postings fold + a term-keyed
    * idf join + a bounded-heap top-k per doc — no windows over the
    * corpus.
    *
    * @return (doc, term, score) top-k per doc by (score desc, term).
    */
  def keywords(docs: DataFrame, idCol: String, field: String,
               topK: Int): DataFrame = {
    val (postings, stats, n) = build(docs, idCol, Seq(field))
    val idf = stats.select(col("term"),
      log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))).as("idf"))
    val scored = postings.join(idf, "term")
      .select(col("doc"), col("term"),
        round(col("tf") * col("idf") * lit(1000.0)).cast("long").as("score"))
    TopK.grouped(scored, Seq("doc"),
        struct((-col("score")).as("ns"), col("term").as("t")), topK)
      .select(col("doc"), col("best.t").as("term"),
        (-col("best.ns")).as("score"))
      .orderBy(col("doc"), desc("score"), col("term"))
  }

  def buildPositional(docs: DataFrame, idCol: String,
                      field: String): DataFrame =
    docs.select(col(idCol).as("doc"),
      posexplode(tokenize(col(field))).as(Seq("pos", "term")))

  /** Persist positional postings bucketed by term hash — the same
    * [[IndexBuckets]] layout as [[writeIndex]], so phrase probes prune
    * to the phrase's term buckets. */
  def writePositional(pos: DataFrame, dir: String): Unit =
    pos.withColumn("bucket", pmod(xxhash64(col("term")), lit(IndexBuckets)))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/pos_postings")

  /** Every phrase occurrence as (doc, anchor): the classic positional
    * merge — a posting for the i-th phrase term at position p votes for
    * anchor p−i, and an anchor with ALL |phrase| distinct offsets
    * voting is a match (terms at consecutive positions, ES
    * match_phrase slop=0). Repeated terms in the phrase are handled by
    * the (term, offset) fan-out join: "the cat the" sends each "the"
    * posting to offsets 0 AND 2, and only anchors where both land (and
    * "cat" at 1) survive.
    *
    * Scale shape: postings filtered to the phrase's terms BEFORE
    * anything else (with a stored index that is a bucket-pruned scan),
    * the (term, offset) frame is |phrase| rows — broadcast; one
    * aggregation keyed (doc, anchor). No window, no corpus scan.
    */
  def phraseMatches(posPostings: DataFrame, phrase: String): DataFrame = {
    val spark = posPostings.sparkSession
    import spark.implicits._
    val terms = textTokens(phrase)
    require(terms.nonEmpty, "empty phrase")
    val qt = terms.zipWithIndex.toDF("term", "i")
    posPostings
      .filter(col("term").isin(terms.distinct: _*))
      .join(broadcast(qt), "term")
      .select(col("doc"), (col("pos") - col("i")).as("anchor"))
      .filter(col("anchor") >= 0)
      .groupBy(col("doc"), col("anchor"))
      .agg(count(lit(1)).as("_nh"))
      .filter(col("_nh") === terms.length)
      .select(col("doc"), col("anchor"))
  }

  /** match_phrase over a document frame: docs containing the exact
    * consecutive-token phrase, scored by occurrence count (ES ranks
    * phrase hits by a BM25 of phrase frequency; the frequency itself is
    * the oracle-reproducible core). @return (doc, phrase_freq), ordered
    * freq desc / doc asc, top `limit`. */
  def phraseSearch(docs: DataFrame, idCol: String, field: String,
                   phrase: String, limit: Int): DataFrame =
    phraseMatches(buildPositional(docs, idCol, field), phrase)
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("phrase_freq"))
      .orderBy(desc("phrase_freq"), asc("doc"))
      .limit(limit)

  /** Dirichlet-smoothed query-likelihood ranking (Ponte & Croft 1998;
    * Zhai & Lafferty 2001) — the language-modeling scorer beside the
    * TF-IDF/BM25 family: `score(q,d) = Σ_t ln((tf_{t,d} + µ·p_c(t)) /
    * (|d| + µ))` with `p_c` the corpus unigram model. Every query
    * term contributes to every candidate doc (the smoothing term IS
    * the model — absent terms aren't skipped, unlike TF-IDF), so the
    * plan is doc-lengths × |q| query terms (broadcast) left-joined
    * with the tf postings. Per-(doc, term) log-scores QUANTIZE to
    * integer micros BEFORE the per-doc sum (order-free fold) and the
    * quantized total ranks before the limit (the qG5 boundary rule).
    *
    * @return (doc, ql_micros) top-`limit` by (score desc, doc asc).
    */
  def dirichletQL(docs: DataFrame, idCol: String, field: String,
                  queryTerms: Seq[String], mu: Double,
                  limit: Int): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val toks = docs.select(col(idCol).as("doc"),
        explode(tokenize(col(field))).as("term"))
      .localCheckpoint(true) // tf, doclen and the corpus model
    val dlen = toks.groupBy(col("doc")).agg(count(lit(1)).as("len"))
    val cf = toks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val ctot = toks.count() // |C|: one driver scalar
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queryTerms.toDF("term")
    // OOV query terms drop: p_c = 0 has no likelihood (ln 0), the
    // standard QL convention
    val qcf = broadcast(q.join(cf, Seq("term")))
    val tf = toks.join(broadcast(q), Seq("term"))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
    dlen.crossJoin(qcf)
      .join(tf, Seq("doc", "term"), "left")
      .select(col("doc"), col("len"),
        round(lit(1e6) * log(
          (coalesce(col("tf"), lit(0L)) + lit(mu) * col("cf") / lit(ctot.toDouble))
            / (col("len") + lit(mu)))).cast("long").as("t_micros"))
      .groupBy(col("doc"))
      .agg(sum(col("t_micros")).as("ql_micros"))
      .orderBy(desc("ql_micros"), asc("doc"))
      .limit(limit)
  }

  /** [[phraseSearch]] against a stored positional index
    * ([[writePositional]] layout): the postings scan is pruned to the
    * phrase's term buckets — I/O bounded by |phrase| buckets, not
    * corpus size. */
  def phraseSearchStored(spark: SparkSession, dir: String, phrase: String,
                         limit: Int): DataFrame = {
    val d = readableDir(spark, dir)
    val terms = textTokens(phrase)
    require(terms.nonEmpty, "empty phrase")
    val pos = spark.read.parquet(s"$d/pos_postings")
      .filter(col("bucket")
        .isin(terms.map(bucketOf(_, IndexBuckets)).distinct: _*))
    phraseMatches(pos, phrase)
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("phrase_freq"))
      .orderBy(desc("phrase_freq"), asc("doc"))
      .limit(limit)
  }
}
