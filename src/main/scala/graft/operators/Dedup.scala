package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.tokenize

/** Deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (the whole point at 100 TB):
  *  - exact dedup is one hash-partitioned groupBy on a digest — the
  *    only full-width shuffle, and it ships digests, not documents;
  *  - the all-pairs n-gram Jaccard is the *oracle* formulation
  *    (quadratic blow-up controlled by the shingle-postings join);
  *    the scale path is MinHash+LSH: signatures are a narrow
  *    projection, candidate generation shuffles only
  *    (band_id, band_hash, doc_id) triples, and exact verification
  *    touches just the candidate pairs;
  *  - SimHash reduces a document to one 64-bit word; near-dup search
  *    becomes a band-key self-join on 16-bit chunks (Hamming ≤ 3 ⇒
  *    at least one of 4 chunks equal — pigeonhole).
  *
  * Every pair miner here is a [[Blocks]] plan: block keys, the
  * same-key pair join, a per-pair fold and, for the scale forms, the
  * hashed-set verify; the plan's rationale is stated there once.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep the lowest-id row per content digest.
    * One shuffle keyed by digest; `row_number` (not groupBy+join) so
    * surviving rows keep all columns.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("_digest")).orderBy(col(idCol))
    docs.withColumn("_digest", md5(col(textCol)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_digest")
  }

  // ------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles as an array column — native codegen
    * expression; [[shinglesHof]] is the HOF executable spec it is
    * tested against. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.expr.TextExprs.word_shingles(text, n)

  /** Reference HOF formulation of [[shingles]] (slow path, test oracle). */
  def shinglesHof(text: Column, n: Int): Column = {
    val toks = tokenize(text)
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))
    )
  }

  /** Docs with ≥ n tokens as (id, sh, n_sh): the distinct shingle set
    * and its size. Docs below n tokens have no n-grams and are left
    * out, on engine and oracle sides alike: `shingles` falls back to a
    * whole-text shingle (and [""] for empty text) below n tokens, which
    * would otherwise diverge from a SQL sliding window (whose
    * out-of-range slots go NULL and drop the doc) and give every empty
    * doc the same set. */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, id: String = "id"): DataFrame =
    docs.filter(size(tokenize(col(textCol))) >= n)
      .select(col(idCol).as(id), shingles(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))

  /** The exact shingle-overlap core of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: the shared-shingle self-join ([[Blocks.pairs]]),
    * `count` per pair for |A∩B|, then `ratio(|A∩B|, |A|, |B|)` rounded
    * to 4 decimals and kept at ≥ `min`. */
  private def overlapPairs(docs: DataFrame, textCol: String, idCol: String,
                           n: Int, score: String, min: Double)
                          (ratio: (Column, Column, Column) => Column): DataFrame = {
    val posts = shingleSets(docs, idCol, textCol, n)
      .select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    Blocks.pairs(posts, Seq("s"), "id", Seq("n_sh"))
      .groupBy("a_id", "b_id", "a_n_sh", "b_n_sh")
      .agg(count(lit(1)).as("inter"))
      .select(col("a_id").as("id1"), col("b_id").as("id2"), round(ratio(
        col("inter"), col("a_n_sh"), col("b_n_sh")), 4).as(score))
      .filter(col(score) >= min)
  }

  /** All-pairs n-gram Jaccard `|A∩B| / |A∪B|` over distinct shingles,
    * from the shingle-postings self-join. Exact but quadratic in
    * co-occurring docs — use as ground truth / verifier; LSH is the
    * scale path.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        n: Int, minJaccard: Double): DataFrame =
    overlapPairs(docs, textCol, idCol, n, "jaccard", minJaccard)(Blocks.jaccard)

  /** Asymmetric shingle containment (Broder 1997) — the near-dup
    * signal Jaccard structurally misses: a short document quoted
    * wholesale inside a long one has tiny Jaccard (the union is
    * dominated by the long doc) but containment
    * `|A∩B| / min(|A|,|B|)` ≈ 1. [[ngramJaccardPairs]]' plan with the
    * SMALLER shingle set as the divisor, quantized to 4 decimals
    * before the threshold (cross-engine replay).
    *
    * Scale note: the shared-shingle self-join is the ORACLE form — a
    * hot (stopword) shingle with document frequency f contributes f²
    * candidate pairs. [[containmentPairsBanded]] is the production
    * twin: df-capped candidate generation + exact verification.
    *
    * @return (id1, id2, containment) for pairs ≥ `minContainment`.
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       n: Int, minContainment: Double): DataFrame =
    overlapPairs(docs, textCol, idCol, n, "containment", minContainment)(
      Blocks.containment)

  /** [[containmentPairs]]'s scale twin — df-capped candidates + exact
    * verify (the X2→X3 exact→banded pattern): candidate pairs come
    * from the self-join of POSTINGS WHOSE SHINGLE df ≤ `maxDf` (a
    * shingle seen in more docs than that is a stopword n-gram — it
    * carries no pair-specific signal but contributes df² candidate
    * pairs; capping bounds the join at cap·Σdf, linear in corpus
    * size), then each candidate pair's containment is verified
    * EXACTLY over the full shingle sets ([[Blocks.verify]]), so every
    * emitted score is identical to [[containmentPairs]]'s
    * (banded ⊆ exact, pinned by spec).
    *
    * Recall contract: a pair is recovered iff it shares ≥1 shingle
    * with df ≤ maxDf — real quote-inclusion pairs share runs of
    * content shingles, which are rare by construction (the planted
    * qX_dedup_containment_recall gate pins this at SF data).
    */
  def containmentPairsBanded(docs: DataFrame, textCol: String,
                             idCol: String, n: Int,
                             minContainment: Double,
                             maxDf: Int = 64): DataFrame = {
    // an eager checkpoint, not a persist: the planner sees its real
    // size (small corpora plan broadcasts), and the result stays lazy,
    // so a caller's id filter still prunes the candidates
    val sh = shingleSets(docs, idCol, textCol, n).localCheckpoint(true)
    val posts = sh.select(col("id"), explode(col("sh")).as("s"))
    val rare = posts.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val cand = Blocks.pairs(posts.join(rare.select("s"), Seq("s")), Seq("s"), "id")
      .select(col("a_id").as("id1"), col("b_id").as("id2")).distinct()
    Blocks.verify(cand, sh, sh, "containment", minContainment)(
      Blocks.containment)
  }

  /** Cross-corpus fuzzy join, EXACT form — record linkage between TWO
    * tables by n-gram Jaccard: every (left, right) pair sharing enough
    * shingle overlap, via the shared-shingle equi-join and per-pair
    * intersection count (the two-table generalization of
    * [[ngramJaccardPairs]]; [[decontaminate]] is the boolean special
    * case). Quadratic in per-shingle posting sizes — this is the
    * declared oracle form; [[fuzzyJoin]] is the banded scale path.
    *
    * @return (lid, rid, jaccard), jaccard rounded to 4 decimals.
    */
  def fuzzyJoinExact(left: DataFrame, leftId: String, leftText: String,
                     right: DataFrame, rightId: String, rightText: String,
                     n: Int, minJaccard: Double): DataFrame = {
    def side(df: DataFrame, id: String, text: String, out: String, sz: String) =
      shingleSets(df, id, text, n, out)
        .select(col(out), col("n_sh").as(sz), explode(col("sh")).as("s"))
    side(left, leftId, leftText, "lid", "n1")
      .join(side(right, rightId, rightText, "rid", "n2"), Seq("s"))
      .groupBy("lid", "rid", "n1", "n2")
      .agg(count(lit(1)).as("inter"))
      .select(col("lid"), col("rid"), round(Blocks.jaccard(
        col("inter"), col("n1"), col("n2")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Cross-corpus fuzzy join, LSH-BLOCKED scale form: both sides
    * MinHash-sign, band into (band, key) buckets, equi-join the
    * buckets (candidates = same-bucket cross-side pairs only), then
    * exact-Jaccard verify the candidates — [[minhashLshPairs]]' plan
    * with a left/right split instead of the id1 < id2 self-join. At
    * 100 TB each side shuffles its banded postings once; no posting
    * self-explosion, no cross product. Deterministic (hash-derived
    * permutations), so recall against planted overlaps is a fixed,
    * gateable number. The verify checkpoints eagerly and releases
    * both persisted shingle frames: the cross-corpus form is the "many
    * corpus pairs in one session" shape.
    */
  def fuzzyJoin(left: DataFrame, leftId: String, leftText: String,
                right: DataFrame, rightId: String, rightText: String,
                n: Int = 3, k: Int = 64, bands: Int = 16,
                minJaccard: Double = 0.5): DataFrame = {
    val lsh = shingleSets(left, leftId, leftText, n, "lid").persist()
    val rsh = shingleSets(right, rightId, rightText, n, "rid").persist()
    val cand = lshPosts(lsh, "lid", k, bands)
      .join(lshPosts(rsh, "rid", k, bands), Seq("band", "key"))
      .select(col("lid"), col("rid")).distinct()
    Blocks.released(lsh, rsh)(
      Blocks.verify(cand, lsh, rsh, "jaccard", minJaccard)(Blocks.jaccard))
  }

  /** Near-duplicate CLUSTERS from a pair list — the step every dedup
    * family above feeds: near-dup relations are not transitive-closed
    * (A~B, B~C but A≁C), yet curation must keep ONE doc per connected
    * group or chained near-dups survive pairwise removal. Composes
    * [[GraphAnalytics.connectedComponentsDF]] over the pair graph
    * (same min-label convergence, one keyed shuffle per round) and
    * re-attaches singletons: every doc gets `cluster` = min doc id of
    * its component (its own id if unpaired) and `is_canonical` =
    * "this id is the cluster's keeper".
    */
  def clusters(pairs: DataFrame, docs: DataFrame, idCol: String): DataFrame = {
    val comp = GraphAnalytics.connectedComponentsDF(
      pairs.select(col("id1").as("src"), col("id2").as("dst")))
    docs.select(col(idCol))
      .join(comp.select(col("id").as(idCol), col("comp")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("cluster"))
      .withColumn("is_canonical", col(idCol) === col("cluster"))
  }

  /** Quality-aware survivorship over near-dup [[clusters]] — the step
    * after clustering that decides WHICH copy the corpus keeps: per
    * cluster, the member with the best score (quantized score desc,
    * id asc — the goldenRecord rule applied to dedup). One id-keyed
    * join + one bounded max-struct fold per cluster; no windows.
    *
    * @param clustersDf (idCol, cluster, ...) from [[clusters]].
    * @param scored     (idCol, scoreCol) — any deterministic quality
    *                   score (token count, LR p_micros, ...).
    * @return (cluster, keep_id, best_score, n_members) ordered.
    */
  def keepBest(clustersDf: DataFrame, scored: DataFrame, idCol: String,
               scoreCol: String): DataFrame =
    clustersDf.select(col(idCol), col("cluster"))
      .join(scored.select(col(idCol), col(scoreCol).as("_s")), Seq(idCol))
      .groupBy(col("cluster"))
      // min(struct(-score, id)): max score, ties → min id. The SCORE is
      // negated (numeric by contract), never the id — ids may be strings
      // (doc keys, vertex names), and negating a string column silently
      // casts to double/NULL and picks a partition-order survivor.
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("_s")).as("ns"), col(idCol).as("i"))).as("best"))
      .select(col("cluster"), col("best.i").as("keep_id"),
        (-col("best.ns")).as("best_score"), col("n_members"))
      .orderBy(col("cluster"))

  // -------------------------------------------------------------- minhash

  /** MinHash signature over pre-hashed shingles: each shingle is hashed
    * ONCE (md5-portable 32-bit word — [[Sampling.md5Bucket]], reduced
    * into the Mersenne-prime field p = 2^31−1), then the k
    * "permutations" are affine maps π_i(x) = (a_i·x + b_i) mod p with
    * md5-derived a_i = md5_32("mh_a:i") mod (p−1) + 1 ∈ [1, p−1],
    * b_i = md5_32("mh_b:i") mod p ∈ [0, p−1]; sig[i] = min_s π_i(h(s)).
    * Products stay < 2^62, so no ANSI-mode long overflow. md5 (not
    * xxhash64) is the deliberate portability trade the CMS sketch and
    * DSIR already made: every signature cell is recomputable by any
    * engine with md5() — the qX_dedup_minhash DuckDB oracle replays
    * this whole pipeline bit-for-bit.
    */
  val MinhashP = 2147483647L // 2^31 - 1

  def shingleHashes(sh: Column): Column =
    transform(sh, s => pmod(Sampling.md5Bucket(s), lit(MinhashP)))

  def minhashSignature(hashes: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), i => {
      val a = pmod(Sampling.md5Bucket(concat(lit("mh_a:"), i.cast("string"))),
        lit(MinhashP - 1)) + lit(1L)
      val b = pmod(Sampling.md5Bucket(concat(lit("mh_b:"), i.cast("string"))),
        lit(MinhashP))
      array_min(transform(hashes, x => pmod(x * a + b, lit(MinhashP))))
    })

  /** LSH banding: split the k-wide signature into `bands` bands of
    * k/bands rows; band key = md5_32 of the '_'-joined slice (portable:
    * the oracle recomputes it from md5()). Docs sharing any band key
    * become candidates. Returns (band, key, id) postings.
    */
  def lshBands(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        Sampling.md5Bucket(concat_ws("_", slice(sig, b * r + 1, lit(r)))).as("key")))
  }

  /** (id, band, key) LSH postings of a (id, sh) shingle-set frame: the
    * native codegen signature (MinHashSigExpr — the HOF formulation
    * `minhashSignature(shingleHashes(sh), k)` is its executable spec),
    * banded by [[lshBands]]. */
  private def lshPosts(sh: DataFrame, id: String, k: Int, bands: Int): DataFrame =
    sh.select(col(id), graft.functions.expr.TextExprs.minhash_sig(col("sh"), k).as("sig"))
      .select(col(id), inline(lshBands(col("sig"), k, bands)))

  /** MinHash+LSH near-duplicate pairs, exact-verified.
    *
    * Pipeline: shingle → signature (narrow) → band postings (shuffle
    * only (band, key, id)) → [[Blocks.pairs]] per band key → distinct
    * candidate pairs → [[Blocks.verify]], exact Jaccard on just the
    * candidates. The shingle arrays are persisted: candidate generation
    * and both sides of the verify read them (recomputing the shingle +
    * signature pipeline 4× dominated the un-cached runtime).
    */
  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, k: Int = 64, bands: Int = 16,
                      minJaccard: Double = 0.5): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist()
    val posts = lshPosts(sh, "id", k, bands).persist()
    val cand = Blocks.pairs(posts, Seq("band", "key"), "id")
      .select(col("a_id").as("id1"), col("b_id").as("id2"))
      .distinct()
    Blocks.released(sh, posts)(
      Blocks.verify(cand, sh, sh, "jaccard", minJaccard)(Blocks.jaccard))
  }

  // ------------------------------------------------------- embedding cosine

  /** Embedding-cosine near-duplicate pairs: all (id1 < id2) pairs with
    * cosine(vec1, vec2) ≥ minSim. This is the EXACT formulation — the
    * all-pairs product is the oracle for the hashed variants
    * ([[Similarity.lshTopK]] buckets / [[simhashPairs]] bands are the
    * scale paths); use it when one side fits in a broadcast (the
    * common dedup-new-batch-against-reference shape). The broadcast
    * keeps the pair generation shuffle-free; per-pair cosine is the
    * native codegen expression.
    */
  def embedCosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
                       minSim: Double): DataFrame = {
    val a = vecs.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = vecs.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(broadcast(b), col("id1") < col("id2"))
      .withColumn("sim", round(graft.functions.GraftFunctions.cosine(
        col("v1"), col("v2")), 4))
      .filter(col("sim") >= minSim)
      .select("id1", "id2", "sim")
  }

  /** Scale path for [[embedCosinePairs]]: sign-LSH bucket the vectors
    * (one m-bit signature per vector — narrow projection), self-join
    * per bucket for candidates, then exact-cosine verify only the
    * candidates (vectors fetched back by semi-join, never shuffled
    * with the candidate generation). The all-pairs product never
    * materializes: the join shuffles (bucket, id) pairs and the
    * verify touches |candidates|, so this survives corpus sizes where
    * the broadcast all-pairs form dies. Identical vectors always share
    * a bucket (same signature) — exact-duplicate recall is structural;
    * near-dup recall grows with smaller `m` (coarser buckets), the
    * usual LSH recall/cost dial.
    */
  def embedLshPairs(vecs: DataFrame, idCol: String, vecCol: String,
                    minSim: Double, m: Int = 12): DataFrame = {
    val sig = vecs.select(col(idCol).as("id"),
      Similarity.randomHyperplaneLsh(col(vecCol), m).as("bucket"))
    // one bucket per vector → a pair can match at most once → no dedup
    val cand = Blocks.pairs(sig, Seq("bucket"), "id")
      .select(col("a_id").as("id1"), col("b_id").as("id2"))
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    cand
      .join(v.select(col("id").as("id1"), col("v").as("v1")), "id1")
      .join(v.select(col("id").as("id2"), col("v").as("v2")), "id2")
      .withColumn("sim", round(graft.functions.GraftFunctions.cosine(
        col("v1"), col("v2")), 4))
      .filter(col("sim") >= minSim)
      .select("id1", "id2", "sim")
  }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash over token features: for each bit b, sum +1/−1
    * across tokens according to bit b of the token's md5-portable
    * 64-bit hash (first 16 md5 hex chars — high word = hex 1-8, low
    * word = hex 9-16, so any engine recomputes the bits from md5());
    * bit b of the result is 1 iff the vote sum is positive. Narrow
    * projection, no shuffle; computed by the native codegen expression
    * [[graft.functions.expr.SimHash64Expr]] (the higher-order-function
    * formulation [[simhashHof]] is CodegenFallback — kept as the
    * executable spec the native expression is tested against).
    */
  def simhash(text: Column): Column =
    graft.functions.expr.TextExprs.simhash64(text)

  /** Reference HOF formulation of [[simhash]] (slow path, test oracle).
    * Token hash = the same two md5 32-bit words the native expression
    * uses, assembled with bitwise shift (no ANSI overflow). */
  def simhashHof(text: Column): Column = {
    val toks = tokenize(text)
    def tokenHash64(t: Column): Column = {
      val hi = conv(substring(md5(t), 1, 8), 16, 10).cast("long")
      val lo = conv(substring(md5(t), 9, 8), 16, 10).cast("long")
      call_function("shiftleft", hi, lit(32)).bitwiseOR(lo)
    }
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) =>
        zip_with(acc, transform(sequence(lit(0), lit(63)),
            i => when(call_function("shiftrightunsigned", tokenHash64(t), i).bitwiseAND(lit(1L)) === 1L, lit(1L))
              .otherwise(lit(-1L))),
          (v, d) => v + d))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (a, x) => a.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Benchmark decontamination — flag corpus documents that share any
    * word n-gram with an evaluation/benchmark set (the leakage filter
    * every training-data pipeline runs before a model ever sees the
    * corpus: a doc containing benchmark text inflates eval scores).
    *
    * Returns one row per corpus doc: (idCol, n_hits = distinct
    * contaminating n-grams, contaminated). Docs with < n tokens have no
    * n-grams and are clean by definition.
    *
    * Scale shape: benchmark suites are tiny next to a 100 TB corpus, so
    * the benchmark's distinct shingle set is broadcast and the corpus
    * side stays a narrow projected scan — no shuffle of corpus text.
    * If the "benchmark" ever outgrows broadcast range, swap the join
    * for [[Skew.bloomPrunedSemiJoin]] on the shingle key (same
    * contract, one corpus-side shuffle pruned by the filter).
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    n: Int): DataFrame = {
    val benchSh = bench
      .filter(size(tokenize(col(benchTextCol))) >= n)
      .select(explode(shingles(col(benchTextCol), n)).as("s"))
      .distinct()
    // shingles() emits DISTINCT n-grams per doc, so the post-join count
    // is "distinct contaminating n-grams" without a re-distinct
    val posts = docs
      .filter(size(tokenize(col(textCol))) >= n)
      .select(col(idCol), explode(shingles(col(textCol), n)).as("s"))
    val hits = posts.join(broadcast(benchSh), Seq("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * graded form of [[decontaminate]]'s boolean (memorization-risk /
    * synthetic-data-quality readout: a doc whose n-grams all appear
    * in the training set adds nothing new; generation evaluation
    * wants the fraction): `novelty = 1 − |sh(d) ∩ SH(ref)| / |sh(d)|`
    * over distinct n-grams. Reference shingle set is distinct + the
    * same broadcast-semi-join shape as decontamination; at a
    * non-broadcastable reference scale the join degrades to a keyed
    * shuffle, still linear.
    *
    * @return (idCol, n_shingles, n_seen, novelty_micros) for docs
    *         with ≥ n tokens, ordered by id.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   ref: DataFrame, refTextCol: String,
                   n: Int): DataFrame = {
    val refSh = ref
      .filter(size(tokenize(col(refTextCol))) >= n)
      .select(explode(shingles(col(refTextCol), n)).as("s"))
      .distinct()
    val posts = docs
      .filter(size(tokenize(col(textCol))) >= n)
      .select(col(idCol), explode(shingles(col(textCol), n)).as("s"))
      .localCheckpoint(true) // totals + hit counts
    val tot = posts.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val seen = posts.join(broadcast(refSh), Seq("s"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_seen"))
    tot.join(seen, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("novelty_micros",
        floor(lit(1000000L) * (col("n_shingles") - col("n_seen"))
          / col("n_shingles")).cast("long"))
      .orderBy(col(idCol))
  }

  /** SimHash near-dup pairs with Hamming ≤ maxDist, found via the
    * pigeonhole band join ([[pigeonholeChunks]]): any pair within
    * maxDist shares at least one chunk exactly. Chunk widths stay
    * 32-bit-half-aligned, so the DuckDB oracle reproduces the chunk
    * keys from the two md5 hex words without 64-bit unsigned
    * arithmetic.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3): DataFrame =
    hammingBandPairs(
      docs.select(col(idCol).as("id"), simhash(col(textCol)).as("sh")), maxDist)

  /** Pigeonhole chunking for a Hamming-≤maxDist band join: the
    * FEWEST chunks that still guarantee one untouched chunk
    * (chunks ≥ maxDist+1), restricted to 32-bit-half-aligned widths so
    * external oracles recompute keys from the two md5 hex words —
    * maxDist ≤ 3 → 4 × 16-bit chunks (65 536 keys per chunk),
    * maxDist ≤ 7 → 8 × 8-bit (256 keys). Wider chunks matter at
    * scale: the join's expected same-key collision mass is n²/2^width
    * per chunk, so halving the chunk COUNT quadruples nothing while
    * 16-bit keys cut spurious candidates by 256×. */
  def pigeonholeChunks(maxDist: Int): (Int, Int) = {
    require(maxDist <= 7, s"pigeonhole chunking covers maxDist <= 7, got $maxDist")
    if (maxDist <= 3) (4, 16) else (8, 8)
  }

  /** Banded Hamming-≤maxDist pairs over ANY (id, 64-bit hash) frame —
    * the pigeonhole core shared by [[simhashPairs]] (text),
    * [[graft.operators.Multimodal.imageDHash]] /
    * [[graft.operators.Multimodal.imagePHash]] (perceptual image
    * near-dup), and [[graft.operators.Multimodal.audioDHash]] (audio).
    * Postings are (chunk, key, id, hash), `chunks` narrow rows per item
    * ([[Blocks.chunks]]); the pair join touches only same-chunk-key
    * buckets, and a pair sharing several chunks is counted once.
    * @param hashed two-column DataFrame: (id, hash) — bound
    *               POSITIONALLY, any column names. */
  def hammingBandPairs(hashed: DataFrame, maxDist: Int): DataFrame = {
    require(hashed.columns.length == 2,
      s"need an (id, hash) frame, got ${hashed.columns.mkString(", ")}")
    val posts = hashed.select(col(hashed.columns(0)).as("id"),
        col(hashed.columns(1)).as("sh"))
      .select(col("id"), col("sh"), Blocks.chunks(col("sh"), maxDist))
    Blocks.pairs(posts, Seq("chunk", "key"), "id", Seq("sh"))
      .select(col("a_id").as("id1"), col("b_id").as("id2"),
        hamming64(col("a_sh"), col("b_sh")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Frame-aligned Hamming near-dup pairs over (id, frame_no, 64-bit
    * hash) sequences — the video face of [[hammingBandPairs]]: two
    * clips pair when at least `minMatchFrac` of their aligned frames
    * (same frame_no, the shared sampling cadence) land within
    * `maxDist`. frame_no joins the pigeonhole chunk key, so candidates
    * stay per-frame-bucketed (a clip with a million frames costs its
    * frames, never frames²); per-pair agreement is one keyed
    * aggregation.
    * @param frameHashes DataFrame (id, frame_no, sh).
    * @return (id1, id2, matched, frac) — frac = matched aligned frames
    *         over the shorter clip's frame count, 4 decimals. */
  def frameHammingPairs(frameHashes: DataFrame, maxDist: Int,
                        minMatchFrac: Double): DataFrame = {
    val src = frameHashes.select(col(frameHashes.columns(0)).as("id"),
      col(frameHashes.columns(1)).as("frame_no"),
      col(frameHashes.columns(2)).as("sh"))
    val counts = src.groupBy(col("id")).agg(count(lit(1)).as("nf"))
    val posts = src.select(col("id"), col("frame_no"), col("sh"),
      Blocks.chunks(col("sh"), maxDist))
    Blocks.pairs(posts, Seq("frame_no", "chunk", "key"), "id", Seq("sh"))
      .filter(hamming64(col("a_sh"), col("b_sh")) <= maxDist)
      .select(col("a_id").as("id1"), col("b_id").as("id2"),
        col("a_frame_no").as("frame_no"))
      .distinct()
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("matched"))
      .join(counts.select(col("id").as("id1"), col("nf").as("n1")), "id1")
      .join(counts.select(col("id").as("id2"), col("nf").as("n2")), "id2")
      .withColumn("frac",
        round(col("matched").cast("double") / least(col("n1"), col("n2")), 4))
      .filter(col("frac") >= minMatchFrac)
      .select("id1", "id2", "matched", "frac")
  }

  // --------------------------------------- duplicated n-gram spans

  /** Positional token n-grams: every n-gram of every document with its
    * token start offset — the positional sibling of [[shingles]] (which
    * is distinct and position-free). One narrow scan: tokenize once,
    * `sequence` the starts, `slice` each window, `posexplode`.
    * @return (idCol, start, gram). */
  def ngramPositions(docs: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    docs
      .select(col(idCol), tokenize(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= n)
      .select(col(idCol), posexplode(
          transform(sequence(lit(0), size(col("_toks")) - n),
            s => concat_ws(" ", slice(col("_toks"), s + 1, lit(n)))))
        .as(Seq("start", "gram")))
  }

  /** Cross-document duplicated n-grams: the n-grams appearing in at
    * least `minDf` DISTINCT documents, with document and occurrence
    * counts — the detection half of exact-substring training-data
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"; within-doc repetition is a different
    * signal, covered by [[TextAnalysis.repetitionSignals]]).
    *
    * Scale shape: one shuffle keyed on the gram with map-side partial
    * aggregation (count + count-distinct two-phase); at 100 TB the
    * gram key would be `xxhash64(gram)` to shuffle 8 bytes instead of
    * n words — kept as the string here so the result IS the report.
    *
    * @return (gram, df, tf) — df = distinct docs, tf = occurrences.
    */
  def duplicatedNgrams(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minDf: Int = 2): DataFrame =
    ngramPositions(docs, idCol, textCol, n)
      .groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("df"), count(lit(1)).as("tf"))
      .filter(col("df") >= minDf)

  /** Per-document duplicated spans: maximal token ranges covered by
    * n-grams that also occur in ≥ `minDf` documents — the actionable
    * output of exact-substring dedup (cut or down-weight these spans
    * before training). Overlapping and touching n-gram intervals
    * [start, start+n) merge into one span (gaps-and-islands: an island
    * breaks where a start exceeds every preceding interval end).
    *
    * Scale shape: the positional scan reuses [[ngramPositions]]; the
    * semi join onto duplicated grams shuffles on the gram key; the
    * island merge is a PER-DOCUMENT window (partitioned by doc id —
    * never global). @return (idCol, span_start, span_end, n_grams).
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, minDf: Int = 2): DataFrame = {
    val pos = ngramPositions(docs, idCol, textCol, n)
    val dup = pos.groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf)
    val hits = pos.join(dup.select(col("gram")), Seq("gram"), "left_semi")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("start"))
    val prevEnd = max(col("start") + n)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("_brk",
        when(prevEnd.isNull || col("start") > prevEnd, 1).otherwise(0))
      .withColumn("_island", sum(col("_brk")).over(byDoc))
      .groupBy(col(idCol), col("_island"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + n).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("_island")
  }
}
