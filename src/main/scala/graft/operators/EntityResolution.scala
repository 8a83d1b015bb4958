package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage (Fellegi & Sunter 1969) — the
  * people-matching layer the reference needs the moment two business
  * cards disagree: the same person scanned twice with OCR noise
  * (`upsert_bizcard_to_graph_db.py` keys vertices on exact md5(email),
  * so one flipped character forks the person). Candidate pairs come
  * from a BLOCKING key (never all-pairs); each field comparison
  * contributes a log-odds agreement/disagreement weight; pairs at or
  * above the decision threshold are links.
  *
  * Determinism: weights are caller-supplied integer micros (ln(m/u)
  * ratios precomputed offline, the Fellegi–Sunter convention), field
  * agreement is null-safe equality, so every score is an exact
  * integer sum — full-SQL-oracle-able.
  *
  * 100 TB shape: ONE equi-join on the blocking key (block sizes are a
  * design choice — the cost is Σ|block|², not |records|²) + a codegen
  * CASE-sum projection. Skewed blocks get the same medicine as hub
  * vertices: tighten the key or cap per-block membership
  * (the [[Wedge.sample]] convention).
  */
object EntityResolution {

  /** Self-dedup linkage: score all intra-block pairs (id1 < id2) of
    * one record frame.
    *
    * @param comparisons (fieldCol, agreeMicros, disagreeMicros) per
    *                    compared field; agreement is null-safe `<=>`.
    * @param threshold   minimal total score to keep a pair.
    * @return (id1, id2, score_micros) for linked pairs, ordered.
    */
  /** [[scorePairs]] with caller-supplied agreement PREDICATES — fuzzy
    * linkage: a field agrees when the predicate over the pair's two
    * values holds (NULL → disagree). The canonical use is
    * Jaro–Winkler name matching
    * (`(a, b) => round(jaro_winkler(a, b), 4) >= 0.9` — quantized
    * BEFORE the threshold so the decision replays cross-engine),
    * which links the typo'd duplicates exact equality misses.
    * Same blocked one-equi-join shape as [[scorePairs]].
    */
  def scorePairsFuzzy(records: DataFrame, idCol: String, blockCol: String,
                      comparisons: Seq[(String,
                        (org.apache.spark.sql.Column,
                         org.apache.spark.sql.Column) =>
                          org.apache.spark.sql.Column, Long, Long)],
                      threshold: Long): DataFrame = {
    require(comparisons.nonEmpty, "at least one field comparison")
    val fields = (Seq(idCol, blockCol) ++ comparisons.map(_._1)).distinct
    val a = records.select(fields.map(c => col(c).as(s"a_$c")): _*)
    val b = records.select(fields.map(c => col(c).as(s"b_$c")): _*)
    val score = comparisons.map { case (f, pred, wa, wd) =>
      when(coalesce(pred(col(s"a_$f"), col(s"b_$f")), lit(false)),
        lit(wa)).otherwise(lit(wd))
    }.reduce(_ + _)
    a.join(b, col(s"a_$blockCol") === col(s"b_$blockCol") &&
        col(s"a_$idCol") < col(s"b_$idCol"))
      .select(col(s"a_$idCol").as("id1"), col(s"b_$idCol").as("id2"),
        score.as("score_micros"))
      .filter(col("score_micros") >= threshold)
      .orderBy("id1", "id2")
  }

  /** Golden-record selection — the survivorship step that closes the
    * linkage loop (match → cluster → merge): linked pairs become
    * clusters (min-label CC fixpoint,
    * [[GraphAnalytics.connectedComponentsDF]]), and each cluster
    * elects ONE representative by `(orderCol desc, id asc)` — a
    * deterministic survivorship rule (completeness score, recency,
    * source priority — caller's choice of column). Unlinked records
    * are their own golden record.
    *
    * @return (cluster, rep_id, n_members) per cluster, ordered.
    */
  def goldenRecords(records: DataFrame, idCol: String,
                    links: DataFrame, orderCol: String): DataFrame = {
    val cc = GraphAnalytics.connectedComponentsDF(
      links.select(col("id1").as("src"), col("id2").as("dst")))
    val membered = records
      .select(col(idCol).as("id"), col(orderCol).as("o"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("cluster"),
        col("o"))
    // rep election (top-1 by (o desc, id asc) ≡ min of the negated
    // struct — lexicographic struct ordering) and member count fold
    // in ONE grouped pass: no separate TopK + count-join legs
    membered.groupBy("cluster")
      .agg(min(struct((-col("o")).as("no"), col("id").as("i"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("best.i").as("rep_id"), col("n_members"))
      .orderBy("cluster")
  }

  def scorePairs(records: DataFrame, idCol: String, blockCol: String,
                 comparisons: Seq[(String, Long, Long)],
                 threshold: Long): DataFrame = {
    require(comparisons.nonEmpty, "at least one field comparison")
    val fields = Seq(idCol, blockCol) ++ comparisons.map(_._1)
    val a = records.select(fields.map(c => col(c).as(s"a_$c")): _*)
    val b = records.select(fields.map(c => col(c).as(s"b_$c")): _*)
    val score = comparisons.map { case (f, wa, wd) =>
      when(col(s"a_$f") <=> col(s"b_$f"), lit(wa)).otherwise(lit(wd))
    }.reduce(_ + _)
    // Static blocking refinement (Fellegi–Sunter weight arithmetic):
    // a field whose DISAGREEMENT caps the total score below the
    // threshold (wd_f + Σ_{g≠f} wa_g < threshold) must agree in every
    // kept pair, so its null-safe equality joins the equi-key — the
    // result set is provably unchanged while Σ|block|² collapses to
    // Σ|block ∧ field|² (on the customer ER gates: nation-sized blocks
    // → near-singleton (nation, acctbal) blocks, 18M → ~30k pairs).
    val totalAgree = comparisons.map(_._2).sum
    val necessary = comparisons.collect {
      case (f, wa, wd) if totalAgree - wa + wd < threshold => f
    }
    val blockKey = (col(s"a_$blockCol") === col(s"b_$blockCol")) +:
      necessary.map(f => col(s"a_$f") <=> col(s"b_$f"))
    a.join(b, blockKey.reduce(_ && _) &&
        col(s"a_$idCol") < col(s"b_$idCol"))
      .select(col(s"a_$idCol").as("id1"), col(s"b_$idCol").as("id2"),
        score.as("score_micros"))
      .filter(col("score_micros") >= threshold)
      .orderBy("id1", "id2")
  }

  /** Edit-distance candidate pairs — the Levenshtein sibling of
    * [[scorePairsFuzzy]]'s Jaro–Winkler predicate, reported with the
    * DISTANCE itself (integer, engine-exact — no quantize needed):
    * OCR confusions are character-level substitutions, and `lev ≤ d`
    * is the classic typo-tolerance contract (`lev ≤ 1` catches one
    * flipped character, the exact failure that forks a person on
    * md5(email) keys). Same blocked one-equi-join shape as
    * [[scorePairs]] — a `lev ≤ d` pair on length-L strings shares all
    * but ≤ d characters, so any substring-based block key longer than
    * d positions from the end is (near-)complete; the candidate space
    * is Σ block² not n².
    *
    * @return (id1, id2, dist) with id1 < id2 and dist ≤ maxDist,
    *         ordered.
    */
  def editDistancePairs(records: DataFrame, idCol: String,
                        blockCol: String, strCol: String,
                        maxDist: Int): DataFrame = {
    val fields = Seq(idCol, blockCol, strCol).distinct
    val a = records.select(fields.map(c => col(c).as(s"a_$c")): _*)
    val b = records.select(fields.map(c => col(c).as(s"b_$c")): _*)
    a.join(b, col(s"a_$blockCol") === col(s"b_$blockCol") &&
        col(s"a_$idCol") < col(s"b_$idCol"))
      // length pre-filter: |len(a)−len(b)| > d implies lev > d —
      // skips the O(L²) DP on hopeless pairs
      .filter(abs(length(col(s"a_$strCol")) - length(col(s"b_$strCol")))
        <= maxDist)
      .select(col(s"a_$idCol").as("id1"), col(s"b_$idCol").as("id2"),
        levenshtein(col(s"a_$strCol"), col(s"b_$strCol")).cast("long")
          .as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy("id1", "id2")
  }

  /** Blocking-quality report (Christen 2012's reduction ratio + pair
    * completeness) — the metrics that decide whether a blocking key is
    * SAFE before anyone runs [[scorePairs]] on it: reduction ratio =
    * how much of the all-pairs space the blocks prune; pair
    * completeness = what fraction of TRUE duplicate pairs (same
    * `entityCol`, the planted ground truth) still co-block and are
    * therefore findable at all. A key with high reduction but low
    * completeness silently loses matches — this report is the gate.
    *
    * Pure counting, never materializes pairs: every pair count is
    * `Σ m·(m−1)/2` over group sizes (the shift keeps it integer-exact),
    * three keyed folds + one 4-way broadcast of 1-row totals.
    *
    * @return one row (n, n_cand, n_truth, n_found, reduction_micros,
    *         completeness_micros).
    */
  def blockingQuality(records: DataFrame, idCol: String, blockCol: String,
                      entityCol: String): DataFrame = {
    def pairSum(gs: DataFrame) = gs
      .agg(coalesce(sum(shiftright(col("m") * (col("m") - 1), 1)), lit(0L))
        .as("p"))
    def grouped(c: Column) =
      records.groupBy(c.as("g")).agg(count(lit(1)).as("m"))
    val nTot = records.agg(count(lit(1)).as("n"))
    val cand = pairSum(grouped(col(blockCol))).withColumnRenamed("p", "n_cand")
    val truth = pairSum(grouped(col(entityCol)))
      .withColumnRenamed("p", "n_truth")
    val found = pairSum(records
        .groupBy(col(entityCol).as("e"), col(blockCol).as("b"))
        .agg(count(lit(1)).as("m")))
      .withColumnRenamed("p", "n_found")
    nTot.crossJoin(cand).crossJoin(truth).crossJoin(found)
      .select(col("n"), col("n_cand"), col("n_truth"), col("n_found"),
        floor(lit(1e6) * (lit(1.0) - col("n_cand") /
            shiftright(col("n") * (col("n") - 1), 1)))
          .cast("long").as("reduction_micros"),
        when(col("n_truth") === 0, lit(1000000L))
          .otherwise(floor(lit(1e6) * col("n_found") / col("n_truth"))
            .cast("long")).as("completeness_micros"))
  }
}
