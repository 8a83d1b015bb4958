package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.expr.TextExprs.{hash_set, sorted_intersect_count}

/** The blocked-pair kernel of the near-dup, entity-resolution and
  * co-occurrence operators — the filter-and-verify plan of the
  * [[Dedup]] near-dup miners, the [[EntityResolution]] scorers,
  * [[Similarity.semDeDup]], [[Similarity.intraListDiversity]],
  * [[Pymk.itemItemTopK]] and the streaming near-dup fold — stated once
  * (the candidate-then-verify join of DITA, ICDE 2019; one join plus a
  * group-by, the Pregelix plan shape). A member posts each row under
  * block keys (shingles, LSH band keys, pigeonhole chunks, a blocking
  * field, a cluster, a user); two rows are a candidate pair when they
  * share a key. The caller states only what differs: the postings, the
  * per-pair fold and the verify ratio.
  *
  * Plan, in order:
  *  - Postings: one narrow row per (key, id, carried columns). A hub
  *    rule is a filter on the posting frame, applied by the caller:
  *    drop keys above a document-frequency or user cap (a stopword
  *    shingle or a power user carries the least pair signal and costs
  *    df² pairs).
  *  - Pair: [[pairs]], the same-key self-join with `a_id < b_id`. Both
  *    sides are one projection of the postings, so they share one
  *    shuffle keyed by the block key (or one broadcast at small
  *    scale). Cost is Σ|block|², never |rows|² — the blocking contract
  *    (Christen 2012): block sizes are a design choice.
  *  - Fold: the caller's per-pair aggregate. `count` of the shared keys
  *    is the shingle overlap; `distinct` is the candidate set of keys
  *    that can repeat per pair (LSH bands, pigeonhole chunks).
  *  - Verify: [[verify]], exact scoring of the candidates only, on
  *    hashed shingle sets (`hash_set`: sorted distinct md5-64 words, set
  *    arithmetic identical to the strings). The candidates are spread
  *    to [[Wedge.wedgePar]] tasks first: a near-dup-rich corpus yields
  *    far more candidates than survivors, compute that byte-based
  *    partition sizing cannot see. Each side's set attaches AFTER the
  *    pair shuffle, so the exchange moves id pairs only, and the
  *    per-pair intersect is one primitive merge
  *    (`sorted_intersect_count`). No broadcast hint: the set tables
  *    broadcast only at gate scale, where AQE picks that by itself.
  *
  * Pinned: a member that persists frames for its own reuse returns
  * [[released]]: its result checkpointed, then those frames
  * unpersisted. Repeated calls (the streaming fold runs one per
  * micro-batch) would otherwise accumulate cached blocks until the
  * block manager evicts working-set data.
  */
private[graft] object Blocks {

  /** The same-key self-join of `posts`: every pair of rows that agree
    * on all `keys` (and on `on`), with `a_<id> < b_<id>`. Each side
    * carries `keys`, `id` and `carry`, prefixed `a_`/`b_`; a column
    * listed twice is carried once. Null keys pair with nothing. */
  def pairs(posts: DataFrame, keys: Seq[String], id: String,
            carry: Seq[String] = Nil, on: Column = lit(true)): DataFrame = {
    val cols = (keys ++ (id +: carry)).distinct
    def side(p: String) = posts.select(cols.map(c => col(c).as(s"${p}_$c")): _*)
    side("a").join(side("b"),
      keys.map(k => col(s"a_$k") === col(s"b_$k")).reduce(_ && _) && on &&
        col(s"a_$id") < col(s"b_$id"))
  }

  /** Pigeonhole chunk postings of a 64-bit hash for a Hamming-≤maxDist
    * band join ([[Dedup.pigeonholeChunks]]): a generator of one
    * (chunk, key) row per chunk, `key` the chunk's bits. Two hashes
    * within maxDist agree on at least one chunk. */
  def chunks(hash: Column, maxDist: Int): Column = {
    val (n, width) = Dedup.pigeonholeChunks(maxDist)
    inline(transform(sequence(lit(0), lit(n - 1)),
      c => struct(c.as("chunk"),
        call_function("shiftrightunsigned", hash, c * width)
          .bitwiseAND(lit((1L << width) - 1)).as("key"))))
  }

  /** Exact verify of the candidate pairs `cand` (two id columns): each
    * id's shingle set comes from `left` / `right` (the id first, the
    * set in `sh`), and a pair is kept when `ratio(|A∩B|, |A|, |B|)`,
    * rounded to 4 decimals, reaches `min`. Returns (id1, id2, `score`)
    * under `cand`'s names, lazily: a caller's filter on the ids still
    * reaches the candidates. */
  def verify(cand: DataFrame, left: DataFrame, right: DataFrame,
             score: String, min: Double)
            (ratio: (Column, Column, Column) => Column): DataFrame = {
    val Array(id1, id2) = cand.columns
    def hashed(sets: DataFrame, id: String, sh: String) =
      sets.select(col(sets.columns(0)).as(id), hash_set(col("sh")).as(sh))
    cand
      .repartition(Wedge.wedgePar(cand))
      .join(hashed(left, id1, "_sh1"), id1)
      .join(hashed(right, id2, "_sh2"), id2)
      .withColumn("_inter", sorted_intersect_count(col("_sh1"), col("_sh2")))
      .select(col(id1), col(id2), round(ratio(col("_inter"),
        size(col("_sh1")), size(col("_sh2"))), 4).as(score))
      .filter(col(score) >= min)
  }

  /** `result` checkpointed eagerly, then the frames persisted for it
    * released (the Pinned rule above). */
  def released(pinned: DataFrame*)(result: DataFrame): DataFrame = {
    val out = result.localCheckpoint(true)
    pinned.foreach(_.unpersist())
    out
  }

  /** Jaccard `|A∩B| / |A∪B|` from (|A∩B|, |A|, |B|). */
  val jaccard: (Column, Column, Column) => Column =
    (i, a, b) => i.cast("double") / (a + b - i)

  /** Containment `|A∩B| / min(|A|, |B|)` (Broder 1997). */
  val containment: (Column, Column, Column) => Column =
    (i, a, b) => i.cast("double") / least(a, b)
}
