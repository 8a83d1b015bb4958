package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hashed-feature logistic-regression quality classifier — the
  * fasttext/CCNet-style discriminative filter (GPT-3 appendix A:
  * "a classifier trained to distinguish curated corpora from raw
  * CommonCrawl" gates every document; DSIR is the generative sibling
  * already in [[Dsir]]). Documents become L1-normalized hashed
  * unigram+bigram bucket vectors; a weight-per-bucket model trains by
  * deterministic FULL-BATCH gradient descent from a zero init — no
  * RNG, no shuffling-order dependence, so the fitted model (not just
  * its predictions) is a DuckDB-reproducible artifact.
  *
  * Determinism across engines (the qX_lr_* oracle contract): every
  * accumulated quantity is INTEGER MICROS — features
  * `x = round(1e6·cnt/n_doc)`, margins `Σ round(x·w/1e6)`, residuals
  * `round(1e6·σ(m)) − 1e6·y`, gradients `Σ round(x·r/1e6)`, update
  * `w − round(lr·g/N)` — so every sum is order-independent and the
  * oracle replays the training loop bit-for-bit as unrolled CTEs.
  * σ's `exp` is the same ln/exp residual-risk class as [[NgramLm]]'s
  * log-probs (noted, accepted). Buckets never seen in training keep
  * weight 0 at scoring time; docs with no features are absent from
  * both training and scoring (the [[NgramLm.score]] convention).
  *
  * 100 TB shape: the corpus is scanned ONCE — a single codegen
  * expression folds each doc's ngram→bucket→normalize pipeline into a
  * compact array column (no explode fan-out, no (id, bucket) shuffle)
  * — and checkpointed; each of the FIXED `iters` rounds is ONE pass
  * over it: the margin folds inside the doc's array against w inlined
  * as a map literal (B rows by construction), the residual is a
  * projection, and the gradient is the round's single B-key shuffle.
  * No corpus rescan, no corpus-corpus join; the driver holds only the
  * B-row weight map (the codebook convention).
  */
object QualityLr {

  /** Per-doc compact feature vector: (idCol, fs) with `fs` an
    * array<struct<bucket, x_micros>> of the touched buckets — the
    * whole ngram→md5-bucket→count→L1-normalize pipeline runs inside
    * ONE codegen scan ([[graft.functions.expr.TextExprUtil
    * .hashedNgramFeatures]]): no explode fan-out, no (id, bucket)
    * shuffle, no per-doc-total window. Docs with zero ngrams keep an
    * empty array. */
  def docFeatures(docs: DataFrame, idCol: String, textCol: String,
                  buckets: Int): DataFrame =
    docs.select(col(idCol),
      graft.functions.expr.TextExprs
        .hashed_ngram_features(col(textCol), buckets).as("fs"))

  /** L1-normalized hashed feature vectors: (idCol, bucket, x_micros),
    * one row per DISTINCT bucket a document touches,
    * `x = round(1e6 · cnt/n_doc)`. Shares [[Dsir]]'s feature space
    * (md5 bucket of native non-distinct word 1+2-grams). A pure
    * explode of [[docFeatures]] — zero shuffles; row values are
    * bit-identical to the exploded groupBy+window formulation
    * (QualityLrSpec locks the equivalence). */
  def features(docs: DataFrame, idCol: String, textCol: String,
               buckets: Int): DataFrame =
    docFeatures(docs, idCol, textCol, buckets)
      .select(col(idCol), explode(col("fs")).as("_f"))
      .select(col(idCol), col("_f.bucket").as("bucket"),
        col("_f.x_micros").as("x_micros"))

  /** Train `iters` (≥ 1) full-batch GD rounds from w = 0; `labelCol`
    * is 0/1.
    *
    * Per-round shape (the r14 fusion — was 4 keyed shuffles/round):
    * the weight vector is B rows BY CONSTRUCTION (a codebook-class
    * artifact, same bounded-driver-state argument as
    * [[Similarity.kmeansFit]]'s centroids), so it rides each round as
    * a MAP LITERAL instead of a join side. One round is then ONE pass
    * over the checkpointed per-doc table: the margin folds inside the
    * doc's compact feature array (no window, no id shuffle), the
    * residual is a projection, and the gradient is the round's single
    * shuffle (a B-key fold). The updated w comes back as a bounded
    * collect; the driver update replays Spark's own double `round`
    * (Scala `BigDecimal(double)` HALF_UP — the same code path
    * Catalyst's Round uses), so the fused loop is bit-identical to
    * the joined form and the unrolled-CTE oracle.
    *
    * @return the model: (bucket, w_micros), only buckets present in
    *         the training corpus (absent ⇒ 0 at scoring). */
  def train(labeled: DataFrame, idCol: String, textCol: String,
            labelCol: String, buckets: Int, iters: Int,
            lr: Double): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = labeled.sparkSession
    // one corpus scan into the per-doc compact table; empty docs
    // (zero ngrams) exert no gradient and are absent from N —
    // unchanged semantics. The featurization is compute-dense per
    // byte (an md5 per 1+2-gram), which scan-split sizing undercounts
    // — a small corpus arrives as ONE split and the checkpoint stage
    // runs serial (measured 0.48 s on 1 task at sf0.1) — so the
    // narrow (text, label) projection is spread round-robin first
    // (the wedge-family "AQE sizes by input bytes" argument). N rides
    // the checkpoint job as an observed metric instead of its own
    // count pass.
    val nObs = org.apache.spark.sql.Observation()
    val feats = labeled
      .select(col(textCol), col(labelCol))
      .repartition(Wedge.wedgePar(labeled))
      .select(
        graft.functions.expr.TextExprs
          .hashed_ngram_features(col(textCol), buckets).as("fs"),
        (col(labelCol).cast("long") * lit(1000000L)).as("y_micros"))
      .filter(size(col("fs")) > 0)
      .observe(nObs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val n = nObs.get("n").asInstanceOf[Long].toDouble
    // w starts all-zero, so the round-1 margin is 0 for every doc
    // whatever the bucket domain; the domain itself comes back with
    // round 1's gradient (every corpus bucket appears in every
    // round's B-key fold)
    var w: Map[Long, Long] = Map.empty
    for (_ <- 1 to iters) {
      // dense weight vector shipped as a codegen REFERENCE OBJECT:
      // the typedLit map form re-analyzed and re-compiled the stage
      // every round (fresh literal ⇒ fresh generated source); the
      // native fold keeps one stable source across rounds and passes.
      // The HOF twin stays as the spec (QualityLrSpec).
      val wArr = new Array[Long](buckets)
      w.foreach { case (b, g) => if (b >= 0 && b < buckets) wArr(b.toInt) = g }
      val margin = graft.functions.expr.TextExprs.hashed_margin(col("fs"), wArr)
      val grads = feats
        .withColumn("r_micros",
          round(lit(1e6) / (lit(1.0) + exp(-margin / lit(1e6))))
            .cast("long") - col("y_micros"))
        .select(explode(col("fs")).as("_f"), col("r_micros"))
        .groupBy(col("_f.bucket").as("bucket"))
        .agg(sum(round(col("_f.x_micros") * col("r_micros") / lit(1e6))
          .cast("long")).as("g_micros"))
        .collect() // ≤ B rows — the codebook-collect convention
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      w = grads.map { case (b, g) =>
        // Spark round(double) = Scala BigDecimal(d).setScale(0, HALF_UP)
        val step = BigDecimal(lr * g / n)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        b -> (w.getOrElse(b, 0L) - step)
      }
    }
    import spark.implicits._
    w.toSeq.sorted.toDF("bucket", "w_micros")
  }

  /** Executable spec of the native `hashed_margin` fold — the exact
    * HOF form [[train]] used before r16 (typedLit weight map +
    * per-element `element_at`); QualityLrSpec pins equivalence on the
    * gate corpus so the reference-object kernel can never drift. */
  private[graft] def marginHofSpec(w: Map[Long, Long]): Column = {
    val wMap = typedLit(w)
    aggregate(col("fs"), lit(0L), (acc, f) =>
      acc + round(f.getField("x_micros") *
        coalesce(element_at(wMap, f.getField("bucket")), lit(0L))
        / lit(1e6)).cast("long"))
  }

  /** Score documents under a [[train]]ed model: (idCol, n_buckets,
    * p_micros) with `p = σ(Σ x·w)` in micros — the keep-probability /
    * quality score. `n_buckets` counts distinct buckets touched (the
    * feature-vector sparsity), not raw n-gram occurrences.
    * Featureless docs are absent. */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: DataFrame, buckets: Int): DataFrame = {
    val feats = features(docs, idCol, textCol, buckets)
    val m = feats
      .join(broadcast(model), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_buckets"),
        sum(round(col("x_micros") * coalesce(col("w_micros"), lit(0L))
          / lit(1e6)).cast("long")).as("m_micros"))
    m.select(col(idCol), col("n_buckets"),
      round(lit(1e6) / (lit(1.0) + exp(-col("m_micros") / lit(1e6))))
        .cast("long").as("p_micros"))
  }

  /** Raw decision margins `m = Σ x·w` per doc under a trained model —
    * the pre-sigmoid input [[plattFit]] calibrates on. */
  def margins(docs: DataFrame, idCol: String, textCol: String,
              model: DataFrame, buckets: Int): DataFrame =
    features(docs, idCol, textCol, buckets)
      .join(broadcast(model), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(round(col("x_micros") * coalesce(col("w_micros"), lit(0L))
        / lit(1e6)).cast("long")).as("m_micros"))

  /** Platt scaling (Platt 1999) — FIT the calibration the ECE gate
    * only measures: `p = σ(A·m + B)` with (A, B) trained by
    * deterministic full-batch GD on the margin table from
    * (A, B) = (1, 0), every accumulated quantity integer micros (the
    * [[train]] convention), so the fitted (A, B) is itself a
    * DuckDB-replayable artifact. Each round is ONE scan of the
    * checkpointed margin table; the only driver state is the two
    * scalars (a bounded 1-row collect per round — the codebook
    * convention). Updates truncate (`(lr·g/n).toLong` ≡ SQL `trunc`)
    * — round() straddles engines at negative .5.
    *
    * @return one row (n, a_micros, b_micros).
    */
  def plattFit(margins: DataFrame, marginCol: String, labelCol: String,
               iters: Int = 3, lr: Double = 0.3): DataFrame = {
    val base = margins.select(col(marginCol).as("m"),
        (col(labelCol).cast("long") * lit(1000000L)).as("y"))
      .localCheckpoint(true) // one scan per round
    val n = base.count()
    var a = 1000000L
    var b = 0L
    // empty margin table → no gradient (sum() would be NULL and the
    // division by n = 0 undefined): return the initial (A, B) with
    // n = 0 visible, rather than throwing inside the fit loop
    for (_ <- 1 to iters if n > 0) {
      val g = base
        .withColumn("z",
          round(col("m") * lit(a) / lit(1e6)).cast("long") + lit(b))
        .withColumn("p", round(lit(1e6)
          / (lit(1.0) + exp(-col("z") / lit(1e6)))).cast("long"))
        .withColumn("r", col("p") - col("y"))
        .agg(sum(round(col("r") * col("m") / lit(1e6)).cast("long"))
          .as("ga"), sum(col("r")).as("gb"))
        .head()
      a -= (lr * g.getLong(0) / n).toLong
      b -= (lr * g.getLong(1) / n).toLong
    }
    margins.sparkSession.range(0, 1, 1, 1)
      .select(lit(n).as("n"), lit(a).as("a_micros"), lit(b).as("b_micros"))
  }

  /** Calibrated probabilities under a [[plattFit]] (A, B) pair —
    * the z/p quantization chain of the fit, applied once. */
  def plattApply(margins: DataFrame, idCol: String, marginCol: String,
                 aMicros: Long, bMicros: Long): DataFrame =
    margins.select(col(idCol),
      round(lit(1e6) / (lit(1.0) + exp(
        -(round(col(marginCol) * lit(aMicros) / lit(1e6)).cast("long")
          + lit(bMicros)) / lit(1e6)))).cast("long").as("p_micros"))
      .orderBy(col(idCol))

  /** GPT-3's stochastic Pareto selection over [[score]] output (the
    * paper keeps a crawl doc iff `pareto(α) > 1 − p`, α = 9): mostly
    * high-quality docs survive, but low scorers keep a long-tail
    * chance — deliberate diversity, not a bug. The Pareto draw
    * derives from the id's md5 bucket via the inverse CDF
    * `x = (1−u)^(−1/α) − 1` — replayable, partition-stable, no RNG
    * (the Gumbel-top-k precedent), quantized to micros so the keep
    * comparison is integer vs integer. Narrow projection + filter. */
  def paretoSelect(scored: DataFrame, idCol: String,
                   alpha: Double = 9.0): DataFrame = {
    val u = (Sampling.md5Bucket(col(idCol)) + lit(0.5)) / lit(Sampling.BucketSpace)
    scored.withColumn("pareto_micros",
        round((pow(lit(1.0) - u, lit(-1.0 / alpha)) - lit(1.0)) * lit(1e6))
          .cast("long"))
      .filter(col("pareto_micros") > lit(1000000L) - col("p_micros"))
  }
}
