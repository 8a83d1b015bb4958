package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{lowerText, tokenize}

/** Text-analysis operators for large-scale training-data pipelines
  * (builder brief: language-ID, quality scoring, token counting,
  * document fingerprinting). All are single-pass narrow projections —
  * pure codegen'd expressions, no shuffle, no UDF — so they scan-scale
  * linearly to 100 TB.
  */
object TextAnalysis {

  /** Whitespace token count — native codegen'd single-scan expression
    * ([[graft.functions.expr.TokenCountExpr]]); equivalent to
    * `size(tokenize(text))` (property-tested), without the interpreted
    * HOF + per-row array allocation. */
  def tokenCount(text: Column): Column =
    graft.functions.expr.TextExprs.token_count(text)

  /** BPE-ish token estimate: count of maximal [a-z0-9]+ runs in the
    * lowercased text, so "don't-stop_2024" counts 4 sub-tokens. A
    * deterministic, cheap stand-in for a real tokenizer vocabulary
    * (which would ride behind the same column contract). Native
    * codegen'd expression, equivalent to splitting on `[^a-z0-9]+`. */
  def subwordCount(text: Column): Column =
    graft.functions.expr.TextExprs.subword_count(text)

  /** Quality-score feature bundle: length, token count, mean token
    * length, punctuation ratio, stopword ratio — the classic cheap
    * heuristics used to filter web corpora (C4-style). Returns a struct
    * column; `qualityOk` applies the usual keep-thresholds.
    */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")

  def qualityFeatures(text: Column): Column = {
    val toks = tokenize(text)
    val nTok = size(toks)
    val nChar = length(text)
    val stopHits = size(filter(toks, t => t.isin(EnStopwords.map(lit(_).asInstanceOf[Any]): _*)))
    val punct = nChar - length(regexp_replace(text, "[\\.,;:!\\?]", ""))
    struct(
      nChar.as("n_chars"),
      nTok.as("n_tokens"),
      round(nChar.cast("double") / nTok, 4).as("mean_tok_len"),
      round(punct.cast("double") / nChar, 4).as("punct_ratio"),
      round(stopHits.cast("double") / nTok, 4).as("stopword_ratio"))
  }

  /** Language-ID by stopword-profile voting: score(lang) = fraction of
    * tokens found in that language's tiny stopword profile; predict the
    * argmax when its score clears `minScore`, else "und". An n-gram
    * heuristic in the fastText tradition, shrunk to profiles that are
    * deterministic and SQL-checkable.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "la", "y", "los", "de", "un", "una", "es", "que", "por"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokenize(text)
    val n = greatest(size(toks), lit(1))
    LangProfiles.map { case (lang, profile) =>
      lang -> round(
        size(filter(toks, t => t.isin(profile.map(lit(_).asInstanceOf[Any]): _*)))
          .cast("double") / n, 4)
    }
  }

  def langId(text: Column, minScore: Double = 0.05): Column = {
    val scores = langScores(text)
    // argmax with deterministic tie-break: first profile in declaration
    // order wins (strictly-greater comparison while folding).
    val (bestLang, bestScore) = scores.tail.foldLeft(
      (lit(scores.head._1), scores.head._2)) {
      case ((bl, bs), (lang, sc)) =>
        (when(sc > bs, lit(lang)).otherwise(bl), greatest(sc, bs))
    }
    when(bestScore >= minScore, bestLang).otherwise(lit("und"))
  }

  /** C4-style keep-predicate over [[qualityFeatures]]: enough tokens,
    * sane mean token length, bounded punctuation. Evaluated on the
    * ROUNDED struct fields so the SQL oracle can mirror it exactly. */
  def qualityOk(f: Column): Column =
    f("n_tokens") >= 10 &&
      f("mean_tok_len") >= 2.0 && f("mean_tok_len") <= 12.0 &&
      f("punct_ratio") < 0.2

  /** Repetition signals (Gopher-style): the within-document
    * boilerplate detectors used to filter web corpora alongside the
    * [[qualityFeatures]] thresholds.
    *
    *  - `dup_word_frac`: 1 − distinct/total tokens — high when the
    *    page loops over a small vocabulary;
    *  - `top_bigram_frac` / `top_trigram_frac`: share of n-gram
    *    occurrences held by the single most frequent n-gram
    *    ([[graft.functions.expr.TopNgramFracExpr]], one scan, codegen)
    *    — high for repeated headers/footers/spam templates.
    *
    * All three are narrow per-row projections (no shuffle): the Gopher
    * filter over 100 TB is a single scan-and-filter pass. Texts with
    * fewer than n tokens score 0.0 by definition.
    */
  def repetitionSignals(text: Column): Column = {
    val toks = tokenize(text)
    val nTok = size(toks)
    val dupWordFrac = when(nTok === 0, lit(0.0)).otherwise(
      round(lit(1.0) - size(array_distinct(toks)).cast("double") / nTok, 4))
    struct(
      dupWordFrac.as("dup_word_frac"),
      round(graft.functions.expr.TextExprs.top_ngram_frac(text, 2), 4)
        .as("top_bigram_frac"),
      round(graft.functions.expr.TextExprs.top_ngram_frac(text, 3), 4)
        .as("top_trigram_frac"))
  }

  /** The Gopher keep-predicate over [[repetitionSignals]] — tuned to
    * the published thresholds (dup-word < 0.3ish, top-bigram < 0.18,
    * top-trigram < 0.16), exposed so pipelines filter in the same scan
    * that computed the signals. */
  def repetitionOk(sig: Column): Column =
    sig("dup_word_frac") < 0.5 &&
      sig("top_bigram_frac") < 0.18 && sig("top_trigram_frac") < 0.16

  /** Canonical text normalization — the preprocessing contract shared
    * by dedup and tokenization: lowercase, strip control characters,
    * collapse whitespace runs to single spaces, trim. Pure narrow
    * built-ins (codegen'd); normalizing BEFORE fingerprinting makes
    * near-identical whitespace/case variants exact-dedup together. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\p{Cntrl}]", " "), "\\s+", " "))

  /** Corpus vocabulary: the `maxSize` most frequent tokens with counts
    * and 1-based rank (count desc, token asc — deterministic). The
    * tokenizer-training precursor: one explode + one count shuffle +
    * a bounded-heap global top-V ([[TopK.grouped]] with a constant
    * group so partial heaps still bound mapper output; a full sort of
    * the type-token distribution would shuffle every distinct token).
    */
  def buildVocab(docs: DataFrame, textCol: String, maxSize: Int): DataFrame = {
    val counts = docs
      .select(explode(tokenize(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    TopK.grouped(counts.withColumn("_g", lit(1)), Seq("_g"),
        struct((-col("cnt")).as("nc"), col("token").as("t")), maxSize,
        rankCol = "rank")
      .select(col("best.t").as("token"), (-col("best.nc")).as("cnt"),
        col("rank"))
  }

  /** Per-document out-of-vocabulary token rate against a vocab built by
    * [[buildVocab]] (broadcast — a vocab is bounded by construction).
    * The coverage metric that decides whether a tokenizer/vocab is big
    * enough for a corpus. */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              vocab: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokenize(col(textCol))).as("token"))
    toks.join(broadcast(vocab.select(col("token"), lit(1).as("_inv"))),
        Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("_inv").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 4))
  }

  /** The composed corpus-clean pass — what a training-data pipeline
    * actually runs over raw crawl text, as ONE operator: language-ID,
    * quality thresholds, repetition thresholds, and exact dedup
    * canonicalization (min id per content digest), folded into a
    * single scan + one digest-keyed window. `keep` is the conjunction;
    * the per-stage flags are kept so downstream can audit WHY a
    * document fell out (the usual corpus-ablation requirement).
    *
    * Scale shape: everything except canonicalization is a narrow
    * projection; the digest min-window is the only shuffle (one key
    * exchange — content digests are uniform, no skew). At 100 TB this
    * is a scan plus one well-distributed shuffle.
    */
  def corpusClean(docs: DataFrame, idCol: String, textCol: String,
                  allowedLangs: Seq[String] = Seq("en", "de", "fr", "es"))
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("digest"))
    docs.select(col(idCol), col(textCol).as("_text"),
        langId(col(textCol)).as("lang"),
        qualityFeatures(col(textCol)).as("_qf"),
        repetitionSignals(col(textCol)).as("_rep"),
        md5(col(textCol)).as("digest"))
      .withColumn("q_ok", qualityOk(col("_qf")))
      .withColumn("rep_ok", repetitionOk(col("_rep")))
      .withColumn("is_canonical", col(idCol) === min(col(idCol)).over(w))
      .withColumn("keep",
        col("lang").isin(allowedLangs.map(x => x: Any): _*) &&
          col("q_ok") && col("rep_ok") && col("is_canonical"))
      .drop("_text", "_qf", "_rep")
  }

  /** Rolling-hash document fingerprint: Karp-Rabin fold over the
    * character stream, h ← (h·31 + code(c)) mod 1e9+7. Pure integer
    * math over built-in expressions so an oracle can recompute it
    * exactly; content-defined (whitespace-insensitive variants compose
    * by fingerprinting `concat_ws(" ", tokenize(text))`).
    */
  val FpMod = 1000000007L
  def rollingFingerprint(text: Column): Column =
    graft.functions.expr.TextExprs.rolling_hash(text)

  /** Normalized-content fingerprint: md5 of the canonicalized token
    * stream — the `content_id` idea (upsert_bizcard_to_es.py:73-75)
    * generalized to whole documents.
    */
  def normalizedFingerprint(text: Column): Column =
    md5(concat_ws(" ", tokenize(text)))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS selection rule): hash every k-token shingle (md5-portable,
    * document order), then in every w-wide window of consecutive
    * shingle positions keep the MINIMAL hash, rightmost on ties. The
    * guarantee: two documents sharing a token run of ≥ w+k−1 tokens
    * share a selected fingerprint, while only ~2/(w+1) of positions
    * are kept — the local-selection upgrade over [[Dedup]]'s global
    * MinHash when you need POSITIONS of overlap, not just pair scores.
    *
    * Rightmost-min is ONE window min over the composite integer
    * `hv·2²⁰ + (2²⁰−1−pos)` (hash-major ascending, position descending
    * on hash ties — shingle positions must fit 20 bits; chunk longer
    * docs via [[chunkDocuments]] first), so the whole selection is a
    * narrow per-doc window — no self-join — and replays exactly in
    * SQL. Only FULL windows select (docs with fewer than w shingles
    * yield no fingerprints — lower w for short docs).
    *
    * @return (doc_id, pos, hv) distinct selected fingerprints,
    *         pos = 0-based shingle position.
    */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
             k: Int = 3, w: Int = 4): DataFrame = {
    import graft.functions.expr.TextExprs.word_ngrams
    val grams = docs.select(col(idCol).as("doc_id"),
        posexplode(word_ngrams(col(textCol), k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        graft.operators.Sampling.md5Bucket(col("gram")).as("hv"))
    val wWin = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("ck",
        col("hv") * lit(1048576L) + (lit(1048575L) - col("pos")))
      .withColumn("mk", min(col("ck")).over(wWin))
      .withColumn("n_in", count(lit(1)).over(wWin))
      .filter(col("n_in") === w)
      .select(col("doc_id"),
        (lit(1048575L) - (col("mk") % lit(1048576L))).as("pos"),
        floor(col("mk") / lit(1048576L)).cast("long").as("hv"))
      .distinct()
      .orderBy(col("doc_id"), col("pos"))
  }

  // ------------------------------------------------------ PII redaction

  /** Phone-looking digit run: optional +, then ≥ 8 digit/paren/dash
    * chars bracketed by digits. Space is deliberately NOT in the inner
    * class (unlike the extraction pattern of
    * [[graft.functions.GraftFunctions.PhonePattern]]) so runs of short
    * numeric tokens in prose don't chain into one giant false match.
    * Both patterns are RE2/Java-compatible (no backreferences or
    * lookaround), so the redaction is reproducible by the DuckDB
    * oracle with the identical pattern string. */
  val RedactPhonePattern = "\\+?[0-9][0-9()\\-]{6,}[0-9]"

  /** Redact PII in place: e-mail-looking spans → `[EMAIL]` first, then
    * phone-looking digit runs → `[PHONE]` (order matters — the digits
    * inside an address must not survive as a phone fragment). The
    * release gate of a training-data pipeline; inverse of the
    * reference's extract-and-index flow (B1/B3, SURVEY §2.B) built on
    * the same e-mail pattern.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, graft.functions.GraftFunctions.EmailPattern,
        "[EMAIL]"),
      RedactPhonePattern, "[PHONE]")

  /** PII hit counts for audit totals: e-mails on the raw text, phones
    * on the e-mail-redacted text (same order as [[redactPii]], so
    * counts and redaction agree on what is a phone). */
  def piiCounts(text: Column): (Column, Column) = {
    val emailFree = regexp_replace(text,
      graft.functions.GraftFunctions.EmailPattern, "[EMAIL]")
    (regexp_count(text, lit(graft.functions.GraftFunctions.EmailPattern)),
      regexp_count(emailFree, lit(RedactPhonePattern)))
  }

  // ------------------------------------------------------- chunking

  /** Sliding token-window document chunking — the RAG/pretraining prep
    * step that turns long documents into overlapping fixed-size
    * passages. Windows start at token offsets 0, stride, 2·stride, …
    * while the offset is inside the document; each chunk is `window`
    * tokens (the final chunks are shorter — standard tail behavior, so
    * no token is dropped). `stride < window` gives the usual
    * overlapping windows; `stride == window` is exact partitioning.
    *
    * Scale shape: one narrow scan, no shuffle — `sequence` builds the
    * per-doc start offsets, `posexplode` fans them out, `slice` takes
    * each window from the one tokenized array (never re-tokenizes per
    * chunk). Output is ~len/stride rows per doc; empty docs emit no
    * chunks (guarded — Spark's `sequence(0, -1)` would COUNT DOWN, not
    * return empty).
    *
    * @return (idCol, chunk_idx, chunk_start, n_tokens, chunk) — chunk
    *         is the window's tokens joined by single spaces (the
    *         canonical token stream, same convention as
    *         [[normalizedFingerprint]]).
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val n = size(col("_toks"))
    val starts = when(n > lit(0),
        sequence(lit(0), n - 1, lit(stride)))
      .otherwise(array().cast("array<int>"))
    docs
      .select(col(idCol), tokenize(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"),
        posexplode(starts).as(Seq("chunk_idx", "chunk_start")))
      .select(col(idCol), col("chunk_idx"), col("chunk_start"),
        slice(col("_toks"), col("chunk_start") + 1, lit(window)).as("_chunk"))
      .select(col(idCol), col("chunk_idx"), col("chunk_start"),
        size(col("_chunk")).as("n_tokens"),
        concat_ws(" ", col("_chunk")).as("chunk"))
  }

  /** C4-style LINE-wise cleaning (Raffel 2020, §2.2 — the T5 corpus
    * rules), the step between raw web text and the document-level
    * quality gates ([[qualityOk]]/[[repetitionOk]]): drop boilerplate
    * LINES, keep the document. A line survives when it has at least
    * `minWords` whitespace words, ends in terminal punctuation
    * (`.!?"` after right-trim — C4's "terminal punctuation mark" rule;
    * toggle off for corpora without sentence structure), and contains
    * none of `bannedLine` as a lowercase substring (C4 bans the word
    * "javascript"; substring is the deliberately stricter form, the
    * knob is per-call).
    *
    * Scale shape: a pure narrow projection — `split` on newline,
    * higher-order `filter` with codegen'd word-count/regexp/contains
    * predicates, `array_join` back. No explode, no shuffle, no UDF;
    * line structure never leaves the row, so this scan-scales exactly
    * like [[qualityFeatures]].
    *
    * @return struct(n_lines, n_kept, clean_text) — clean_text is the
    *         kept lines re-joined with newline, in original order.
    */
  def lineClean(text: Column, minWords: Int = 5,
                requireTerminal: Boolean = true,
                bannedLine: Seq[String] = Seq("javascript")): Column = {
    val lines = split(text, "\n", -1)
    def keep(l: Column): Column = {
      val words = size(filter(split(trim(l), "\\s+"), w => w =!= lit("")))
      val term =
        if (requireTerminal) rtrim(l).rlike("[.!?\"]$") else lit(true)
      // lowercase the TERM too: the rules are case-insensitive, and
      // lower(l) can never contain an uppercase banned string; lowered
      // by Spark's `lower` as the line is, whatever the JVM locale
      val ban = bannedLine.foldLeft(lit(true))((acc, b) =>
        acc && !lower(l).contains(lit(lowerText(b))))
      words >= lit(minWords) && term && ban
    }
    val kept = filter(lines, keep _)
    struct(size(lines).as("n_lines"), size(kept).as("n_kept"),
      array_join(kept, "\n").as("clean_text"))
  }

  /** Document-level half of the C4 recipe over [[lineClean]]: drop the
    * whole page when the RAW text contains any of `bannedDoc` (C4 drops
    * pages with "lorem ipsum" or a curly brace — source-code tells) or
    * when fewer than `minKeptLines` lines survive line cleaning (C4
    * keeps pages with >= 3 sentences; the threshold is the knob).
    * Same narrow scan as [[lineClean]] — the struct is computed once
    * and both filters run on it before the final projection.
    *
    * @return (idCol, n_lines, n_kept, clean_text) for surviving docs.
    */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
              minWords: Int = 5, requireTerminal: Boolean = true,
              bannedLine: Seq[String] = Seq("javascript"),
              bannedDoc: Seq[String] = Seq("lorem ipsum", "{"),
              minKeptLines: Int = 1): DataFrame = {
    val docOk = bannedDoc.foldLeft(lit(true))((acc, b) =>
      acc && !lower(col(textCol)).contains(lit(lowerText(b))))
    docs
      .withColumn("_lc",
        lineClean(col(textCol), minWords, requireTerminal, bannedLine))
      .filter(docOk && col("_lc.n_kept") >= lit(minKeptLines))
      .select(col(idCol), col("_lc.n_lines").as("n_lines"),
        col("_lc.n_kept").as("n_kept"),
        col("_lc.clean_text").as("clean_text"))
  }

  /** Windowed word-pair PMI over a corpus — the co-occurrence
    * statistic word embeddings implicitly factorize (Levy & Goldberg
    * 2014: SGNS ≈ shifted-PMI matrix factorization), and the standard
    * collocation/phrase-strength score for vocabulary curation.
    *
    * Pair extraction is a NARROW HOF over each token array (every
    * position pairs with the ≤ `window` positions after it,
    * canonicalized (least, greatest)) — no self-join, no explode of a
    * quadratic set: each token emits ≤ window pairs, so the pair
    * stream is `window`·corpus-linear and the counts are one
    * map-side-combined fold. Marginals n_a come from re-keying the
    * PAIR counts (two rows per pair), never a second corpus scan.
    *
    * `pmi = ln(n_ab·T / (n_a·n_b))` with T = total pairs; the ratio's
    * operands are exact integers in double (< 2^53), so both engines
    * ln the same value; `round(1e6·pmi)` is the quantized gate value
    * (the [[Dsir]] convention). Output filters `n_ab ≥ minCount`
    * (marginals computed BEFORE the filter).
    *
    * @return (a, b, n_ab, pmi_micros) for surviving pairs.
    */
  def pmiPairs(docs: DataFrame, textCol: String, window: Int,
               minCount: Long): DataFrame = {
    // pair extraction is the hot loop: one codegen scan (WordPairsExpr)
    // emitting canonical "min max" strings; the nested-transform HOF
    // twin below is its equivalence-tested executable spec
    val pairs = docs
      .select(explode(graft.functions.expr.TextExprs
        .word_pairs(col(textCol), window)).as("ab"))
      .select(element_at(split(col("ab"), " "), 1).as("a"),
        element_at(split(col("ab"), " "), 2).as("b"))
    val nab = pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
      .localCheckpoint(true) // marginals + totals re-read it
    val marg = nab.select(col("a").as("w"), col("n_ab"))
      .unionAll(nab.select(col("b").as("w"), col("n_ab")))
      .groupBy(col("w")).agg(sum(col("n_ab")).as("n_w"))
    val tot = nab.agg(sum(col("n_ab")).as("t_pairs"))
    // minCount prunes BEFORE the marginal joins (marginals/totals are
    // computed over ALL pairs above, so the result is identical): the
    // joins see only the frequent-pair table, not the long tail —
    // at corpus scale the tail is most of the rows
    nab.filter(col("n_ab") >= minCount)
      .join(marg.select(col("w").as("a"), col("n_w").as("n_a")), Seq("a"))
      .join(marg.select(col("w").as("b"), col("n_w").as("n_b")), Seq("b"))
      .crossJoin(tot)
      .select(col("a"), col("b"), col("n_ab"),
        round(lit(1e6) * log((col("n_ab") * col("t_pairs")).cast("double")
          / (col("n_a") * col("n_b")).cast("double"))).cast("long")
          .as("pmi_micros"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    * over the word co-occurrence graph — the graph-centrality
    * alternative to TF-IDF keywords (a word matters because it
    * co-occurs with words that matter, not because it is merely
    * frequent). Composes two proven pieces: the codegen
    * [[pmiPairs]]-style pair extraction (WordPairsExpr, canonical
    * "min max" pairs within `window`) builds the weighted undirected
    * word graph (edge weight = co-occurrence count, pruned at
    * `minCount` BEFORE the iteration); then `iters` rounds of
    * damped weighted PageRank in the integer-micro convention —
    * per-edge contribution `⌊r_w·w/wdeg_w⌋`, per-word
    * `round(0.15·1e6 + 0.85·inflow)` — every fold an integer, the
    * whole fixed-iteration computation replayed as unrolled CTEs.
    *
    * 100 TB shape: one codegen pair scan + keyed count; per round one
    * edge join + one keyed fold (X18 lazy-chain cadence); the final
    * top-N is a bounded TakeOrdered, quantized before the limit.
    *
    * @return (word, tr_micros, rank) — topN, rank 1-based by
    *         (tr_micros desc, word asc).
    */
  def textRankKeywords(docs: DataFrame, textCol: String, window: Int = 3,
                       minCount: Long = 2L, topN: Int = 20,
                       iters: Int = 3): DataFrame = {
    val pairs = docs
      .select(explode(graft.functions.expr.TextExprs
        .word_pairs(col(textCol), window)).as("ab"))
      .select(element_at(split(col("ab"), " "), 1).as("a"),
        element_at(split(col("ab"), " "), 2).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minCount && col("a") =!= col("b"))
    val adj = pairs.select(col("a").as("f"), col("b").as("t"), col("w"))
      .unionAll(pairs.select(col("b").as("f"), col("a").as("t"), col("w")))
      .localCheckpoint(true)
    val wdeg = adj.groupBy("f").agg(sum(col("w")).as("wd"))
      .localCheckpoint(true)
    val verts = wdeg.select(col("f").as("word"))
    var r = verts.withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) {
      val inflow = adj
        .join(r.withColumnRenamed("word", "f"), "f")
        .join(wdeg, "f")
        .select(col("t").as("word"),
          floor(col("r") * col("w") / col("wd")).cast("long").as("c"))
        .groupBy("word").agg(sum(col("c")).as("inflow"))
      r = verts.join(inflow, Seq("word"), "left")
        .select(col("word"),
          round(lit(150000.0) +
            lit(0.85) * coalesce(col("inflow"), lit(0L)))
            .cast("long").as("r"))
        .localCheckpoint(true)
    }
    // BOUNDED global window: ranks only the topN survivors of the
    // TakeOrderedAndProject below, never the vocabulary
    val w = Window.orderBy(desc("tr_micros"), asc("word"))
    r.select(col("word"), col("r").as("tr_micros"))
      .orderBy(desc("tr_micros"), asc("word")).limit(topN)
      .withColumn("rank", row_number().over(w))
  }

  /** Zipf-law fit of the token frequency distribution — the corpus
    * health check (natural language slopes ≈ −1; template spam and
    * word salad bend the curve): least-squares slope of
    * `ln(freq) ~ ln(rank)` over the top-N tokens.
    *
    * Determinism: ln values QUANTIZE to integer micros per token
    * BEFORE the sums, so all five sufficient statistics are exact
    * integer folds (order-independent); the closed-form slope is one
    * fixed IEEE expression over them. Ranks are (freq desc, token)
    * — total order. The regression table is N rows, never the corpus.
    *
    * @return one row (n_tokens, slope_micros).
    */
  def zipfFit(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val freq = docs.select(explode(tokenize(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    // topN FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    // bounded heaps, no full-vocab sort), THEN rank the ≤topN survivors —
    // ranking the whole vocabulary in one global window would push 10⁸⁺
    // rows through a single partition at corpus scale
    val top = freq.orderBy(desc("f"), col("tok")).limit(topN)
    val w = Window.orderBy(desc("f"), col("tok"))
    val ranked = top.withColumn("r", row_number().over(w))
      .select(round(lit(1e6) * log(col("r").cast("double"))).cast("long")
          .as("x"),
        round(lit(1e6) * log(col("f").cast("double"))).cast("long")
          .as("y"))
    ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_tokens"),
        // n·Σ products exceed int64 — cast the exact integer sums to
        // double FIRST (deterministic: same integers → same doubles)
        floor(lit(1e6) *
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")))
          .cast("long").as("slope_micros"))
  }

  /** Heaps'-law fit of vocabulary growth (Heaps 1978: V = K·N^β,
    * β ≈ 0.4–0.6 for natural language) — [[zipfFit]]'s companion
    * corpus-health check: template spam grows vocabulary too slowly
    * (β → 0), random noise too fast (β → 1). One (group, token)
    * distinct fold gives each group's (N, V) point; the regression
    * of ln V on ln N runs over the GROUP table (B rows), with ln
    * values micro-quantized per group before the exact integer sums
    * (the zipf convention) and β / ln K as fixed IEEE expressions
    * over them.
    *
    * @return one row (n_groups, beta_micros, lnk_micros).
    */
  def heapsFit(docs: DataFrame, textCol: String,
               groupCol: String): DataFrame = {
    val toks = docs.select(col(groupCol).as("g"),
      explode(tokenize(col(textCol))).as("tok"))
    val pts = toks.groupBy(col("g"))
      .agg(count(lit(1)).as("nn"), countDistinct(col("tok")).as("v"))
      .filter(col("nn") > 0 && col("v") > 0)
      .select(round(lit(1e6) * log(col("nn").cast("double")))
          .cast("long").as("x"),
        round(lit(1e6) * log(col("v").cast("double")))
          .cast("long").as("y"))
    val den = col("n").cast("double") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val beta = (col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) / den
    pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      // a single group (or identical Ns) has no slope: β = 0 and
      // ln K degenerates to ȳ rather than a divide-by-zero
      .select(col("n").as("n_groups"),
        when(den === 0.0, lit(0L))
          .otherwise(floor(lit(1e6) * beta).cast("long"))
          .as("beta_micros"),
        // ln K = ȳ − β·x̄, with β kept at full double precision
        when(den === 0.0,
          floor(col("sy").cast("double") / col("n").cast("double"))
            .cast("long"))
          .otherwise(floor(col("sy").cast("double") / col("n").cast("double")
            - beta * (col("sx").cast("double") / col("n").cast("double")))
            .cast("long"))
          .as("lnk_micros"))
  }

  /** Class-based TF-IDF (the BERTopic labeling score, Grootendorst
    * 2022) — the top distinctive terms per document class/cluster:
    * `W(t,c) = tf_{t,c} · ln(1 + A/f_t)` with `A` the average tokens
    * per class and `f_t` the corpus term frequency — computed as the
    * exact-ratio form `ln((ncls·f_t + tot)/(ncls·f_t))` (integer
    * operands, ONE IEEE ln), quantized to micros BEFORE the
    * bounded-heap top-N rank (the qG5 convention). Labels kmeans/LPA
    * clusters or any slice column with human-readable terms.
    *
    * @return (cls, term, score_micros) — topN rows per class,
    *         (score desc, term) ordered.
    */
  def classTfidf(docs: DataFrame, classCol: String, textCol: String,
                 topN: Int): DataFrame = {
    val tf = docs.select(col(classCol).as("cls"),
        explode(tokenize(col(textCol))).as("term"))
      .groupBy("cls", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // feeds the marginal, the total and the score
    val ft = tf.groupBy("term").agg(sum(col("tf")).as("ft"))
    val tot = tf.agg(sum(col("tf")).as("tot"),
      countDistinct(col("cls")).as("ncls"))
    val scored = tf.join(ft, "term").crossJoin(broadcast(tot))
      .withColumn("score_micros", round(lit(1e6) * col("tf") *
        log((col("ncls") * col("ft") + col("tot")).cast("double")
          / (col("ncls") * col("ft")))).cast("long"))
    TopK.grouped(scored, Seq("cls"),
        struct((-col("score_micros")).as("ns"), col("term").as("t")), topN)
      .select(col("cls"), col("best.t").as("term"),
        (-col("best.ns")).as("score_micros"))
      .orderBy(col("cls"), desc("score_micros"), col("term"))
  }

  /** Corpus lexical richness — type–token ratio and hapax-legomenon
    * fraction, the vocabulary-health companions to [[zipfFit]]'s
    * slope (a scraped corpus drowning in boilerplate shows TTR
    * collapsing while the Zipf slope still looks plausible; a corpus
    * of concatenated word-salad shows hapax fraction near 1). One
    * token fold to the vocab table, one scalar fold, two floored
    * divisions.
    *
    * @return one row (n_tokens, n_types, n_hapax, ttr_micros,
    *         hapax_frac_micros).
    */
  def lexicalRichness(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokenize(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("n_tokens"), col("n_types"), col("n_hapax"),
        floor(lit(1000000L) * col("n_types") / col("n_tokens"))
          .cast("long").as("ttr_micros"),
        floor(lit(1000000L) * col("n_hapax") / col("n_types"))
          .cast("long").as("hapax_frac_micros"))

  /** Per-document CHARACTER entropy (Shannon 1948, over the byte/char
    * alphabet) — the gibberish screen next to [[lexicalRichness]]:
    * natural English sits near 4.1 bits ≈ 2.84 nats, base64 blobs and
    * key-mash spam push toward the uniform-alphabet ceiling, and
    * single-char runs fall to 0. `H = −Σ_c (n_c/L)·ln(n_c/L)` in
    * nats; each alphabet term `round(−1e6·(n_c/L)·ln(n_c/L))`
    * quantizes to a long BEFORE the per-doc fold (ratio of exact
    * integers into ln — the accepted residual class).
    *
    * Shape: one char explode + one (doc, char) fold (alphabet-bounded
    * per doc) + one doc fold — embarrassingly key-parallel.
    *
    * @return (idCol, n_chars, entropy_micros) per non-empty doc,
    *         ordered.
    */
  def charEntropy(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val chars = docs
      .select(col(idCol), explode(split(col(textCol), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).as("nc"))
    val len = chars.groupBy(col(idCol)).agg(sum(col("nc")).as("l"))
    chars.join(len, Seq(idCol))
      .select(col(idCol), col("l"),
        round(lit(-1e6) * (col("nc").cast("double") / col("l")) *
          log(col("nc").cast("double") / col("l"))).cast("long").as("t"))
      .groupBy(col(idCol), col("l"))
      .agg(sum(col("t")).as("entropy_micros"))
      .select(col(idCol), col("l").as("n_chars"), col("entropy_micros"))
      .orderBy(col(idCol))
  }

  /** Chao1 vocabulary-richness estimate + Good–Turing unseen mass —
    * how much vocabulary the corpus has NOT shown yet (the sampling
    * answer behind [[lexicalRichness]]'s observed numbers): the
    * bias-corrected `Chao1 = D + f₁(f₁−1)/(2(f₂+1))` lower-bounds the
    * true type count from the hapax/dis-legomena tail, and
    * `P₀ = f₁/N` (Good 1953) is the probability the NEXT token is
    * unseen. Both are one floored division over exact integer tallies.
    *
    * @return one row (n_tokens, n_types, f1, f2, chao1_milli,
    *         p0_micros).
    */
  def chao1Richness(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokenize(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("f") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("n_tokens"), col("n_types"), col("f1"), col("f2"),
        (lit(1000L) * col("n_types") +
          floor(lit(1000L) * col("f1") * (col("f1") - 1) /
            (lit(2L) * (col("f2") + 1))).cast("long")).as("chao1_milli"),
        floor(lit(1000000L) * col("f1") / col("n_tokens")).cast("long")
          .as("p0_micros"))

  /** Held-out word-bigram coverage — the n-gram-LM health check a
    * train/test split should pass before perplexity means anything
    * (a test set whose bigrams the train half never saw measures
    * smoothing, not the model): distinct TEST bigrams seen in the
    * TRAIN half over distinct test bigrams. Two distinct folds + one
    * broadcast-able semi join on the bigram string.
    *
    * @param trainCol boolean column: true = train half.
    * @return one row (n_train_bg, n_test_bg, n_covered,
    *         coverage_micros).
    */
  def bigramCoverage(docs: DataFrame, textCol: String,
                     trainCol: String): DataFrame = {
    val bg = docs
      .select(col(trainCol).as("is_train"),
        tokenize(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("is_train"), explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .as("bg"))
    val train = bg.filter(col("is_train")).select(col("bg")).distinct()
      .localCheckpoint(true) // counted AND joined
    val test = bg.filter(!col("is_train")).select(col("bg")).distinct()
      .localCheckpoint(true)
    val nTrain = train.agg(count(lit(1)).as("n_train_bg"))
    val cov = test.join(train, Seq("bg"), "left_semi")
      .agg(count(lit(1)).as("n_covered"))
    test.agg(count(lit(1)).as("n_test_bg"))
      .crossJoin(nTrain).crossJoin(cov)
      .select(col("n_train_bg"), col("n_test_bg"), col("n_covered"),
        when(col("n_test_bg") === 0, lit(0L))
          .otherwise(floor(lit(1000000L) * col("n_covered") /
            col("n_test_bg")).cast("long")).as("coverage_micros"))
  }

  /** Corpus-level conditional character-bigram entropy H(c₂|c₁) —
    * [[charEntropy]]'s second-order sibling and the stronger
    * gibberish screen (unigram-plausible keyboard mash still has
    * near-uniform transitions; English is ~1.3 nats/char
    * conditionally): `H = Σ (n₁₂/N)·ln(n₁₂/n₁)` over within-document
    * character bigrams, each term `round(−1e6·(n₁₂/N)·ln(n₁₂/n₁))`
    * quantized to a long BEFORE the fold (exact-integer ratios into
    * ln — the accepted residual class).
    *
    * Shape: the per-doc bigram counting runs INSIDE one codegen scan
    * ([[graft.functions.expr.TextExprUtil.charBigramCounts]] — no
    * char-array split, no interpreted transform lambda, no occurrence
    * explode), pre-counted maps explode into one (c₁,c₂) fold — the
    * only data-sized shuffle — then the prefix total and grand total
    * fold as WINDOWS over the alphabet²-bounded count table (a per-c₁
    * partition window and a single-partition global window over
    * ≤ |Σ|² rows — bounded by construction, the [[Stats.bootstrapCI]]
    * b-row argument), so the whole statistic is ONE job: no
    * checkpoint, no self-join, no broadcast barrier, the corpus
    * scanned once.
    *
    * @return one row (n_bigrams, n_pairs, cond_entropy_micros).
    */
  def bigramCondEntropy(docs: DataFrame, textCol: String): DataFrame = {
    val bi = docs
      .select(explode(graft.functions.expr.TextExprs
        .char_bigram_counts(col(textCol))).as("e"))
      .groupBy(col("e.bg").as("bg")).agg(sum(col("e.n12")).as("n12"))
    bi.withColumn("c1", substring(col("bg"), 1, 1))
      .withColumn("n1", sum(col("n12"))
        .over(Window.partitionBy(col("c1"))))
      .withColumn("n", sum(col("n12")).over(Window.partitionBy()))
      .select(col("n"),
        round(lit(-1e6) * (col("n12").cast("double") / col("n")) *
          log(col("n12").cast("double") / col("n1"))).cast("long")
          .as("t"))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("t"))
        .as("cond_entropy_micros"))
      .select(col("n").as("n_bigrams"), col("n_pairs"),
        col("cond_entropy_micros"))
  }

  /** Flesch reading-ease per document (Flesch 1948) — the
    * education-level readability filter a curation pipeline runs next
    * to the Gopher-style quality signals: `206.835 − 1.015·W/S −
    * 84.6·Y/W` with W whitespace tokens (the [[tokenize]] contract),
    * S sentence splits on `[.!?]+` (floor 1), Y syllables via the
    * standard vowel-group heuristic (runs of `[aeiouy]+` per
    * lowercased token, floor 1/word). All three counts are exact
    * integers from narrow HOF folds — no explode, no shuffle beyond
    * the scan — and the score is ONE fixed IEEE expression over them,
    * rounded to micros.
    *
    * @return (idCol, n_words, n_sentences, n_syllables,
    *         flesch_micros) per doc with ≥ 1 token, ordered.
    */
  def readability(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val toks = tokenize(col(textCol))
    val words = size(toks)
    val sentences = greatest(lit(1),
      size(filter(split(col(textCol), "[.!?]+"), s => trim(s) =!= lit(""))))
    val syllables = aggregate(toks, lit(0),
      (acc, w) => acc + greatest(lit(1),
        size(filter(split(w, "[^aeiouy]+"), g => g =!= lit("")))))
    docs.select(col(idCol), words.as("n_words"),
        sentences.as("n_sentences"), syllables.as("n_syllables"))
      .filter(col("n_words") > 0)
      .select(col(idCol),
        col("n_words").cast("long").as("n_words"),
        col("n_sentences").cast("long").as("n_sentences"),
        col("n_syllables").cast("long").as("n_syllables"),
        round(lit(1e6) * (lit(206.835)
          - lit(1.015) * col("n_words") / col("n_sentences")
          - lit(84.6) * col("n_syllables") / col("n_words")))
          .cast("long").as("flesch_micros"))
      .orderBy(col(idCol))
  }

  /** χ² token–label association (feature selection for the quality
    * classifiers, the 2×2 sibling of [[pmiPairs]]): for each token,
    * the chi-square statistic of the presence/absence × label
    * contingency table over documents — the classic
    * supervised-feature-selection score (Yang & Pedersen 1997).
    *
    * With `N` docs, `ct` positives, `rt` docs containing the token and
    * `a` positives containing it, `d = N·a − rt·ct` and
    * `χ² = N·d² / (rt·(N−rt)·ct·(N−ct))`. All counts and `d` are exact
    * BIGINTs (`N·d²` ≤ N⁵/16 — exact up to N ≈ 6×10³ per shard; beyond
    * that, score per-shard and fold); the single double division is one
    * fixed IEEE expression, so `chi2_micros` is engine-exact.
    * Degenerate tokens (rt = N) and degenerate labels (ct ∈ {0, N})
    * are excluded — χ² is undefined there.
    *
    * 100 TB shape: presence pairs are `explode(array_distinct(toks))`
    * — one codegen scan; token counts map-side combine; the 1-row
    * total is broadcast; top-N ranks the QUANTIZED integer score with
    * the token as total tiebreak (TakeOrderedAndProject, never a full
    * sort materialization).
    *
    * @param labelCol 0/1 integer document label column.
    * @return top-N rows (tok, n_docs, n_pos, chi2_micros) by
    *         (chi2 desc, tok asc).
    */
  def chiSquareTokens(docs: DataFrame, textCol: String, labelCol: String,
                      minDocs: Long, topN: Int): DataFrame = {
    val base = docs.select(col(labelCol).cast("long").as("y"),
      tokenize(col(textCol)).as("toks"))
    val pres = base.select(col("y"),
      explode(array_distinct(col("toks"))).as("tok"))
    val tokCounts = pres.groupBy("tok")
      .agg(count(lit(1)).as("rt"), sum("y").as("a"))
    val tot = base.agg(count(lit(1)).as("n"), sum("y").as("ct"))
    tokCounts.crossJoin(broadcast(tot))
      .filter(col("rt") >= minDocs && col("rt") < col("n") &&
        col("ct") > 0 && col("ct") < col("n"))
      .withColumn("d", col("n") * col("a") - col("rt") * col("ct"))
      .withColumn("chi2_micros",
        floor(lit(1e6) * ((col("n") * col("d") * col("d")).cast("double") /
          ((col("rt") * (col("n") - col("rt"))).cast("double") *
            (col("ct") * (col("n") - col("ct"))).cast("double"))))
          .cast("long"))
      .select(col("tok"), col("rt").as("n_docs"), col("a").as("n_pos"),
        col("chi2_micros"))
      .orderBy(desc("chi2_micros"), col("tok"))
      .limit(topN)
  }

  /** The HOF form of [[pmiPairs]]' pair extraction — the executable
    * spec of `WordPairsExpr` (equivalence-tested in TextExprSpec):
    * emits the same canonical (a, b) pairs per document. */
  private[graft] def pairExtractHof(textCol: Column, window: Int): Column = {
    val t = tokenize(textCol)
    flatten(transform(sequence(lit(0), size(t) - 2), i =>
      transform(sequence(i + 1, least(i + lit(window), size(t) - 1)), j =>
        struct(
          least(element_at(t, i + 1), element_at(t, j + 1)).as("a"),
          greatest(element_at(t, i + 1), element_at(t, j + 1)).as("b")))))
  }
}
