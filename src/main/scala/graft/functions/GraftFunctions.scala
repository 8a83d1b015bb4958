package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.functions._

/** Scalar column functions of the engine — the re-expression of the
  * reference's hand-rolled Python record transforms (SURVEY §2.B) as
  * codegen-friendly Catalyst built-ins. No UDFs: every function here
  * composes `org.apache.spark.sql.functions` so the whole pipeline stays
  * inside whole-stage codegen and remains pushdown/prune-transparent.
  */
object GraftFunctions {

  /** md5-8 surrogate key: `md5(x)[:8]`.
    * Reference: UpsertBizcardToES/upsert_bizcard_to_es.py:68,75 and
    * UpsertBizcardToGraphDB/upsert_bizcard_to_graph_db.py:96,146 derive
    * every doc/content/person id this way; it is the join key of the
    * whole system, so it must match Python's `hashlib.md5(...).hexdigest()[:8]`
    * exactly (lower-case hex — Spark's `md5` is lower-case hex too).
    */
  def md5_8(c: Column): Column = substring(md5(c), 1, 8)

  /** Composite dedup key: `md5(lower(name)+":"+lower(email)+":"+lower(phone))[:8]`.
    * Reference: upsert_bizcard_to_es.py:73-75 ("content_id", declared for
    * dedup). `concat_ws` (not `concat`) so that a single null field does
    * not null the whole key; the reference operates on always-present
    * strings so the distinction is only defensive.
    */
  def contentId(name: Column, email: Column, phone: Column): Column =
    md5_8(concat_ws(":", lower(name), lower(email), lower(phone)))

  /** Person-vertex id: md5-8 of the e-mail local part.
    * Reference: upsert_bizcard_to_graph_db.py:146 — identity is
    * `email.split('@')[0]`.
    */
  def personId(email: Column): Column =
    md5_8(substring_index(email, "@", 1))

  /** Owner derivation from an S3 key: `basename(key).split('_')[0]`.
    * Reference: GetTextFromS3Image/get_text_from_s3_image.py:188.
    */
  def ownerFromKey(s3Key: Column): Column =
    substring_index(substring_index(s3Key, "/", -1), "_", 1)

  /** image_id = basename(s3_key). Reference: get_text_from_s3_image.py:107. */
  def imageId(s3Key: Column): Column = substring_index(s3Key, "/", -1)

  /** First e-mail-looking substring, '' if none.
    * Reference: get_text_from_s3_image.py:20-23. The pattern is kept
    * RE2/Java-regex compatible (character classes only) so the DuckDB
    * oracle can evaluate the identical pattern.
    */
  val EmailPattern = "[a-zA-Z0-9+_.-]+@[a-zA-Z0-9][a-zA-Z0-9.-]*\\.[a-zA-Z]+"
  def extractEmail(c: Column): Column = regexp_extract(c, EmailPattern, 0)

  /** First phone-looking substring ('' if none).
    * Reference: get_text_from_s3_image.py:31-35 — pattern
    * `\({0,1}\+{0,1}[\d ]*[\d]{2,}\){0,1}[\d\- ]{7,}` kept shape-for-shape
    * (optional paren + plus, digit run, optional close paren, >=7 more
    * digit/dash/space chars) so fixture phones like "(+82 10) 1025 7049"
    * match in full.
    */
  val PhonePattern = "\\(?\\+?[0-9 ]*[0-9]{2,}\\)?[0-9\\- ]{7,}"
  def extractPhone(c: Column): Column = regexp_extract(c, PhonePattern, 0)

  /** Address-line detector: count stopword hits in the lowercased line,
    * keep when score >= threshold.
    * Reference: get_text_from_s3_image.py:25-29 (8 Korean-address
    * stopwords, threshold 3). Expressed with higher-order array
    * functions — `size(filter(...))` — which stay inside codegen; no UDF.
    */
  val AddrStopwords: Seq[String] =
    Seq("-gu", "-ro", "-do", " gu", " ro", " do", " seoul", " korea")
  def addrScore(line: Column, stopwords: Seq[String] = AddrStopwords): Column =
    size(filter(
      array(stopwords.map(lit): _*),
      s => lower(line).contains(s)))

  /** Case-insensitive whitespace tokenization shared by search scoring,
    * token counting and shingling. Declared semantic refinement of the
    * reference's ES-internal analyzer (SURVEY §7.3): lowercase, split on
    * whitespace runs, drop empty tokens (a leading or trailing run
    * splits off one ""). `array_remove`, not a `filter` lambda: both
    * give the same array (null text stays null; `split` emits no null
    * element), but a lambda is CodegenFallback and runs interpreted.
    */
  def tokenize(text: Column): Column =
    array_remove(split(lower(text), "\\s+"), lit(""))

  /** `text` as Spark's `lower` gives it, evaluated without a job (the
    * optimizer folds `lower(lit(text))` the same way). Query text is
    * lower-cased with this, never with `String.toLowerCase`, which
    * follows the JVM's default locale (Turkish: "IVAN" → "ıvan") where
    * the documents' `lower` gives "ivan". */
  def lowerText(text: String): String = Lower(Literal(text)).eval().toString

  /** The tokens [[tokenize]] gives `text`, computed without a job, in
    * text order: `\s+` in Java's regex is the six ASCII separators
    * `split` splits on. */
  def textTokens(text: String): Seq[String] =
    lowerText(text).split("\\s+").filter(_.nonEmpty).toSeq

  /** ISO-8601 `created_at` format of the reference
    * (get_text_from_s3_image.py:186). */
  def isoTimestamp(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** Compact numeric `mts` format stored in the DynamoDB status table
    * (trigger_text_extract_from_s3_image.py:56). */
  def compactTimestamp(ts: Column): Column =
    date_format(ts, "yyyyMMddHHmmss").cast("long")

  /** Dot product of two equal-length float/double array columns.
    * `zip_with` + `aggregate` keep this in codegen'd built-ins; the fold
    * is sequential left-to-right, so the summation order is deterministic
    * (important for oracle hash-parity of similarity scores).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** L2 norm of an array column (deterministic sequential fold). */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity of two array columns — native codegen
    * expression ([[graft.functions.expr.CosineSimExpr]]); the HOF
    * fold [[cosineHof]] is its executable spec. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expr.VectorExprs.cosine_sim(a, b)

  /** Reference HOF formulation of [[cosine]] (slow path, test oracle). */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))
}
