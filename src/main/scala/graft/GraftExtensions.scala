package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.expr._

/** Library packaging as a Spark extension: makes every graft native
  * expression available to PLAIN SQL users on any session started with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (the standard extension-library deployment — no code changes in the
  * user's job, the functions resolve like built-ins). The same set is
  * injectable programmatically via [[TextExprs.register]] (both read
  * [[GraftExtensions.functions]]); this class is the config-driven twin
  * the cluster admin can set once.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.expr", null, name, usage,
          "", "", "", "", "4.0.0", "", "java_udf"), builder))
    }
}

object GraftExtensions {

  /** The SQL functions, one list for both registrations: name, usage,
    * and a builder that first checks the argument count. */
  private[graft] val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    fn("token_count", "whitespace token count, single scan")(es => TokenCountExpr(es.head)),
    fn("subword_count", "maximal [a-z0-9]+ run count")(es => SubwordCountExpr(es.head)),
    fn("rolling_hash", "Karp-Rabin document fingerprint")(es => RollingHashExpr(es.head)),
    fn("simhash64", "64-bit SimHash over whitespace tokens")(es => SimHash64Expr(es.head)),
    fn("top_ngram_frac", "share of the most frequent word n-gram: (text, n)", 2)(
      es => TopNgramFracExpr(es.head, ngramArg(es))))

  /** `build` behind Spark's WRONG_NUM_ARGS unless given `n` arguments. */
  private def fn(name: String, usage: String, n: Int = 1)(
      build: Seq[Expression] => Expression) = (name, usage, (es: Seq[Expression]) => {
    if (es.length != n)
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`", "expectedNum" -> n.toString,
        "actualNum" -> es.length.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"), None)
    build(es)
  })

  /** `n` must be an integer literal — TopNgramFracExpr fixes its n-gram
    * width at construction. Validate foldability and type here so
    * `top_ngram_frac(text, some_col)` or a BIGINT literal fails as a
    * proper AnalysisException at plan time (Spark's own error
    * conditions), not an opaque ClassCastException/NPE mid-build. */
  private def ngramArg(es: Seq[Expression]): Int = {
    if (!es(1).foldable)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> "`top_ngram_frac`", "paramName" -> "`n`",
        "paramType" -> "\"INT\""), None)
    es(1).eval() match {
      // any integral literal works (TINYINT..BIGINT; an n-gram width
      // never approaches 2^31, so intValue is exact for valid inputs)
      case n: java.lang.Integer if n > 0 => n.intValue
      case n: java.lang.Long if n > 0 && n == n.intValue => n.intValue
      case n: java.lang.Short if n > 0 => n.intValue
      case n: java.lang.Byte if n > 0 => n.intValue
      case _ =>
        throw new AnalysisException("SECOND_FUNCTION_ARGUMENT_NOT_INTEGER",
          Map("functionName" -> "top_ngram_frac"), None)
    }
  }
}
