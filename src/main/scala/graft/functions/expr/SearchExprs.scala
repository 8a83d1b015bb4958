package graft.functions.expr

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Lower, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext,
  EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge.{divideByZeroError, toColumn, toExpr}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels of `Search.search`: each scan of a search evaluates
  * ONE expression whose children are the lower-cased text fields and
  * whose query constants (terms, boosts, idf, avgdl, …) ride in the
  * expression object. The generated code calls one helper through
  * `addReferenceObj` (the [[KeyWeightExpr]] pattern), so its source —
  * and every plan built around it — is the same for every query over
  * the same fields: the query's terms feed no codegen, analysis or
  * explain string.
  *
  * Tokens equal `GraftFunctions.tokenize`,
  * `array_remove(split(lower(text), "\\s+"), "")`: each child is
  * Spark's own `Lower` of a field, and the kernel splits its UTF-8
  * bytes on the six bytes of Java regex `\s` (space \t \n \x0B \f \r).
  * None of them occurs inside a multi-byte sequence, so the byte scan
  * is exact; NBSP and other Unicode spaces are not separators. A term
  * matches a token when their bytes are equal, as `array_remove`
  * compares. */
object SearchKernel {
  @inline def isWs(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** Token count of `s` (its `dl`); `tf(j)` gets the count of `terms(j)`. */
  def scan(s: UTF8String, terms: Array[Array[Byte]], tf: Array[Int]): Int = {
    java.util.Arrays.fill(tf, 0)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var dl = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(Platform.getByte(base, off + i))) i += 1
        dl += 1
        val len = i - start
        var j = 0
        while (j < terms.length) {
          val t = terms(j)
          if (t.length == len && ByteArrayMethods.arrayEquals(
              base, off + start, t, Platform.BYTE_ARRAY_OFFSET, len)) tf(j) += 1
          j += 1
        }
      }
    }
    dl
  }

  def utf8(terms: Seq[String]): Array[Array[Byte]] = terms.map(_.getBytes(UTF_8)).toArray
}

/** The statistics half: dl per field, then tf per (field, term),
  * field-major — `[dl_0 … dl_F-1, tf_00 … tf_0T-1, tf_10 …]`. A null
  * field has a null tf and the dl `size` gives a null array: null, or
  * −1 under legacy size-of-null. */
final class FeatureKernel(terms: Array[Array[Byte]], legacySizeOfNull: Boolean)
    extends Serializable {
  def features(fields: Array[UTF8String]): ArrayData = {
    val nF = fields.length
    val nT = terms.length
    val out = new Array[Any](nF * (1 + nT))
    val tf = new Array[Int](nT)
    var i = 0
    while (i < nF) {
      val s = fields(i)
      if (s == null) {
        if (legacySizeOfNull) out(i) = -1
      } else {
        out(i) = SearchKernel.scan(s, terms, tf)
        var j = 0
        while (j < nT) { out(nF + i * nT + j) = tf(j); j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** The scoring half: a row's `_score`, or null for a row without a
  * hit. The arithmetic is the Column tree `Search.search` built before
  * this kernel, operation for operation, so scores are bit-identical:
  *  - a term with tf > 0 scores `tf * w` (tf-idf) or BM25's
  *    `w * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl / avgdl))`,
  *    where the outer `/` follows Spark's `Divide` (x / 0 is null, or
  *    an error under ANSI mode: a negative k1 can zero the denominator)
  *    and avgdl is never 0 (`Search`'s guard); any other term is null;
  *  - a field scores `boost * (((c0 + c1) + c2) …)` over its terms with
  *    null taken as 0.0, and is null when no term is present;
  *  - fields combine by that same null-skipping sum, by `greatest`, or
  *    by `best + tieBreaker * (sum - best)`.
  * `idf` is field-major like [[FeatureKernel]]'s tf. */
final class ScoreKernel(terms: Array[Array[Byte]], boosts: Array[Double],
                        idf: Array[Double], avgdl: Array[Double], bm25: Boolean,
                        combineMax: Boolean, k1: Double, b: Double, tieBreaker: Double,
                        failOnError: Boolean) extends Serializable {
  private val k1p1 = k1 + 1.0
  private val oneMinusB = 1.0 - b

  /** Whether Spark's `Divide` by `y` gives a value: x / 0 is null, or
    * an error under ANSI mode. */
  private def divisor(y: Double): Boolean =
    if (y != 0) true
    else if (failOnError) throw divideByZeroError()
    else false

  def score(fields: Array[UTF8String]): java.lang.Double = {
    val nF = fields.length
    val nT = terms.length
    val tf = new Array[Int](nT)
    var sum = 0.0
    var best = 0.0
    var any = false
    var i = 0
    while (i < nF) {
      val s = fields(i)
      var fieldSum = 0.0
      var hit = false
      if (s != null) {
        val dl = SearchKernel.scan(s, terms, tf).toDouble
        var j = 0
        while (j < nT) {
          val t = tf(j)
          var c = 0.0
          if (t > 0) {
            val w = idf(i * nT + j)
            if (!bm25) { c = t.toDouble * w; hit = true }
            else {
              val den = t.toDouble + k1 * (oneMinusB + b * dl / avgdl(i))
              if (divisor(den)) { c = w * (t.toDouble * k1p1) / den; hit = true }
            }
          }
          fieldSum = if (j == 0) c else fieldSum + c
          j += 1
        }
      }
      val fieldScore = if (hit) boosts(i) * fieldSum else 0.0
      sum = if (i == 0) fieldScore else sum + fieldScore
      if (hit && (!any || SQLOrderingUtil.compareDoubles(fieldScore, best) > 0))
        best = fieldScore
      any ||= hit
      i += 1
    }
    if (!any) null
    else if (!combineMax) sum
    else if (tieBreaker == 0.0) best
    else best + tieBreaker * (sum - best)
  }
}

/** Children: the text fields, each under Spark's `Lower` (whose input
  * check casts or rejects a non-string field). */
sealed trait SearchFieldsExpr extends Expression {
  protected def fieldValues(input: InternalRow): Array[UTF8String] =
    children.map(_.eval(input).asInstanceOf[UTF8String]).toArray

  /** Code that fills a per-stage `UTF8String[]` with the row's fields,
    * and that array's name. */
  protected def genFieldValues(ctx: CodegenContext): (Block, String) = {
    val arr = ctx.addMutableState("UTF8String[]", "searchFields",
      v => s"$v = new UTF8String[${children.size}];")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      code"""${e.code}
        |$arr[$i] = ${e.isNull} ? null : ${e.value};""".stripMargin
    }.foldLeft(EmptyBlock: Block)(_ + _)
    (fill, arr)
  }

  protected def terms: Seq[String]
  // the terms never reach a plan string: a plan prints their count
  override def toString: String =
    s"$prettyName(${children.mkString(", ")}, ${terms.size} terms)"
}

/** `search_features(fields, terms)`: [[FeatureKernel]]'s array per row. */
case class SearchFeaturesExpr(children: Seq[Expression], terms: Seq[String],
                              legacySizeOfNull: Boolean) extends SearchFieldsExpr {
  @transient private lazy val kernel =
    new FeatureKernel(SearchKernel.utf8(terms), legacySizeOfNull)
  override def prettyName: String = "search_features"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def eval(input: InternalRow): Any = kernel.features(fieldValues(input))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("searchFeatures", kernel, classOf[FeatureKernel].getName)
    val (fill, arr) = genFieldValues(ctx)
    ev.copy(code = code"""$fill
      |ArrayData ${ev.value} = $k.features($arr);""".stripMargin,
      isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): SearchFeaturesExpr = copy(children = c)
}

/** `search_score(fields, terms, …)`: [[ScoreKernel]]'s score per row. */
case class SearchScoreExpr(children: Seq[Expression], terms: Seq[String],
                           boosts: Seq[Double], idf: Seq[Double], avgdl: Seq[Double],
                           scorer: String, combine: String, k1: Double, b: Double,
                           tieBreaker: Double, failOnError: Boolean)
    extends SearchFieldsExpr {
  @transient private lazy val kernel = new ScoreKernel(SearchKernel.utf8(terms),
    boosts.toArray, idf.toArray, avgdl.toArray, scorer == "bm25", combine == "max",
    k1, b, tieBreaker, failOnError)
  override def prettyName: String = "search_score"
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def eval(input: InternalRow): Any = kernel.score(fieldValues(input))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("searchScore", kernel, classOf[ScoreKernel].getName)
    val (fill, arr) = genFieldValues(ctx)
    val box = ctx.freshName("score")
    ev.copy(code = code"""$fill
      |java.lang.Double $box = $k.score($arr);
      |boolean ${ev.isNull} = $box == null;
      |double ${ev.value} = ${ev.isNull} ? ${CodeGenerator.defaultValue(DoubleType)}
      |  : $box.doubleValue();""".stripMargin)
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): SearchScoreExpr = copy(children = c)
}

/** `search_stats(features, fields, terms)`: over the non-null arrays of
  * [[SearchFeaturesExpr]] for `fields` fields and `terms` terms, Σdl
  * per field (null dl skipped; 0 when none) and df per (field, term),
  * the count of rows whose tf is positive. A typed aggregate, so the
  * statistics stage, like the scoring one, compiles no query-specific
  * code: its buffer is one binary column whatever the width. */
case class SearchStatsAgg(child: Expression, fields: Int, terms: Int,
                          mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
  private def width = fields * (1 + terms)
  override def prettyName: String = "search_stats"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def createAggregationBuffer(): Array[Long] = new Array[Long](width)
  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val a = child.eval(input).asInstanceOf[ArrayData]
    if (a != null) {
      var k = 0
      while (k < width) {
        if (!a.isNullAt(k)) {
          val v = a.getInt(k)
          if (k < fields) buf(k) += v else if (v > 0) buf(k) += 1
        }
        k += 1
      }
    }
    buf
  }
  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var k = 0
    while (k < width) { buf(k) += other(k); k += 1 }
    buf
  }
  override def eval(buf: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(buf)
  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }
  override def withNewMutableAggBufferOffset(o: Int): SearchStatsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SearchStatsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): SearchStatsAgg = copy(child = c)
}

object SearchExprs {
  private def lowered(fields: Seq[Column]): Seq[Expression] =
    fields.map(f => Lower(toExpr(f)))

  /** dl and tf per field of `fields` (raw text columns; lower-cased
    * here), for `terms` already lower-cased and split. The size-of-null
    * rule is read where `size` reads it. */
  def search_features(fields: Seq[Column], terms: Seq[String]): Column =
    toColumn(SearchFeaturesExpr(lowered(fields), terms, SQLConf.get.legacySizeOfNull))

  /** The statistics of [[search_features]] rows; null rows are skipped. */
  def search_stats(features: Column, fields: Int, terms: Int): Column =
    toColumn(SearchStatsAgg(toExpr(features), fields, terms).toAggregateExpression())

  /** A row's score for `terms` over `fields` with `boosts`, `idf` per
    * (field, term) and `avgdl` per field; null without a hit. ANSI
    * mode is read where `/` reads it. */
  def search_score(fields: Seq[Column], terms: Seq[String], boosts: Seq[Double],
                   idf: Seq[Double], avgdl: Seq[Double], scorer: String, combine: String,
                   k1: Double, b: Double, tieBreaker: Double): Column =
    toColumn(SearchScoreExpr(lowered(fields), terms, boosts, idf, avgdl, scorer, combine,
      k1, b, tieBreaker, SQLConf.get.ansiEnabled))
}
