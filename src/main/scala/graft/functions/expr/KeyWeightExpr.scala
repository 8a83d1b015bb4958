package graft.functions.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType,
  StringType}

/** `key_weight(key)`: the weight a constant hash map gives `key`; null
  * for a null key or one the map does not hold. One O(1) hash probe per
  * row, where a `typedLit(Map)` lookup (`element_at`) scans the map's
  * key array. The map ships to executors via `addReferenceObj` (the
  * BpeExprs pattern). Keys are Catalyst values (`UTF8String` for
  * strings, boxed integers), so only string and integral keys hash by
  * value. */
case class KeyWeightExpr(child: Expression,
                         weights: java.util.HashMap[Any, java.lang.Long])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType | ByteType | ShortType | IntegerType | LongType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"key_weight requires a string or integral key, got ${t.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  // the map can hold a vertex's whole neighbourhood: plans print its size
  override def toString: String = s"key_weight($child, ${weights.size} keys)"
  override protected def nullSafeEval(k: Any): Any = weights.get(k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keyWeights", weights, "java.util.HashMap")
    val w = ctx.freshName("w")
    nullSafeCodeGen(ctx, ev, k => {
      val key = if (CodeGenerator.isPrimitiveType(child.dataType))
        s"${CodeGenerator.boxedType(child.dataType)}.valueOf($k)" else k
      s"""Object $w = $ref.get($key);
         |if ($w == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Long) $w).longValue(); }""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): KeyWeightExpr =
    copy(child = c)
}

object KeyWeightExpr {
  /** `key_weight` over a driver-side map of external key values
    * (String, Long, Int, …). The returned function shares one converted
    * map between all the columns it makes, so a task deserializes it
    * once. */
  def keyWeight(weights: scala.collection.Map[Any, Long]): Column => Column = {
    val m = new java.util.HashMap[Any, java.lang.Long](weights.size * 2)
    weights.foreach { case (k, w) =>
      m.put(CatalystTypeConverters.convertToCatalyst(k), w) }
    key => ColumnBridge.toColumn(KeyWeightExpr(ColumnBridge.toExpr(key), m))
  }
}
