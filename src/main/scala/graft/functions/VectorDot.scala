package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** `vector_dot(a, b)` — native dot product over float/double array
  * columns, accumulating left-to-right in doubles.
  *
  * Exists because Spark's higher-order functions (`zip_with` +
  * `aggregate`) run interpreted with per-element lambda dispatch — on an
  * ANN candidate join evaluating millions of 64-dim dot products, the
  * HOF fold dominates the stage. This expression generates a tight Java
  * loop inside whole-stage codegen.
  *
  * Semantics are BIT-IDENTICAL to the fold it replaces (same element
  * order, same double accumulation, null element ⇒ null result), so the
  * DuckDB oracle — whose list_dot_product folds the same way — is
  * unaffected.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires float/double array inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vector_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (xa, xb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    val n = math.min(xa.numElements(), xb.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xa.isNullAt(i) || xb.isNullAt(i)) return null
      val va = if (ta == FloatType) xa.getFloat(i).toDouble else xa.getDouble(i)
      val vb = if (tb == FloatType) xb.getFloat(i).toDouble else xb.getDouble(i)
      acc += va * vb
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def get(t: DataType, arr: String, i: String): String =
      if (t == FloatType) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += (${get(ta, a, i)}) * (${get(tb, b, i)});
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorDot {
  def register(spark: SparkSession): Unit =
    Registry.registerOnce(spark, "vector_dot", classOf[VectorDot].getName,
      exprs => VectorDot(exprs.head, exprs(1)))

  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("vector_dot", a, b)
  }
}
