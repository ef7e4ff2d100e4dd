package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/**
 * Codegen'd dense dot product over `array<float>` / `array<double>`
 * columns: Σ aᵢ·bᵢ accumulated in double.
 *
 * Spark's built-in route (`aggregate(zip_with(a, b, _*_), 0d, _+_)`)
 * evaluates higher-order lambdas interpreted — microseconds per element —
 * which dominates ANN scans. This expression compiles to a tight
 * primitive loop over the unsafe array data (no boxing, no per-element
 * closure), keeping brute-force similarity scans compute-bound at
 * 100 TB scale. Null vectors or length mismatch → NULL.
 */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vector_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if (lt == FloatType || lt == DoubleType) && lt == rt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<float> or two array<double> columns, " +
            s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }
  }

  private def elemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var sum = 0d
      var i = 0
      if (elemIsFloat) {
        while (i < n) { sum += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      } else {
        while (i < n) { sum += x.getDouble(i) * y.getDouble(i); i += 1 }
      }
      sum
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val sum = ctx.freshName("sum")
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $sum += (double) $a.$get($i) * (double) $b.$get($i);
         |  }
         |  ${ev.value} = $sum;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

object VectorDot {
  def apply(a: Column, b: Column): Column =
    Shim.column(VectorDot(Shim.expression(a), Shim.expression(b)))
}
