package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two array<double|float> columns.
  *
  * The hot inner loop of every similarity-search operator; written as a
  * Catalyst expression WITH codegen so it stays inside whole-stage
  * codegen and allocates nothing per row (`zip_with` + `aggregate`
  * builds an intermediate array per pair — at a 50M-pair k-NN join that
  * is 50M allocations). Accumulation is a strict left fold in DOUBLE,
  * matching the DuckDB oracle's list_dot_product order.
  *
  * float32 sides need no cast: float→double widening is EXACT, so the
  * double-accumulated dot over float arrays is bit-identical to casting
  * the array to double first — but scans half the bytes. Real embedding
  * stores are float32; at 100 TB the cast-free path halves vector I/O.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def vectorElem(dt: DataType): Option[DataType] = dt match {
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case ArrayType(FloatType, _) => Some(FloatType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (vectorElem(left.dataType), vectorElem(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires array<double|float>, got (${left.dataType}, ${right.dataType})")
    }

  private lazy val leftFloat = left.dataType match {
    case ArrayType(FloatType, _) => true; case _ => false
  }
  private lazy val rightFloat = right.dataType match {
    case ArrayType(FloatType, _) => true; case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv: Double = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv: Double = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val xe = if (leftFloat) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val ye = if (rightFloat) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $xe * $ye;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_dot"
}

object VectorOps {
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
}
