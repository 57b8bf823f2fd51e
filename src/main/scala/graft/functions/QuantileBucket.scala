package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Bucket index of a double against a FOLDABLE sorted boundary array:
  * the count of boundaries <= value (binary search, ties impossible —
  * the caller dedups). NaN lands in bucket 0 (it orders nowhere; a
  * constant bucket contributes no z-order bits but never corrupts —
  * the key only ORDERS rows).
  *
  * The skew-robust binning kernel behind `FormatOps.cluster`'s quantile
  * mode: uniform `width_bucket` divisions collapse on zipfian columns
  * (99% of rows land in one bucket → that column stops pruning), while
  * quantile boundaries put ~equal row mass in every bucket regardless
  * of the distribution. A native Catalyst expression with codegen so
  * the rewrite's key computation stays inside whole-stage codegen; the
  * boundary array is evaluated ONCE per operator (foldable right child)
  * and shared via a reference object, not re-materialized per row.
  */
case class QuantileBucket(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DoubleType, ArrayType(DoubleType, _)) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (DoubleType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_bucket boundaries must be a literal array<double>")
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_bucket requires (double, array<double>), got $other")
    }

  // folded once per operator; null elements are a caller bug (quantiles
  // of a non-empty scan are never null) and refuse loudly here rather
  // than binning garbage
  private lazy val bounds: Array[Double] = {
    val v = right.eval(null)
    require(v != null, "graft_bucket boundaries must not be NULL")
    v.asInstanceOf[ArrayData].toDoubleArray()
  }

  def bucketOf(v: Double): Long = {
    if (v.isNaN) return 0L
    // insertion point over distinct sorted bounds = count of bounds <= v
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  override def nullSafeEval(input: Any, ignoredBounds: Any): Any =
    java.lang.Long.valueOf(bucketOf(input.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qbucket", this, classOf[QuantileBucket].getName)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $ref.bucketOf($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantileBucket =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_bucket"
}

object QuantileBucket {
  /** Column-API entry: bucket(value, boundsLiteral). Null values bucket
    * to 0 via the outer coalesce at the call site (BinaryExpression
    * null-propagates). */
  def bucket(value: Column, bounds: Column): Column =
    column(QuantileBucket(expression(value), expression(bounds)))
}
