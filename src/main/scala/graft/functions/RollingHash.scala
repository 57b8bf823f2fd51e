package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Rabin–Karp-style rolling fingerprint of a token sequence.
  *
  * h = Σ fnv64(tok_i) · B^(n-1-i)  (wrapping 64-bit, B = 1000003)
  *
  * Order-SENSITIVE (unlike the bag-of-words md5 fingerprint): re-ordered
  * documents fingerprint differently, and the rolling structure means a
  * sliding-window variant can reuse partial hashes. Native expression so
  * it's one pass, no per-row allocation.
  */
case class RollingHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rolling_hash64 requires array<string>, got $other")
  }

  private final val Base = 1000003L

  @inline private def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(evalArray(input.asInstanceOf[ArrayData]))

  /** Whole-stage codegen calls the same kernel via a reference object —
    * no fallback-stage collapse, primitive long on the generated path. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rollingHash", this, classOf[RollingHash64].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.evalArray($arr);")
  }

  def evalArray(arr: ArrayData): Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val t = if (arr.isNullAt(i)) 0L else fnv64(arr.getUTF8String(i).getBytes)
      acc = acc * Base + t // wrapping multiply-add: the rolling step
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
  override def prettyName: String = "rolling_hash64"
}

object RollingHash64 {
  def rollingHash64(tokens: Column): Column =
    column(RollingHash64(expression(tokens)))
}
