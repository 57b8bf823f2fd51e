package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShim.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** MinHash signature over a token array, computed per ROW instead of per
  * exploded shingle: `numHashes` minimums of seeded xxhash64 over every
  * 3-token shingle, in one pass over the array.
  *
  * This replaces the explode(shingles) → groupBy(doc) → 32×min(xxhash64)
  * construction the near-dup pipeline started with. Both compute the
  * identical signature (bit-for-bit — `MinHashSigSpec` proves it against
  * the SQL construction), but the aggregation route materializes one row
  * PER SHINGLE and shuffles the partial mins per document; at corpus
  * scale that is rows ∝ total tokens through an exchange that exists
  * only to undo the explode. A per-row expression keeps signature
  * computation inside the scan's whole-stage pipeline: zero shuffles,
  * zero intermediate rows, and the LSH banding join that follows is the
  * FIRST exchange the pipeline pays.
  *
  * Hash compatibility: the i-th hash function is Spark's
  * `xxhash64(lit(i), shingle)` — seed 42, the int literal folded first
  * (`XXH64.hashInt(i, 42)`, precomputed per i), then the shingle's UTF-8
  * bytes. Shingles are `concat_ws(' ', slice(toks, w, 3))`, nulls
  * skipped, exactly like the SQL construction. Docs with fewer than 3
  * tokens yield null (callers filter `size(toks) >= 3` anyway).
  *
  * The reference format library has no text ops (SURVEY.md §2.B) — this
  * is part of the LLM-pipeline surface.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // null for short docs (n < 3) even when the input array is non-null —
  // the codegen template must declare isNull as a real variable
  override def nullable: Boolean = true

  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got $other")
  }

  require(numHashes >= 1, s"minhash_sig needs at least one hash, got $numHashes")

  // xxhash64(lit(i), shingle) folds the int literal into the seed before
  // the string bytes — constant per hash function, precomputed
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  // sized to THIS width (a shared 64-wide template would zero-pad past
  // 64 and silently corrupt wider signatures), cloned per row
  @transient private lazy val maxInit: Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  // shingle byte-assembly buffer, grown on demand and reused across
  // shingles and rows (expression instances are per-task copies)
  @transient private var buf: Array[Byte] = _

  override def nullSafeEval(input: Any): Any =
    evalArray(input.asInstanceOf[ArrayData])

  /** Generated code stays inside whole-stage codegen and calls THIS via a
    * reference object: the signature loop is real compiled Scala either
    * way, so interpreted and codegen paths are the same code path —
    * bit-identical by construction. One virtual call per row, no
    * fallback-expression row materialization around the stage. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashSig", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = $ref.evalArray($arr);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  /** The per-row signature kernel (shared by both eval paths); null for
    * docs with fewer than 3 tokens. */
  def evalArray(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < 3) return null
    if (buf == null) buf = new Array[Byte](256)
    val mins = maxInit.clone()
    var w = 0
    while (w <= n - 3) {
      // "t0 t1 t2" with concat_ws semantics: null tokens skipped, single
      // space only BETWEEN written tokens
      var len = 0
      var first = true
      var j = w
      while (j < w + 3) {
        if (!toks.isNullAt(j)) {
          val t = toks.getUTF8String(j)
          val tb = t.numBytes()
          val need = len + tb + 1
          if (need > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
          if (!first) { buf(len) = ' '; len += 1 }
          t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
          len += tb
          first = false
        }
        j += 1
      }
      var h = 0
      while (h < numHashes) {
        val v = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, seeds(h))
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  /** Column-API entry: minhash_sig(tokensCol), `numHashes` wide. */
  def minhashSig(tokens: Column, numHashes: Int): Column =
    column(MinHashSig(expression(tokens), numHashes))
}
