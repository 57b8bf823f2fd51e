package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.GraftShim.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shannon entropy of a string's character (code point) distribution —
  * the per-document kernel behind q120's low-information-text detector.
  *
  * Replaces the original explode-per-character plan shape
  * (`regexp_extract_all(text,'(?s)(.)')` + `explode` + two groupBys): that
  * shape materializes ONE SHUFFLE ROW PER CHARACTER, so a 10⁵-char
  * document became 10⁵ rows before the histogram — the one plan in the
  * repo that scaled with characters instead of documents. This expression
  * histograms code points partition-locally in a single pass and emits one
  * double per document; the only shuffle left in q120 is the final by-lang
  * rollup (rows ∝ documents, then ∝ languages).
  *
  * Semantics are kept bit-compatible with the oracle's
  * `unnest(regexp_extract_all(lower(text),'(?s)(.)',1))`:
  *   - iterates Unicode CODE POINTS (Java regex `.` and RE2 `.` both match
  *     one code point, so surrogate pairs count once on every engine);
  *   - an empty string yields NULL (the regex plan produced zero rows for
  *     it, excluding the document from the per-doc aggregate — callers
  *     filter `isNotNull` to preserve that);
  *   - caller applies `lower()` in the plan (visible, engine-identical)
  *     and rounds to 6dp before thresholding, exactly as before.
  *
  * Entropy is -Σ (n/t)·ln(n/t) over distinct code points. The summation
  * order (hash-table order here vs group order in an engine) differs only
  * below ~1e-15 relative; the 6dp round absorbs it — the same tolerance
  * the explode-based plan already relied on.
  *
  * ASCII code points (the overwhelming majority of corpus text) count into
  * a flat 128-slot array; the rare non-ASCII tail goes to a hash map.
  * The reference format library has no text ops (SURVEY.md §2.B) — this is
  * part of the LLM-pipeline surface.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes() = child.dataType match {
    case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"char_entropy requires string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    evalEntropy(input.asInstanceOf[UTF8String])

  /** Whole-stage codegen calls the kernel via a reference object (one
    * virtual call per row, boxed-Double out only because the result is
    * nullable — no fallback-stage collapse). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charEntropy", this, classOf[CharEntropy].getName)
    nullSafeCodeGen(ctx, ev, str => s"""
      java.lang.Double ${ev.value}Tmp = (java.lang.Double) $ref.evalEntropy($str);
      if (${ev.value}Tmp == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}Tmp.doubleValue(); }
    """)
  }

  def evalEntropy(s: UTF8String): java.lang.Double = {
    // Decode code points straight off the UTF-8 bytes — no String
    // allocation, no regex. Sequence length comes from the lead byte,
    // but NOTHING here trusts validity: Spark strings are usually valid
    // UTF-8, yet CAST(binary AS STRING) is not validated, so a
    // truncated tail, a lone continuation byte, or a 0xF8+ lead must
    // degrade (each such byte counts as one unit, the replacement-char
    // spirit of the regex plan this replaced) — never read past the
    // array or misparse a garbage lead as a multi-byte sequence.
    val bytes = s.getBytes
    val len = bytes.length
    if (len == 0) return null
    val ascii = new Array[Long](128)
    var wide: java.util.HashMap[Integer, Array[Long]] = null
    var total = 0L
    var i = 0
    while (i < len) {
      val b0 = bytes(i) & 0xff
      val need =
        if (b0 < 0x80) 0
        else if ((b0 & 0xe0) == 0xc0) 1
        else if ((b0 & 0xf0) == 0xe0) 2
        else if ((b0 & 0xf8) == 0xf0) 3
        else -1 // continuation byte as lead, or invalid 0xF8+ lead
      // a multi-byte lead is only honored when every continuation byte
      // actually carries the 10xxxxxx tag — 0xC3 'A' must degrade to two
      // units, not swallow the 'A' into a bogus code point (an engine
      // replacing invalid sequences emits U+FFFD per bogus byte too)
      var contOk = need > 0 && i + need < len
      if (contOk) {
        var j = 1
        while (contOk && j <= need) {
          if ((bytes(i + j) & 0xc0) != 0x80) contOk = false
          j += 1
        }
      }
      var cp = 0
      if (need <= 0 || !contOk) { // ascii, invalid lead/continuation, or truncated
        cp = b0
        i += 1
      } else if (need == 1) {
        cp = ((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f); i += 2
      } else if (need == 2) {
        cp = ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f)
        i += 3
      } else {
        cp = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
          ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
        i += 4
      }
      if (cp < 128) ascii(cp) += 1
      else {
        if (wide == null) wide = new java.util.HashMap[Integer, Array[Long]]()
        val slot = wide.get(cp)
        if (slot == null) wide.put(cp, Array(1L)) else slot(0) += 1
      }
      total += 1
    }
    val t = total.toDouble
    var h = 0.0
    var c = 0
    while (c < 128) {
      val n = ascii(c)
      if (n > 0) { val p = n / t; h -= p * math.log(p) }
      c += 1
    }
    if (wide != null) {
      val it = wide.values().iterator()
      while (it.hasNext) { val p = it.next()(0) / t; h -= p * math.log(p) }
    }
    java.lang.Double.valueOf(h)
  }

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
  override def prettyName: String = "char_entropy"
}

object CharEntropy {
  /** Column-API entry: charEntropy(strCol). */
  def charEntropy(str: Column): Column = column(CharEntropy(expression(str)))
}
