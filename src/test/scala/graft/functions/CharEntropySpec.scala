package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CharEntropy must agree with the plan shape it replaced (explode of
  * regexp_extract_all('(?s)(.)') + groupBy counts) on every input class:
  * ASCII, repeated chars, multi-byte UTF-8, supplementary-plane code
  * points (surrogate pairs count ONCE), newlines, empty → null. */
class CharEntropySpec extends SparkSpec {

  private def referenceEntropy(s: String): Double = {
    val cps = s.codePoints().toArray
    val t = cps.length.toDouble
    cps.groupBy(identity).values.map { g =>
      val p = g.length / t; -p * math.log(p)
    }.sum
  }

  private def exprEntropy(s: String): java.lang.Double =
    CharEntropy(org.apache.spark.sql.catalyst.expressions.Literal(s))
      .evalEntropy(org.apache.spark.unsafe.types.UTF8String.fromString(s))

  test("matches reference computation on varied inputs") {
    val cases = Seq(
      "hello world",
      "aaaaaaa",
      "a",
      "line1\nline2\ttab",
      "café résumé",          // 2-byte UTF-8
      "日本語テスト", // 3-byte UTF-8
      "emoji 😀😀 pair",  // 4-byte / surrogate pair
      " \n\t  ",
      ('a' to 'z').mkString * 3)
    for (s <- cases) {
      val got = exprEntropy(s)
      assert(got != null, s"null for '$s'")
      assert(math.abs(got - referenceEntropy(s)) < 1e-12,
        s"entropy mismatch for '$s': $got vs ${referenceEntropy(s)}")
    }
  }

  test("empty string yields null (old plan produced zero rows)") {
    assert(exprEntropy("") == null)
  }

  test("surrogate pair counts as one code point") {
    // one distinct code point repeated twice → entropy 0
    assert(math.abs(exprEntropy("😀😀")) < 1e-15)
  }

  test("agrees with the explode-based plan end-to-end, codegen path") {
    val spk = spark
    import spk.implicits._
    val df = Seq(
      (1L, "the quick brown fox"),
      (2L, "AAAA aaaa"),       // lower() folds these together
      (3L, ""),
      (4L, "mixed é日😀 bytes\n")
    ).toDF("id", "text")
    val viaExpr = df.select($"id",
        round(CharEntropy.charEntropy(lower($"text")), 6).as("h"))
      .where($"h".isNotNull)
    val viaExplode = df
      .select($"id", expr("regexp_extract_all(lower(text), '(?s)(.)', 1)").as("cs"))
      .select($"id", size($"cs").as("t"), explode($"cs").as("ch"))
      .groupBy($"id", $"t", $"ch").agg(count(lit(1)).as("n"))
      .groupBy($"id")
      .agg(round(-sum(($"n" / $"t") * log($"n" / $"t")), 6).as("h"))
    assert(canon(viaExpr) == canon(viaExplode))
    // id=3 (empty) excluded on both paths
    assert(viaExpr.count() == 3)
  }

  test("invalid UTF-8 (binary casts) degrades per-byte, never crashes") {
    import org.apache.spark.unsafe.types.UTF8String
    val e = CharEntropy(org.apache.spark.sql.catalyst.expressions.Literal(""))
    // truncated 3-byte lead, lone continuation byte, invalid 0xF8+ lead,
    // 4-byte lead with only 2 continuations — all must decode bounded
    val cases = Seq(
      Array(0xe2.toByte),
      Array(0x80.toByte, 0x81.toByte),
      Array(0xf9.toByte, 'a'.toByte),
      Array(0xf0.toByte, 0x9f.toByte, 0x98.toByte),
      Array('a'.toByte, 0xe2.toByte))
    for (bytes <- cases) {
      val got = e.evalEntropy(UTF8String.fromBytes(bytes))
      assert(got != null && !got.isNaN && got >= 0.0, s"bad entropy for ${bytes.toList}")
    }
    // two distinct garbage bytes → two equal-mass units → entropy ln(2)
    assert(math.abs(e.evalEntropy(UTF8String.fromBytes(
      Array(0x80.toByte, 0x81.toByte))) - math.log(2)) < 1e-12)
    // valid 2-byte LEAD followed by plain ASCII (0xC3 'A'): the lead must
    // NOT swallow the 'A' into a bogus code point — both bytes count as
    // one unit each (two distinct units → ln 2), and the ASCII byte stays
    // visible as itself: 0xC3 'A' 'A' is {0xC3:1, 'A':2} → H(1/3,2/3)
    assert(math.abs(e.evalEntropy(UTF8String.fromBytes(
      Array(0xc3.toByte, 'A'.toByte))) - math.log(2)) < 1e-12)
    val h3 = e.evalEntropy(UTF8String.fromBytes(
      Array(0xc3.toByte, 'A'.toByte, 'A'.toByte)))
    val want = -(1.0 / 3 * math.log(1.0 / 3) + 2.0 / 3 * math.log(2.0 / 3))
    assert(math.abs(h3 - want) < 1e-12)
    // 3-byte lead whose SECOND continuation is ASCII: lead degrades alone,
    // the two trailing bytes decode as themselves → 3 distinct units
    assert(math.abs(e.evalEntropy(UTF8String.fromBytes(
      Array(0xe2.toByte, 0x80.toByte, 'x'.toByte))) - math.log(3)) < 1e-12)
  }

  test("rejects non-string input") {
    val e = CharEntropy(org.apache.spark.sql.catalyst.expressions.Literal(42))
    assert(e.checkInputDataTypes().isFailure)
  }
}
