package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The per-row MinHashSig expression must be BIT-IDENTICAL to the SQL
  * construction it replaced (explode 3-shingles → groupBy doc → N×
  * min(xxhash64(lit(i), shingle))): the q35 family's planted-truth
  * oracles reason about exact band collisions, so "approximately the
  * same hash" is not a thing — either the bytes and seed folding match
  * Spark's xxhash64 exactly, or recall/precision gates drift. */
class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  private val N = 16

  private def referenceSigs(df: org.apache.spark.sql.DataFrame) = {
    val shingled = df.filter(size(col("toks")) >= 3).select(col("doc_id"),
      explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3)))"
      )).as("shingle"))
    val minExprs = (0 until N).map { i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"m$i")
    }
    shingled.groupBy(col("doc_id"))
      .agg(minExprs.head, minExprs.tail: _*)
      .withColumn("sig", array((0 until N).map(i => col(s"m$i")): _*))
      .select(col("doc_id"), col("sig"))
  }

  private def exprSigs(df: org.apache.spark.sql.DataFrame) = {
    df.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), MinHashSig.minhashSig(col("toks"), N).as("sig"))
  }

  test("expression signature equals the explode/groupBy SQL construction") {
    val rnd = new scala.util.Random(7)
    val words = Array("alpha", "beta", "gamma", "delta", "x", "", "longer-token-9",
      "UTF✓", "ümlaut", "0")
    val docs = (0 until 200).map { id =>
      val n = 3 + rnd.nextInt(40)
      (id.toLong, Seq.fill(n)(words(rnd.nextInt(words.length))))
    }
    val df = docs.toDF("doc_id", "toks")
    assert(canon(exprSigs(df)) == canon(referenceSigs(df)))
  }

  test("null tokens follow concat_ws semantics (skipped, single separator)") {
    val df = Seq(
      (1L, Seq[String]("a", null, "b", "c")),
      (2L, Seq[String](null, null, null, "z")),
      (3L, Seq[String]("a", "b", "c"))
    ).toDF("doc_id", "toks")
    assert(canon(exprSigs(df)) == canon(referenceSigs(df)))
  }

  test("short docs (<3 tokens) are excluded by the size filter either way") {
    val df = Seq((1L, Seq("a", "b")), (2L, Seq("a", "b", "c"))).toDF("doc_id", "toks")
    assert(exprSigs(df).count() == 1L && referenceSigs(df).count() == 1L)
  }

  test("whole-stage codegen stays intact and agrees with interpreted eval") {
    // through a REAL source scan: a local relation would be folded by
    // ConvertToLocalRelation and never reach codegen at all
    val dir = java.nio.file.Files.createTempDirectory("graft-mh-cg").toString + "/t"
    Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq[String]("x", null, "y", "z", "w")),
      (3L, Seq("p", "q")), // short: null signature through the codegen path
      (4L, null.asInstanceOf[Seq[String]])
    ).toDF("doc_id", "toks").write.parquet(dir)
    val df = spark.read.parquet(dir)
    val q = df.select(col("doc_id"), MinHashSig.minhashSig(col("toks"), N).as("sig"))
    // the whole point of dropping CodegenFallback: the projection stage
    // containing the expression must BE a WholeStageCodegen stage
    val plan = q.queryExecution.executedPlan
    val inCodegen = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("minhash_sig") => w
    }
    assert(inCodegen.nonEmpty,
      s"minhash_sig fell out of whole-stage codegen:\n$plan")
    val withCodegen = canon(q)
    val interpreted = try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      canon(df.select(col("doc_id"), MinHashSig.minhashSig(col("toks"), N).as("sig")))
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(withCodegen == interpreted)
    // short and null docs both surface as null signatures, not crashes
    assert(q.filter(col("sig").isNull).count() == 2)
  }

  test("identical token arrays produce identical signatures (exact-twin recall)") {
    val toks = Seq("the", "quick", "brown", "fox", "jumps", "over", "it")
    val df = Seq((1L, toks), (2L, toks)).toDF("doc_id", "toks")
    val sigs = exprSigs(df).select("sig").collect().map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1))
  }
}
