package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class FunctionsSpec extends SparkSpec {

  test("simhash64 is deterministic, order-insensitive for bags, null-aware") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("the", "quick", "brown", "fox")),
      (2L, Seq("fox", "brown", "quick", "the")), // same bag, different order
      (3L, Seq("the", "quick", "brown", "fax")), // near-dup
      (4L, Seq.empty[String]),
      (5L, Seq("the", null.asInstanceOf[String], "quick", "brown", "fox"))
    ).toDF("id", "toks")
      .withColumn("h", SimHash64.simhash64(col("toks")))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m(1) == m(2)) // bag semantics: order must not matter
    assert(m(4) == 0L)   // empty bag
    // near-dup: small hamming distance, but not equal
    val ham = java.lang.Long.bitCount(m(1) ^ m(3))
    assert(ham > 0 && ham <= 16, s"hamming=$ham")
    // run twice: stable across plans/sessions
    val again = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == m)
    // hamming helper agrees with bit_count(xor)
    val hdf = df.filter(col("id").isin(1, 3)).agg(
      collect_list(col("h"))).head.getSeq[Long](0)
    assert(java.lang.Long.bitCount(hdf(0) ^ hdf(1)) == ham)
  }

  test("simhash64 and rolling_hash64 agree across codegen and interpreted paths") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("c", "b", "a")), // rolling hash must differ (order-sensitive)
      (3L, Seq[String]("a", null, "c")),
      (4L, Seq.empty[String])
    ).toDF("id", "toks")
    def run(): Seq[(Long, Long, Long)] = df
      .select(col("id"), SimHash64.simhash64(col("toks")).as("s"),
        RollingHash64.rollingHash64(col("toks")).as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run() finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(withCodegen == interpreted)
    val byId = withCodegen.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(1L)._2 != byId(2L)._2, "rolling hash must be order-sensitive")
    assert(byId(1L)._1 == byId(2L)._1, "simhash must be bag-semantics")
  }

  test("graft_dot matches manual dot product in both eval paths") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0)),
      (Array.empty[Double], Array.empty[Double])
    ).toDF("a", "b")
    // codegen path
    val got = df.select(VectorOps.dot(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(32.0, 0.0, 0.0))
    // interpreted path (codegen off) must agree
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val got2 = df.select(VectorOps.dot(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
      assert(got2.toSeq == got.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // null input -> null out
    val withNull = Seq((Option.empty[Array[Double]], Option(Array(1.0)))).toDF("a", "b")
    assert(withNull.select(VectorOps.dot(col("a"), col("b"))).head.isNullAt(0))
  }

  test("graft_dot float32: cast-free fold is bit-equal to the double cast") {
    import spark.implicits._
    // values NOT exactly representable in binary32 would differ between
    // f32 and f64 STORAGE — the equality pinned here is cast-freeness:
    // dot(float_array) == dot(cast(float_array AS double)), bit-for-bit
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(50)((
      Array.fill(64)(rnd.nextFloat() * 2f - 1f),
      Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val df = rows.toDF("a", "b").localCheckpoint()
    val castFree = df.select(VectorOps.dot(col("a"), col("b")).as("d"))
      .collect().map(_.getDouble(0)).toSeq
    val viaCast = df.select(VectorOps.dot(
        col("a").cast("array<double>"), col("b").cast("array<double>")).as("d"))
      .collect().map(_.getDouble(0)).toSeq
    assert(castFree == viaCast, "float->double widening inside the fold must be exact")
    // mixed float x double sides type-check and agree too
    val mixed = df.select(VectorOps.dot(
        col("a"), col("b").cast("array<double>")).as("d"))
      .collect().map(_.getDouble(0)).toSeq
    assert(mixed == viaCast)
    // interpreted path agrees with codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(VectorOps.dot(col("a"), col("b")).as("d"))
        .collect().map(_.getDouble(0)).toSeq
      assert(interp == castFree)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // unsupported element types refuse at analysis
    val bad = Seq((Array(1, 2, 3), Array(4, 5, 6))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(VectorOps.dot(col("a"), col("b"))).collect()
    }
  }

  test("graft_weighted_avg matches the SQL formulation") {
    val df = spark.range(1, 1000).selectExpr(
      "id % 7 AS g", "cast(id AS double) AS v", "cast(id % 13 + 1 AS double) AS w")
    val got = df.groupBy(col("g"))
      .agg(round(WeightedAvg.weightedAvg(col("v"), col("w")), 9).as("wa"))
    val want = df.groupBy(col("g"))
      .agg(round(sum(col("v") * col("w")) / sum(col("w")), 9).as("wa"))
    assert(canon(got) == canon(want))
  }

  test("every native Column entry runs in a fresh session without touching its registry") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val fresh = spark.newSession()
    import fresh.implicits._
    val toks = Seq("the", "quick", "brown", "fox")
    val lit64 = (e: org.apache.spark.sql.catalyst.expressions.Expression) =>
      e.eval(null).asInstanceOf[Long]
    val toksLit = Literal.create(toks, ArrayType(StringType))
    val row = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0), toks, "aabb", 5.0))
      .toDF("a", "b", "toks", "text", "x")
      .select(
        VectorOps.dot(col("a"), col("b")),
        SimHash64.simhash64(col("toks")),
        RollingHash64.rollingHash64(col("toks")),
        MinHashSig.minhashSig(col("toks"), 4),
        array((0 until 4).map(i => xxhash64(lit(i), lit("the quick brown"))): _*),
        array((0 until 4).map(i => xxhash64(lit(i), lit("quick brown fox"))): _*),
        CharEntropy.charEntropy(col("text")),
        QuantileBucket.bucket(col("x"), typedLit(Seq(1.0, 4.0, 9.0))))
      .head()
    assert(row.getDouble(0) == 32.0)
    assert(row.getLong(1) == lit64(SimHash64(toksLit)))
    assert(row.getLong(2) == lit64(RollingHash64(toksLit)))
    val shingles = Seq(row.getSeq[Long](4), row.getSeq[Long](5))
    assert(row.getSeq[Long](3) == (0 until 4).map(i => shingles.map(_(i)).min))
    assert(math.abs(row.getDouble(6) - math.log(2)) < 1e-12)
    assert(row.getLong(7) == 2L)
    val wa = Seq((1.0, 1.0), (3.0, 3.0)).toDF("v", "w")
      .agg(WeightedAvg.weightedAvg(col("v"), col("w"))).head().getDouble(0)
    assert(wa == 2.5)

    val dir = java.nio.file.Files.createTempDirectory("graft-fresh-cluster").toString
    val data = fresh.range(0, 5000).selectExpr("id", "id % 97 AS x", "(id * 31) % 101 AS y")
    data.write.format("graft").mode("overwrite").save(dir)
    graft.operators.FormatOps.cluster(fresh, dir, "data", Seq("x", "y"),
      targetFiles = 2, binning = "quantile")
    assert(canon(fresh.read.format("graft").load(dir)) == canon(data))

    val leaked = fresh.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(n => n.startsWith("graft_") || Set("minhash_sig", "simhash64",
        "rolling_hash64", "char_entropy", "__graft_bucket_internal__")(n))
    assert(leaked.isEmpty, s"native functions leaked into the registry: $leaked")
  }
}
