package graft.format

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Generations

/** Idempotency-keyed rewrites: the key rides the generation's atomic
  * publish, so re-applying the same keyed fold (a foreachBatch retry)
  * is a no-op — the exactly-once contract incremental view maintenance
  * (q114) relies on. */
class IdempotentRewriteSpec extends SparkSpec {

  private def liveGen(dir: String): String =
    graft.sources.GraftDataSource.readGenPointer(new Configuration(), dir).get

  test("same key replays as a no-op; new key applies; untagged unaffected") {
    val dir = Files.createTempDirectory("graft-idem").toString
    spark.range(0, 100).selectExpr("id", "CAST(1 AS BIGINT) AS v")
      .write.format("graft").mode("overwrite").save(dir)
    def fold(key: Option[String]): Unit =
      Generations.rewrite(spark, dir,
        (_, df) => df.withColumn("v", col("v") + 1L), idempotencyKey = key)
    def total: Long =
      spark.read.format("graft").load(dir).agg(sum("v")).head.getLong(0)
    assert(total == 100)

    fold(Some("batch-7"))
    assert(total == 200)
    val genAfterFirst = liveGen(dir)
    assert(Generations.liveRewriteTag(new Configuration(), dir) == Some("batch-7"))

    // the retry: same key → no new generation, no double-application
    fold(Some("batch-7"))
    assert(total == 200, "replayed batch was applied twice")
    assert(liveGen(dir) == genAfterFirst, "replay must not create a generation")

    // progress: the NEXT batch's key applies normally
    fold(Some("batch-8"))
    assert(total == 300)
    assert(Generations.liveRewriteTag(new Configuration(), dir) == Some("batch-8"))

    // an untagged rewrite still applies and clears the tag (its
    // generation carries none), so a later replay of batch-8 would
    // re-apply — keys only guard consecutive replays of the SAME fold,
    // matching foreachBatch's retry shape
    fold(None)
    assert(total == 400)
    assert(Generations.liveRewriteTag(new Configuration(), dir).isEmpty)
  }

  test("a crash before the swap leaves no tag, so the retry applies") {
    val dir = Files.createTempDirectory("graft-idem-crash").toString
    spark.range(0, 10).selectExpr("id", "CAST(1 AS BIGINT) AS v")
      .write.format("graft").mode("overwrite").save(dir)
    Generations.rewrite(spark, dir, (_, df) => df) // establish gen-1
    // simulate a rewrite that crashed after publishing but before the
    // pointer swap: a published-but-unswapped gen dir whose record holds
    // the tag, crashed longer ago than the grace window
    val root = new java.io.File(dir)
    val phantom = new java.io.File(root, "gen-00002")
    assert(phantom.mkdir())
    graft.sources.GenerationRecord.write(new Configuration(),
      new org.apache.hadoop.fs.Path(phantom.getPath),
      graft.sources.GenerationRecord.Record(born = Some(System.currentTimeMillis()),
        tag = Some("batch-9")))
    assert(phantom.setLastModified(System.currentTimeMillis() - 3600 * 1000L))
    // the tag is NOT live (pointer still names gen-1), so the keyed
    // retry must apply; its entry sweep reclaims the stale phantom
    Generations.rewrite(spark, dir,
      (_, df) => df.withColumn("v", col("v") + 1L),
      idempotencyKey = Some("batch-9"))
    val t = spark.read.format("graft").load(dir).agg(sum("v")).head.getLong(0)
    assert(t == 20, "retry after pre-swap crash must apply the fold")
    assert(Generations.liveRewriteTag(new Configuration(), dir) == Some("batch-9"))
  }

  test("a key with leading and trailing spaces replays as a no-op") {
    val dir = Files.createTempDirectory("graft-idem-space").toString
    spark.range(0, 100).selectExpr("id", "CAST(1 AS BIGINT) AS v")
      .write.format("graft").mode("overwrite").save(dir)
    def fold(): Unit =
      Generations.rewrite(spark, dir,
        (_, df) => df.withColumn("v", col("v") + 1L), idempotencyKey = Some(" batch-1 "))
    fold()
    fold()
    val total = spark.read.format("graft").load(dir).agg(sum("v")).head.getLong(0)
    assert(total == 200, "replayed batch was applied twice")
    assert(Generations.liveRewriteTag(new Configuration(), dir) == Some(" batch-1 "))
  }
}
