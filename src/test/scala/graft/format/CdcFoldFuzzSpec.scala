package graft.format

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.FormatOps

/** A key generator that answers 5 on its first call and 150 after: a
  * batch read twice sees two different keys. Static, so the count
  * survives task deserialization in local mode. */
object FlipKey {
  val calls = new java.util.concurrent.atomic.AtomicInteger()
  def next(): Long = if (calls.getAndIncrement() == 0) 5L else 150L
}

/** Randomized end-to-end CDC replication: a seeded sequence of CAPTURED
  * upserts and deletes lands on a source table while a live change-feed
  * stream folds every batch into a replica (the q118 shape); the replica
  * must converge to the in-memory model — and to the source — after
  * every `processAllAvailable`. Randomization covers what the fixed gate
  * can't: interleavings of small/large batches (exact IN-list vs
  * over-cap summary pruning on the SAME replica), deletes that match
  * nothing, and repeated keys re-upserted across batches. */
class CdcFoldFuzzSpec extends SparkSpec {

  // -Dgraft.cdcfuzz.seeds=1,2,... widens the sweep for soak sessions
  private val fuzzSeeds: Seq[Int] =
    sys.props.get("graft.cdcfuzz.seeds")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(7, 19))
  for (seed <- fuzzSeeds) {
  test(s"random captured DML streams fold a replica to the model (seed $seed)") {
    val r = new Random(seed)
    val base = Files.createTempDirectory("graft-cdcfuzz")
    val dir = s"$base/src"
    val repl = s"$base/replica"
    val ck = s"$base/ck"
    import spark.implicits._

    var model: Map[Long, Long] = (0L until 300L).map(id => id -> (id * 2)).toMap
    def df(m: Map[Long, Long]) =
      m.toSeq.map { case (id, v) => (id, v) }.toDF("id", "v")
    df(model).repartitionByRange(3, col("id"))
      .write.format("graft").mode("overwrite").save(dir)
    spark.read.format("graft").load(dir)
      .write.format("graft").mode("overwrite").save(repl)

    // the change feed needs at least one captured batch before a stream
    // can infer its schema (same ordering as the q118 gate)
    val seedBatch = Seq((0L, -1L), (1L, -2L))
    FormatOps.upsert(spark, dir, "data", seedBatch.toDF("id", "v"),
      Seq("id"), captureChanges = true)
    model = model ++ seedBatch

    val q = FormatOps.changeFeedStream(spark, dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        FormatOps.applyCdcBatch(b.sparkSession, repl, "data", b, Seq("id"),
          idempotencyKey = Some(s"cdcfuzz-$batchId"))
      }.start()

    def replicaState(): Map[Long, Long] =
      spark.read.format("graft").load(repl).collect()
        .map(row => row.getLong(row.fieldIndex("id")) -> row.getLong(row.fieldIndex("v")))
        .toMap

    try {
      (1 to 8).foreach { step =>
        if (r.nextInt(3) < 2) {
          // captured upsert; size crosses the 1000-key prune cap
          // sometimes, so the fold exercises BOTH pruning regimes
          val n = if (r.nextBoolean()) 1 + r.nextInt(40) else 1100 + r.nextInt(300)
          val ks = r.shuffle((0L until 1600L).toVector).take(n)
          val batch = ks.map(id => (id, r.nextLong() % 500))
          FormatOps.upsert(spark, dir, "data", batch.toDF("id", "v"),
            Seq("id"), captureChanges = true)
          model = model ++ batch
        } else {
          val m = 3 + r.nextInt(10)
          val rem = r.nextInt(m)
          FormatOps.deleteWhere(spark, dir, "data", col("id") % m === rem,
            captureChanges = true)
          model = model.filterNot { case (id, _) => id % m == rem }
        }
        q.processAllAvailable()
        assert(replicaState() == model, s"step $step: replica diverged from model")
      }
    } finally q.stop()

    // and the replica converged to the source itself
    assert(replicaState() == spark.read.format("graft").load(dir).collect()
      .map(row => row.getLong(row.fieldIndex("id")) -> row.getLong(row.fieldIndex("v")))
      .toMap)
  }
  }

  test("applyCdcAggregate: split-tolerant signed folding, exact decimals, zero-count drop") {
    import spark.implicits._
    val viewDir = Files.createTempDirectory("graft-cdcagg").toString + "/v"
    // seeded view over groups 0..2: n and an exact decimal total
    spark.sql("""SELECT g, CAST(n AS BIGINT) AS n, CAST(total AS DECIMAL(20,2)) AS total
      FROM VALUES (0L, 2, 10.50), (1L, 1, 3.25) AS t(g, n, total)""")
      .write.format("graft").mode("overwrite").save(viewDir)
    def state(): Map[Long, (Long, java.math.BigDecimal)] =
      spark.read.format("graft").load(viewDir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    def fold(rows: Seq[(Long, String, String)]): Unit =
      graft.operators.FormatOps.applyCdcAggregate(spark, viewDir,
        rows.toDF("g", "v", "_change_type")
          .select(col("g"), col("v").cast("decimal(18,2)").as("v"), col("_change_type")),
        Seq("g"), "n", Map("total" -> col("v")))
    // an update to group 0 SPLIT across batches, postimage first: the
    // commutative math must converge regardless of order
    fold(Seq((0L, "7.25", "update_postimage")))
    fold(Seq((0L, "5.25", "update_preimage")))
    assert(state() == Map(
      0L -> (2L, new java.math.BigDecimal("12.50")),
      1L -> (1L, new java.math.BigDecimal("3.25"))))
    // inserts create a new group; deletes drain one to zero and it drops
    fold(Seq((2L, "1.00", "insert"), (1L, "3.25", "delete")))
    assert(state() == Map(
      0L -> (2L, new java.math.BigDecimal("12.50")),
      2L -> (1L, new java.math.BigDecimal("1.00"))))
    // a view column that is neither group, count, nor sum refuses loudly
    val e = intercept[IllegalArgumentException] {
      graft.operators.FormatOps.applyCdcAggregate(spark, viewDir,
        Seq((0L, "1.00", "insert")).toDF("g", "v", "_change_type")
          .select(col("g"), col("v").cast("decimal(18,2)").as("v"), col("_change_type")),
        Seq("g"), "n", Map.empty)
    }
    assert(e.getMessage.contains("neither"), e.getMessage)
  }

  test("a capture append split across micro-batches converges (the exact race, pinned)") {
    // the failure CdcFoldFuzzSpec originally caught: a stream trigger
    // racing a multi-file capture append lists HALF the files, so one
    // upsert's postimages and preimages arrive in DIFFERENT batches —
    // in either order. The old preimage-keyed fold deleted the key a
    // batch AFTER its postimage landed; applyCdcBatch must converge
    // under both orders.
    import spark.implicits._
    def freshReplica(): String = {
      val repl = Files.createTempDirectory("graft-split").toString + "/r"
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
        .coalesce(1).write.format("graft").mode("overwrite").save(repl)
      repl
    }
    def state(repl: String): Map[Long, Long] =
      spark.read.format("graft").load(repl).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the upsert's change set for key 1 (10 -> 11), version 7
    val post = Seq((1L, 11L, "update_postimage", 7L))
      .toDF("id", "v", "_change_type", "_commit_version")
    val pre = Seq((1L, 10L, "update_preimage", 7L))
      .toDF("id", "v", "_change_type", "_commit_version")

    // order 1: postimage batch first, preimage batch later
    val r1 = freshReplica()
    FormatOps.applyCdcBatch(spark, r1, "data", post, Seq("id"))
    FormatOps.applyCdcBatch(spark, r1, "data", pre, Seq("id"))
    assert(state(r1) == Map(1L -> 11L, 2L -> 20L),
      "a late preimage-only batch must NOT delete the updated key")

    // order 2: preimage first, postimage later
    val r2 = freshReplica()
    FormatOps.applyCdcBatch(spark, r2, "data", pre, Seq("id"))
    FormatOps.applyCdcBatch(spark, r2, "data", post, Seq("id"))
    assert(state(r2) == Map(1L -> 11L, 2L -> 20L))

    // both in one batch, plus a LATER delete of the same key in the same
    // batch (two DMLs folded together): the highest version must win
    val r3 = freshReplica()
    val mixed = Seq(
      (1L, 10L, "update_preimage", 7L),
      (1L, 11L, "update_postimage", 7L),
      (1L, 11L, "delete", 8L))
      .toDF("id", "v", "_change_type", "_commit_version")
    FormatOps.applyCdcBatch(spark, r3, "data", mixed, Seq("id"))
    assert(state(r3) == Map(2L -> 20L),
      "the higher-version delete must win over the same batch's update")

    // and the reverse: an update OUTRANKING an earlier delete re-creates
    val r4 = freshReplica()
    val mixed2 = Seq(
      (1L, 11L, "delete", 7L),
      (1L, 12L, "update_postimage", 8L))
      .toDF("id", "v", "_change_type", "_commit_version")
    FormatOps.applyCdcBatch(spark, r4, "data", mixed2, Seq("id"))
    assert(state(r4) == Map(1L -> 12L, 2L -> 20L))

    // legacy feed without the version column: single-DML batches fold
    val r5 = freshReplica()
    FormatOps.applyCdcBatch(spark, r5, "data",
      Seq((2L, 21L, "update_postimage")).toDF("id", "v", "_change_type"), Seq("id"))
    assert(state(r5) == Map(1L -> 10L, 2L -> 21L))
  }

  /** A replica of ids 0..199 (v = id) in two files split by id range. */
  private def twoFileReplica(prefix: String): String = {
    val repl = Files.createTempDirectory(prefix).toString + "/r"
    spark.range(0, 200).select(col("id"), col("id").as("v"))
      .repartitionByRange(2, col("id"))
      .write.format("graft").mode("overwrite").save(repl)
    repl
  }

  test("a non-deterministic batch is folded as evaluated once: no duplicate key") {
    val repl = twoFileReplica("graft-nondet")
    FlipKey.calls.set(0)
    val flip = udf(() => FlipKey.next()).asNondeterministic()
    // read once per consumer, the key prunes as 5 (file 1 only) and
    // writes as 150: file 2's old row for 150 is carried beside the new
    // one. Frozen, every consumer sees the same key.
    val batch = spark.range(1).select(flip().as("id"), lit(-1L).as("v"),
      lit("update_postimage").as("_change_type"), lit(1L).as("_commit_version"))
    FormatOps.applyCdcBatch(spark, repl, "data", batch, Seq("id"))
    val out = spark.read.format("graft").load(repl)
    assert(out.count() == 200)
    assert(out.select("id").distinct().count() == 200, "keys must stay unique")
    assert(out.filter(col("v") === -1L).count() == 1)
  }

  test("a replayed idempotency key returns before any Spark job") {
    val repl = twoFileReplica("graft-replay")
    val batch = spark.range(10).select(col("id"), (col("id") + 1000).as("v"),
      lit("update_postimage").as("_change_type"), lit(1L).as("_commit_version"))
    FormatOps.applyCdcBatch(spark, repl, "data", batch, Seq("id"), Some("b-1"))
    val (_, jobs) = jobsDuring(
      FormatOps.applyCdcBatch(spark, repl, "data", batch, Seq("id"), Some("b-1")))
    assert(jobs == 0, s"a replay ran $jobs jobs")
    assert(spark.read.format("graft").load(repl).filter(col("v") >= 1000).count() == 10)
  }

  test("a fold at or under the cap runs at most 2 jobs and shuffles nothing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{SparkPlan, adaptive}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
    val repl = twoFileReplica("graft-shape")
    val batch = ((0L until 100L).map(id => (id, -id, "update_postimage", 1L)) ++
      (100L until 150L).map(id => (id, 0L, "delete", 1L)) ++
      (500L until 700L).map(id => (id, id, "insert", 1L)))
      .toDF("id", "v", "_change_type", "_commit_version")
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: adaptive.AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: adaptive.QueryStageExec => nodes(q.plan)
      case _ => (p.children ++ p.subqueries).flatMap(nodes)
    })
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(action: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(action: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val jobs = try jobsDuring(
      FormatOps.applyCdcBatch(spark, repl, "data", batch, Seq("id"), Some("shape-1")))._2
    finally spark.listenerManager.unregister(listener)
    assert(jobs <= 2, s"a 350-row fold ran $jobs jobs")
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq.map(nodes)
    assert(all.exists(_.exists(_.isInstanceOf[V2TableWriteExec])), "no write plan seen")
    assert(!all.flatten.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "the fold must plan with no exchange")
    val out = spark.read.format("graft").load(repl)
    assert(out.count() == 350)
    assert(out.filter(col("id") < 100 && col("v") === -col("id")).count() == 100)
  }

  test("a change row holding invalid UTF-8 lands byte-exact") {
    import spark.implicits._
    val repl = Files.createTempDirectory("graft-badutf-cdc").toString + "/r"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1).write.format("graft").mode("overwrite").save(repl)
    val batch = Seq((1L, "update_postimage"), (3L, "insert")).toDF("id", "_change_type")
      .select(col("id"), unhex(lit("C328FF")).cast("string").as("s"), col("_change_type"))
    FormatOps.applyCdcBatch(spark, repl, "data", batch, Seq("id"))
    val got = spark.read.format("graft").load(repl)
      .select(col("id"), hex(col("s").cast("binary")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "C328FF", 2L -> "62", 3L -> "C328FF"))
  }
}
