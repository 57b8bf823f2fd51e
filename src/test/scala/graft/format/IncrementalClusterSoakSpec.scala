package graft.format

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.FormatOps

/** Repeated append → incremental-recluster rounds: the maintenance loop
  * a clustered ingest table lives in. Invariants that must hold at
  * EVERY round, not just the first:
  *   - each round rewrites exactly its drift files (all earlier tilings
  *     byte-identical — cost ∝ drift forever, never re-inflating);
  *   - the record's member list equals the live listing after every
  *     round (DESCRIBE's 'clustered' claim never drifts from truth);
  *   - point queries stay planning-prunable: each tiling covers a
  *     bounded key range, so a probe schedules O(1) files no matter
  *     how many incremental rounds have run;
  *   - content is preserved exactly across the whole history.
  */
class IncrementalClusterSoakSpec extends SparkSpec {
  private val conf = new Configuration()

  test("5 append+incremental rounds: drift-only rewrites, truthful record, O(1) probes") {
    val dir = Files.createTempDirectory("graft-inc-soak").toString
    val perRound = 6000L
    spark.range(0, 48000).selectExpr("id AS k", "id % 11 AS v")
      .repartition(8)
      .write.format("graft").option("chunkrows", "2048").mode("overwrite").save(dir)
    FormatOps.cluster(spark, dir, "data", Seq("k"), targetFiles = 8,
      writeOptions = Map("chunkrows" -> "2048"))

    def fileState(): Map[String, (Long, Long)] =
      graft.sources.GraftDataSource.listFiles(conf, dir).map { p =>
        val st = p.getFileSystem(conf).getFileStatus(p)
        p.getName -> (st.getLen, st.getModificationTime)
      }.toMap
    def scheduledFiles(key: Long): Int = {
      val sel = spark.read.format("graft").load(dir).filter(col("k") === key)
      sel.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.collect {
            case p: graft.sources.GraftInputPartition => Seq(p.file)
            case p: graft.sources.GraftPackedPartition => p.files.map(_._1)
          }.flatten
      }.flatten.distinct.size
    }

    var hi = 48000L
    var settled = fileState()
    (1 to 5).foreach { round =>
      // drift lands as 2 shuffled files of new high keys
      spark.range(hi, hi + perRound).selectExpr("id AS k", "id % 11 AS v")
        .repartition(2)
        .write.format("graft").option("chunkrows", "2048").mode("append").save(dir)
      hi += perRound
      val n = FormatOps.clusterIncremental(spark, dir, "data")
      assert(n == 2, s"round $round: expected the 2 drift files reclustered, got $n")
      val now = fileState()
      // EVERY earlier tiling survives byte-identical
      settled.foreach { case (name, sig) =>
        assert(now.get(name).contains(sig),
          s"round $round rewrote settled file $name — cost is no longer ∝ drift")
      }
      // the record tells the truth: count == live, members == live names
      val members = graft.sources.GenerationRecord.live(conf, dir).flatMap(_.cluster).get.members
      assert(members.size == now.size, s"round $round: record ${members.size} != live ${now.size}")
      assert(members.toSet == now.keySet, s"round $round: member list drifted from listing")
      settled = now
    }
    // content exact after the full history
    val t = spark.read.format("graft").load(dir)
    assert(t.count() == hi)
    assert(t.agg(sum("k")).head.getLong(0) == (0L until hi).sum)
    // O(1) probes across every era: the original tiling, each round's
    // tiling, and the last round — never a scan that grows with rounds
    for (key <- Seq(100L, 40000L, 49000L, 61000L, hi - 1)) {
      val n = scheduledFiles(key)
      assert(n <= 2, s"point probe k=$key schedules $n files after 5 rounds")
      assert(spark.read.format("graft").load(dir)
        .filter(col("k") === key).count() == 1L)
    }
  }

  test("incremental recluster composes with live delete vectors") {
    val root = Files.createTempDirectory("graft-inc-dv").toString
    spark.conf.set("spark.sql.catalog.incdv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.incdv.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS incdv.db")
    spark.range(0, 20000).selectExpr("id AS k", "id % 13 AS v")
      .repartition(4).createOrReplaceTempView("incdv_src")
    spark.sql("CREATE TABLE incdv.db.t AS SELECT * FROM incdv_src")
    val dir = s"$root/db"
    FormatOps.cluster(spark, dir, "t", Seq("k"), targetFiles = 4)
    def state(): Map[String, (Long, Long)] =
      graft.sources.GraftDataSource.listFiles(conf, dir).map { p =>
        val st = p.getFileSystem(conf).getFileStatus(p)
        p.getName -> (st.getLen, st.getModificationTime)
      }.toMap
    val clustered = state()
    // MoR delete touching CLUSTERED files, then drift, then a delete
    // touching the DRIFT file too
    spark.conf.set("spark.graft.deleteMode", "merge-on-read")
    try {
      spark.sql("DELETE FROM incdv.db.t WHERE k % 401 = 7")
      spark.range(20000, 24000).selectExpr("id AS k", "id % 13 AS v").coalesce(1)
        .write.format("graft").option("table", "t").mode("append").save(dir)
      spark.sql("DELETE FROM incdv.db.t WHERE k >= 21000 AND k < 21500")
    } finally spark.conf.set("spark.graft.deleteMode", "copy-on-write")
    // the first DELETE ran before the append, so k % 401 = 7 removals
    // apply only to the original [0, 20000) rows
    val expect = (0L until 24000L).count(k =>
      !(k < 20000 && k % 401 == 7) && !(k >= 21000 && k < 21500)).toLong
    assert(spark.table("incdv.db.t").count() == expect)

    val n = FormatOps.clusterIncremental(spark, dir, "t")
    assert(n == 1, s"expected the 1 drift file reclustered, got $n")
    // clustered originals byte-identical AND their DVs carried — the
    // recluster must neither materialize them nor lose them
    val after = state()
    clustered.foreach { case (name, sig) =>
      assert(after.get(name).contains(sig), s"clustered original $name rewritten")
    }
    val dvs = graft.sources.GraftDataSource.liveDvs(conf, dir, Some("t"))
    assert(dvs.nonEmpty, "clustered originals' delete vectors must carry")
    // the drift replacement holds live rows only: its DV entry is gone
    // (exactly one DV'd file set = the carried clustered ones)
    assert(dvs.keySet.forall(uri => clustered.contains(new org.apache.hadoop.fs.Path(uri).getName)),
      s"a reclustered drift file still carries a DV: ${dvs.keySet}")
    // content exact through deletes + recluster; the DV audit stays green
    assert(spark.table("incdv.db.t").count() == expect)
    assert(spark.table("incdv.db.t").agg(sum("k")).head.getLong(0) ==
      (0L until 24000L).filter(k =>
        !(k < 20000 && k % 401 == 7) && !(k >= 21000 && k < 21500)).sum)
    assert(FormatOps.verifyTable(spark, dir, Some("t")).forall(_._2))
  }
}
