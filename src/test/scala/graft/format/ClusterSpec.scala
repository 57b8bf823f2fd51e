package graft.format

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And => FAnd, GreaterThan => FGt, LessThan => FLt}

import graft.SparkSpec
import graft.operators.FormatOps

/** Z-order clustering: after `FormatOps.cluster` on (x, y), a narrow
  * range filter on EITHER column must prune most chunks via zone maps —
  * the property a lexicographic sort only gives its leading column. */
class ClusterSpec extends SparkSpec {

  /** Fraction of the live generation's chunks a [lo, hi) range filter on
    * `c` skips, judged straight from footer stats with the scan's own
    * [[Stats.canSkip]]. */
  /** The live clustering claim's member file names. */
  private def members(conf: Configuration, dir: String): Option[Set[String]] =
    graft.sources.GenerationRecord.live(conf, dir).flatMap(_.cluster).map(_.members.toSet)

  private def skippedFraction(dir: String, c: String, lo: Long, hi: Long): Double = {
    val conf = new Configuration()
    val files = graft.sources.GraftDataSource.listFiles(conf, dir)
    val filter = FAnd(FGt(c, lo), FLt(c, hi))
    val chunks = files.flatMap { f =>
      val r = GraftFileReader.open(f.getFileSystem(conf), f)
      try r.footer.chunks.flatMap(_.tables).toList finally r.close()
    }
    val skipped = chunks.count { t =>
      val stats = t.schema.fieldNames.zip(t.stats).toMap
      Stats.canSkip(filter, t.schema, stats, t.numRows)
    }
    assert(chunks.size >= 16, s"want many small chunks, got ${chunks.size}")
    skipped.toDouble / chunks.size
  }

  test("range filters on both clustered columns prune; content preserved") {
    val dir = Files.createTempDirectory("graft-zorder").toString
    // two independent pseudo-random uniform columns: a plain sort could
    // serve only one of them
    val df = spark.range(0, 100000).selectExpr(
      "id", "(id * 7919) % 1000 AS x", "(id * 104729) % 1000 AS y")
    df.repartition(8).write.format("graft").option("chunkrows", "2048")
      .mode("overwrite").save(dir)
    val before = canon(spark.read.format("graft").load(dir))

    FormatOps.cluster(spark, dir, "data", Seq("x", "y"),
      targetFiles = 4, writeOptions = Map("chunkrows" -> "2048"))

    // pure reordering: every row survives exactly once
    assert(canon(spark.read.format("graft").load(dir)) == before)
    // a 5%-wide slice on EITHER dimension prunes well over half the
    // chunks (z-tiles bound both coordinates); pre-clustering the data
    // was written in id order, where x and y ranges span every chunk
    val fx = skippedFraction(dir, "x", 100, 150)
    val fy = skippedFraction(dir, "y", 700, 750)
    assert(fx > 0.5, f"x-slice skipped only ${fx * 100}%.0f%% of chunks")
    assert(fy > 0.5, f"y-slice skipped only ${fy * 100}%.0f%% of chunks")
    // filtered results stay correct under all that skipping
    val got = spark.read.format("graft").load(dir)
      .filter(col("x") > 100 && col("x") < 150).agg(sum("id"), count(lit(1))).head
    val want = df.filter(col("x") > 100 && col("x") < 150)
      .agg(sum("id"), count(lit(1))).head
    assert(got == want)
  }

  test("quantile binning prunes a zipfian column where uniform binning cannot") {
    // 99% of x-mass packed into [0, 100), 1% tailing out to ~10^6: the
    // uniform mode's 256 equal divisions of [min, max] put every dense
    // row in bucket 0, so x contributes no z-order bits and a narrow
    // dense-region slice skips (almost) nothing. Quantile boundaries
    // split the dense region finely — the same slice prunes hard.
    def build(binning: String): (String, Seq[String]) = {
      val dir = Files.createTempDirectory(s"graft-zq-$binning").toString
      spark.range(0, 100000).selectExpr(
        "id",
        """CASE WHEN (id * 7919) % 1000 < 990 THEN ((id * 7919) % 1000) % 100
           ELSE 100 + (((id * 7919) % 1000) - 990) * 100000 END AS x""",
        "(id * 104729) % 1000 AS y")
        .repartition(8).write.format("graft").option("chunkrows", "2048")
        .mode("overwrite").save(dir)
      val before = canon(spark.read.format("graft").load(dir))
      FormatOps.cluster(spark, dir, "data", Seq("x", "y"),
        targetFiles = 4, writeOptions = Map("chunkrows" -> "2048"),
        binning = binning)
      (dir, before)
    }

    val (uDir, uBefore) = build("uniform")
    val (qDir, qBefore) = build("quantile")
    // both modes are pure reorderings
    assert(canon(spark.read.format("graft").load(uDir)) == uBefore)
    assert(canon(spark.read.format("graft").load(qDir)) == qBefore)

    val uFx = skippedFraction(uDir, "x", 10, 15)
    val qFx = skippedFraction(qDir, "x", 10, 15)
    assert(qFx > 0.5, f"quantile x-slice skipped only ${qFx * 100}%.0f%% of chunks")
    assert(uFx < qFx,
      f"uniform (${uFx * 100}%.0f%%) should prune the dense region worse " +
        f"than quantile (${qFx * 100}%.0f%%)")
    // the OTHER dimension keeps pruning under quantile mode too
    val qFy = skippedFraction(qDir, "y", 700, 750)
    assert(qFy > 0.5, f"quantile y-slice skipped only ${qFy * 100}%.0f%% of chunks")
    // skipped results stay correct
    val got = spark.read.format("graft").load(qDir)
      .filter(col("x") > 10 && col("x") < 15).agg(sum("id"), count(lit(1))).head
    val want = spark.read.format("graft").load(uDir)
      .filter(col("x") > 10 && col("x") < 15).agg(sum("id"), count(lit(1))).head
    assert(got == want)
  }

  test("CALL sys.cluster is the SQL face of the rewrite") {
    val root = Files.createTempDirectory("graft-zproc").toString
    spark.conf.set("spark.sql.catalog.graft_zp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_zp.root", root)
    spark.range(0, 100000).selectExpr(
      "id", "(id * 7919) % 1000 AS x", "(id * 104729) % 1000 AS y")
      .repartition(8).write.format("graft").option("chunkrows", "2048")
      .option("table", "t").mode("overwrite").save(s"$root/db")
    def read() = spark.read.format("graft").option("table", "t").load(s"$root/db")
    val before = canon(read())

    // 16 files (the CALL carries no chunkrows option, so one chunk per
    // file — pruning granularity here IS the file)
    spark.sql("CALL graft_zp.sys.cluster(ns => 'db', cols => 'x,y', " +
      "target_files => 16, table => 't', binning => 'quantile')")

    assert(canon(read()) == before)
    val fx = skippedFraction(s"$root/db", "x", 100, 150)
    assert(fx > 0.5, f"post-CALL x-slice skipped only ${fx * 100}%.0f%% of chunks")

    // DESCRIBE narrates the clustering; a later append downgrades the
    // claim to partial (the new file never saw the z-key)
    def props(): String = spark.sql(
      "DESCRIBE TABLE EXTENDED graft_zp.db.t")
      .filter(col("col_name") === "Table Properties")
      .head().getString(1)
    val p1 = props()
    assert(p1.contains("clustering.columns=x,y"), p1)
    assert(p1.contains("clustering.binning=quantile"), p1)
    assert(p1.contains("clustering.state=clustered"), p1)
    spark.range(0, 100).selectExpr("id", "id AS x", "id AS y")
      .write.format("graft").option("table", "t").mode("append").save(s"$root/db")
    val p2 = props()
    assert(p2.contains("clustering.state=partial"), p2)

    // bad arguments refuse loudly without publishing a generation
    val e1 = intercept[Exception] {
      spark.sql("CALL graft_zp.sys.cluster(ns => 'db', cols => 'x,zz', " +
        "target_files => 4, table => 't')")
    }
    assert(e1.getMessage.contains("zz"))
    val e2 = intercept[Exception] {
      spark.sql("CALL graft_zp.sys.cluster(ns => 'db', cols => 'x,y', " +
        "target_files => 4, table => 't', binning => 'bogus')")
    }
    assert(e2.getMessage.contains("bogus"))
  }

  test("bucketed tables refuse clustering (the layout marker would undo it)") {
    val dir = Files.createTempDirectory("graft-zorder-bucketed").toString
    spark.range(0, 1000).selectExpr("id", "id % 7 AS a", "id % 11 AS b")
      .write.format("graft").option("bucketBy", "id:4")
      .mode("overwrite").save(dir)
    val e = intercept[IllegalArgumentException] {
      FormatOps.cluster(spark, dir, "data", Seq("a", "b"), 2)
    }
    assert(e.getMessage.contains("bucketed"), e.getMessage)
  }

  test("unknown table or column refuses loudly") {
    val dir = Files.createTempDirectory("graft-zorder-bad").toString
    spark.range(0, 100).selectExpr("id", "id AS a", "id AS b")
      .write.format("graft").mode("overwrite").save(dir)
    intercept[IllegalArgumentException] {
      FormatOps.cluster(spark, dir, "nosuch", Seq("a", "b"), 2)
    }
    intercept[IllegalArgumentException] {
      FormatOps.cluster(spark, dir, "data", Seq("a", "zz"), 2)
    }
  }

  test("incremental recluster: only drift files rewritten, claim restored, prune holds") {
    val conf = new Configuration()
    val dir = Files.createTempDirectory("graft-zorder-inc").toString
    spark.range(0, 40000).selectExpr("id AS k", "id % 7 AS v")
      .repartition(8) // shuffled: every file spans the key space
      .write.format("graft").option("chunkrows", "2048").mode("overwrite").save(dir)
    FormatOps.cluster(spark, dir, "data", Seq("k"), targetFiles = 8,
      writeOptions = Map("chunkrows" -> "2048"))
    def fileState(): Map[String, (Long, Long)] =
      graft.sources.GraftDataSource.listFiles(conf, dir).map { p =>
        val st = p.getFileSystem(conf).getFileStatus(p)
        p.getName -> (st.getLen, st.getModificationTime)
      }.toMap
    val clustered = fileState()
    assert(clustered.size == 8)
    // the record carries member names now
    val members0 = members(conf, dir)
    assert(members0.exists(_ == clustered.keySet), s"member list wrong: $members0")
    // drift: append NEW high keys (the realistic shape — monotonic ids),
    // shuffled so the drift file itself is unclustered
    spark.range(40000, 44000).selectExpr("id AS k", "id % 7 AS v").coalesce(1)
      .write.format("graft").option("chunkrows", "512").mode("append").save(dir)
    assert(members(conf, dir).get.size == 8 && fileState().size == 9, "drift fixture wrong")

    val n = FormatOps.clusterIncremental(spark, dir, "data")
    assert(n == 1, s"expected exactly the 1 drift file reclustered, got $n")
    // every CLUSTERED original survives byte-identical — cost ∝ drift
    val after = fileState()
    clustered.foreach { case (name, sig) =>
      assert(after.get(name).contains(sig), s"clustered original $name was rewritten")
    }
    // the record's count equals the live listing again (DESCRIBE reports
    // 'clustered') and the member list covers every live file
    val recorded = members(conf, dir).get.size
    assert(recorded == after.size, s"record $recorded != live ${after.size}")
    assert(members(conf, dir).exists(_ == after.keySet))
    // content preserved exactly
    val t = spark.read.format("graft").load(dir)
    assert(t.count() == 44000L)
    assert(t.agg(sum("k")).head.getLong(0) == (0L until 44000L).sum)
    // pruning: an old-range slice skips the new file's chunks AND most
    // clustered chunks; a new-range slice skips every clustered chunk
    assert(skippedFraction(dir, "k", 1000, 2000) > 0.8)
    assert(skippedFraction(dir, "k", 41000, 42000) > 0.8)
    // idempotent: nothing drifts now, so nothing rewrites, no churn
    assert(FormatOps.clusterIncremental(spark, dir, "data") == 0)
    assert(fileState() == after)
  }

  test("cluster record survives a COW DML and reads name-exactly") {
    val conf = new Configuration()
    val dir = Files.createTempDirectory("graft-zorder-carry").toString
    spark.range(0, 8000).selectExpr("id AS k", "id % 5 AS v")
      .repartition(4).write.format("graft").mode("overwrite").save(dir)
    FormatOps.cluster(spark, dir, "data", Seq("k"), targetFiles = 4)
    // a keyed COW DML replaces one candidate file; the claim must
    // SURVIVE for the carried files — and read name-exactly, so the
    // count-preserving replacement downgrades membership, not truth
    FormatOps.updateWhere(spark, dir, "data",
      Map("v" -> org.apache.spark.sql.functions.lit(-1L)),
      org.apache.spark.sql.functions.col("k") === 17L)
    val rec = graft.sources.GenerationRecord.live(conf, dir).flatMap(_.cluster)
    assert(rec.isDefined, "name-tracking record must carry across a COW DML")
    assert(rec.get.cols == Seq("k"))
    val members = rec.get.members.toSet
    val live = graft.sources.GraftDataSource.listFiles(conf, dir).map(_.getName).toSet
    assert(members != live,
      "the DML's replacement file must NOT read as a cluster member")
    assert((live -- members).nonEmpty)
    // incremental recluster repairs exactly the replacement
    assert(FormatOps.clusterIncremental(spark, dir, "data") >= 1)
    assert(this.members(conf, dir)
      .exists(_ == graft.sources.GraftDataSource.listFiles(conf, dir).map(_.getName).toSet))
  }

  test("incremental recluster refuses without a record or member list") {
    val dir = Files.createTempDirectory("graft-zorder-inc-bad").toString
    spark.range(0, 100).selectExpr("id AS k")
      .write.format("graft").mode("overwrite").save(dir)
    val e = intercept[IllegalArgumentException] {
      FormatOps.clusterIncremental(spark, dir, "data")
    }
    assert(e.getMessage.contains("no clustering record"), e.getMessage)
  }
}
