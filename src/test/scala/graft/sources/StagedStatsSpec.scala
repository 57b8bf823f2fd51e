package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Staged stats: write tasks hand their freshly-written footer stats to
  * the driver through commit messages, GraftBatchWrite adds them to a
  * staging target's record, and publishStaging builds the generation's
  * self entries from them instead of re-opening every footer it just
  * produced. */
class StagedStatsSpec extends SparkSpec {
  private val conf = new Configuration()

  test("a staging-named write target accumulates the sidecar; appends don't") {
    val root = Files.createTempDirectory("graft-stagedstats").toString
    val staging = new Path(root, "gen-00001.tmp-abc123")
    val fs = staging.getFileSystem(conf)
    // a staging-SHAPED name alone is not enough: a user table whose root
    // coincidentally matches the pattern must NOT grow a record in its
    // live data dir — the writer requires the liveness claim every real
    // staging carries
    def staged(dir: Path): Seq[GenerationRecord.FileEntry] =
      GenerationRecord.read(conf, dir).toSeq.flatMap(_.files)
    spark.range(0, 50).selectExpr("id")
      .write.format("graft").mode("append").save(staging.toString)
    assert(staged(staging).isEmpty,
      "an unclaimed staging-named dir must not grow a sidecar")
    fs.delete(staging, true)
    // with the claim stamped (as prepareRewrite does), stats accumulate
    Generations.claimStaging(conf, staging)
    spark.range(0, 10000).selectExpr("id", "id % 5 AS v")
      .repartition(4).write.format("graft").mode("append").save(staging.toString)
    val entries = staged(staging)
    assert(entries.size == 4, s"want 4 sidecar entries, got ${entries.size}")
    // every entry parses as real stats and points at a real staged file
    // (rels are root-relative: the staging dir's name leads)
    entries.foreach { case GenerationRecord.FileEntry(rel, size, Some(js)) =>
      val p = new Path(staging.getParent, rel)
      assert(fs.exists(p), s"sidecar rel $rel points nowhere")
      assert(fs.getFileStatus(p).getLen == size, s"$rel size drifted")
      val metas = graft.format.Stats.statsFromJson(js)
      assert(metas.exists(_.exists(_.name == "data")), s"$rel stats unparseable")
    }
    // a second table's write MERGES (read-append-write, no clobber)
    spark.range(0, 100).selectExpr("id AS k").repartition(1)
      .write.format("graft").option("table", "aux").mode("append")
      .save(staging.toString)
    assert(staged(staging).size == 5)

    // plain appends to a TABLE ROOT never grow a sidecar
    val plain = new Path(root, "plain")
    spark.range(0, 100).selectExpr("id")
      .write.format("graft").mode("append").save(plain.toString)
    assert(staged(plain).isEmpty)
  }

  test("publish consumes the sidecar: manifest covered, sidecar gone, stats exact") {
    val dir = Files.createTempDirectory("graft-stagedstats-pub").toString
    spark.range(0, 20000).selectExpr("id", "id % 7 AS v")
      .repartition(4).write.format("graft").mode("overwrite").save(dir)
    Generations.rewrite(spark, dir,
      (_, df) => df.repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      rowChurning = false)
    val genDir = new Path(GraftDataSource.resolveDataDir(conf, dir))
    val fs = genDir.getFileSystem(conf)
    val metadata = fs.listStatus(genDir).map(_.getPath.getName)
      .filterNot(n => n.endsWith(".graft") || n.endsWith(".crc"))
    assert(metadata.toSeq == Seq(GenerationRecord.Name),
      "the sidecar must never publish")
    val manifest = GenerationRecord.read(conf, genDir).get.files
      .map(e => (e.rel, e.bytes, e.stats))
    assert(manifest.size == 4 && manifest.forall(_._3.isDefined),
      s"expected 4 self-covered entries, got $manifest")
    // the manifest stats must EQUAL the footers' truth (the sidecar path
    // and the footer-read fallback must be indistinguishable)
    manifest.foreach { case (rel, _, js) =>
      val p = new Path(new Path(dir), rel)
      val r = graft.format.GraftFileReader.open(fs, p)
      val fromFooter = try r.footer.chunks.flatMap(_.tables).toSeq finally r.close()
      assert(js.contains(graft.format.Stats.statsToJson(fromFooter)),
        s"$rel manifest stats diverge from its footer")
    }
  }
}
