package graft

import java.nio.file.{Files, Paths}

/** Smoke runs of the dev harness modes in the shared test session: each
  * must produce its report at sf0.001 and leave the session running. */
class HarnessSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def stdout(body: => Unit): String = {
    assume(new java.io.File(sf).isDirectory, s"testdata not present at $sf")
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(body)
    assert(!spark.sparkContext.isStopped, "a harness mode stopped the caller's session")
    buf.toString("UTF-8")
  }

  test("solo prints three runs and a MIN line") {
    val out = stdout(Harness.solo(spark, Seq("q1_agg"), sf, explain = false))
    assert(out.linesIterator.count(_.startsWith("q1_agg run")) == 3, out)
    assert(out.linesIterator.exists(_.matches(
      """q1_agg MIN: wall=[\d.]+ fixture=[\d.]+ engine=-?[\d.]+""")), out)
  }

  test("plans writes every inner execution of a procedural gate") {
    val dir = Files.createTempDirectory("graft-plans").toString
    stdout(Harness.plans(spark, sf, dir, "", Seq("q81")))
    val file = Files.list(Paths.get(dir)).findFirst().get()
    assert(file.getFileName.toString.startsWith("q81_"))
    val text = Files.readString(file)
    assert(text.contains("inner execution #1"), text.take(2000))
    assert(text.contains("---- returned DataFrame ----"))
  }

  test("profile reports inner executions and Prof commit phases") {
    val out = stdout(Harness.profile(spark, Seq("q114_incremental_view"), sf))
    assert(out.linesIterator.exists(_.trim.startsWith("# 1")), out)
    val phases = out.linesIterator.dropWhile(_ != "  Prof phases:").drop(1)
      .takeWhile(_.startsWith("  ")).toSeq
    assert(phases.nonEmpty, out)
  }

  test("size breaks a graft file down by column") {
    val out = stdout(Harness.sizeReport(spark, sf, "nation"))
    assert(out.linesIterator.next().startsWith("TOTAL "), out)
    assert(out.contains("n_name"), out)
  }
}
