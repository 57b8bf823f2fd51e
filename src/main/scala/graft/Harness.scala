package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.util.QueryExecutionListener

import graft.format._
import graft.format.Meta._
import graft.operators.FixtureClock
import graft.sources.{GraftDataSource, Prof}

/** The dev harness: one session factory plus every timing and audit
  * mode. Each mode runs in the session it is handed; only [[main]]
  * builds a session and stops it.
  * {{{
  * runMain graft.Harness board <sfDir>              # the gate board (graft.Bench)
  * runMain graft.Harness solo <q,...|calibrate> <sfDir> [explain]
  * runMain graft.Harness profile <q,...> <sfDir>
  * runMain graft.Harness plans <sfDir> <outDir> <suffix> <q...>
  * runMain graft.Harness verify <sfDir> <outDir> [q,...]  # (graft.Verify)
  * runMain graft.Harness size <sfDir> <table>
  * runMain graft.Harness compare <sfDir> [runs]
  * }}}
  * solo, profile and plans take a gate's full name or its qNN prefix.
  * `SPARK_GRAFT_CPUS` sets the local core count; it defaults to every
  * core the JVM sees. */
object Harness {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(): SparkSession = {
    // keep catalog artifacts (derby, warehouse) out of the working dir
    System.setProperty("derby.system.home", "/tmp/graft_derby")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the default FileContext-based checkpoint manager forks a
      // readlink/chmod subprocess per metadata op on the local scheme
      // (no libhadoop.so); the FileSystem-based one stays in the JVM
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def names(csv: String): Seq[String] = csv.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private val modes: Map[String, (SparkSession, Seq[String]) => Unit] = Map(
    "board" -> ((s, a) => board(s, a(0))),
    "solo" -> ((s, a) => solo(s, names(a(0)), a(1), a.lift(2).contains("explain"))),
    "profile" -> ((s, a) => profile(s, names(a(0)), a(1))),
    "plans" -> ((s, a) => plans(s, a(0), a(1), a(2), a.drop(3))),
    "verify" -> ((s, a) => verify(s, a(0), a(1), a.lift(2).map(names))),
    "size" -> ((s, a) => sizeReport(s, a(0), a(1))),
    "compare" -> ((s, a) => compare(s, a(0), a.lift(1).fold(3)(_.toInt))))

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.flatMap(modes.get).getOrElse {
      System.err.println(s"usage: graft.Harness <${modes.keys.toSeq.sorted.mkString("|")}> args...")
      sys.exit(2)
    }
    val spark = session()
    try mode(spark, args.toSeq.tail) finally spark.stop()
  }

  /** The gate named in full or by its qNN prefix. */
  private def gate(w: String): (String, (SparkSession, String) => DataFrame) =
    SparkEntry.queries.toSeq.sortBy(_._1).find { case (n, _) => n == w || n.startsWith(w + "_") }
      .getOrElse(throw new NoSuchElementException(s"no gate matches '$w'"))

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def decimals(v: Double, places: Int): String =
    BigDecimal(v).setScale(places, BigDecimal.RoundingMode.HALF_UP).toString

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in oracle SQL or an exception message would
    * otherwise make the reader's json.load fail. */
  private def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonObject(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => json(k) + ":" + v }.mkString("{", ",", "}")

  private case class Gate(name: String, seconds: Double, loadAt: Double,
      fixture: Double, error: Option[String])

  /** The gate board: every SparkEntry query, min of N runs, one JSON line
    * to BENCH_FULL.json in the working directory and a compact one last
    * on stdout. Env: SPARK_GRAFT_BENCH_REPS, SPARK_GRAFT_SKIP. */
  def board(spark: SparkSession, sfDir: String): Unit = {
    // untimed warmup: JIT + codegen infra + parquet footers/schemas, so
    // the first timed query isn't charged session startup costs
    Tables.names.foreach { n =>
      try {
        val df = if (n == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, n)
        df.groupBy().count().collect()
      } catch { case _: Throwable => }
    }
    // min of 2 runs per query: the first run carries one-time codegen
    // compilation and is exposed to co-tenant load bursts; the min is the
    // reproducible per-query cost (disclosed via "runs" below).
    // Isolation, so round-over-round numbers are comparable:
    //  - queries run in sorted-name order (SparkEntry.queries is a
    //    HashMap whose iteration order shifts whenever a query is added,
    //    which silently reorders any order-dependent interference);
    //  - a full GC runs before each query so one query's garbage isn't
    //    charged to the next one's timed runs.
    // SPARK_GRAFT_BENCH_REPS raises the rep count for regression
    // adjudication runs (min-of-N is the claimable number; same-code
    // A/B across rounds showed single runs swing 3× on load alone)
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(2)
    // dev knob for extreme-scale boards: names to leave out (comma list).
    // The one use is excluding the DOCUMENTED intrinsically-quadratic
    // gates (q37/q42, see tools/scaling_table.py INTRINSIC) from sf>=5
    // boards, where their pair count makes them the entire board.
    // Skipped names are recorded in the artifact ("skipped") so a board
    // missing a gate is always self-describing, never silent.
    val skip = sys.env.get("SPARK_GRAFT_SKIP").map(names(_).toSet).getOrElse(Set.empty[String])
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => skip.contains(q._1)).map { case (name, fn) =>
      System.gc()
      // per-query 1-min loadavg AT RUN TIME: a slow number measured at
      // load 6 is weather, not regression — trend tooling needs to know
      val loadAt = osBean.getSystemLoadAverage
      // gates that build expensive multi-commit fixtures self-report the
      // fixture seconds (FixtureClock); the split rides BENCH_FULL as
      // fixture_s so the tracked number can be the ENGINE side
      var error = Option.empty[String]
      val times = (1 to reps).map { _ =>
        FixtureClock.reset()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (secondsSince(t0), FixtureClock.seconds) }
        catch { case e: Throwable =>
          if (error.isEmpty)
            error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          (-1.0, 0.0)
        }
      }
      val best = times.minBy(_._1)
      if (error.isDefined) Gate(name, -1.0, loadAt, 0.0, error)
      else Gate(name, best._1, loadAt, best._2, None)
    }
    // 3-decimal rounding keeps the whole line inside a reader's 2000-char
    // stdout tail window (full-precision doubles tripled its size and truncated
    // the JSON mid-map in past rounds); errored queries carry -1.0 in the
    // map but are EXCLUDED from the total and named explicitly instead
    def fmt(v: Double): String = decimals(v, 3)
    val qs = jsonObject(results.map(g => g.name -> fmt(g.seconds)))
    // per-query loadavg rides in the FULL artifact only (the compact
    // stdout line must stay inside that tail window)
    val loads = jsonObject(results.map(g => g.name -> fmt(g.loadAt)))
    // self-reported fixture-build seconds (only gates that report one):
    // the engine side of those gates is wall - fixture
    val fixtures = jsonObject(results.filter(_.fixture > 0).map(g => g.name -> fmt(g.fixture)))
    val errors = results.filter(_.error.isDefined).map(g => json(g.name)).mkString("[", ",", "]")
    val errorDetail = jsonObject(results.flatMap(g => g.error.map(e => g.name -> json(e))))
    val total = results.map(_.seconds).filter(_ >= 0).sum
    // 1-min system load at end of run: round-over-round totals on a
    // shared box swing 2-3x with co-tenant load — trend tooling should
    // discount any run whose loadavg is far above the core count's idle
    val load = fmt(osBean.getSystemLoadAverage)
    val skipped = skip.toSeq.sorted.map(json).mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","errors":$errors,"error_detail":$errorDetail,"loadavg1m":$load,"queries":$qs,"query_loadavg":$loads,"fixture_s":$fixtures,"skipped":$skipped,"sf":"$sfDir","runs":$reps,"timing":"min_of_$reps"}"""
    println(line)
    // the board's reader keeps only the LAST 2000 chars of stdout and
    // parses the JSON line it finds there — the full 130-query line is ~3.5 KB and
    // always arrived beheaded (BENCH_r07 "parsed: null"). Persist the
    // full line to a committable file, then print a COMPACT line LAST:
    // query names shortened to their unique qNN prefix and 2-decimal
    // seconds, ~1.6 KB — whole inside the tail window, so the reader's
    // artifact finally parses standalone.
    try Files.writeString(Paths.get("BENCH_FULL.json"), line + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write BENCH_FULL.json: $e")
    }
    val shortQs = jsonObject(results.map(g => g.name.takeWhile(_ != '_') -> decimals(g.seconds, 2)))
    println(s"""{"metric":"total","value":${decimals(total, 2)},"unit":"sec","errors":$errors,"loadavg1m":$load,"queries":$shortQs,"sf":"$sfDir","runs":$reps,"timing":"min_of_$reps","names":"qNN prefixes of BENCH_FULL.json"}""")
  }

  /** Pseudo-gate: a fixed job (no table I/O, no fixtures) whose wall time
    * measures THIS box's Spark+JVM speed. Round-16 A/B showed the CDC4
    * sum swings 12-18 s across boxes on identical code — absolute bars
    * don't transfer; tools/cdc4_check.py divides the gate sum by this to
    * judge in box-neutral units. ~1-2 s mixing what the gates actually
    * spend: codegen'd compute + a two-phase hash aggregate + one real
    * shuffle (pure arithmetic alone saturates in <0.2 s and measures only
    * ALU speed). It returns the GROUPED rows, not a 1-row fold: solo times
    * .count(), and a constant-1-row aggregate lets the optimizer prune
    * the whole pipeline away. */
  private val calibrate: (SparkSession, String) => DataFrame = (s, _) =>
    s.range(0, 150000000L, 1, 32)
      .selectExpr("pmod(xxhash64(id), 524288) as g", "id")
      .groupBy("g").agg(sum("id").as("s"))

  /** Time (or explain) gates solo, outside the full board, so neighbours'
    * JIT/GC/fixture churn doesn't pollute the number — the adjudication
    * mode for same-box A/Bs. Prints per-run wall seconds plus the gate's
    * self-reported fixture seconds and a MIN line per gate; run1 carries
    * session warmup, so the MIN is over runs 2-3. */
  def solo(spark: SparkSession, gates: Seq[String], sfDir: String, explain: Boolean): Unit =
    if (explain) gates.foreach(g => gate(g)._2(spark, sfDir).explain("formatted"))
    else gates.foreach { g =>
      val (name, fn) = if (g == "calibrate") (g, calibrate) else gate(g)
      val runs = (1 to 3).map { i =>
        System.gc()
        FixtureClock.reset()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = secondsSince(t0)
        val fix = FixtureClock.seconds
        println(f"$name run$i: $wall%.3f sec rows=$n fixture=$fix%.3f engine=${wall - fix}%.3f")
        (wall, fix)
      }
      val (w, f) = runs.drop(1).minBy(_._1)
      println(f"$name MIN: wall=$w%.3f fixture=$f%.3f engine=${w - f}%.3f")
    }

  /** Runs `body` with a listener recording each query execution it
    * triggers as (action, duration ns, execution), in completion order. */
  private def captured[T](spark: SparkSession)(body: => T): (T, Seq[(String, Long, QueryExecution)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add((action, durationNs, qe))
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      // executions are reported asynchronously on the listener bus
      GraftShim.drainListenerBus(spark)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Attribute each gate's wall time to its inner executions (procedural
    * gates run many: localCheckpoints, collects, DML writes), the
    * labelled commit phases of [[Prof]] and the guarded listings, so the
    * expensive step is identifiable without the Spark UI. Two reps per
    * gate; the first carries warmup. */
  def profile(spark: SparkSession, gates: Seq[String], sfDir: String): Unit = {
    val wasOn = Prof.enabled
    Prof.enabled = true
    try gates.foreach { g =>
      val (name, fn) = gate(g)
      (1 to 2).foreach { r =>
        System.gc()
        Prof.reset()
        val listings0 = GraftDataSource.listingCalls.get()
        val ((n, wall), inner) = captured(spark) {
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          (n, secondsSince(t0))
        }
        println(f"==== $name rep$r wall=$wall%.2f s rows=$n " +
          f"listings=${GraftDataSource.listingCalls.get() - listings0}")
        inner.zipWithIndex.foreach { case ((action, ns, qe), i) =>
          val digest = qe.executedPlan.toString.linesIterator
            .map(_.trim).filter(_.nonEmpty).take(3).mkString(" | ").take(200)
          println(f"  #${i + 1}%2d ${ns / 1e9}%6.3f s [$action] $digest")
        }
        println(f"  inner sum: ${inner.map(_._2).sum / 1e9}%.3f s of $wall%.2f s wall")
        Prof.dump("  Prof phases:")
      }
    } finally Prof.enabled = wasOn
  }

  /** Dump `.explain("formatted")` per gate to `<outDir>/<gate><suffix>.txt`
    * — the plan evidence committed under plans/<round>/. Procedural gates
    * (DML, ANALYZE, maintenance) run their expensive work as INNER
    * actions and return only a summary frame, so every inner executed
    * plan is written too, in execution order. */
  def plans(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      wanted: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    wanted.foreach { w =>
      try {
        val (name, fn) = gate(w)
        val (finalPlan, inner) = captured(spark) {
          fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        }
        val sb = new StringBuilder
        sb.append(s"==== $name$suffix: inner executions (listener-captured, " +
          s"in order) then the returned DataFrame's plan ====\n")
        inner.zipWithIndex.foreach { case ((action, _, qe), i) =>
          sb.append(s"\n---- inner execution #${i + 1} (action: $action) ----\n")
          sb.append(qe.explainString(FormattedMode)).append("\n")
        }
        sb.append(s"\n---- returned DataFrame ----\n").append(finalPlan).append("\n")
        val out = s"$outDir/$name$suffix.txt"
        Files.writeString(Paths.get(out), sb.toString)
        println(s"[plandump] wrote $out (${inner.size} inner)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $w FAILED: $e")
      }
    }
  }

  /** Correctness dump for the DuckDB oracle: each gate's result as
    * parquet under `outDir`, plus `oracle_sql.json`. `only` keeps the
    * gates whose names contain one of its substrings. */
  def verify(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Seq[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    val oracle = SparkEntry.oracleSql.map { case (k, v) => s"${json(k)}: ${json(v)}" }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracle.mkString("{", ",", "}"))
  }

  private def bufBytes(b: BufferMeta): Long = b.pages.map(_.compSize.toLong).sum

  private def colBytes(c: ColMeta): Long = c.validity.map(bufBytes).getOrElse(0L) + (c match {
    case PrimitiveMeta(_, values) => bufBytes(values)
    case DictIdxMeta(_, _, idx) => bufBytes(idx)
    case BinaryMeta(_, off, data) => bufBytes(off) + bufBytes(data)
    case BinDictMeta(_, _, _, dOff, dData, idx) => bufBytes(dOff) + bufBytes(dData) + bufBytes(idx)
    case ForMeta(_, _, _, values) => bufBytes(values)
    case UnsignedMeta(_, _, values) => bufBytes(values)
    case ReeMeta(_, ends, values) => bufBytes(ends) + bufBytes(values)
    case PrimDictMeta(_, _, _, entries, indices) => bufBytes(entries) + bufBytes(indices)
    case DeltaMeta(_, _, _, deltas, _) => bufBytes(deltas)
    case ScaledMeta(_, _, inner) => colBytes(inner)
    case UnsignedPackedMeta(_, _, inner) => colBytes(inner)
    case BitPackMeta(_, _, _, values) => bufBytes(values)
    case ListMeta(_, off, child) => bufBytes(off) + colBytes(child)
    case StructMeta(_, children) => children.map(colBytes).sum
    case MapMeta(_, off, k, v) => bufBytes(off) + colBytes(k) + colBytes(v)
  })

  private def encoding(c: ColMeta): String = c match {
    case ScaledMeta(_, _, inner) => s"Scl(${encoding(inner)})"
    case UnsignedPackedMeta(_, _, inner) => s"U(${encoding(inner)})"
    case _ => c.getClass.getSimpleName.stripSuffix("Meta")
  }

  /** Per-column on-disk size breakdown of `table` written as one graft
    * file: which columns (and which encodings) carry the bytes. */
  def sizeReport(spark: SparkSession, sfDir: String, table: String): Unit = {
    val dir = s"/tmp/graft_sizeaudit/$table"
    Tables.load(spark, sfDir, table).coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val totals = scala.collection.mutable.LinkedHashMap.empty[String, (String, Long)]
    var dictBytes = 0L
    GraftDataSource.listFiles(conf, dir).foreach { f =>
      val r = GraftFileReader.open(f.getFileSystem(conf), f)
      try r.footer.chunks.foreach { ch =>
        dictBytes += bufBytes(ch.dict20.data) + bufBytes(ch.dict32.data)
        ch.tables.foreach { t =>
          t.schema.fields.zip(t.columns).foreach { case (fld, c) =>
            totals(fld.name) = (encoding(c), totals.get(fld.name).fold(0L)(_._2) + colBytes(c))
          }
        }
      } finally r.close()
    }
    val all = totals.values.map(_._2).sum + dictBytes
    println(f"TOTAL ${all / 1e6}%.1f MB (dicts ${dictBytes / 1e6}%.2f MB)")
    totals.toSeq.sortBy(-_._2._2).foreach { case (name, (e, b)) =>
      println(f"$name%-18s $e%-10s ${b / 1e6}%8.2f MB ${100.0 * b / all}%5.1f%%")
    }
  }

  /** graft vs parquet on lineitem: interleaved writes of the same cached
    * rows, then scans of each, on-disk size, and the compact bias. Each
    * timing repeats `runs` times; a large count loops one aggregate long
    * enough to stack-sample it. */
  def compare(spark: SparkSession, sfDir: String, runs: Int): Unit = {
    val root = "/tmp/graft_compare"
    val (gdir, pdir, cdir) = (s"$root/lineitem", s"$root/lineitem_parquet", s"$root/lineitem_compact")
    def time(tag: String)(f: => Any): Unit = (1 to runs).foreach { i =>
      val t = System.nanoTime()
      f
      println(f"$tag run$i: ${secondsSince(t)}%.3f s")
    }
    def mb(dir: String): Double = new java.io.File(dir).listFiles().map(_.length()).sum / 1e6
    val li = Tables.lineitem(spark, sfDir)
    // cached and split cpus ways, so the writes time only the write side
    // and the scans parallelize; the first pair of writes is an untimed
    // warmup (parquet cold reads + codegen/JIT for both pipelines)
    val rows = li.repartition(cpus).cache()
    rows.count()
    rows.write.format("graft").mode("overwrite").save(gdir)
    rows.write.mode("overwrite").parquet(pdir)
    time("graft  write")(rows.write.format("graft").mode("overwrite").save(gdir))
    time("parquet write")(rows.write.mode("overwrite").parquet(pdir))
    rows.unpersist()
    val g = spark.read.format("graft").load(gdir)
    time("graft  full-agg")(g.agg(sum("l_extendedprice"), sum("l_quantity"), count(lit(1))).collect())
    time("parquet full-agg")(li.agg(sum("l_extendedprice"), sum("l_quantity"), count(lit(1))).collect())
    time("graft  2col-agg")(g.select("l_quantity").agg(sum("l_quantity")).collect())
    time("parquet 2col-agg")(li.select("l_quantity").agg(sum("l_quantity")).collect())
    time("graft  filter")(g.filter(col("l_quantity") > 49.9).count())
    time("parquet filter")(li.filter(col("l_quantity") > 49.9).count())
    def strings(df: DataFrame) = df.agg(max(concat(col("l_returnflag"), col("l_linestatus"))),
      max(length(col("l_returnflag")))).collect()
    time("graft  strings")(strings(g))
    time("parquet strings")(strings(li))
    li.repartition(cpus).write.format("graft").option("bias", "compact").mode("overwrite").save(cdir)
    println(f"graft size: ${mb(gdir)}%.1f MB, compact ${mb(cdir)}%.1f MB, parquet ${mb(pdir)}%.1f MB")
    val gc = spark.read.format("graft").load(cdir)
    time("graft  compact full-agg")(gc.agg(sum("l_extendedprice"), sum("l_quantity"), count(lit(1))).collect())
  }
}
