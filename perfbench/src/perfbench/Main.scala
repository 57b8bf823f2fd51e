package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of the graft table layer over generated chain
  * data: one client in one process, on one local Spark session.
  *
  *   Main --workload ingest|scan|cdc --seed N --seconds S --trace 0|1
  *        --work DIR [--size full|tiny]
  *
  * Prints a context line, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. Exits 1 when
  * a correctness check failed. */
object Main {
  val SeedRounds = 3

  /** End-to-end metrics: name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "ops_per_s" -> "1/s", "io_bytes_per_user_byte" -> "ratio",
    "stored_bytes_per_user_byte" -> "ratio", "retained_heap_mb" -> "MB",
    "completed_op_ratio" -> "ratio")

  /** Per-layer metrics (per traced op unless the name says otherwise). */
  val PerLayer: Seq[(String, String)] = Seq(
    "op.spark_executions" -> "count", "op.execution_ms" -> "ms",
    "op.driver_gap_ms" -> "ms",
    "sources.commit.list_classify_ms" -> "ms", "sources.commit.prepare_ms" -> "ms",
    "sources.commit.spark_write_ms" -> "ms", "sources.commit.publish_ms" -> "ms",
    "sources.commit.carry_manifest_ms" -> "ms", "sources.commit.empty_check_ms" -> "ms",
    "sources.files_written" -> "count", "sources.files_opened" -> "count",
    "sources.rows_rewritten_per_change_row" -> "ratio",
    "sources.scan.planning_ms" -> "ms", "sources.scan.files_planned" -> "count",
    "sources.scan.chunks_skipped" -> "count", "sources.scan.chunks_decoded" -> "count",
    "sources.scan.blocks_skipped" -> "count",
    "sources.scan.rows_returned_per_row_decoded" -> "ratio",
    "format.pages_read" -> "count", "format.decode_ms_per_mb" -> "ms/MB",
    "format.encode_ms_per_mb" -> "ms/MB", "format.footer_parse_ms" -> "ms",
    "format.file_bytes_per_user_byte" -> "ratio",
    "format.dict20_entries_per_value" -> "ratio",
    "format.dict32_entries_per_value" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.task_wait_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "fs.bytes_read" -> "bytes", "fs.bytes_written" -> "bytes",
    "fs.files_created" -> "count", "fs.files_deleted" -> "count",
    "fs.table_files" -> "count",
    "self.operators_ms" -> "ms", "self.sources_ms" -> "ms",
    "self.spark_execution_ms" -> "ms", "self.spark_jobs_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.traced_ops" -> "count")

  /** `sources.Prof` labels summed into each commit-phase metric.
    * `dml.publish` and `rw.publish` enclose the `pub.*` phases. */
  val ProfPhases: Seq[(String, Seq[String])] = Seq(
    "sources.commit.list_classify_ms" -> Seq("dml.list+classify", "rw.list", "rw.tableProbe"),
    "sources.commit.prepare_ms" -> Seq("dml.prepareRewrite", "rw.prepareRewrite"),
    "sources.commit.spark_write_ms" -> Seq("dml.sparkWrite", "rw.sparkWrite"),
    "sources.commit.publish_ms" -> Seq("dml.publish", "rw.publish"),
    "sources.commit.carry_manifest_ms" -> Seq("dml.writeCarryManifest"),
    "sources.commit.empty_check_ms" -> Seq("cdc.emptyCheck"))

  def main(args: Array[String]): Unit = {
    val loadStart = load()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val sizes = if (opt.getOrElse("size", "full") == "tiny") Sizes.tiny else Sizes.full
    val work = Paths.get(opt("work")).toAbsolutePath
    require(Set("ingest", "scan", "cdc").contains(workload), s"unknown workload $workload")
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the FileContext checkpoint manager forks a subprocess per metadata
      // op on the local scheme; the FileSystem one stays in the JVM
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      // the status store keeps every execution's plan by default, so
      // retained heap would grow with the op count rather than with the
      // program's own caches
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(spark, workload, seed, seconds, trace, sizes, work, nproc, loadStart)
      finally spark.stop()
    sys.exit(code)
  }

  private def load(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) CPU jiffies from /proc/stat; zeros where absent. */
  private def cpuTicks(): (Long, Long) = try {
    val f = java.nio.file.Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case _: Exception => (0L, 0L) }

  private def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum

  private def quantile(sorted: Seq[Double], q: Double): Double = {
    val x = q * (sorted.size - 1)
    val lo = math.floor(x).toInt
    val hi = math.min(sorted.size - 1, lo + 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
  }

  private def run(spark: SparkSession, workload: String, seed: Long,
      seconds: Double, trace: Boolean, sizes: Sizes, work: Path, nproc: Int,
      loadStart: Double): Int = {
    val ctx = new Ctx(spark, new Gen(seed), sizes, work, nproc)
    val wl: Workload = workload match {
      case "ingest" => new IngestWorkload(ctx)
      case "scan" => new ScanWorkload(ctx)
      case "cdc" => new CdcWorkload(ctx)
    }
    val tracer = new Tracer(spark)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit = System.err.println(
      f"perfbench: $name at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
    phase("session ready")

    // ---- set-up: seed rounds (median counted), models, warm-up ----------
    val rounds = (0 until SeedRounds).map { r =>
      val t0 = System.nanoTime(); wl.seedRound(r); (System.nanoTime() - t0) / 1e9
    }
    phase("seeded")
    wl.prepare()
    phase("prepared")
    var i = 0
    var failed = 0
    (0 until wl.warmOps).foreach { _ =>
      wl.beforeOp(i, warm = true); wl.op(i)
      if (!wl.check(i)) failed += 1
      i += 1
    }
    val firstOpMs = System.currentTimeMillis()
    phase("warmed up")
    val sortedRounds = rounds.sorted
    val setupS = (firstOpMs - jvmStartMs) / 1000.0 - rounds.sum +
      quantile(sortedRounds, 0.5)

    // ---- timed closed loop ----------------------------------------------
    val lat = mutable.ArrayBuffer[Double]()
    val tracedLat, plainLat = mutable.ArrayBuffer[Double]()
    val perOp = mutable.ArrayBuffer[Map[String, Double]]()
    var attempted = 0
    var ioBytes, userBytes = 0L
    val ticks0 = cpuTicks()
    val loopStart = System.nanoTime()
    while (System.nanoTime() - loopStart < seconds * 1e9) {
      val dir = Paths.get(wl.beforeOp(i, warm = false))
      val traced = trace && attempted % 2 == 0
      val before = Dirs.list(dir)
      val read0 = fsBytesRead()
      val opens0 = graft.format.GraftFileReader.opens.get()
      val spanId = tracer.newId()
      if (traced) { graft.sources.Prof.reset(); tracer.attach(i, spanId) }
      val s0 = tracer.nowUs
      val t0 = System.nanoTime()
      val ok = try { wl.op(i); true } catch {
        case e: Exception => System.err.println(s"op $i failed: $e"); false
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val s1 = tracer.nowUs
      if (traced) tracer.detach()
      val opens = graft.format.GraftFileReader.opens.get() - opens0
      val read = fsBytesRead() - read0
      val after = Dirs.list(dir)
      val changed = after.filter { case (k, v) => !before.get(k).contains(v) }
      ioBytes += changed.values.map(_._1).sum + read
      userBytes += wl.opUserBytes(i)
      attempted += 1
      if (!(ok && wl.check(i))) failed += 1
      lat += ms
      if (trace) (if (traced) tracedLat else plainLat) += ms
      if (traced) {
        val name = workload match {
          case "cdc" => "operators.applyCdcBatch"
          case "ingest" => "sources.write"
          case _ => "sources.scan"
        }
        val root = Span(spanId, 0L, name, s0, s1, i)
        tracer.synchronized(tracer.spans += root)
        val c = tracer.snapshot()
        val execs = tracer.synchronized(tracer.spans.filter(s =>
          s.op == i && s.name == "spark.execution" && s.parent == spanId)
          .map(s => (s.startUs, s.endUs)).toList)
        val execMs = tracer.covered(execs, s0, s1) / 1000.0
        val prof = graft.sources.Prof.snapshot().map(p => p._1 -> p._2 * 1000.0).toMap
        val newData = changed.keys.filter(k => k.endsWith(".graft") && !before.contains(k))
        val rewritten = newData.iterator.map { k =>
          val p = new org.apache.hadoop.fs.Path(dir.resolve(k).toString)
          val r = graft.format.GraftFileReader.open(
            p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
          try r.footer.chunks.flatMap(_.tables).map(_.numRows.toLong).sum finally r.close()
        }.sum
        val self = tracer.selfTimes(root)
        perOp += (c ++ ProfPhases.map { case (m, ls) => m -> ls.map(prof.getOrElse(_, 0.0)).sum } ++ Map(
          "op.execution_ms" -> execMs,
          "op.driver_gap_ms" -> (ms - execMs),
          "sources.files_written" -> newData.size.toDouble,
          "sources.files_opened" -> opens.toDouble,
          "sources.rows_rewritten_per_change_row" ->
            (if (wl.changeRows(i) > 0) rewritten.toDouble / wl.changeRows(i) else 0.0),
          "sources.scan.rows_returned_per_row_decoded" ->
            (if (c.getOrElse("scan.rows_out", 0.0) > 0) c("scan.rows_returned") / c("scan.rows_out") else 0.0),
          "fs.bytes_read" -> read.toDouble,
          "fs.bytes_written" -> changed.values.map(_._1).sum.toDouble,
          "fs.files_created" -> (after.keySet -- before.keySet).size.toDouble,
          "fs.files_deleted" -> (before.keySet -- after.keySet).size.toDouble,
          "self.operators_ms" -> self.getOrElse("operators.applyCdcBatch", 0.0),
          "self.sources_ms" -> self.filter(_._1.startsWith("sources.")).values.sum,
          "self.spark_execution_ms" -> self.getOrElse("spark.execution", 0.0),
          "self.spark_jobs_ms" -> self.getOrElse("spark.job", 0.0)))
      }
      i += 1
    }

    // ---- final checks and end-of-run measurements (untimed) -------------
    val ticks1 = cpuTicks()
    // share of CPU time the hypervisor gave to other guests while timing
    val stealPct = if (ticks1._2 > ticks0._2)
      100.0 * (ticks1._1 - ticks0._1) / (ticks1._2 - ticks0._2) else 0.0
    phase("timed loop done")
    if (!wl.finish()) failed += 1
    phase("final check done")
    val liveDir = Paths.get(wl.liveDir)
    val stored = Dirs.bytes(liveDir).toDouble / math.max(1L, wl.liveUserBytes)
    val tableFiles = Dirs.list(liveDir).keys.count(!_.endsWith(".crc"))
    val format = if (trace)
      FormatProbe.run(spark, tracer, wl.liveDir, wl.sampleRows, wl.liveUserBytes)
    else Map.empty[String, Double]
    wl.release()
    spark.catalog.clearCache()
    // Spark's ContextCleaner frees shuffle and broadcast state only after
    // a GC has cleared their weak references, so collect a few times
    val heapMb = (1 to 4).map { _ =>
      System.gc(); Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    val loadEnd = load()
    phase("measured")

    val sorted = lat.sorted.toSeq
    val n = sorted.size
    // the highest percentile with at least ten samples beyond it; the
    // maximum when there are too few samples for one
    val tailIdx = if (n > 10) n - 11 else n - 1
    val tailPct = if (n > 10) 100.0 * (n - 10) / n else 100.0
    val timedS = lat.sum / 1000.0
    val p50 = if (n > 0) quantile(sorted, 0.5) else 0.0

    val metrics: Seq[(String, String, Double)] = if (!trace) {
      val v = Map(
        "setup_s" -> setupS,
        "op_p50_ms" -> p50,
        "op_tail_ms" -> (if (n > 0) sorted(tailIdx) else 0.0),
        "ops_per_s" -> (if (timedS > 0) n / timedS else 0.0),
        "io_bytes_per_user_byte" -> ioBytes.toDouble / math.max(1L, userBytes),
        "stored_bytes_per_user_byte" -> stored,
        "retained_heap_mb" -> heapMb.last,
        "completed_op_ratio" -> (attempted - failed).max(0).toDouble / math.max(1, attempted))
      EndToEnd.map { case (k, u) => (k, u, v(k)) }
    } else {
      def mean(k: String) = if (perOp.isEmpty) 0.0 else perOp.map(_.getOrElse(k, 0.0)).sum / perOp.size
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else quantile(xs.sorted, 0.5)
      val v = PerLayer.map(_._1).map(k => k -> mean(k)).toMap ++ format ++ Map(
        "fs.table_files" -> tableFiles.toDouble,
        "trace.overhead_ms" -> (med(tracedLat.toSeq) - med(plainLat.toSeq)),
        "trace.traced_ops" -> perOp.size.toDouble)
      PerLayer.map { case (k, u) => (k, u, v(k)) }
    }

    val context = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> trace.toString,
      "nproc" -> nproc.toString, "master" -> Json.str(spark.sparkContext.master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
      "loadavg_start" -> Json.num(loadStart), "loadavg_end" -> Json.num(loadEnd),
      "cpu_steal_pct" -> Json.num(stealPct),
      "samples" -> n.toString, "tail_percentile" -> Json.num(tailPct),
      "warmup_ops" -> wl.warmOps.toString,
      "seed_rounds_s" -> rounds.map(Json.num).mkString("[", ",", "]"),
      "sizes" -> Json.str(sizes.toString)))
    println(Json.obj(Seq("context" -> context)))
    val correct = failed == 0
    if (trace) {
      val out = work.getParent.resolve("trace")
      Files.createDirectories(out)
      val spans = tracer.synchronized(tracer.spans.toList).map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString, "op" -> s.op.toString)))
      val ops = perOp.map(m => Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
      Files.writeString(out.resolve(s"$workload-seed$seed.json"), Json.obj(Seq(
        "context" -> context,
        "metrics" -> Json.obj(metrics.map { case (k, _, v) => k -> Json.num(v) }),
        "ops" -> ops.mkString("[", ",\n", "]"),
        "spans" -> spans.mkString("[", ",\n", "]"))) + "\n")
    }
    println(Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, u, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    if (correct) 0 else 1
  }
}

/** Just enough JSON writing for the result lines and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
}
