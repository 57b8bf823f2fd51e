package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: name (its first dot-separated token is the layer), start and
  * end in epoch microseconds, parent span id (0 = none), and op id (-1 =
  * outside any op). */
final case class Span(id: Long, parent: Long, name: String, startUs: Long,
    endUs: Long, op: Int)

/** Per-layer recorder for one traced op at a time. While attached it
  * collects Spark executions, jobs, stages and tasks (SparkListener) and
  * each execution's plan metrics (QueryExecutionListener), attributing all
  * of them to the current op; the caller drains the listener bus before
  * detaching. Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  val spans = mutable.ArrayBuffer[Span]()
  /** Counters of the current op, by per-layer metric name. */
  val counts = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  @volatile private var op = -1
  @volatile private var opSpan = 0L
  private var nextId = 1L
  def newId(): Long = synchronized { nextId += 1; nextId }

  private val execStart = mutable.HashMap[Long, (Long, Long)]() // id -> (ms, root)
  private val execSpan = mutable.HashMap[Long, Long]()          // exec id -> span id
  private val jobStart = mutable.HashMap[Int, (Long, Long)]()   // job -> (ms, exec id)
  private val stageSubmit = mutable.HashMap[Int, Long]()

  private def add(k: String, v: Double): Unit = synchronized { counts(k) += v }

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execStart(s.executionId) = (s.time, s.rootExecutionId.getOrElse(s.executionId))
        execSpan(s.executionId) = newId()
        counts("op.spark_executions") += 1
      }
      case x: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        execStart.remove(x.executionId).foreach { case (t0, root) =>
          val parent = if (root == x.executionId) opSpan
            else execSpan.getOrElse(root, opSpan)
          spans += Span(execSpan(x.executionId), parent, "spark.execution",
            t0 * 1000L, x.time * 1000L, op)
        }
      }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val exec = Option(j.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      jobStart(j.jobId) = (j.time, exec)
      counts("spark.jobs") += 1
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(j.jobId).foreach { case (t0, exec) =>
        spans += Span(newId(), execSpan.getOrElse(exec, opSpan), "spark.job",
          t0 * 1000L, j.time * 1000L, op)
      }
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSubmit(s.stageInfo.stageId) =
        s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      counts("spark.stages") += 1
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      counts("spark.tasks") += 1
      stageSubmit.get(t.stageId).foreach(s =>
        counts("spark.task_wait_ms") += math.max(0L, t.taskInfo.launchTime - s))
      val m = t.taskMetrics
      if (m != null) {
        counts("spark.task_run_ms") += m.executorRunTime
        counts("spark.task_cpu_ms") += m.executorCpuTime / 1e6
        counts("spark.gc_ms") += m.jvmGCTime
        counts("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counts("spark.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counts("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => Nil
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  private def isGraft(b: BatchScanExec) = b.scan.getClass.getName.startsWith("graft.")

  private def graftScanBelow(p: SparkPlan): Boolean = p match {
    case b: BatchScanExec => isGraft(b)
    case c: ColumnarToRowExec => graftScanBelow(c.child)
    case i: InputAdapter => graftScanBelow(i.child)
    case _ => false
  }

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    add("sources.scan.planning_ms",
      Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum.toDouble)
    val all = try nodes(qe.executedPlan) catch { case _: Throwable => Nil }
    val scans = all.collect { case b: BatchScanExec if isGraft(b) => b }
    scans.foreach { b =>
      add("sources.scan.chunks_skipped", metric(b, "skippedChunks"))
      add("sources.scan.chunks_decoded", metric(b, "decodedChunks"))
      add("sources.scan.blocks_skipped", metric(b, "skippedBlocks"))
      add("format.pages_read", metric(b, "pagesRead"))
      add("scan.rows_out", metric(b, "numOutputRows"))
      val files = b.inputPartitions.flatMap {
        case p: graft.sources.GraftInputPartition => Seq(p.file)
        case p: graft.sources.GraftPackedPartition => p.files.map(_._1)
        case p: graft.sources.GraftBucketedPartition => p.files.map(_._1)
        case _ => Nil
      }
      add("sources.scan.files_planned", files.distinct.size.toDouble)
    }
    val filtered = all.collect { case f: FilterExec if graftScanBelow(f.child) => f }
    add("scan.rows_returned", filtered.map(metric(_, "numOutputRows")).sum)
    val unfiltered = scans.filterNot(s => filtered.exists(f => nodes(f.child).contains(s)))
    add("scan.rows_returned", unfiltered.map(metric(_, "numOutputRows")).sum)
  }

  /** Starts recording op `i`, whose span is `spanId`. */
  def attach(i: Int, spanId: Long): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    synchronized { counts.clear(); op = i; opSpan = spanId }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Stops recording once every event of the op has been delivered. */
  def detach(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    synchronized { op = -1; opSpan = 0L }
  }

  def snapshot(): Map[String, Double] = synchronized(counts.toMap)

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Self time in ms per layer for the op whose span is `root`: a span's
    * duration minus the part of it its children cover. */
  def selfTimes(root: Span): Map[String, Double] = {
    val mine = synchronized(spans.filter(_.op == root.op).toList)
    val kids = mine.groupBy(_.parent)
    def walk(s: Span): Seq[(String, Long)] = {
      val ch = kids.getOrElse(s.id, Nil)
      val self = (s.endUs - s.startUs) -
        covered(ch.map(c => (c.startUs, c.endUs)), s.startUs, s.endUs)
      (s.name -> self) +: ch.flatMap(walk)
    }
    walk(root).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum / 1000.0 }
  }
}
