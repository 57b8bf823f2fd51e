package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Table and batch sizes. `full` is the measured configuration; `tiny`
  * only proves that every path runs and every metric prints. */
final case class Sizes(scanBlocks: Int, scanFiles: Int, scanWindow: Int,
    cdcBlocks: Int, cdcFiles: Int, cdcUpdates: Int, cdcDeletes: Int,
    ingestBlocks: Int, ingestBatches: Int, warmScan: Int, warmIngest: Int,
    warmCdc: Int)

object Sizes {
  val full = Sizes(scanBlocks = 3000, scanFiles = 12, scanWindow = 60,
    cdcBlocks = 1000, cdcFiles = 16, cdcUpdates = 150, cdcDeletes = 50,
    ingestBlocks = 100, ingestBatches = 4, warmScan = 20, warmIngest = 6,
    warmCdc = 3)
  val tiny = Sizes(scanBlocks = 50, scanFiles = 2, scanWindow = 5,
    cdcBlocks = 20, cdcFiles = 2, cdcUpdates = 10, cdcDeletes = 5,
    ingestBlocks = 5, ingestBatches = 2, warmScan = 2, warmIngest = 2,
    warmCdc = 1)
}

final class Ctx(val spark: SparkSession, val gen: Gen, val sizes: Sizes,
    val work: Path, val nproc: Int)

/** One closed-loop workload: one client issues op i+1 only after op i
  * returned. Everything an op needs is generated before the timed region;
  * the timed region is [[op]] alone. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def gen: Gen = ctx.gen
  def sizes: Sizes = ctx.sizes
  def warmOps: Int

  /** Writes or materializes the workload's inputs; run several times in
    * set-up, and the median counts toward `setup_s`. */
  def seedRound(round: Int): Unit
  /** Models and expected answers, once, after the seed rounds. */
  def prepare(): Unit
  /** Untimed preparation of op `i`; returns the table directory the op
    * works on. `warm` marks warm-up ops. */
  def beforeOp(i: Int, warm: Boolean): String
  /** The timed call into the program. */
  def op(i: Int): Unit
  /** Untimed correctness check of op `i`. */
  def check(i: Int): Boolean
  /** User bytes op `i` submitted (writes) or returned (reads). */
  def opUserBytes(i: Int): Long
  /** Change rows op `i` submitted (0 for reads). */
  def changeRows(i: Int): Long
  /** Final correctness check after the timed loop. */
  def finish(): Boolean
  /** The table directory at the end, and its live user bytes. */
  def liveDir: String
  def liveUserBytes: Long
  /** Drops the generated inputs before retained heap is measured. */
  def release(): Unit
  /** Rows the direct `format` probe encodes. */
  def sampleRows: Array[Transfer] =
    (0 until sizes.ingestBlocks).flatMap(b => gen.block(b.toLong)).toArray

  protected def dir(name: String): String = ctx.work.resolve(name).toString

  /** Rows of blocks [from, to), generated inside `parts` Spark tasks so
    * each task writes one contiguous block range, as a chain is ingested. */
  protected def generated(from: Long, to: Long, parts: Int): DataFrame = {
    val g = gen
    val rdd = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      val lo = from + (to - from) * p / parts
      val hi = from + (to - from) * (p + 1) / parts
      (lo until hi).iterator.flatMap(b => g.block(b).iterator.map(_.toRow))
    }
    spark.createDataFrame(rdd, Gen.schema)
  }

  protected def read(path: String): DataFrame =
    spark.read.format("graft").load(path)

  def digest(df: DataFrame): Digest = {
    val h = xxhash64(Gen.columns.map(col): _*)
    val r = df.select(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      bit_xor(h)).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** `scan`: a table seeded once and never changed; each op fetches the
  * hash and address columns of a random ~2% block window restricted to a
  * few tokens. Warm, fits-in-cache reads: scan planning and pruning, page
  * decode and dict20 filtering, nothing written. */
final class ScanWorkload(c: Ctx) extends Workload(c) {
  def warmOps: Int = sizes.warmScan
  private val table = dir("scan")
  private val NQueries = 128
  private case class Query(lo: Long, hi: Long, tokens: Array[Array[Byte]],
      want: Digest, bytes: Long)
  private var queries: Array[Query] = Array.empty
  private var last: Array[Row] = Array.empty
  private var userBytes = 0L

  def seedRound(round: Int): Unit =
    generated(0, sizes.scanBlocks, sizes.scanFiles)
      .write.format("graft").mode("overwrite").save(table)

  def prepare(): Unit = {
    val r = new java.util.SplittableRandom(Gen.mix(gen.seed, 0x5ca7L))
    // token popularity ranks 2, 6 and 14: about 8% of a window's rows, the
    // same share in every query, so only the window position varies
    val toks = Array(2, 6, 14).map(gen.tokens(_))
    val tokSet = toks.map(java.nio.ByteBuffer.wrap).toSet
    // stratified window starts in a seeded order: every seed covers the
    // chain evenly, so the mix of windows that straddle a file or a row
    // block boundary is the same in every run
    val shift = r.nextDouble()
    val span = sizes.scanBlocks - sizes.scanWindow + 1
    val los = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((0 until NQueries).map(q => ((q + shift) * span / NQueries).toLong))
      .toArray
    val want = Array.fill(NQueries)(Digest.empty)
    val bytes = new Array[Long](NQueries)
    var total = 0L
    (0 until sizes.scanBlocks).foreach { b =>
      val rows = gen.block(b.toLong)
      rows.foreach(total += _.userBytes)
      val hits = rows.filter(t => tokSet.contains(java.nio.ByteBuffer.wrap(t.token)))
      (0 until NQueries).foreach { q =>
        if (b >= los(q) && b < los(q) + sizes.scanWindow) hits.foreach { t =>
          want(q) += ScanWorkload.hash(t.txHash, t.from, t.to, t.block, t.logIndex)
          bytes(q) += ScanWorkload.RowBytes
        }
      }
    }
    userBytes = total
    queries = Array.tabulate(NQueries)(q =>
      Query(los(q), los(q) + sizes.scanWindow - 1, toks, want(q), bytes(q)))
  }

  def beforeOp(i: Int, warm: Boolean): String = table

  def op(i: Int): Unit = {
    val q = queries(i % NQueries)
    last = read(table)
      .where(col("block_number").between(q.lo, q.hi) &&
        col("token").isin(q.tokens.toSeq: _*))
      .select("tx_hash", "from_addr", "to_addr", "block_number", "log_index")
      .collect()
  }

  def check(i: Int): Boolean = {
    var d = Digest.empty
    last.foreach(r => d += ScanWorkload.hash(r.getAs[Array[Byte]](0),
      r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2), r.getLong(3), r.getInt(4)))
    last = Array.empty
    d == queries(i % NQueries).want
  }

  def opUserBytes(i: Int): Long = queries(i % NQueries).bytes
  def changeRows(i: Int): Long = 0L
  def finish(): Boolean = true
  def liveDir: String = table
  def liveUserBytes: Long = userBytes
  def release(): Unit = { queries = Array.empty; last = Array.empty }
}

object ScanWorkload {
  /** tx_hash, from_addr, to_addr, block_number, log_index. */
  val RowBytes: Long = 32 + 20 + 20 + 8 + 4
  def hash(tx: Array[Byte], from: Array[Byte], to: Array[Byte], block: Long,
      log: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function.{hash => h}
    import org.apache.spark.sql.types._
    h(log, IntegerType, h(block, LongType, h(to, BinaryType,
      h(from, BinaryType, h(tx, BinaryType, 42L)))))
  }
}

/** `cdc`: each op folds one change batch into a fresh copy of a seeded
  * table with `FormatOps.applyCdcBatch`, keyed on (block_number,
  * log_index) with an idempotency key. Updates and deletes lean toward
  * recent blocks and the inserts are a new block: the small-commit path
  * (listing, key pruning, candidate-file copy-on-write, publish). Every
  * commit writes new files, so footers miss the cache. */
final class CdcWorkload(c: Ctx) extends Workload(c) {
  def warmOps: Int = sizes.warmCdc
  private val base = dir("cdc-base")
  private val NBatches = 16
  private case class Batch(df: DataFrame, want: Digest, rows: Long,
      bytes: Long, liveBytes: Long)
  private var batches: Array[Batch] = Array.empty
  private var baseDigest = Digest.empty
  private var baseBytes = 0L
  private var current: String = ""
  private var currentBatch = 0
  private def headBlocks = sizes.cdcBlocks / sizes.cdcFiles

  def seedRound(round: Int): Unit =
    generated(0, sizes.cdcBlocks, sizes.cdcFiles)
      .write.format("graft").mode("overwrite").save(base)

  def prepare(): Unit = {
    // the model starts from the generated source, not from graft
    baseDigest = digest(generated(0, sizes.cdcBlocks, ctx.nproc))
    var b = 0L
    (0 until sizes.cdcBlocks).foreach(x => gen.block(x).foreach(b += _.userBytes))
    baseBytes = b
    val schema = Gen.schema.add("_change_type", "string").add("_commit_version", "long")
    batches = Array.tabulate(NBatches) { k =>
      val r = new java.util.SplittableRandom(Gen.mix(gen.seed, 0xcdcL + k))
      val picked = mutable.LinkedHashSet[(Long, Int)]()
      while (picked.size < sizes.cdcUpdates + sizes.cdcDeletes) {
        // distance back from the head: exponential, truncated to the head
        // file's blocks, so every batch has one candidate file to rewrite
        val back = (-math.log(1 - r.nextDouble()) * headBlocks / 4).toInt
        val blk = sizes.cdcBlocks - 1 - math.min(headBlocks - 1, back)
        picked += ((blk.toLong, r.nextInt(Gen.RowsPerBlock)))
      }
      val olds = picked.toArray.map { case (blk, li) => gen.block(blk)(li) }
      val (upd, del) = olds.splitAt(sizes.cdcUpdates)
      val news = upd.map(gen.updated(_, r))
      val ins = gen.block(sizes.cdcBlocks.toLong + k)
      var want = baseDigest
      olds.foreach(t => want -= t.xx)
      (news ++ ins).foreach(t => want += t.xx)
      def rows(ts: Array[Transfer], kind: String) =
        ts.map(t => Row.fromSeq(t.toRow.toSeq ++ Seq(kind, 1L)))
      val all = rows(news, "update_postimage") ++ rows(del, "delete") ++
        rows(ins, "insert")
      val df = spark.createDataFrame(java.util.Arrays.asList(all: _*), schema)
      Batch(df, want, all.length.toLong, (news ++ del ++ ins).map(_.userBytes).sum,
        baseBytes - olds.map(_.userBytes).sum + (news ++ ins).map(_.userBytes).sum)
    }
  }

  def beforeOp(i: Int, warm: Boolean): String = {
    if (current.nonEmpty) Dirs.delete(Paths.get(current))
    current = dir(s"cdc-op-$i")
    Dirs.copy(Paths.get(base), Paths.get(current))
    currentBatch = i % NBatches
    current
  }

  def op(i: Int): Unit =
    graft.operators.FormatOps.applyCdcBatch(spark, current, "data",
      batches(currentBatch).df, Gen.keys, Some(s"perfbench-${gen.seed}-$i"))

  /** Row count after every op; the full content digest after the last. */
  def check(i: Int): Boolean = read(current).count() == batches(currentBatch).want.rows

  def opUserBytes(i: Int): Long = batches(i % NBatches).bytes
  def changeRows(i: Int): Long = batches(i % NBatches).rows

  def finish(): Boolean = digest(read(current)) == batches(currentBatch).want &&
    graft.operators.FormatOps.verifyTable(spark, current).forall(_._2)

  def liveDir: String = current
  def liveUserBytes: Long = batches(currentBatch).liveBytes
  def release(): Unit = batches = Array.empty
}

/** `ingest`: each op appends one pre-generated batch to a table that
  * starts empty. The encode-bound write path: dictionary building, page
  * compression, zone maps, then the per-append publish. Nothing is read. */
final class IngestWorkload(c: Ctx) extends Workload(c) {
  def warmOps: Int = sizes.warmIngest
  private val table = dir("ingest")
  private val warmTable = dir("ingest-warm")
  private var batches: Array[DataFrame] = Array.empty
  private var digests: Array[Digest] = Array.empty
  private var bytes: Array[Long] = Array.empty
  private var want = Digest.empty
  private var live = 0L
  private var target = ""

  def seedRound(round: Int): Unit = {
    batches.foreach(_.unpersist(blocking = true))
    batches = Array.tabulate(sizes.ingestBatches) { k =>
      val lo = k.toLong * sizes.ingestBlocks
      val df = generated(lo, lo + sizes.ingestBlocks, ctx.nproc)
        .persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }
  }

  def prepare(): Unit = {
    digests = batches.map(digest)
    bytes = Array.tabulate(sizes.ingestBatches) { k =>
      val lo = k * sizes.ingestBlocks
      (lo until lo + sizes.ingestBlocks).iterator
        .flatMap(b => gen.block(b.toLong)).map(_.userBytes).sum
    }
  }

  def beforeOp(i: Int, warm: Boolean): String = {
    target = if (warm) warmTable else table
    target
  }

  def op(i: Int): Unit =
    batches(i % batches.length).write.format("graft").mode("append").save(target)

  def check(i: Int): Boolean = {
    if (target == table) {
      want = want ++ digests(i % batches.length)
      live += bytes(i % batches.length)
    }
    true
  }

  def opUserBytes(i: Int): Long = bytes(i % bytes.length)
  def changeRows(i: Int): Long = sizes.ingestBlocks.toLong * Gen.RowsPerBlock
  def finish(): Boolean = digest(read(table)) == want
  def liveDir: String = table
  def liveUserBytes: Long = live
  def release(): Unit = {
    batches.foreach(_.unpersist(blocking = true))
    batches = Array.empty
  }
}

/** Table-directory listings and copies, with plain file I/O so they stay
  * outside the program's own counters. */
object Dirs {
  import scala.jdk.CollectionConverters._

  /** Relative path -> (bytes, mtime) of every regular file under `root`. */
  def list(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  def bytes(root: Path): Long = list(root).values.map(_._1).sum

  def copy(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally s.close()
  }

  def delete(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}
