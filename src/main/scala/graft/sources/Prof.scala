package graft.sources

/** Opt-in micro-profiler for the commit/maintenance path (enable with
  * `-Dgraft.profile=true`; a single boolean check when off). The
  * CDC/maintenance gates' cost is dominated by PER-COMMIT fixed work —
  * listings, manifest folds, sidecar round-trips, pointer swaps — that
  * no Spark UI metric attributes; this accumulates wall time per labeled
  * phase across commits so `Harness profile` can print an attribution
  * table instead of guessing. Driver-side only (every timed phase runs
  * on the driver), so a ConcurrentHashMap is plenty. */
object Prof {
  @volatile var enabled: Boolean = java.lang.Boolean.getBoolean("graft.profile")
  private val acc =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  @inline def time[T](label: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        val d = System.nanoTime() - t0
        acc.compute(label, (_, v) =>
          if (v == null) Array(d, 1L) else { v(0) += d; v(1) += 1; v })
      }
    }

  /** (label, total seconds, calls), heaviest first. */
  def snapshot(): Seq[(String, Double, Long)] = {
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq.map { case (k, v) => (k, v(0) / 1e9, v(1)) }
      .sortBy(-_._2)
  }

  def reset(): Unit = acc.clear()

  def dump(header: String = ""): Unit = {
    if (header.nonEmpty) println(header)
    snapshot().foreach { case (label, sec, n) =>
      println(f"  $label%-34s ${sec}%8.3f s  x$n%-5d ${sec / math.max(n, 1) * 1000}%8.2f ms/call")
    }
  }
}
