package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Rows → comparable canonical form (binary → seq, maps → sorted). */
  def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toList
      case m: scala.collection.Map[_, _] =>
        m.toList.map { case (k, x) => (norm(k), norm(x)) }.sortBy(_.toString())
      // collect() yields mutable.ArraySeq for array columns — match the
      // collection root, not immutable Seq
      case s: scala.collection.Seq[_] => s.toList.map(norm)
      case r: org.apache.spark.sql.Row => r.toSeq.toList.map(norm)
      case other => other
    }
    df.collect().toSeq.map(r => norm(r).toString).sorted
  }

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // events are delivered asynchronously: drain before attaching so
    // earlier jobs are not counted, and after the body so none are missed
    org.apache.spark.sql.graftshim.GraftShim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graftshim.GraftShim.drainListenerBus(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // fork-free streaming checkpoints on the local scheme (the
      // FileContext manager shells out per metadata op; see AtomicPublish)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
