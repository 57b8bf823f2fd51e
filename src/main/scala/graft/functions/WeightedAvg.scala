package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed UDAF example: weighted average via `Aggregator[IN, BUF, OUT]`.
  *
  * Demonstrates the custom-aggregation surface (SURVEY.md §2.B UDF/UDAF
  * row). The buffer is a flat case class, so Spark runs this with partial
  * aggregation (map-side combine) and a shuffle of 16-byte buffers — the
  * same scale shape as a built-in agg.
  */
object WeightedAvg {
  case class Buf(var sum: Double, var weight: Double)

  val agg: Aggregator[(Double, Double), Buf, Double] =
    new Aggregator[(Double, Double), Buf, Double] {
      def zero: Buf = Buf(0.0, 0.0)
      def reduce(b: Buf, in: (Double, Double)): Buf = {
        b.sum += in._1 * in._2; b.weight += in._2; b
      }
      def merge(a: Buf, b: Buf): Buf = { a.sum += b.sum; a.weight += b.weight; a }
      def finish(b: Buf): Double = if (b.weight == 0.0) 0.0 else b.sum / b.weight
      def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }

  /** Column-API entry: weightedAvg(value, weight). */
  def weightedAvg(value: Column, weight: Column): Column =
    udaf(agg).apply(value, weight)
}
