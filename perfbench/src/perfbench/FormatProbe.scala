package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}

import graft.format.{GraftFileReader, GraftFileWriter, Meta, TableBuffer}

/** Direct calls into the `format` layer, timed from outside: encoding one
  * in-memory batch, decoding the live files of a table, parsing their
  * footers, and the dictionary and size ratios their footers record. */
object FormatProbe {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(spark: SparkSession, t: Tracer, dir: String, sample: Array[Transfer],
      liveUserBytes: Long): Map[String, Double] = {
    def timed[A](name: String)(body: => A): (A, Double) = {
      val s = t.nowUs
      val a = body
      val e = t.nowUs
      t.synchronized(t.spans += Span(t.newId(), 0L, name, s, e, -1))
      (a, (e - s) / 1000.0)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val files = graft.sources.GraftDataSource.listPartitionedSized(conf, dir)
      .map { case (p, size, _) => (p, size) }.sortBy(_._1.toString)
    val fs = new Path(dir).getFileSystem(conf)

    // encode: rows converted to InternalRow before the clock starts
    val ser = ExpressionEncoder(RowEncoder.encoderFor(Gen.schema)).createSerializer()
    val rows = sample.map(r => ser(r.toRow).copy())
    val sampleMb = sample.map(_.userBytes).sum / 1e6
    val encodeMs = median((1 to 5).map { _ =>
      timed("format.encode") {
        val tb = new TableBuffer("data", Gen.schema)
        rows.foreach(tb.appendRow)
        val w = new GraftFileWriter(new java.io.ByteArrayOutputStream(1 << 24))
        w.writeChunk(Seq(tb))
        w.finish()
      }._2
    })

    // decode: open plus every chunk's full decode, over at most 16 files
    val probe = files.take(16)
    val probeMb = probe.map(_._2).sum / 1e6
    val decodeMs = median((1 to 3).map { _ =>
      timed("format.decode") {
        probe.foreach { case (p, _) =>
          val r = GraftFileReader.open(fs, p)
          try r.footer.chunks.foreach(c => c.tables.foreach(tm =>
            r.decodeTable(c, tm, tm.schema).close()))
          finally r.close()
        }
      }._2
    })

    // footers: raw bytes read first, then only Meta.read is timed
    val footers = probe.map { case (p, len) =>
      val in = fs.open(p)
      try {
        val tail = new Array[Byte](12)
        in.readFully(len - 12, tail)
        val n = java.nio.ByteBuffer.wrap(tail).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .getLong(0).toInt
        val b = new Array[Byte](n)
        in.readFully(len - 12 - n, b)
        b
      } finally in.close()
    }
    val footerMs = median((1 to 5).map { _ =>
      timed("format.footer_parse")(footers.foreach(Meta.read))._2
    }) / math.max(1, footers.size)

    var rowsN, d20, d32 = 0L
    files.foreach { case (p, _) =>
      val r = GraftFileReader.open(fs, p)
      try r.footer.chunks.foreach { c =>
        rowsN += c.tables.map(_.numRows.toLong).sum
        d20 += c.dict20.numEntries
        d32 += c.dict32.numEntries
      } finally r.close()
    }
    Map(
      "format.encode_ms_per_mb" -> encodeMs / sampleMb,
      "format.decode_ms_per_mb" -> (if (probeMb > 0) decodeMs / probeMb else 0.0),
      "format.footer_parse_ms" -> footerMs,
      "format.file_bytes_per_user_byte" ->
        files.map(_._2).sum.toDouble / math.max(1L, liveUserBytes),
      // three 20-byte columns and one 32-byte column per row
      "format.dict20_entries_per_value" -> d20.toDouble / math.max(1L, 3 * rowsN),
      "format.dict32_entries_per_value" -> d32.toDouble / math.max(1L, rowsN))
  }
}
