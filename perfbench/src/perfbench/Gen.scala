package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types._

/** One generated ERC-20-style transfer log. Timestamps are whole seconds
  * in microseconds, so every value round-trips exactly. */
final case class Transfer(block: Long, logIndex: Int, tsMicros: Long,
    txHash: Array[Byte], from: Array[Byte], to: Array[Byte], token: Array[Byte],
    amount: Long, fee: Double, data: Array[Byte]) {

  /** Raw width of the row: fixed widths plus payload bytes. */
  def userBytes: Long = Gen.FixedRowBytes + data.length

  def toRow: Row = Row(block, logIndex,
    new java.sql.Timestamp(tsMicros / 1000L), txHash, from, to, token,
    amount, fee, data)

  /** Spark's `xxhash64` over all columns in schema order, so a table-level
    * `sum`/`bit_xor` of it in SQL can be compared with a model computed
    * here. */
  def xx: Long = {
    var h = 42L
    h = XxHash64Function.hash(block, LongType, h)
    h = XxHash64Function.hash(logIndex, IntegerType, h)
    h = XxHash64Function.hash(tsMicros, TimestampType, h)
    h = XxHash64Function.hash(txHash, BinaryType, h)
    h = XxHash64Function.hash(from, BinaryType, h)
    h = XxHash64Function.hash(to, BinaryType, h)
    h = XxHash64Function.hash(token, BinaryType, h)
    h = XxHash64Function.hash(amount, LongType, h)
    h = XxHash64Function.hash(fee, DoubleType, h)
    XxHash64Function.hash(data, BinaryType, h)
  }
}

/** Order-independent digest of a multiset of rows: count, the sum of each
  * row's hash masked to 32 bits (cannot overflow a long below 2^31 rows),
  * and the xor of the full 64-bit hashes. */
final case class Digest(rows: Long, sum32: Long, xor: Long) {
  def +(h: Long): Digest = Digest(rows + 1, sum32 + (h & 0xFFFFFFFFL), xor ^ h)
  def -(h: Long): Digest = Digest(rows - 1, sum32 - (h & 0xFFFFFFFFL), xor ^ h)
  def ++(o: Digest): Digest = Digest(rows + o.rows, sum32 + o.sum32, xor ^ o.xor)
}
object Digest { val empty = Digest(0, 0, 0) }

/** Seeded generator of the `transfers` table. Every block's rows are a pure
  * function of (seed, block number), so the table can be generated inside
  * Spark tasks and any block regenerated on the driver for a model.
  * Addresses repeat on a power law over a fixed pool and a few tokens are
  * hot, so each chunk's 20-byte dictionary has repetition to exploit, as
  * real chain data does; transaction hashes repeat across the logs of one
  * transaction. */
final class Gen(val seed: Long) extends Serializable {
  import Gen._

  private def pool(stream: Long, n: Int, width: Int): Array[Array[Byte]] = {
    val r = new SplittableRandom(mix(seed, stream))
    Array.fill(n) { val b = new Array[Byte](width); r.nextBytes(b); b }
  }
  private val addrs = pool(1, NAddr, 20)
  val tokens: Array[Array[Byte]] = pool(2, NToken, 20)

  /** Index in [0, n) drawn with density falling as a power of the rank. */
  private def skewed(r: SplittableRandom, n: Int, k: Double): Int =
    math.min(n - 1, (n * math.pow(r.nextDouble(), k)).toInt)

  def token(r: SplittableRandom): Int = skewed(r, NToken, 4.0)

  def block(b: Long): Array[Transfer] = {
    val r = new SplittableRandom(mix(seed, 0x5eedL + b))
    val ts = (GenesisSec + b * 12L) * 1000000L
    val out = new Array[Transfer](RowsPerBlock)
    var i = 0
    while (i < RowsPerBlock) {
      val tx = new Array[Byte](32); r.nextBytes(tx)
      val logs = 1 + skewed(r, 4, 2.0)
      var j = 0
      while (j < logs && i < RowsPerBlock) {
        out(i) = Transfer(b, i, ts, tx, addrs(skewed(r, NAddr, 3.0)),
          addrs(skewed(r, NAddr, 3.0)), tokens(token(r)),
          amount(r), fee(r), payload(r))
        i += 1; j += 1
      }
    }
    out
  }

  /** The same key with new amount, fee and payload. */
  def updated(t: Transfer, r: SplittableRandom): Transfer =
    t.copy(amount = amount(r), fee = fee(r), data = payload(r))

  private def amount(r: SplittableRandom): Long =
    math.pow(10, 1 + r.nextDouble() * 17).toLong
  private def fee(r: SplittableRandom): Double = r.nextInt(1000000) / 1e9
  /** ABI-shaped payload: 0 to 3 32-byte words, each a small number
    * left-padded with zeros. */
  private def payload(r: SplittableRandom): Array[Byte] = {
    val words = r.nextInt(4)
    val b = new Array[Byte](32 * words)
    var w = 0
    while (w < words) {
      var k = 24
      while (k < 32) { b(32 * w + k) = r.nextInt(256).toByte; k += 1 }
      w += 1
    }
    b
  }
}

object Gen {
  val RowsPerBlock = 200
  val NAddr = 50000
  val NToken = 64
  val GenesisSec = 1600000000L
  /** block_number, log_index, ts, tx_hash, 3 addresses, amount, fee. */
  val FixedRowBytes: Long = 8 + 4 + 8 + 32 + 3 * 20 + 8 + 8

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def fixed(name: String, w: Int) = StructField(name, BinaryType,
    nullable = false,
    new MetadataBuilder().putLong(graft.format.ColumnEncoder.FixedWidthKey, w).build())

  val schema: StructType = StructType(Seq(
    StructField("block_number", LongType, nullable = false),
    StructField("log_index", IntegerType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    fixed("tx_hash", 32), fixed("from_addr", 20), fixed("to_addr", 20),
    fixed("token", 20),
    StructField("amount", LongType, nullable = false),
    StructField("fee", DoubleType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  val columns: Seq[String] = schema.fieldNames.toSeq
  val keys: Seq[String] = Seq("block_number", "log_index")
}
