package graft.tsdb

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Gorilla time-series compression (Pelkonen et al., "Gorilla: A Fast,
  * Scalable, In-Memory Time Series Database", VLDB 2015 §4.1) —
  * delta-of-delta timestamps + XOR-windowed float values. The
  * reference applies it when a chunk closes
  * (src/compaction/gorilla.rs, src/compaction/mod.rs `Compactor`).
  *
  * The bit format here is this library's own (prefix buckets from the
  * paper, offset-encoded deltas, an explicit leading count header):
  * it is a storage format, not a wire-compat port.
  *
  * Spark placement: encoding is genuinely imperative bit-packing, so
  * it runs as a closure over per-(series, chunk) sample arrays — a
  * batch boundary at chunk close, never the query hot path. Payload
  * size is bounded by chunk duration, so the per-group collect is
  * bounded memory at any total scale.
  */
object Gorilla {

  private final class BitWriter(sizeHint: Int) {
    private var buf = new Array[Byte](math.max(sizeHint, 16))
    private var nbits = 0
    def writeBit(b: Long): Unit = {
      val byteIdx = nbits >>> 3
      if (byteIdx >= buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      if ((b & 1L) != 0L) buf(byteIdx) = (buf(byteIdx) | (0x80 >>> (nbits & 7))).toByte
      nbits += 1
    }
    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit(v >>> i); i -= 1 }
    }
    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, (nbits + 7) >>> 3)
  }

  private final class BitReader(bytes: Array[Byte]) {
    private var pos = 0
    def readBit(): Long = {
      val b = (bytes(pos >>> 3) >>> (7 - (pos & 7))) & 1
      pos += 1
      b.toLong
    }
    def readBits(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
  }

  /** Encode (ts_us, value) points, which MUST be time-ordered. */
  def encode(points: Seq[(Long, Double)]): Array[Byte] = {
    val w = new BitWriter(points.length * 3 + 20)
    w.writeBits(points.length.toLong, 32)
    if (points.nonEmpty) {
      val (t0, v0) = points.head
      w.writeBits(t0, 64)
      w.writeBits(java.lang.Double.doubleToRawLongBits(v0), 64)
      var prevT = t0
      var prevD = 0L
      var prevBits = java.lang.Double.doubleToRawLongBits(v0)
      var leading = -1
      var trailing = -1
      var i = 1
      while (i < points.length) {
        val (t, v) = points(i)
        val d = t - prevT
        val dod = d - prevD
        // timestamp: prefix buckets 0 / 10 / 110 / 1110 / 1111 (paper §4.1.1)
        if (dod == 0L) w.writeBit(0)
        else if (dod >= -63 && dod <= 64) { w.writeBits(0x2, 2); w.writeBits(dod + 63, 7) }
        else if (dod >= -255 && dod <= 256) { w.writeBits(0x6, 3); w.writeBits(dod + 255, 9) }
        else if (dod >= -2047 && dod <= 2048) { w.writeBits(0xe, 4); w.writeBits(dod + 2047, 12) }
        else { w.writeBits(0xf, 4); w.writeBits(dod, 64) }
        // value: XOR with leading/trailing-zero window (paper §4.1.2)
        val bits = java.lang.Double.doubleToRawLongBits(v)
        val xor = bits ^ prevBits
        if (xor == 0L) w.writeBit(0)
        else {
          w.writeBit(1)
          val lead = java.lang.Long.numberOfLeadingZeros(xor)
          val trail = java.lang.Long.numberOfTrailingZeros(xor)
          if (leading >= 0 && lead >= leading && trail >= trailing) {
            w.writeBit(0)
            w.writeBits(xor >>> trailing, 64 - leading - trailing)
          } else {
            leading = math.min(lead, 31) // 5-bit field
            trailing = trail
            w.writeBit(1)
            w.writeBits(leading.toLong, 5)
            val sig = 64 - leading - trailing
            w.writeBits((sig - 1).toLong, 6) // sig ∈ [1,64] stored as sig-1
            w.writeBits(xor >>> trailing, sig)
          }
        }
        prevD = d
        prevT = t
        prevBits = bits
        i += 1
      }
    }
    w.toBytes
  }

  def decode(bytes: Array[Byte]): IndexedSeq[(Long, Double)] = {
    val r = new BitReader(bytes)
    val n = r.readBits(32).toInt
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Double)](n)
    if (n > 0) {
      var t = r.readBits(64)
      var bits = r.readBits(64)
      out += ((t, java.lang.Double.longBitsToDouble(bits)))
      var d = 0L
      var leading = 0
      var trailing = 0
      var i = 1
      while (i < n) {
        val dod: Long =
          if (r.readBit() == 0L) 0L
          else if (r.readBit() == 0L) r.readBits(7) - 63
          else if (r.readBit() == 0L) r.readBits(9) - 255
          else if (r.readBit() == 0L) r.readBits(12) - 2047
          else r.readBits(64)
        d += dod
        t += d
        if (r.readBit() == 1L) {
          if (r.readBit() == 1L) {
            leading = r.readBits(5).toInt
            val sig = r.readBits(6).toInt + 1
            trailing = 64 - leading - sig
            bits = bits ^ (r.readBits(sig) << trailing)
          } else {
            val sig = 64 - leading - trailing
            bits = bits ^ (r.readBits(sig) << trailing)
          }
        }
        out += ((t, java.lang.Double.longBitsToDouble(bits)))
        i += 1
      }
    }
    out.toIndexedSeq
  }

  private[tsdb] val encodeUdf = udf { (pts: Seq[Row]) =>
    encode(pts.map(r => (r.getLong(0), r.getDouble(1))))
  }
  private[tsdb] val decodeUdf = udf { (bytes: Array[Byte]) => decode(bytes) }

  /** samples(series_id, ts_us, value, …) → one row per series with the
    * time-ordered points packed into a Gorilla `payload` binary.
    * sort_array on (ts_us, value) structs gives the required ordering
    * without a window shuffle. */
  def pack(samples: DataFrame): DataFrame = packBy(samples, "series_id")

  /** [[pack]] scoped to time chunks: one payload per (series, chunk),
    * so the per-group collect is bounded by chunk duration instead of
    * the series' entire retention — the shape every store path uses
    * ([[ChunkStore.closeChunk]] packs one chunk's rows at a time) and
    * the only safe one for an unbounded-retention series at 100 TB. */
  def packChunked(samples: DataFrame, chunkUs: Long): DataFrame =
    packBy(samples.withColumn("chunk", expr(s"ts_us div $chunkUs")), "series_id", "chunk")

  /** One payload per distinct `keys` tuple: (keys…, payload). */
  def packBy(samples: DataFrame, keys: String*): DataFrame =
    samples
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("ts_us"), col("value")))).as("pts"))
      .select(keys.map(col) :+ encodeUdf(col("pts")).as("payload"): _*)

  /** Inverse of [[pack]]: payload → exploded (series_id, ts_us, value). */
  def unpack(packed: DataFrame): DataFrame =
    packed
      .select(col("series_id"), explode(decodeUdf(col("payload"))).as("p"))
      .select(col("series_id"), col("p._1").as("ts_us"), col("p._2").as("value"))
}
