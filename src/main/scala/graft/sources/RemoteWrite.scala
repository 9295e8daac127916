package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Prometheus remote-write ingest — the reference's front door
  * (src/server.rs:133-179 decodes a snappy-compressed protobuf
  * `WriteRequest` and appends each timeseries' samples; the message
  * shape is the PUBLIC prompb/remote.proto):
  *
  *   WriteRequest { repeated TimeSeries timeseries = 1; }
  *   TimeSeries   { repeated Label labels = 1; repeated Sample samples = 2; }
  *   Label        { string name = 1; string value = 2; }
  *   Sample       { double value = 1; int64 timestamp = 2; }   // epoch ms
  *
  * The wire format is hand-decoded (varint + length-delimited fields +
  * little-endian fixed64 — the standard protobuf encoding) so no
  * protobuf runtime is needed; snappy block decompression comes from
  * snappy-java, already on the Spark classpath. Decoding is a
  * per-payload closure at the ingest boundary (genuinely imperative
  * byte work, the same placement as the Gorilla codec) that emits
  * [[graft.tsdb.Series.samples]]-shaped rows with the canonical series
  * id — ready for a [[graft.tsdb.ChunkStore]].
  */
object RemoteWrite {

  /** One decoded timeseries: sorted-label map + (epoch-ms, value). */
  type Series = (Map[String, String], Seq[(Long, Double)])

  // ───────────────────────── wire decode ─────────────────────────

  /** Bounded wire reader: every read checks its message boundary, so
    * a truncated or corrupt payload fails with a clear
    * IllegalArgumentException at the decode boundary instead of
    * silently mis-parsing past a length prefix (or throwing an opaque
    * ArrayIndexOutOfBounds from deep inside an executor). A sink
    * seeing repeated decode failures on replay should dead-letter the
    * payload — malformed bytes are malformed on every retry. */
  private[sources] final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    // LONG arithmetic + non-negativity: a hostile varint length can be
    // any 64-bit pattern — truncated toInt it wraps negative, which
    // (a) slips past an int `pos + n > end` check via overflow and
    // (b) as `pos += len` would move the cursor BACKWARD, turning the
    // caller's `while (hasMore)` walk into an infinite loop. Found by
    // the RemoteWriteSpec fuzz pass; same class as Avi.parse's r8 fix.
    private def need(n: Long): Unit =
      if (n < 0 || pos.toLong + n > end) throw new IllegalArgumentException(
        s"truncated payload: need $n bytes at $pos, message ends at $end")
    /** A length prefix: bounded to the remaining message. */
    private def len(): Int = { val v = varint(); need(v); v.toInt }
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var res = 0L
      while (true) {
        need(1)
        val b = buf(pos); pos += 1
        res |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return res
        shift += 7
        if (shift > 63) throw new IllegalArgumentException("varint overflow")
      }
      res
    }
    def fixed64(): Long = {
      need(8)
      var v = 0L; var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
    def sub(): Reader = {
      val n = len()
      val r = new Reader(buf, pos, pos + n)
      pos += n; r
    }
    def str(): String = {
      val n = len()
      val s = new String(buf, pos, n, "UTF-8")
      pos += n; s
    }
    /** Remaining message bytes, copied — a `bytes` field's payload. */
    def rest(): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(buf, pos, end)
      pos = end; out
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => need(8); pos += 8
      case 2 =>
        // NOT `pos += len()`: Scala reads pos BEFORE len() runs, and
        // len()'s varint read advances pos — the compound assignment
        // silently discarded that advance, landing every length-
        // delimited skip short by the length prefix's width. Latent
        // since r6 (skip(2) only ever hit absent unknown fields);
        // found the day a known field was first skipped (r12 streamed
        // remote-read negotiation walk).
        val n = len(); pos += n
      case 5 => need(4); pos += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
  }

  /** Parse one TimeSeries message body (shared by WriteRequest decode
    * and the read path's QueryResult decode). */
  private[sources] def parseTs(ts: Reader): Series = {
    val labels = Map.newBuilder[String, String]
    val samples = Seq.newBuilder[(Long, Double)]
    while (ts.hasMore) {
      val t = ts.varint()
      (t >> 3, t & 7) match {
        case (1, 2) => // label
          val l = ts.sub()
          var name = ""; var value = ""
          while (l.hasMore) {
            val lt = l.varint()
            (lt >> 3, lt & 7) match {
              case (1, 2) => name = l.str()
              case (2, 2) => value = l.str()
              case (_, w) => l.skip(w.toInt)
            }
          }
          labels += name -> value
        case (2, 2) => // sample
          val s = ts.sub()
          var v = 0.0; var tms = 0L
          while (s.hasMore) {
            val st = s.varint()
            (st >> 3, st & 7) match {
              case (1, 1) => v = java.lang.Double.longBitsToDouble(s.fixed64())
              case (2, 0) => tms = s.varint()
              case (_, w) => s.skip(w.toInt)
            }
          }
          samples += ((tms, v))
        case (_, w) => ts.skip(w.toInt)
      }
    }
    (labels.result(), samples.result())
  }

  /** Decode an UNCOMPRESSED WriteRequest body. Unknown fields are
    * skipped (forward-compatible, as proto requires). */
  def decodeProto(bytes: Array[Byte]): Seq[Series] = {
    val out = Seq.newBuilder[Series]
    val top = new Reader(bytes, 0, bytes.length)
    while (top.hasMore) {
      val tag = top.varint()
      if ((tag >> 3) == 1 && (tag & 7) == 2) out += parseTs(top.sub())
      else top.skip((tag & 7).toInt)
    }
    out.result()
  }

  /** Hostile-input-safe snappy block decompress, shared by every wire
    * decode path: corrupt framing rethrows as the decode boundary's
    * typed IllegalArgumentException (snappy-java throws IOException),
    * and the CLAIMED uncompressed length is bounded BEFORE the
    * allocation — a 4-byte hostile header claiming 2 GB must not turn
    * into a 2 GB buffer on the front door. */
  private[graft] val MaxUncompressed: Int = 1 << 28 // 256 MiB
  private[graft] def uncompress(payload: Array[Byte]): Array[Byte] =
    try {
      val n = org.xerial.snappy.Snappy.uncompressedLength(payload)
      if (n > MaxUncompressed) throw new IllegalArgumentException(
        s"snappy payload claims $n uncompressed bytes (cap $MaxUncompressed)")
      org.xerial.snappy.Snappy.uncompress(payload)
    } catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(s"corrupt snappy payload: ${e.getMessage}")
    }

  /** Decode the on-the-wire payload: snappy block → proto body. */
  def decode(payload: Array[Byte]): Seq[Series] =
    decodeProto(uncompress(payload))

  // ───────────────────────── wire encode ─────────────────────────
  // (the sender side — used by specs to synthesize payloads, and by
  // anyone replaying a corpus back out as remote-write)

  private[sources] def putVarint(o: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    o.write(v.toInt)
  }
  private[sources] def putField(o: java.io.ByteArrayOutputStream, field: Int, bytes: Array[Byte]): Unit = {
    putVarint(o, (field << 3) | 2); putVarint(o, bytes.length.toLong); o.write(bytes)
  }

  /** One encoded TimeSeries message body (shared by WriteRequest and
    * the read path's QueryResult — prompb uses the same message). */
  private[sources] def tsBytes(series: Series): Array[Byte] = {
    val (labels, samples) = series
    val ts = new java.io.ByteArrayOutputStream()
    labels.toSeq.sortBy(_._1).foreach { case (n, v) =>
      val l = new java.io.ByteArrayOutputStream()
      putField(l, 1, n.getBytes("UTF-8"))
      putField(l, 2, v.getBytes("UTF-8"))
      putField(ts, 1, l.toByteArray)
    }
    samples.foreach { case (tms, v) =>
      val s = new java.io.ByteArrayOutputStream()
      putVarint(s, (1 << 3) | 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 0
      while (i < 8) { s.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
      putVarint(s, (2 << 3) | 0); putVarint(s, tms)
      putField(ts, 2, s.toByteArray)
    }
    ts.toByteArray
  }

  def encodeProto(series: Seq[Series]): Array[Byte] = {
    val req = new java.io.ByteArrayOutputStream()
    series.foreach(s => putField(req, 1, tsBytes(s)))
    req.toByteArray
  }

  def encode(series: Seq[Series]): Array[Byte] =
    org.xerial.snappy.Snappy.compress(encodeProto(series))

  // ──────────────────────── DataFrame side ────────────────────────

  /** Canonical sorted `k=v` series identity of a label MAP column —
    * the same hash [[graft.tsdb.Series.seriesId]] derives from fixed
    * label columns (reference src/common/label.rs get_hash). */
  def seriesIdOfLabels(labels: Column): Column =
    md5(array_join(
      transform(array_sort(map_entries(labels)),
        e => concat(e.getField("key"), lit("="), e.getField("value"))), ","))

  /** [[seriesIdOfLabels]] of one label set, in process: keys sort by
    * their UTF-8 bytes, as Spark's string order does (not UTF-16's). */
  def seriesIdOf(labels: Map[String, String]): String = {
    val byKey = labels.toSeq.sortWith((a, b) =>
      java.util.Arrays.compareUnsigned(a._1.getBytes("UTF-8"), b._1.getBytes("UTF-8")) < 0)
    org.apache.commons.codec.digest.DigestUtils.md5Hex(
      byKey.map { case (k, v) => s"$k=$v" }.mkString(",").getBytes("UTF-8"))
  }

  /** payloads(`payloadCol` BINARY) → exactly [[graft.tsdb.Series.samples]]'s
    * shape, so ChunkStore and every TSDB operator work unchanged on
    * remote-written data. One bounded closure per payload emits flat
    * rows, hashing each series id once; the `user_id` cast and the
    * ms → µs scale stay in Catalyst, so bad input fails as an ANSI cast
    * or multiply does. The synthetic event_id is a deterministic row
    * hash (remote-write has no event id). */
  def toEventSamples(payloads: DataFrame, payloadCol: String = "payload"): DataFrame = {
    import payloads.sparkSession.implicits._
    payloads.select(col(payloadCol)).as[Array[Byte]]
      .flatMap(p => decode(p).iterator.flatMap { case (labels, samples) =>
        val id = seriesIdOf(labels)
        val (et, uid) = (labels.get("event_type").orNull, labels.get("user_id").orNull)
        samples.iterator.map { case (tms, v) => (id, et, uid, tms, v) }
      }).toDF("series_id", "event_type", "user_id", "ts_ms", "value")
      .select(
        col("series_id"),
        col("event_type"),
        col("user_id").cast("long").as("user_id"),
        (col("ts_ms") * 1000L).as("ts_us"), // remote-write carries ms
        col("value"))
      .withColumn("event_id", xxhash64(col("series_id"), col("ts_us"), col("value")))
  }
}

/** Prometheus remote-READ — the other direction of the reference's
  * front door (src/server.rs:133-169 decodes a ReadRequest, runs each
  * query's matchers+range against the db and answers a ReadResponse;
  * PUBLIC prompb shapes):
  *
  *   ReadRequest  { repeated Query queries = 1; }
  *   Query        { int64 start_timestamp_ms = 1; int64 end_timestamp_ms = 2;
  *                  repeated LabelMatcher matchers = 3; }
  *   LabelMatcher { Type type = 1 (EQ=0 NEQ=1 RE=2 NRE=3);
  *                  string name = 2; string value = 3; }
  *   ReadResponse { repeated QueryResult results = 1; }
  *   QueryResult  { repeated TimeSeries timeseries = 1; }
  *
  * The distributed work (matcher resolution, chunk pruning, live ∪
  * closed federation, Gorilla decode) runs as the ChunkStore's normal
  * query plan; only the final per-query result materializes on the
  * driver to become the wire response — a remote-read response is one
  * HTTP body by protocol, so it is bounded by construction.
  */
object RemoteRead {
  import RemoteWrite.{Reader, putVarint, putField, tsBytes, parseTs, Series}
  import graft.tsdb.{ChunkStore, Matcher, MatchEq, MatchNeq, MatchRe, MatchNre}

  /** One decoded read query: (start ms, end ms, matchers). */
  type Query = (Long, Long, Seq[Matcher])

  def decodeRequestProto(bytes: Array[Byte]): Seq[Query] = {
    val out = Seq.newBuilder[Query]
    val top = new Reader(bytes, 0, bytes.length)
    while (top.hasMore) {
      val tag = top.varint()
      if ((tag >> 3) == 1 && (tag & 7) == 2) { // query
        val q = top.sub()
        var s = 0L; var e = 0L
        val ms = Seq.newBuilder[Matcher]
        while (q.hasMore) {
          val t = q.varint()
          (t >> 3, t & 7) match {
            case (1, 0) => s = q.varint()
            case (2, 0) => e = q.varint()
            case (3, 2) =>
              val m = q.sub()
              var typ = 0L; var name = ""; var value = ""
              while (m.hasMore) {
                val mt = m.varint()
                (mt >> 3, mt & 7) match {
                  case (1, 0) => typ = m.varint()
                  case (2, 2) => name = m.str()
                  case (3, 2) => value = m.str()
                  case (_, w) => m.skip(w.toInt)
                }
              }
              ms += (typ match {
                case 0 => MatchEq(name, value)
                case 1 => MatchNeq(name, value)
                case 2 => MatchRe(name, value)
                case _ => MatchNre(name, value)
              })
            case (_, w) => q.skip(w.toInt)
          }
        }
        out += ((s, e, ms.result()))
      } else top.skip((tag & 7).toInt)
    }
    out.result()
  }

  def decodeRequest(payload: Array[Byte]): Seq[Query] =
    decodeRequestProto(RemoteWrite.uncompress(payload))

  /** prompb ReadRequest.ResponseType value negotiating the chunked
    * stream (field 2, `accepted_response_types` — the reference
    * declares it at src/proto/remote.rs:228 and, like this library
    * before r12, never answered it). Prometheus names the value
    * STREAMED_XOR_CHUNKS; the chunk DATA this server streams is the
    * library's own at-rest Gorilla bit format, so chunks carry the
    * vendor [[GorillaChunkType]] code instead of claiming XOR
    * compatibility. */
  val ResponseTypeStreamed = 1L

  /** Chunk.type for this library's Gorilla payloads. Prometheus
    * reserves 0=UNKNOWN 1=XOR 2=HISTOGRAM 3=FLOAT_HISTOGRAM; 64 is
    * outside that range, and a standards-following client SKIPS
    * unknown chunk encodings instead of mis-decoding them. */
  val GorillaChunkType = 64L

  /** Full request decode: queries plus the accepted response types
    * (field 2, repeated enum — accepts both proto3 packed and
    * unpacked spellings). An absent field means SAMPLES only, per
    * protocol. */
  def decodeRequestFull(payload: Array[Byte]): (Seq[Query], Set[Long]) = {
    val bytes = RemoteWrite.uncompress(payload)
    val accepted = Set.newBuilder[Long]
    val top = new Reader(bytes, 0, bytes.length)
    while (top.hasMore) {
      val tag = top.varint()
      (tag >> 3, tag & 7) match {
        case (2, 0) => accepted += top.varint() // unpacked enum entry
        case (2, 2) => // packed enum list
          val p = top.sub()
          while (p.hasMore) accepted += p.varint()
        case (_, w) => top.skip(w.toInt)
      }
    }
    (decodeRequestProto(bytes), accepted.result())
  }

  /** Client-side request encoder (specs; anyone querying the store
    * over the wire). `acceptStreamed` adds
    * `accepted_response_types = [STREAMED]` (packed field 2) — the
    * negotiation a chunk-capable reader sends. */
  def encodeRequest(queries: Seq[Query], acceptStreamed: Boolean = false): Array[Byte] = {
    val req = new java.io.ByteArrayOutputStream()
    queries.foreach { case (s, e, ms) =>
      val q = new java.io.ByteArrayOutputStream()
      putVarint(q, (1 << 3) | 0); putVarint(q, s)
      putVarint(q, (2 << 3) | 0); putVarint(q, e)
      ms.foreach { mm =>
        val m = new java.io.ByteArrayOutputStream()
        val typ = mm match {
          case MatchEq(_, _) => 0L
          case MatchNeq(_, _) => 1L
          case MatchRe(_, _) => 2L
          case MatchNre(_, _) => 3L
        }
        val value = mm match {
          case MatchEq(_, v) => v
          case MatchNeq(_, v) => v
          case MatchRe(_, v) => v
          case MatchNre(_, v) => v
        }
        putVarint(m, (1 << 3) | 0); putVarint(m, typ)
        putField(m, 2, mm.key.getBytes("UTF-8"))
        putField(m, 3, value.getBytes("UTF-8"))
        putField(q, 3, m.toByteArray)
      }
      putField(req, 1, q.toByteArray)
    }
    if (acceptStreamed) {
      val packed = new java.io.ByteArrayOutputStream()
      putVarint(packed, ResponseTypeStreamed)
      putField(req, 2, packed.toByteArray)
    }
    org.xerial.snappy.Snappy.compress(req.toByteArray)
  }

  def encodeResponse(results: Seq[Seq[Series]]): Array[Byte] = {
    val resp = new java.io.ByteArrayOutputStream()
    results.foreach { tss =>
      val qr = new java.io.ByteArrayOutputStream()
      tss.foreach(ts => putField(qr, 1, tsBytes(ts)))
      putField(resp, 1, qr.toByteArray)
    }
    org.xerial.snappy.Snappy.compress(resp.toByteArray)
  }

  def decodeResponse(payload: Array[Byte]): Seq[Seq[Series]] = {
    val bytes = RemoteWrite.uncompress(payload)
    val out = Seq.newBuilder[Seq[Series]]
    val top = new Reader(bytes, 0, bytes.length)
    while (top.hasMore) {
      val tag = top.varint()
      if ((tag >> 3) == 1 && (tag & 7) == 2) { // QueryResult
        val qr = top.sub()
        val tss = Seq.newBuilder[Series]
        while (qr.hasMore) {
          val t = qr.varint()
          if ((t >> 3) == 1 && (t & 7) == 2) tss += parseTs(qr.sub())
          else qr.skip((t & 7).toInt)
        }
        out += tss.result()
      } else top.skip((tag & 7).toInt)
    }
    out.result()
  }

  /** Thrown when a serving-path query matches more series (or result
    * rows) than the server's cap — the HTTP layer turns it into a
    * typed 422 instead of letting an unbounded driver collect OOM the
    * server. Extends IllegalArgumentException so non-HTTP callers that
    * already handle bad requests degrade to a 400-class error. */
  final class TooManySeriesException(val cap: Int, verb: String)
    extends IllegalArgumentException(
      s"$verb selects more than $cap series — narrow the matchers or raise the cap")

  /** Serve a remote-read payload against a [[ChunkStore]]: decode the
    * request, run every query through the store's federated
    * matcher+range plan (partition pruning, closed-chunk Gorilla
    * decode — all distributed; each row carries its labels), group
    * per series, and encode the wire response. Sample order
    * within a series is time-ascending, as Prometheus requires.
    *
    * `seriesCap` bounds the driver materialization PER QUERY: the
    * grouped series frame collects at most cap+1 rows (limit runs
    * distributed, the +1 row proves the cap was crossed without
    * collecting the whole vector — the /federate pattern), and an
    * over-cap match throws [[TooManySeriesException]] for the HTTP
    * layer's typed 422. Without this, a `{__name__=~".+"}` read at
    * production cardinality is an unbounded driver array. */
  def serve(store: ChunkStore, payload: Array[Byte],
            seriesCap: Int = 100000): Array[Byte] = {
    val results = decodeRequest(payload).map { q =>
      val capped = seriesFrame(store, q).limit(seriesCap + 1).collect()
      if (capped.length > seriesCap)
        throw new TooManySeriesException(seriesCap, "remote-read query")
      capped.sortBy(_.getString(0))
        .map { r =>
          val labels = Map(
            "event_type" -> r.getString(1),
            "user_id" -> r.get(2).toString)
          val pts = r.getSeq[org.apache.spark.sql.Row](3)
            .map(p => (p.getLong(0) / 1000, p.getDouble(1)))
          (labels, pts): Series
        }.toSeq
    }
    encodeResponse(results)
  }

  /** One sampled remote-read query's answer as a frame: one row per
    * series (series_id, event_type, user_id, pts), pts the
    * time-ascending (ts_us, value) points. Unordered: [[serve]] sorts
    * the at most cap+1 rows it collects by series_id, which costs no
    * range-partition shuffle. */
  private[graft] def seriesFrame(store: ChunkStore, q: Query): DataFrame = {
    val (sMs, eMs, ms) = q
    // the wire is ms-grain: [sMs, eMs] covers those WHOLE
    // milliseconds, so the us-grain store query extends to the last
    // us of eMs — otherwise sub-ms sample tails fall between two
    // adjacent federation slices (lost by both)
    store.queryAll(ms, sMs * 1000, eMs * 1000 + 999)
      .groupBy(col("series_id"), col("event_type"), col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_us"), col("value")))).as("pts"))
  }

  // ──────────── streamed responses (accepted_response_types) ────────────
  //
  // The Prometheus chunked remote-read shapes (PUBLIC prompb):
  //   ChunkedReadResponse { repeated ChunkedSeries chunked_series = 1;
  //                         int64 query_index = 2; }
  //   ChunkedSeries       { repeated Label labels = 1;
  //                         repeated Chunk chunks = 2; }
  //   Chunk               { int64 min_time_ms = 1; int64 max_time_ms = 2;
  //                         Type type = 3; bytes data = 4; }
  // Stream framing (Prometheus's ChunkedWriter): each message is
  // uvarint(len) ++ 4-byte big-endian CRC32C(data) ++ data — NOT
  // snappy-wrapped (chunk data is already compressed at rest).

  /** One decoded streamed chunk: (min ms, max ms, type, data). */
  type WireChunk = (Long, Long, Long, Array[Byte])

  private def crc32c(data: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(data, 0, data.length)
    c.getValue.toInt
  }

  /** Frame one message for the stream: uvarint length, big-endian
    * CRC32C, body. */
  def frame(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 9)
    putVarint(out, data.length.toLong)
    val crc = crc32c(data)
    out.write((crc >>> 24) & 0xff); out.write((crc >>> 16) & 0xff)
    out.write((crc >>> 8) & 0xff); out.write(crc & 0xff)
    out.write(data)
    out.toByteArray
  }

  private def chunkedSeriesBytes(labels: Map[String, String],
                                 chunks: Seq[WireChunk]): Array[Byte] = {
    val cs = new java.io.ByteArrayOutputStream()
    labels.toSeq.sortBy(_._1).foreach { case (n, v) =>
      val l = new java.io.ByteArrayOutputStream()
      putField(l, 1, n.getBytes("UTF-8"))
      putField(l, 2, v.getBytes("UTF-8"))
      putField(cs, 1, l.toByteArray)
    }
    chunks.foreach { case (minMs, maxMs, typ, data) =>
      val c = new java.io.ByteArrayOutputStream()
      putVarint(c, (1 << 3) | 0); putVarint(c, minMs)
      putVarint(c, (2 << 3) | 0); putVarint(c, maxMs)
      putVarint(c, (3 << 3) | 0); putVarint(c, typ)
      putField(c, 4, data)
      putField(cs, 2, c.toByteArray)
    }
    cs.toByteArray
  }

  /** Serve a remote-read payload as a STREAM of framed
    * ChunkedReadResponse messages, one frame per matched series. The
    * data plane never materializes a result vector on the driver:
    * closed Gorilla payloads ship as they sit at rest
    * ([[graft.tsdb.ChunkStore.queryEncoded]] — no decode), and the
    * driver walks the grouped per-series frame with toLocalIterator
    * (one series' chunk list in memory at a time). THIS is why the
    * streamed path needs no seriesCap: memory is bounded per frame,
    * not per response — an unbounded-cardinality read that 422s on
    * the sampled path streams fine here. */
  def serveStreamed(store: ChunkStore, payload: Array[Byte]): Iterator[Array[Byte]] = {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val (queries, _) = decodeRequestFull(payload)
    val chunkMs = store.chunkUs / 1000
    queries.iterator.zipWithIndex.flatMap { case ((sMs, eMs, ms), qi) =>
      val perSeries = store.queryEncoded(ms, sMs * 1000, eMs * 1000 + 999)
        .groupBy(col("series_id"), col("event_type"), col("user_id"))
        .agg(sort_array(collect_list(struct(col("chunk"), col("payload")))).as("chunks"))
        .orderBy(col("series_id"))
      perSeries.toLocalIterator().asScala.map { r =>
        val labels = Map(
          "event_type" -> r.getString(1),
          "user_id" -> r.get(2).toString)
        val chunks = r.getSeq[org.apache.spark.sql.Row](3).map { c =>
          val ck = c.getLong(0)
          // chunk-grain time bounds (the partition's span, not the
          // samples' — the client trims after decode, per protocol)
          (ck * chunkMs, (ck + 1) * chunkMs - 1, GorillaChunkType,
            c.getAs[Array[Byte]](1)): WireChunk
        }
        frame {
          val resp = new java.io.ByteArrayOutputStream()
          putField(resp, 1, chunkedSeriesBytes(labels, chunks))
          putVarint(resp, (2 << 3) | 0); putVarint(resp, qi.toLong)
          resp.toByteArray
        }
      }
    }
  }

  /** Client-side decode of a whole frame stream:
    * (query_index, labels, chunks) per ChunkedSeries. Verifies each
    * frame's CRC32C — a torn TCP stream must fail loudly, not parse
    * garbage chunk bytes. */
  def decodeStreamedResponse(bytes: Array[Byte]): Seq[(Long, Map[String, String], Seq[WireChunk])] = {
    val out = Seq.newBuilder[(Long, Map[String, String], Seq[WireChunk])]
    val top = new Reader(bytes, 0, bytes.length)
    while (top.hasMore) {
      val n = top.varint()
      if (n < 0 || top.pos + 4 + n > top.end)
        throw new IllegalArgumentException(
          s"truncated stream frame: need ${4 + n} bytes at ${top.pos}")
      val crc = ((bytes(top.pos) & 0xff) << 24) | ((bytes(top.pos + 1) & 0xff) << 16) |
        ((bytes(top.pos + 2) & 0xff) << 8) | (bytes(top.pos + 3) & 0xff)
      top.pos += 4
      val body = java.util.Arrays.copyOfRange(bytes, top.pos, top.pos + n.toInt)
      top.pos += n.toInt
      if (crc32c(body) != crc)
        throw new IllegalArgumentException("stream frame CRC32C mismatch")
      // parse one ChunkedReadResponse
      val m = new Reader(body, 0, body.length)
      var qi = 0L
      val series = Seq.newBuilder[(Map[String, String], Seq[WireChunk])]
      while (m.hasMore) {
        val t = m.varint()
        (t >> 3, t & 7) match {
          case (2, 0) => qi = m.varint()
          case (1, 2) =>
            val cs = m.sub()
            val labels = Map.newBuilder[String, String]
            val chunks = Seq.newBuilder[WireChunk]
            while (cs.hasMore) {
              val ct = cs.varint()
              (ct >> 3, ct & 7) match {
                case (1, 2) =>
                  val l = cs.sub()
                  var name = ""; var value = ""
                  while (l.hasMore) {
                    val lt = l.varint()
                    (lt >> 3, lt & 7) match {
                      case (1, 2) => name = l.str()
                      case (2, 2) => value = l.str()
                      case (_, w) => l.skip(w.toInt)
                    }
                  }
                  labels += name -> value
                case (2, 2) =>
                  val c = cs.sub()
                  var minMs = 0L; var maxMs = 0L; var typ = 0L
                  var data = Array.emptyByteArray
                  while (c.hasMore) {
                    val cct = c.varint()
                    (cct >> 3, cct & 7) match {
                      case (1, 0) => minMs = c.varint()
                      case (2, 0) => maxMs = c.varint()
                      case (3, 0) => typ = c.varint()
                      case (4, 2) => data = c.sub().rest()
                      case (_, w) => c.skip(w.toInt)
                    }
                  }
                  chunks += ((minMs, maxMs, typ, data))
                case (_, w) => cs.skip(w.toInt)
              }
            }
            series += ((labels.result(), chunks.result()))
          case (_, w) => m.skip(w.toInt)
        }
      }
      series.result().foreach { case (ls, cks) => out += ((qi, ls, cks)) }
    }
    out.result()
  }

  /** Decode a frame stream all the way to per-query sample series:
    * Gorilla-decode every [[GorillaChunkType]] chunk (skipping unknown
    * types, as the protocol requires of clients), trim to each query's
    * [start, end] ms range at FULL microsecond resolution — the
    * streamed tier loses nothing to the wire, unlike the sampled
    * envelope's ms truncation. Output per query: (labels,
    * (ts_us, value) ascending). */
  def decodeStreamedToSamples(bytes: Array[Byte], queries: Seq[Query])
      : Seq[Seq[(Map[String, String], Seq[(Long, Double)])]] = {
    val bySeries = decodeStreamedResponse(bytes)
    queries.indices.map { qi =>
      val (sMs, eMs, _) = queries(qi)
      bySeries.filter(_._1 == qi).map { case (_, labels, chunks) =>
        val pts = chunks
          .filter(_._3 == GorillaChunkType)
          .flatMap(c => graft.tsdb.Gorilla.decode(c._4))
          .filter(p => p._1 >= sMs * 1000 && p._1 <= eMs * 1000 + 999)
          .sortBy(_._1)
        (labels, pts)
      }
    }
  }
}
