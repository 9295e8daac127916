package graft

import graft.sources.{RemoteRead, RemoteWrite}
import graft.streaming.StreamIngest
import graft.tsdb.{ChunkStore, MatchEq, MatchRe, Series}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Remote-write ingest drill: synthetic snappy+protobuf payloads all
  * the way into a ChunkStore and back out through a matcher query —
  * the reference's front door (src/server.rs:133-179) end-to-end. */
class RemoteWriteSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1704067200000L // 2024-01-01 00:00 UTC, ms

  private def series(et: String, uid: Long, n: Int, offset: Int): RemoteWrite.Series =
    (Map("event_type" -> et, "user_id" -> uid.toString),
      (0 until n).map(i => (t0 + offset + i * 60000L, i * 1.5 + uid)))

  test("proto+snappy codec roundtrip, unknown fields skipped") {
    val in = Seq(series("click", 1, 5, 0), series("view", 2, 3, 7))
    val decoded = RemoteWrite.decode(RemoteWrite.encode(in))
    assert(decoded == in)
    // forward-compat: an unknown varint field prepended to the body is skipped
    val body = RemoteWrite.encodeProto(in)
    val withUnknown = Array[Byte]((9 << 3).toByte, 42) ++ body // field 9, varint 42
    assert(RemoteWrite.decodeProto(withUnknown) == in)
  }

  test("series id of the label map equals Series.samples' column derivation") {
    val payload = RemoteWrite.encode(Seq(series("purchase", 7, 2, 0)))
    val viaRemote = RemoteWrite.toEventSamples(Seq(payload).toDF("payload"))
      .select("series_id").distinct().as[String].head()
    val viaColumns = Series.samples(
      Seq((1L, new java.sql.Timestamp(t0), 7L, "purchase", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("series_id").distinct().as[String].head()
    assert(viaRemote == viaColumns)
  }

  /** The Catalyst decode `toEventSamples` replaced, kept as its
    * reference: a UDF to a label MAP, two explodes, and the series id
    * derived per sample by [[RemoteWrite.seriesIdOfLabels]]. */
  private val decodeUdf = udf((p: Array[Byte]) => RemoteWrite.decode(p))
  private def catalystEventSamples(payloads: DataFrame): DataFrame =
    payloads
      .select(explode(decodeUdf(col("payload"))).as("t"))
      .select(col("t._1").as("labels"), explode(col("t._2")).as("s"))
      .select(
        RemoteWrite.seriesIdOfLabels(col("labels")).as("series_id"),
        col("labels").getItem("event_type").as("event_type"),
        col("labels").getItem("user_id").cast("long").as("user_id"),
        (col("s._1") * 1000L).as("ts_us"),
        col("s._2").as("value"))
      .withColumn("event_id", xxhash64(col("series_id"), col("ts_us"), col("value")))

  /** Seeded label sets of 5+ labels: `__name__`, non-ASCII names, and
    * a BMP name above the surrogates (U+FB00) beside a
    * supplementary-plane one (U+1D4B3), which UTF-8 and UTF-16 order
    * differently; some series lack `event_type` or `user_id`. */
  private def randomLabelSets(rnd: scala.util.Random, n: Int): Seq[Map[String, String]] = {
    val names = Seq("__name__", "job", "instance", "é", "\uFB00", "\uD835\uDCB3", "zone", "Ω")
    (0 until n).map { _ =>
      val extra = rnd.shuffle(names).take(3 + rnd.nextInt(names.size - 2))
        .map(k => k -> s"v${rnd.nextInt(50)}\u00e9\uD83D\uDE00").toMap
      val et = if (rnd.nextInt(6) == 0) Map.empty else Map("event_type" -> s"e${rnd.nextInt(4)}")
      val uid = if (rnd.nextInt(6) == 0) Map.empty else Map("user_id" -> rnd.nextInt(100).toString)
      extra ++ et ++ uid
    }
  }

  test("the typed decode equals the Catalyst decode row for row; seriesIdOf is the column id") {
    val rnd = new scala.util.Random(12)
    val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, -1.5e17)
    val payloads = (0 until 120).map { _ =>
      RemoteWrite.encode(randomLabelSets(rnd, 1 + rnd.nextInt(6)).map { labels =>
        labels -> (0 until rnd.nextInt(12)).map { i =>
          (t0 + rnd.nextInt(1 << 30), if (i % 5 == 0) specials(rnd.nextInt(specials.size))
          else rnd.nextGaussian() * 1e3)
        }
      })
    }.toDF("payload")
    val typed = RemoteWrite.toEventSamples(payloads)
    val ref = catalystEventSamples(payloads)
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(shape(typed) == shape(ref))
    val n = ref.count()
    assert(n > 1000 && typed.count() == n)
    assert(typed.exceptAll(ref).isEmpty && ref.exceptAll(typed).isEmpty)

    // the row-side id is the column-side id over the same map …
    val maps = randomLabelSets(rnd, 200) ++ Seq(Map.empty[String, String],
      Map("\uFB00" -> "a", "\uD835\uDCB3" -> "b"))
    val byColumn = maps.toDF("labels")
      .select(RemoteWrite.seriesIdOfLabels(col("labels"))).as[String].collect().toSeq
    assert(maps.map(RemoteWrite.seriesIdOf) == byColumn)
    // … and the fixed-column id of {event_type, user_id}
    val fixed = spark.range(1).select(Series.seriesId(
      Seq("user_id" -> lit(7L), "event_type" -> lit("purchase")))).as[String].head()
    assert(RemoteWrite.seriesIdOf(Map("event_type" -> "purchase", "user_id" -> "7")) == fixed)
  }

  test("a non-numeric user_id or an overflowing timestamp fails the typed decode as the Catalyst one") {
    def conditions(df: DataFrame): Seq[String] = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collect {
        case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
      }.toSeq.distinct
    }
    for ((labels, tms, condition) <- Seq(
      (Map("event_type" -> "click", "user_id" -> "u-7"), t0, "CAST_INVALID_INPUT"),
      (Map("event_type" -> "click", "user_id" -> "7"), Long.MaxValue / 10, "ARITHMETIC_OVERFLOW"))) {
      val payloads = Seq(RemoteWrite.encode(Seq(labels -> Seq((tms, 1.0))))).toDF("payload")
      val typed = conditions(RemoteWrite.toEventSamples(payloads))
      assert(typed.contains(condition), typed)
      assert(typed == conditions(catalystEventSamples(payloads)))
    }
  }

  test("streamed remote-write payloads land in a ChunkStore and answer matcher queries") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir = Files.createTempDirectory("graft_rw_store").toString
    val ckpt = Files.createTempDirectory("graft_rw_ckpt").toString
    val store = new ChunkStore(spark, storeDir)

    val input = MemoryStream[Array[Byte]]
    val q = StreamIngest.startStoreSink(
      input.toDF().toDF("payload"), store, ckpt, RemoteWrite.toEventSamples(_))
    input.addData(RemoteWrite.encode(Seq(
      series("click", 1, 10, 0), series("purchase", 2, 4, 30000))))
    q.processAllAvailable()
    input.addData(RemoteWrite.encode(Seq(series("click", 1, 6, 600000 * 2))))
    q.processAllAvailable()
    q.stop()

    val us0 = t0 * 1000
    val clicks = store.queryAll(Seq(MatchEq("event_type", "click")),
      us0, us0 + 3600L * 1000000)
    assert(clicks.count() == 16)
    val all = store.live()
    assert(all.count() == 20)
    // values and micro-second timestamps survived the wire intact
    val got = clicks.select("ts_us", "value").as[(Long, Double)].collect().toSet
    assert(got.contains((us0, 1.0)))                       // i=0, uid 1
    assert(got.contains((us0 + 1200000000L, 1.0)))         // second batch i=0
  }

  test("wire codec property: 200 random requests roundtrip (seeded), special doubles exact") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcXYZ_0189 éπ" // incl. multibyte UTF-8
    def str(max: Int) =
      (0 until (1 + rnd.nextInt(max))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val specials = Seq(0.0, -0.0, Double.MaxValue, Double.MinPositiveValue,
      Double.PositiveInfinity, Double.NegativeInfinity, 1e-300, -1.5e17)
    for (_ <- 0 until 200) {
      val req: Seq[RemoteWrite.Series] = (0 until rnd.nextInt(4)).map { _ =>
        val labels = (0 until 1 + rnd.nextInt(4)).map(_ => str(8) -> str(12)).toMap
        val samples = (0 until rnd.nextInt(20)).map { _ =>
          (math.abs(rnd.nextLong()) % (1L << 48),
            if (rnd.nextBoolean()) specials(rnd.nextInt(specials.length))
            else rnd.nextDouble() * 1e6 - 5e5)
        }
        (labels, samples)
      }
      val dec = RemoteWrite.decode(RemoteWrite.encode(req))
      assert(dec.size == req.size)
      dec.zip(req).foreach { case ((gl, gs), (el, es)) =>
        assert(gl == el)
        assert(gs.map(_._1) == es.map(_._1))
        // compare values by BITS so ±0.0 and any NaN payloads are exact
        assert(gs.map(s => java.lang.Double.doubleToRawLongBits(s._2)) ==
          es.map(s => java.lang.Double.doubleToRawLongBits(s._2)))
      }
    }
  }

  test("truncated payloads fail cleanly at the decode boundary") {
    val good = RemoteWrite.encodeProto(Seq(series("click", 1, 3, 0)))
    for (cut <- Seq(1, good.length / 2, good.length - 1)) {
      val e = intercept[IllegalArgumentException] {
        RemoteWrite.decodeProto(java.util.Arrays.copyOf(good, cut))
      }
      assert(e.getMessage.contains("truncated") || e.getMessage.contains("varint"))
    }
  }

  test("fuzz: random and mutated payloads never hang and fail with the typed decode error") {
    val rnd = new scala.util.Random(42)
    def check(b: Array[Byte]): Unit =
      try { RemoteWrite.decodeProto(b); () } catch {
        case _: IllegalArgumentException => () // the typed decode error
        case e: Throwable =>
          fail(s"unexpected ${e.getClass.getName}: ${e.getMessage} on ${b.take(20).mkString(",")}")
      }
    // raw random buffers (hostile front-door traffic)
    for (_ <- 0 until 500) {
      val b = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(b)
      check(b)
    }
    // single-byte mutations of a VALID payload — length prefixes, wire
    // types, and varint continuation bits all get corrupted somewhere
    val good = RemoteWrite.encodeProto(Seq(series("click", 1, 50, 0)))
    for (_ <- 0 until 500) {
      val b = good.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      check(b)
    }
    // same for the read-request decoder
    for (_ <- 0 until 300) {
      val b = new Array[Byte](rnd.nextInt(120))
      rnd.nextBytes(b)
      try { RemoteRead.decodeRequestProto(b); () } catch {
        case _: IllegalArgumentException => ()
        case e: Throwable => fail(s"unexpected ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // and through the snappy layer: corrupt framing must rethrow as
    // the typed decode error, never IOException or a giant allocation
    for (_ <- 0 until 300) {
      val b = new Array[Byte](rnd.nextInt(120))
      rnd.nextBytes(b)
      try { RemoteWrite.decode(b); () } catch {
        case _: IllegalArgumentException => ()
        case e: Throwable => fail(s"snappy path: unexpected ${e.getClass.getName}")
      }
    }
    // a 4-byte header claiming ~2 GB uncompressed: refused by the cap
    // before any allocation (0xFF,0xFF,0xFF,0x07 varint = 2^31-1)
    val huge = Array[Byte](-1, -1, -1, 7, 0, 0)
    val e = intercept[IllegalArgumentException](RemoteWrite.decode(huge))
    assert(e.getMessage.contains("cap") || e.getMessage.contains("corrupt"))
  }

  test("remote-read request codec roundtrip (matcher types + range)") {
    val qs: Seq[RemoteRead.Query] = Seq(
      (t0, t0 + 3600000L, Seq(MatchEq("event_type", "click"), MatchRe("user_id", "^[12]$"))))
    assert(RemoteRead.decodeRequest(RemoteRead.encodeRequest(qs)) == qs)
  }

  test("remote write -> chunk store -> remote read answers the wire query") {
    val storeDir = Files.createTempDirectory("graft_rr_store").toString
    val store = new ChunkStore(spark, storeDir)
    val in = Seq(series("click", 1, 5, 0), series("view", 2, 3, 30000),
      series("click", 3, 2, 60000))
    store.append(RemoteWrite.toEventSamples(
      Seq(RemoteWrite.encode(in)).toDF("payload")))
    // close the first hour so the read federates live ∪ gorilla-closed
    store.closeChunksBelow(t0 * 1000 + 3600L * 1000000)

    val req = RemoteRead.encodeRequest(Seq(
      (t0 - 1000, t0 + 3600000L, Seq(MatchEq("event_type", "click")))))
    val resp = RemoteRead.decodeResponse(RemoteRead.serve(store, req))
    assert(resp.size == 1)
    val byUser = resp.head.map { case (labels, pts) => labels("user_id") -> pts }.toMap
    assert(resp.head.forall(_._1("event_type") == "click"))
    assert(byUser.keySet == Set("1", "3"))
    assert(byUser("1").size == 5 && byUser("3").size == 2)
    // sample values + ms timestamps round-tripped; time-ascending
    assert(byUser("1") == (0 until 5).map(i => (t0 + i * 60000L, i * 1.5 + 1)))
  }
}
