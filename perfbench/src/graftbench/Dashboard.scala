package graftbench

import java.net.URLEncoder
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, xxhash64}

import graft.sources.RemoteRead
import graft.tsdb.{ChunkStore, MatchEq, Series}

/** `dashboard`: Grafana reads over history while Prometheus keeps
  * writing. Setup builds 30 h of history for 50 series through the public ChunkStore
  * API (streaming batch layout, every chunk but the last 6 h closed to
  * Gorilla); the load is two closed-loop readers on a fixed query
  * cycle, one open-loop trickle writer (one request per second, each
  * with a canary sample) and one closed-loop canary poller. */
object Dashboard {
  val NSeries = 50
  val Hours = 30
  val LiveHours = 6
  val HourMs = 3600000L
  /** Reads per reader for each second of `--seconds` (about the pace the
    * engine sustains under this load on a 4-core box; 5 at 10 s, so the
    * two readers ask for each of the five panels twice). A fixed count
    * keeps the set of reads the same in every run. */
  val ReadsPerReaderPerSecond = 0.5
  /** The canary poller's pause between a reply and its next poll. */
  val PollPauseMs = 500L

  /** One reader request: `kind` is its route, `panel` which of the five
    * dashboard panels it is; `check` validates a 2xx body. */
  sealed trait Op { def kind: String; def panel: String }
  final case class RangeQ(panel: String, q: String, startMs: Long, endMs: Long, stepS: Long,
                          series: Int, points: Int) extends Op { def kind = "query_range" }
  final case class InstantQ(panel: String, q: String, atMs: Long, series: Int) extends Op { def kind = "query" }
  final case class Read(panel: String, payload: Array[Byte], expect: Tally, series: Int) extends Op { def kind = "read" }

  def run(ctx: Ctx): Result = {
    val tracer = ctx.tracer
    val t0 = System.nanoTime()
    val h = History(ctx.seed, NSeries, Hours)
    val store = new java.io.File(ctx.work, "store")
    val probeFile = new java.io.File(ctx.work, "probe.json")
    val engine = new Engine(ctx.classpath, store.getAbsolutePath, ctx.work,
      if (tracer.enabled) Some(probeFile.getAbsolutePath) else None)
    ctx.onStop(() => engine.stop())
    // the engine boots while the history is written: it first touches
    // the store when the first request arrives
    val boot = java.util.concurrent.CompletableFuture.runAsync(() => engine.start())
    val spark = Local.session(ctx.work, probes = false)
    val closeMs = build(spark, h, store.getAbsolutePath)
    val builtS = (System.nanoTime() - t0) / 1e9
    boot.join()
    val bootedS = (System.nanoTime() - t0) / 1e9
    val client = new Client(engine.baseUrl)
    val ops = new Ops(h)
    val trickle = new Trickle(h)
    val attempted = new AtomicLong
    val failed = new AtomicLong
    val errors = new ConcurrentHashMap[String, String]()
    def fail(what: String): Unit = { failed.incrementAndGet(); errors.putIfAbsent(what, what) }
    def read(op: Op): (Outcome, Option[String]) = {
      val rid = tracer.newRequest()
      val out = op match {
        case q: RangeQ => client.get("/api/v1/query_range?query=" + enc(q.q) +
          s"&start=${q.startMs / 1000.0}&end=${q.endMs / 1000.0}&step=${q.stepS}")
        case q: InstantQ => client.get("/api/v1/query?query=" + enc(q.q) + s"&time=${q.atMs / 1000.0}")
        case q: Read => client.postProto("/api/v1/read", q.payload, read = true)
      }
      tracer.record(s"client.${op.kind}", rid, out.startNs, out.endNs)
      attempted.incrementAndGet()
      val problem = if (!out.ok) Some(s"${op.kind} answered ${out.status}") else ops.check(op, out.body)
      problem.foreach(fail)
      (out, problem)
    }
    // warm-up, part of setup: every read kind once, side by side, and one
    // write (a lone canary sample the poller ignores) so the first
    // measured requests do not pay the engine's cold start
    val warm = (0 until Ops.Panels).map(n => new Thread(() => read(ops.pick(n, Gen.rng(ctx.seed, 1)))))
    warm.foreach(_.start())
    attempted.incrementAndGet()
    if (!client.postProto("/api/v1/write", trickle.warmup, read = false).ok) fail("warm-up write failed")
    warm.foreach(_.join())
    val setupS = (System.nanoTime() - t0) / 1e9
    val probe0 = if (tracer.enabled) Some(ProbeSnap.read(probeFile, System.currentTimeMillis())) else None

    val byKind = new ConcurrentHashMap[String, Samples]()
    val byPanel = new ConcurrentHashMap[String, Samples]()
    val allReads = new Samples
    val sampledReads = mutable.ArrayBuffer.empty[(Op, Double)]
    val writeLat = new Samples
    val acked = new ConcurrentHashMap[Long, Long]() // canary seq → due time (epoch ms)
    val lags = new Samples
    val lastReadEnd = new AtomicLong

    val loadStartMs = System.currentTimeMillis()
    val loadStartNs = System.nanoTime()
    val perReader = math.max(1, math.round(ctx.seconds * ReadsPerReaderPerSecond).toInt)
    val readersLeft = new java.util.concurrent.CountDownLatch(2)
    def reading = readersLeft.getCount > 0

    val readers = (0 until 2).map { rd =>
      new Thread(() => {
        val r = Gen.rng(ctx.seed, 90000L + rd)
        (0 until perReader).foreach { n =>
          // the readers take turns through the cycle: together they ask
          // for every panel equally often
          val i = 2 * n + rd
          val op = ops.pick(i, r)
          val (out, problem) = read(op)
          if (problem.isEmpty) {
            lastReadEnd.accumulateAndGet(System.currentTimeMillis(), math.max)
            allReads.add(out.latencyMs)
            byKind.computeIfAbsent(op.kind, _ => new Samples).add(out.latencyMs)
            byPanel.computeIfAbsent(op.panel, _ => new Samples).add(out.latencyMs)
            // the first pass through the cycle: each panel once
            if (tracer.enabled && i < Ops.Panels) sampledReads.synchronized(sampledReads += ((op, out.latencyMs)))
          }
        }
        readersLeft.countDown()
      }, s"reader-$rd")
    }
    // open loop: a write's latency runs from when it was due, so a stall
    // also counts against the writes queued behind it
    val writeLateMs = new Samples
    val writer = new Thread(() => {
      var k = 0L
      while (reading) {
        val dueNs = loadStartNs + k * 1000000000L
        val wait = (dueNs - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        val rid = tracer.newRequest()
        val out = client.postProto("/api/v1/write", trickle.request(k), read = false)
        tracer.record("client.write", rid, out.startNs, out.endNs)
        attempted.incrementAndGet()
        writeLateMs.add(math.max(0L, out.startNs - dueNs) / 1e6)
        if (out.ok) { writeLat.add((out.endNs - dueNs) / 1e6); acked.put(k, loadStartMs + k * 1000) }
        else fail(s"trickle write answered ${out.status}")
        k += 1
      }
    }, "trickle")
    val canaryReq = RemoteRead.encodeRequest(Seq((trickle.tsOf(0), trickle.tsOf(1000000),
      Seq(MatchEq("event_type", "canary")))))
    var polls = 0L
    val poller = new Thread(() => {
      var seen = -1L
      // keeps polling after the readers finish until every acknowledged
      // canary is seen (for at most 30 s)
      var giveUpMs = Long.MaxValue
      while ((reading || acked.keySet.asScala.exists(_ > seen)) && System.currentTimeMillis() < giveUpMs) {
        if (!reading && giveUpMs == Long.MaxValue) giveUpMs = System.currentTimeMillis() + 30000
        val out = client.postProto("/api/v1/read", canaryReq, read = true)
        val now = System.currentTimeMillis()
        polls += 1
        if (out.ok) {
          val max = RemoteRead.decodeResponse(out.body).flatten.flatMap(_._2).map(_._2.toLong)
            .reduceOption(_ max _).getOrElse(-1L)
          (seen + 1 to max).foreach(k => Option(acked.get(k)).foreach(due => lags.add((now - due).toDouble)))
          seen = math.max(seen, max)
        } else fail(s"canary read answered ${out.status}")
        Thread.sleep(PollPauseMs)
      }
    }, "canary")
    val threads = readers :+ writer :+ poller
    threads.foreach(_.start())
    threads.foreach(_.join())
    val loadEndMs = System.currentTimeMillis()
    val unseen = acked.size - lags.size
    if (unseen > 0) fail(s"$unseen acknowledged canaries never became visible")
    val peakRss = engine.peakRssMb
    val storeBytes = StoreFiles.bytes(store)
    val readsOk = allReads.size
    val readsPerS = readsOk / ((lastReadEnd.get - loadStartMs) / 1000.0)
    val sink = new LayerSink

    if (tracer.enabled) {
      val probe1 = ProbeSnap.read(probeFile, loadEndMs)
      def done(kind: String) = Option(byKind.get(kind)).map(_.size.toLong).getOrElse(0L)
      ProbeSnap.sparkLayer(sink, probe0.get, probe1, loadStartMs, loadEndMs, Map(
        "query_range" -> done("query_range"), "query" -> done("query"),
        "read" -> (done("read") + polls), "write" -> acked.size.toLong))
      ProbeSnap.streamingLayer(sink, probe0.get, probe1, (loadEndMs - loadStartMs).toDouble)
      engine.stop()
      StoreFiles.tsdbLayer(sink, store)
      sink.put("tsdb.close_ms", closeMs)
      val replay = new Replay(spark, tracer)
      val path = store.getAbsolutePath
      replay.catalog(sink, path)
      sink.put("tsdb.query_all_ms", replay.queryAll(path, Seq(MatchEq("event_type", "purchase")),
        (h.endMs - HourMs) * 1000, h.endMs * 1000))
      val sampled = sampledReads.toSeq
      def clientMedian(kind: String) = Stats.median(sampled.filter(_._1.kind == kind).map(_._2))
      val serves = sampled.collect { case (r: Read, _) => replay.readServe(path, r.payload) }
      sink.median("sources.read_serve_ms", serves.map(_._1))
      sink.median("sources.read_response_bytes", serves.map(_._2.toDouble))
      if (serves.nonEmpty) sink.put("sources.route_ms.read", clientMedian("read") - Stats.median(serves.map(_._1)))
      val ranges = sampled.collect { case (q: RangeQ, _) =>
        replay.promqlRange(path, q.q, q.startMs * 1000, q.endMs * 1000, q.stepS * 1000000)
      }
      sink.median("promql.parse_us", ranges.map(_._1))
      sink.median("promql.plan_ms", ranges.map(_._2))
      sink.median("promql.exec_ms", ranges.map(_._3))
      sink.median("promql.result_rows", ranges.map(_._4.toDouble))
      if (ranges.nonEmpty)
        sink.put("sources.route_ms.query_range", clientMedian("query_range") - Stats.median(ranges.map(r => r._2 + r._3)))
      val instants = sampled.collect { case (q: InstantQ, _) =>
        val t1 = System.nanoTime()
        tracer.span("replay.PromQL.evalStore", tracer.newRequest())(_ =>
          graft.promql.PromQL.evalStore(new ChunkStore(spark, path), q.q, q.atMs * 1000).collect())
        (System.nanoTime() - t1) / 1e6
      }
      if (instants.nonEmpty) sink.put("sources.route_ms.query", clientMedian("query") - Stats.median(instants))
      val wl = writeLat.values.toSeq
      val decodeUs = replay.decodeUs(Seq.fill(20)(trickle.request(0))).drop(10)
      sink.median("sources.write_decode_us", decodeUs)
      sink.put("sources.write_bytes_per_sample", trickle.request(0).length / 500.0)
      if (wl.nonEmpty) sink.put("sources.route_ms.write", Stats.median(wl) - Stats.median(decodeUs) / 1000.0)
      replay.gorilla(sink, (0 until 50).map(s => h.samples(s, h.startMs, h.startMs + 86400000L - 1)
        .map { case (t, v) => (t * 1000, v) }))
    }
    spark.stop()

    val lat = allReads.values
    val checks = errors.values.asScala.toSeq.sorted.take(10) ++ Seq(
      s"$readsOk reads checked against the generator",
      s"${lags.size} of ${acked.size} canaries seen")
    Result(
      correct = failed.get == 0 && readsOk > 0,
      attempted = attempted.get,
      failed = failed.get,
      client = Some(client),
      e2e = Universal(setupS, readsPerS, byPanel.values.asScala.toSeq.map(_.values)),
      report = Seq(
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", peakRss, "MB"),
        ("reads_per_s", readsPerS, "1/s"),
        ("history_built_s", builtS, "s"),
        ("engine_serving_s", bootedS, "s"),
        ("store_bytes_per_sample", storeBytes.toDouble / (h.points.toLong * NSeries + acked.size * 500L), "bytes")) ++
        Seq("query_range", "query", "read").flatMap { k =>
          val name = if (k == "query") "instant_query" else if (k == "read") "remote_read" else k
          Percentiles(name, Option(byKind.get(k)).map(_.values).getOrElse(Array.empty))
        } ++ Percentiles("write", writeLat.values) ++
        Seq(("write_late_max_ms", writeLateMs.values.maxOption.getOrElse(0.0), "ms")) ++
        Percentiles("visible_lag", lags.values) ++
        Percentiles("read_all", lat),
      layers = sink,
      checks = checks)
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  /** Write the history: one streaming-layout batch (a negative batch id,
    * the id space compaction uses, so the engine's own batches 0, 1, …
    * never overwrite it), then close every chunk below the live tail.
    * Returns the close time in ms. */
  def build(spark: org.apache.spark.sql.SparkSession, h: History, path: String): Double = {
    import spark.implicits._
    val rows = spark.sparkContext.parallelize(0 until h.nSeries, Jvm.cpus * 2).flatMap { s =>
      val l = Gen.seriesLabels(s)
      val vs = h.values(s)
      (0 until h.points).iterator.map(i => (l("event_type"), l("user_id").toLong, h.ts(i) * 1000L, vs(i)))
    }.toDF("event_type", "user_id", "ts_us", "value")
    val samples = rows
      .withColumn("series_id", Series.seriesId(Seq("event_type" -> col("event_type"), "user_id" -> col("user_id"))))
      .select(col("series_id"), col("event_type"), col("user_id"), col("ts_us"), col("value"),
        xxhash64(col("series_id"), col("ts_us"), col("value")).as("event_id"))
    // one file per chunk: the history is one batch, not hours of micro-batches
    val st = new ChunkStore(spark, path, filesPerChunkPerAppend = 1)
    st.appendBatch(samples, -1L)
    val t0 = System.nanoTime()
    st.closeChunksBelow((h.startMs + (h.points * h.stepMs) - LiveHours * HourMs) * 1000L)
    (System.nanoTime() - t0) / 1e6
  }

  /** The reader mix and each request's expected answer. */
  final class Ops(h: History) {
    private val mapper = new ObjectMapper()
    private val sixH = RangeQ("rate_6h", """sum by (event_type) (rate({event_type=~"click|view|purchase"}[5m]))""",
      h.endMs - 6 * HourMs, h.endMs, 60, 3, (6 * 60) + 1)
    private val wholeHistory = RangeQ("hourly_all", """avg_over_time(view[1h])""", h.startMs + HourMs, h.endMs, 3600,
      h.seriesWhere(_("event_type") == "view").size,
      ((h.endMs - h.startMs - HourMs) / HourMs + 1).toInt)
    private val topk = InstantQ("topk", """topk(5, sum by (user_id) (rate(click[5m])))""", h.endMs, 5)
    private val tail = {
      val ids = h.seriesWhere(_("event_type") == "purchase")
      val from = h.endMs - HourMs + 1
      Read("live_hour", RemoteRead.encodeRequest(Seq((from, h.endMs, Seq(MatchEq("event_type", "purchase"))))),
        Tally.of(ids.map(s => (Gen.seriesLabels(s), h.samples(s, from, h.endMs)))), ids.size)
    }
    private val days = new ConcurrentHashMap[Int, Read]()
    private def day(user: Int): Read = days.computeIfAbsent(user, u => {
      val ids = h.seriesWhere(_("user_id") == u.toString)
      val to = h.startMs + 86400000L - 1
      Read("closed_day", RemoteRead.encodeRequest(Seq((h.startMs, to, Seq(MatchEq("user_id", u.toString))))),
        Tally.of(ids.map(s => (Gen.seriesLabels(s), h.samples(s, h.startMs, to)))), ids.size)
    })

    /** The fixed read cycle, the same for every seed: the 6 h rate
      * panel, instant topk, the live-tail read, the closed-day read (the
      * seed picks the day's user) and the whole-history hourly panel. */
    def pick(n: Int, r: java.util.SplittableRandom): Op = n % Ops.Panels match {
      case 0 => sixH
      case 1 => topk
      case 2 => tail
      case 3 => day(r.nextInt(NSeries / Gen.EventTypes.length))
      case _ => wholeHistory
    }

    /** None when the answer is what the generator expects. */
    def check(op: Op, body: Array[Byte]): Option[String] = op match {
      case q: RangeQ =>
        val res = mapper.readTree(body).path("data").path("result")
        val lens = res.elements().asScala.map(_.path("values").size).toSeq
        if (lens.size != q.series) Some(s"query_range ${q.q}: ${lens.size} series, expected ${q.series}")
        else if (lens.exists(_ != q.points)) Some(s"query_range ${q.q}: grid lengths ${lens.distinct}, expected ${q.points}")
        else None
      case q: InstantQ =>
        val n = mapper.readTree(body).path("data").path("result").size
        if (n != q.series) Some(s"query ${q.q}: $n series, expected ${q.series}") else None
      case q: Read =>
        val got = RemoteRead.decodeResponse(body).flatten
        if (got.size != q.series) Some(s"remote-read: ${got.size} series, expected ${q.series}")
        else if (Tally.of(got) != q.expect) Some("remote-read samples differ from the generator's")
        else None
    }
  }
  object Ops { val Panels = 5 }
}
