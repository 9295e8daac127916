package graftbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable

import graft.sources.RemoteRead
import graft.tsdb.{MatchEq, MatchRe}

/** `ingest`: Prometheus remote-write shards against a fresh store.
  * Four closed-loop writers, each a shard of the 5,000-series space,
  * POST a fixed number of 500-sample requests and wait for each reply.
  * The run ends when a remote-read readback finds every acknowledged
  * sample. */
object Ingest {
  val Series = 5000
  val Writers = 4
  /** Requests per writer for each second of `--seconds`: on a 4-core box
    * the writers finish in about a quarter of the run and the streaming
    * drain, which is slower than the acknowledgements, in the rest. */
  val RequestsPerWriterPerSecond = 7

  def run(ctx: Ctx): Result = {
    val store = new java.io.File(ctx.work, "store")
    val probeFile = new java.io.File(ctx.work, "probe.json")
    val t0 = System.nanoTime()
    val engine = new Engine(ctx.classpath, store.getAbsolutePath, ctx.work,
      if (ctx.tracer.enabled) Some(probeFile.getAbsolutePath) else None)
    ctx.onStop(() => engine.stop())
    // the payloads are encoded while the engine boots, so the measured
    // load spends no client CPU on encoding
    val boot = java.util.concurrent.CompletableFuture.runAsync(() => engine.start())
    val perWriter = math.max(1, ctx.seconds * RequestsPerWriterPerSecond)
    val planned = (0 until Writers).map(w => java.util.concurrent.CompletableFuture.supplyAsync(() => {
      val shard = new WriteShard(ctx.seed, w, Writers, Series)
      Vector.fill(perWriter)(shard.next())
    })).map(_.join())
    boot.join()
    val client = new Client(engine.baseUrl)
    warmUp(client)
    val setupS = (System.nanoTime() - t0) / 1e9
    val tracer = ctx.tracer
    val probe0 = if (tracer.enabled) Some(ProbeSnap.read(probeFile, System.currentTimeMillis())) else None
    val loadStartMs = System.currentTimeMillis()

    val latencies = new Samples
    val acked = new AtomicReference(Tally.zero)
    val attempted = new AtomicLong
    val failed = new AtomicLong
    val bytesSent = new AtomicLong
    val lastAcked = new Array[(Map[String, String], Long)](Writers)
    val tsRange = Array(Long.MaxValue, Long.MinValue)
    val sampled = mutable.ArrayBuffer.empty[Array[Byte]]
    val firstSend = new AtomicLong(Long.MaxValue)
    val backlog = new SpoolWatch(new java.io.File(store, "_spool"), tracer.enabled)

    val threads = (0 until Writers).map { w =>
      new Thread(() => {
        var n = 0
        planned(w).foreach { req =>
          val rid = tracer.newRequest()
          val out = client.postProto("/api/v1/write", req.payload, read = false)
          tracer.record("client.write", rid, out.startNs, out.endNs)
          firstSend.accumulateAndGet(out.startNs, math.min)
          attempted.incrementAndGet()
          bytesSent.addAndGet(req.payload.length)
          if (out.ok) {
            latencies.add(out.latencyMs)
            acked.accumulateAndGet(req.tally, _ + _)
            lastAcked(w) = req.last
            tsRange.synchronized {
              tsRange(0) = math.min(tsRange(0), req.minTs); tsRange(1) = math.max(tsRange(1), req.maxTs)
            }
            if (tracer.enabled && n % 4 == 0) sampled.synchronized(sampled += req.payload)
          } else failed.incrementAndGet()
          n += 1
        }
      }, s"writer-$w")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val lastAckNs = System.nanoTime()

    // readback: poll each shard's last acknowledged sample, then verify
    // the whole acknowledged multiset by count and checksum
    val expect = acked.get
    val lastQueries = lastAcked.toSeq.filter(_ != null).map { case (labels, ts) =>
      (ts, ts, Seq(MatchEq("event_type", labels("event_type")), MatchEq("user_id", labels("user_id"))))
    }
    val pollReq = RemoteRead.encodeRequest(lastQueries)
    val fullReq = RemoteRead.encodeRequest(Seq((tsRange(0), tsRange(1), Seq(MatchRe("event_type", ".+")))))
    val readDeadline = System.nanoTime() + 90L * 1000000000L
    var visibleNs = 0L
    var got = Tally.zero
    var polls = 0L
    while (visibleNs == 0L && System.nanoTime() < readDeadline) {
      val issued = System.nanoTime()
      val p = client.postProto("/api/v1/read", pollReq, read = true)
      polls += 1
      val allSeen = p.ok && RemoteRead.decodeResponse(p.body).forall(_.nonEmpty)
      if (allSeen) {
        val full = client.postProto("/api/v1/read", fullReq, read = true)
        polls += 1
        if (full.ok) got = Tally.of(RemoteRead.decodeResponse(full.body).flatten)
        if (got == expect) visibleNs = issued
      }
      if (visibleNs == 0L) Thread.sleep(100)
    }
    val loadEndMs = System.currentTimeMillis()
    backlog.stop()
    val peakRss = engine.peakRssMb
    val storeBytes = StoreFiles.bytes(store)
    val correct = visibleNs != 0L && got == expect && failed.get == 0
    val checks = Seq(
      s"readback count ${got.count} of ${expect.count} acknowledged samples",
      s"readback checksum ${if (got.sum == expect.sum) "matches" else "differs"}")
    val spanS = (if (visibleNs != 0L) visibleNs else lastAckNs) - firstSend.get
    val samplesPerS = expect.count / (spanS / 1e9)
    val lat = latencies.values

    val sink = new LayerSink
    if (tracer.enabled) {
      val probe1 = ProbeSnap.read(probeFile, loadEndMs)
      ProbeSnap.sparkLayer(sink, probe0.get, probe1, loadStartMs, loadEndMs,
        Map("write" -> attempted.get, "read" -> polls))
      ProbeSnap.streamingLayer(sink, probe0.get, probe1, (loadEndMs - loadStartMs).toDouble)
      backlog.report(sink)
      StoreFiles.tsdbLayer(sink, store)
      engine.stop()
      val spark = Local.session(ctx.work, probes = false)
      val replay = new Replay(spark, tracer)
      val payloads = sampled.toSeq
      val decodeUs = replay.decodeUs(payloads ++ payloads).drop(payloads.size) // second pass: warm
      sink.median("sources.write_decode_us", decodeUs)
      sink.put("sources.write_bytes_per_sample", bytesSent.get.toDouble / (attempted.get * 500))
      sink.put("sources.route_ms.write", Stats.median(lat.toSeq) - Stats.median(decodeUs) / 1000.0)
      val (serveMs, respBytes) = (0 until 3).map(_ => replay.readServe(store.getAbsolutePath, pollReq)).last
      sink.put("sources.read_serve_ms", serveMs)
      sink.put("sources.read_response_bytes", respBytes.toDouble)
      replay.catalog(sink, store.getAbsolutePath)
      sink.put("tsdb.query_all_ms", replay.queryAll(store.getAbsolutePath,
        Seq(MatchEq("event_type", "click")), tsRange(0) * 1000, tsRange(1) * 1000))
      // replayed micro-batches as large as the engine's (one spool file
      // per request), as far as the sampled requests allow four of them
      val filesPerBatch = sink.get("streaming.rows_per_batch").getOrElse(1.0).toInt
      replay.writePath(sink, new java.io.File(ctx.work, "scratch"),
        payloads.grouped(math.max(1, math.min(filesPerBatch, payloads.size / 4))).take(4).toSeq)
      replay.gorilla(sink, (0 until 200).map { s =>
        val r = Gen.rng(ctx.seed, s)
        var v = 0.0
        (0 until 240).map { i => v = Gen.step(counter = s % 2 == 0, v, r); (Gen.BaseMs * 1000 + i * 15000000L + r.nextInt(1000) * 1000L, v) }
      })
    }

    Result(
      correct = correct,
      attempted = attempted.get,
      failed = failed.get,
      client = Some(client),
      e2e = Universal(setupS, samplesPerS, Seq(lat)),
      report = Seq(
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", peakRss, "MB"),
        ("ingest_samples_per_s", samplesPerS, "1/s"),
        ("drain_tail_s", if (visibleNs == 0L) Double.NaN else (visibleNs - lastAckNs) / 1e9, "s"),
        ("store_bytes_per_sample", storeBytes.toDouble / math.max(1, expect.count), "bytes")) ++
        Percentiles("write", lat),
      layers = sink,
      checks = checks)
  }

  /** Part of setup: one request per writer thread, side by side, on
    * series of their own an hour before the measured timeline, then
    * wait until they are queryable, so the measured drain starts warm. */
  private def warmUp(client: Client): Unit = {
    val labels = (0 until 500).map(u => Map("event_type" -> "warmup", "user_id" -> u.toString))
    val sent = (0 until Writers).map { i =>
      val ts = Gen.BaseMs - 3600000L + i * 15000L
      java.util.concurrent.CompletableFuture.supplyAsync(() =>
        client.postProto("/api/v1/write", graft.sources.RemoteWrite.encode(labels.map(l => (l, Seq((ts, i.toDouble))))),
          read = false).ok)
    }
    if (!sent.forall(_.join())) throw new IllegalStateException("warm-up write failed")
    val req = RemoteRead.encodeRequest(Seq((Gen.BaseMs - 3600000L, Gen.BaseMs - 1, Seq(MatchEq("event_type", "warmup")))))
    val deadline = System.nanoTime() + 60L * 1000000000L
    def visible = {
      val out = client.postProto("/api/v1/read", req, read = true)
      out.ok && RemoteRead.decodeResponse(out.body).flatten.map(_._2.size).sum == 500 * Writers
    }
    while (!visible) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("warm-up writes never became visible")
      Thread.sleep(100)
    }
  }
}

/** Samples the engine's write spool during a traced run: backlog size
  * and the age of its oldest file, every 100 ms. */
final class SpoolWatch(dir: java.io.File, enabled: Boolean) {
  @volatile private var running = enabled
  private var maxFiles = 0
  private var maxAgeMs = 0L
  private val t = new Thread(() => while (running) {
    val (n, age) = StoreFiles.spool(dir)
    maxFiles = math.max(maxFiles, n); maxAgeMs = math.max(maxAgeMs, age)
    Thread.sleep(100)
  }, "spool-watch")
  t.setDaemon(true)
  if (enabled) t.start()
  def stop(): Unit = { running = false; if (enabled) t.join() }
  def report(sink: LayerSink): Unit = {
    sink.put("streaming.spool_backlog_max", maxFiles.toDouble)
    sink.put("streaming.spool_oldest_ms", maxAgeMs.toDouble)
  }
}
