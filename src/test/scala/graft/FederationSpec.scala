package graft

import org.apache.spark.sql.functions._

import graft.sources.{Federation, HttpEndpoint}
import graft.tsdb.{ChunkStore, MatchEq, Series, TsOps}

/** Remote-read federation: a second engine (or Prometheus) becomes a
  * DataFrame source. Loopback drill: store → HTTP endpoint → the
  * distributed slice-fetch client → sample-model frame that joins
  * local surfaces bit-identically. */
class FederationSpec extends SparkSpec {
  import spark.implicits._

  private val h = 3600000000000L // ns per hour (ms-aligned — the wire is ms)
  // 2024 epoch: the store's ingest guard rejects ts_us <= 0 (the
  // null-coercion trap), so federation data starts at a real instant
  private val t0 = 1704067200000000L // us
  private val t0n = t0 * 1000L       // ns
  private def ev = Seq(
    (1L, t0n + 0L * h, 1L, "click", 10.0),
    (2L, t0n + 1L * h, 1L, "click", 20.0),
    (3L, t0n + 2L * h, 1L, "click", 40.0),
    (4L, t0n + 0L * h, 2L, "click", 5.0),
    (5L, t0n + 2L * h, 2L, "click", 7.0),
    (6L, t0n + 1L * h, 1L, "purchase", 100.0),
    (7L, t0n + 2L * h, 11L, "view", 1.0),
    // a SUB-MILLISECOND tail (ts = …+90m+500us): the ms-grain wire
    // truncates it, and slice boundaries must not lose it (the range
    // covers whole milliseconds server-side)
    (8L, t0n + 90L * 60000000000L + 500000L, 1L, "view", 3.0))
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("federated read equals the local samples; slices neither lose nor duplicate; matchers push remotely") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fed").toString
    val store = new ChunkStore(spark, dir, chunkMs = 86400000L)
    store.append(Series.samples(ev))
    val endpoint = new HttpEndpoint(spark, store)
    val port = endpoint.start()
    val url = s"http://127.0.0.1:$port/api/v1/read"
    try {
      val local = Series.samples(ev)
        .select(col("series_id"), col("event_type"),
          col("user_id").cast("string").as("user_id"),
          expr("(ts_us div 1000) * 1000").as("ts_us"), col("value"))
      def fetched(ms: Seq[graft.tsdb.Matcher], slices: Int) =
        Federation.readSamples(spark, url, ms, t0, t0 + 3L * 3600000000L, slices)
          .select("series_id", "event_type", "user_id", "ts_us", "value")
      // all series, one slice: bit-identical rows (incl. the md5
      // series ids — the canonicalization matches Series.seriesId)
      val one = fetched(Nil, 1).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val want = local.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      assert(one == want && one.size == 8)
      // 3 slices: same rows — non-overlapping inclusive slices neither
      // drop nor duplicate boundary samples
      val three = fetched(Nil, 3).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      assert(three == want)
      // matcher pushdown happens on the REMOTE side
      val clicks = fetched(Seq(MatchEq("event_type", "click")), 2)
      assert(clicks.select("event_type").distinct().collect().map(_.getString(0)).toSeq == Seq("click"))
      assert(clicks.count() == 5)
      // federated samples drive local operators identically
      val rFed = TsOps.rate(fetched(Seq(MatchEq("event_type", "click")), 2)
          .withColumn("event_id", lit(0L)))
        .select("series_id", "rate_per_sec").as[(String, Double)].collect().toMap
      val rLoc = TsOps.rate(Series.samples(ev).filter(col("event_type") === "click"))
        .select("series_id", "rate_per_sec").as[(String, Double)].collect().toMap
      assert(rFed == rLoc)
      // federated PromQL == store-served PromQL (matchers push to the
      // remote side; the function layer runs locally)
      val q = """sum by (event_type) (sum_over_time({event_type=~"click|purchase"}[2h]))"""
      val at = t0 + 2L * 3600000000L
      val viaFed = graft.promql.PromQL.evalFederated(spark, url, q, at, timeSlices = 2)
        .select("event_type", "value").as[(String, Double)].collect().toMap
      val viaStore = graft.promql.PromQL.evalStore(store, q, at)
        .select("event_type", "value").as[(String, Double)].collect().toMap
      assert(viaFed == viaStore && viaFed.nonEmpty)
    } finally endpoint.stop()
    // a dead remote fails loudly, not silently partial
    val dead = Federation.readSamples(spark, url, Nil, t0, t0 + 3L * 3600000000L, 2)
    intercept[org.apache.spark.SparkException](dead.collect())
  }

  test("exposition parser: labels, escapes, special values, default timestamp, loud malformed") {
    val page =
      "# HELP x whatever\n" +
        "# TYPE x counter\n" +
        "click{user_id=\"1\"} 20.0 1704070800000\n" +
        "weird{a=\"q\\\"uote\",b=\"back\\\\slash\",c=\"new\\nline\"} +Inf\n" +
        "bare_no_labels 3.5 1704070800001\n" +
        "nan_metric{} NaN 1704070800002\n"
    val out = Federation.parseExposition(page, 42000000L).toSeq
    assert(out.length == 4)
    assert(out(0) == Federation.FedSample(
      Map("event_type" -> "click", "user_id" -> "1"), 1704070800000000L, 20.0))
    assert(out(1).labels == Map("event_type" -> "weird",
      "a" -> "q\"uote", "b" -> "back\\slash", "c" -> "new\nline"))
    assert(out(1).value.isPosInfinity && out(1).ts_us == 42000000L) // no ts → default
    assert(out(2) == Federation.FedSample(Map("event_type" -> "bare_no_labels"),
      1704070800001000L, 3.5))
    assert(out(3).value.isNaN)
    intercept[java.io.IOException](
      Federation.parseExposition("not a metric line at all {", 0L).toSeq)
    // review fix: a HALF-parsing label section (unquoted value) must
    // fail the scrape, not silently drop the label and file the
    // sample under the wrong series id
    intercept[java.io.IOException](
      Federation.parseExposition("m{user_id=1} 5", 0L).toSeq)
    intercept[java.io.IOException](
      Federation.parseExposition("m{user_id=\"1\", junk} 5", 0L).toSeq)
  }

  test("relay: executor-side remote-write POSTs land losslessly at ms grain; non-2xx fails loudly") {
    import spark.implicits._
    val dirB = java.nio.file.Files.createTempDirectory("graft_relay_b").toString
    val b = new ChunkStore(spark, dirB, chunkMs = 86400000L)
    val ep = new HttpEndpoint(spark, b)
    val port = ep.start()
    try {
      val src = Series.samples(ev)
      val sent = Federation.relay(src.repartition(3),
        s"http://127.0.0.1:$port/api/v1/write", maxSamplesPerRequest = 2)
      assert(sent == src.count())
      ep.drain.processAllAvailable()
      val got = b.live().select("series_id", "ts_us", "value")
        .as[(String, Long, Double)].collect().toSet
      val expect = src
        .select(col("series_id"), (expr("ts_us div 1000") * 1000).as("ts_us"), col("value"))
        .as[(String, Long, Double)].collect().toSet
      assert(got == expect && got.nonEmpty)
      // a non-2xx endpoint fails the relay loudly, not silently
      val e = intercept[org.apache.spark.SparkException](
        Federation.relay(src, s"http://127.0.0.1:$port/nope"))
      assert(e.getMessage.contains("relay") || Option(e.getCause).exists(
        _.getMessage.contains("relay")), e.getMessage.take(200))
    } finally ep.stop()
  }

  test("review fix: a dead scrape target is a down target for one tick, not a dead sink") {
    val dirB = java.nio.file.Files.createTempDirectory("graft_scrape_dead").toString
    val b = new ChunkStore(spark, dirB, chunkMs = 86400000L)
    val ck = java.nio.file.Files.createTempDirectory("graft_scrape_dead_ck").toString
    // port 1 answers nothing: every scrape fails
    val q = graft.streaming.StreamIngest.startStoreSink(
      spark.readStream.format("rate-micro-batch").option("rowsPerBatch", 1).load(), b, ck,
      graft.streaming.StreamIngest.scrapeSamples("http://127.0.0.1:1/federate"),
      intervalMs = 200L)
    try {
      val deadline = System.currentTimeMillis() + 20000
      // wait until at least three batches have RUN (each scrape failed)
      while (System.currentTimeMillis() < deadline && q.recentProgress.length < 3)
        Thread.sleep(100)
      assert(q.recentProgress.length >= 3, "the pull loop stopped ticking")
      assert(q.isActive, "a transient scrape failure must not kill the pull loop")
      assert(q.exception.isEmpty, q.exception.toString)
    } finally q.stop()
  }

  test("a store fault in the scrape loop fails the query; only the scrape itself is a down target") {
    val page = "click{user_id=\"1\"} 5 1704067200000\n".getBytes("UTF-8")
    val target = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    target.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, page.length)
      ex.getResponseBody.write(page)
      ex.close()
    })
    target.start()
    val dirB = java.nio.file.Files.createTempDirectory("graft_scrape_fault").toString
    val b = new ChunkStore(spark, dirB, chunkMs = 86400000L)
    // a regular file where the live tier's directory belongs: the
    // scrape succeeds and every append fails
    java.nio.file.Files.write(java.nio.file.Paths.get(dirB, "live"), Array[Byte](1))
    val ck = java.nio.file.Files.createTempDirectory("graft_scrape_fault_ck").toString
    val q = graft.streaming.StreamIngest.startStoreSink(
      spark.readStream.format("rate-micro-batch").option("rowsPerBatch", 1).load(), b, ck,
      graft.streaming.StreamIngest.scrapeSamples(
        s"http://127.0.0.1:${target.getAddress.getPort}/metrics"),
      intervalMs = 200L)
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination(30000L))
      assert(!q.isActive)
      val causes = Iterator.iterate[Throwable](q.exception.get)(_.getCause)
        .takeWhile(_ != null)
      assert(causes.exists(c => String.valueOf(c.getMessage).contains(s"$dirB/live")),
        q.exception.get)
    } finally { q.stop(); target.stop(0) }
  }

  test("scrape loop: /federate → scrape client → second store; series ids round-trip bit-identically") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_scrapeA").toString
    val a = new ChunkStore(spark, dirA, chunkMs = 86400000L)
    a.append(Series.samples(ev))
    val endpoint = new HttpEndpoint(spark, a)
    val port = endpoint.start()
    try {
      val at = t0 + 2L * 3600000000L
      val url = s"http://127.0.0.1:$port/federate?match%5B%5D=%7B%7D&time=${at / 1000000}"
      // one-shot scrape: latest sample per series, ids == local catalog
      val scraped = Federation.scrapeSamples(spark, url, at)
      val got = scraped.select("series_id", "event_type", "user_id", "ts_us", "value")
        .as[(String, String, String, Long, Double)].collect().sortBy(r => (r._2, r._3)).toSeq
      val localIds = a.catalog().select("series_id").as[String].collect().toSet
      assert(got.map(_._1).toSet.subsetOf(localIds),
        "scraped series ids must equal the local store's (canonical md5)")
      // lookback 5m at t0+2h: the 2h-instant samples win
      assert(got.map(r => (r._2, r._3, r._5)).toSet ==
        Set(("click", "1", 40.0), ("click", "2", 7.0), ("view", "11", 1.0)))
      // the streaming pull loop: tick → scrape → batch-scoped append
      val dirB = java.nio.file.Files.createTempDirectory("graft_scrapeB").toString
      val b = new ChunkStore(spark, dirB, chunkMs = 86400000L)
      val ck = java.nio.file.Files.createTempDirectory("graft_scrape_ck").toString
      val q = graft.streaming.StreamIngest.startStoreSink(
        spark.readStream.format("rate-micro-batch").option("rowsPerBatch", 1).load(), b, ck,
        graft.streaming.StreamIngest.scrapeSamples(url), intervalMs = 300L)
      try {
        val deadline = System.currentTimeMillis() + 30000
        while (System.currentTimeMillis() < deadline &&
          (b.dataHorizonUs.isEmpty || b.query(Nil, t0, at).count() < 3)) Thread.sleep(200)
      } finally q.stop()
      val viaB = b.query(Nil, t0, at)
        .select("event_type", "user_id", "value")
        .as[(String, String, Double)].collect().toSet
      assert(viaB == Set(("click", "1", 40.0), ("click", "2", 7.0), ("view", "11", 1.0)), viaB)
    } finally endpoint.stop()
  }
}
