package graft

import java.net.{HttpURLConnection, URI}
import java.nio.file.Files

import graft.sources.{HttpEndpoint, RemoteRead, RemoteWrite}
import graft.tsdb.{ChunkStore, MatchEq}

/** End-to-end HTTP drill against a LIVE port: remote-write a payload
  * through the listener, let the endpoint's drain append it to the
  * ChunkStore, then remote-read it back over the same socket and
  * compare decoded samples — the reference's serve() loop
  * (src/server.rs:47-131) behavior, including the path-triage 404 and
  * the malformed-payload rejection. */
class HttpEndpointSpec extends SparkSpec {

  private val t0 = 1704067200000L // 2024-01-01 00:00 UTC, ms

  private def post(port: Int, path: String, body: Array[Byte]): (Int, Array[Byte]) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(body)
    conn.getOutputStream.close()
    val code = conn.getResponseCode
    val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
    val bytes =
      if (stream == null) Array.empty[Byte]
      else try stream.readAllBytes() finally stream.close()
    conn.disconnect()
    (code, bytes)
  }

  test("HTTP write → store → HTTP read roundtrip on a live port") {
    val storeDir = Files.createTempDirectory("graft_http_store").toString
    val store = new ChunkStore(spark, storeDir)
    val endpoint = new HttpEndpoint(spark, store)
    val port = endpoint.start()
    try {
      val in: Seq[RemoteWrite.Series] = Seq(
        (Map("event_type" -> "click", "user_id" -> "1"),
          (0 until 10).map(i => (t0 + i * 60000L, i * 1.5 + 1))),
        (Map("event_type" -> "purchase", "user_id" -> "2"),
          (0 until 4).map(i => (t0 + 30000L + i * 60000L, i * 2.0))))
      val (wCode, _) = post(port, "/api/v1/write", RemoteWrite.encode(in))
      assert(wCode == 200)
      // accepted = durable in the spool; readable once the drain appends it
      endpoint.drain.processAllAvailable()

      // the write really landed in the store's distributed layout
      val us0 = t0 * 1000
      assert(store.queryAll(Seq(MatchEq("event_type", "click")),
        us0, us0 + 3600L * 1000000).count() == 10)

      // read back over the wire: one query, EQ matcher, full range
      val req = RemoteRead.encodeRequest(Seq(
        (t0, t0 + 3600000L, Seq(MatchEq("event_type", "click")))))
      val (rCode, respBytes) = post(port, "/api/v1/read", req)
      assert(rCode == 200)
      val results = RemoteRead.decodeResponse(respBytes)
      assert(results.size == 1)
      val clickSeries = results.head
      assert(clickSeries.size == 1)
      val (labels, samples) = clickSeries.head
      assert(labels("event_type") == "click" && labels("user_id") == "1")
      assert(samples == in.head._2) // time-ascending, values intact
    } finally endpoint.stop()
  }

  test("PromQL query API: write over the wire, then GET /api/v1/query serves the text query") {
    val storeDir = Files.createTempDirectory("graft_http_promql").toString
    val store = new ChunkStore(spark, storeDir)
    val endpoint = new HttpEndpoint(spark, store)
    val port = endpoint.start()
    try {
      val in: Seq[RemoteWrite.Series] = Seq(
        (Map("event_type" -> "click", "user_id" -> "1"),
          Seq((t0, 10.0), (t0 + 60000L, 20.0))),
        (Map("event_type" -> "click", "user_id" -> "2"),
          Seq((t0 + 60000L, 5.0))),
        (Map("event_type" -> "purchase", "user_id" -> "1"),
          Seq((t0 + 60000L, 100.0))))
      assert(post(port, "/api/v1/write", RemoteWrite.encode(in))._1 == 200)
      endpoint.drain.processAllAvailable()

      def get(path: String): (Int, String) = {
        val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        val code = conn.getResponseCode
        val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
        val body = if (stream == null) "" else
          try new String(stream.readAllBytes(), "UTF-8") finally stream.close()
        conn.disconnect()
        (code, body)
      }
      val atS = (t0 + 120000L) / 1000.0
      val q = java.net.URLEncoder.encode(
        """sum by (event_type) (sum_over_time({event_type=~"click|purchase"}[1h]))""", "UTF-8")
      val (code, body) = get(s"/api/v1/query?query=$q&time=$atS")
      assert(code == 200, body)
      assert(body.startsWith("""{"status":"success","data":{"resultType":"vector""""), body)
      assert(body.contains(""""metric":{"event_type":"click"}"""), body)
      assert(body.contains(""""35.0""""), body)  // 10+20+5
      assert(body.contains(""""100.0""""), body) // purchase
      // POST form-encoded body (the spelling Grafana/promtool send):
      // same answer as the GET
      val formConn = URI.create(s"http://127.0.0.1:$port/api/v1/query").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      formConn.setRequestMethod("POST")
      formConn.setDoOutput(true)
      formConn.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
      formConn.getOutputStream.write(s"query=$q&time=$atS".getBytes("UTF-8"))
      formConn.getOutputStream.close()
      assert(formConn.getResponseCode == 200)
      val formBody = new String(formConn.getInputStream.readAllBytes(), "UTF-8")
      formConn.disconnect()
      assert(formBody == body, "POST form answer must equal the GET answer")
      // malformed PromQL → 400 with the error envelope, server stays up
      val (badCode, badBody) = get(s"/api/v1/query?query=${java.net.URLEncoder.encode("nope(", "UTF-8")}&time=$atS")
      assert(badCode == 400 && badBody.contains("\"status\":\"error\""), badBody)
      assert(get(s"/api/v1/query?query=$q&time=$atS")._1 == 200)

      // ── /api/v1/query_range: the Grafana panel call ──
      // 3-point grid over the same data; the matrix groups values per
      // label set, time-ascending
      val rq = java.net.URLEncoder.encode(
        """sum by (event_type) (count_over_time({event_type="click"}[1m]))""", "UTF-8")
      val startS = t0 / 1000.0
      val endS = (t0 + 120000L) / 1000.0
      val (rc, rbody) = get(s"/api/v1/query_range?query=$rq&start=$startS&end=$endS&step=60")
      assert(rc == 200, rbody)
      assert(rbody.startsWith("""{"status":"success","data":{"resultType":"matrix""""), rbody)
      // inclusive [t-1m, t] windows: t0 holds 1 click; t0+60s holds the
      // t0 sample plus both 60s samples = 3; t0+120s holds the two 60s
      // samples = 2
      assert(rbody.contains(""""metric":{"event_type":"click"}"""), rbody)
      val values = """\[([0-9.E]+),"([0-9.]+)"\]""".r
        .findAllMatchIn(rbody).map(m => m.group(2).toDouble).toSeq
      assert(values == Seq(1.0, 3.0, 2.0), rbody)
      // parameter validation → 400 envelopes, server stays up
      assert(get(s"/api/v1/query_range?query=$rq&start=$endS&end=$startS&step=60")._1 == 400)
      assert(get(s"/api/v1/query_range?query=$rq&start=$startS&end=$endS&step=0")._1 == 400)
      assert(get(s"/api/v1/query_range?query=$rq&start=$startS&end=$endS")._1 == 400)
      // an 86400-point grid at step 1s over a day → refused (11k guard)
      assert(get(s"/api/v1/query_range?query=$rq&start=$startS&end=${startS + 86400}&step=1")._1 == 400)
      assert(get(s"/api/v1/query_range?query=$rq&start=$startS&end=$endS&step=1m")._1 == 200)
      // unknown tier → 400 envelope (this store has no rollups; the
      // rollup tier itself is specced in PromqlSpec)
      assert(get(s"/api/v1/query_range?query=$rq&start=$startS&end=$endS&step=60&tier=nope")._1 == 400)

      // ── metadata API (Grafana autocomplete): labels / values / series ──
      val (lc, lbody) = get("/api/v1/labels")
      assert(lc == 200 && lbody == """{"status":"success","data":["event_type","user_id"]}""", lbody)
      val (vc, vbody) = get("/api/v1/label/event_type/values")
      assert(vc == 200 && vbody == """{"status":"success","data":["click","purchase"]}""", vbody)
      // match[] narrows (a PromQL selector, bare-name sugar included)
      val (vc2, vbody2) = get(
        s"/api/v1/label/user_id/values?match[]=${java.net.URLEncoder.encode("click", "UTF-8")}")
      assert(vc2 == 200 && vbody2 == """{"status":"success","data":["1","2"]}""", vbody2)
      // unknown label → empty list, not an error (Prometheus behavior)
      assert(get("/api/v1/label/nope/values")._2.contains(""""data":[]"""))
      val (sc, sbody) = get(
        s"/api/v1/series?match[]=${java.net.URLEncoder.encode("""{user_id="1"}""", "UTF-8")}")
      assert(sc == 200 && sbody ==
        """{"status":"success","data":[{"event_type":"click","user_id":"1"},{"event_type":"purchase","user_id":"1"}]}""",
        sbody)
      // time bounds restrict to overlapping chunks: a window starting
      // after all data → no series
      val farS = (t0 + 90L * 86400000L) / 1000.0
      assert(get(s"/api/v1/series?start=$farS&end=${farS + 3600}")._2.contains(""""data":[]"""))
      // each bound applies INDEPENDENTLY (r9 review fix): start-only
      // after all data → empty; end-only before all data → empty;
      // start-only before all data → everything
      assert(get(s"/api/v1/series?start=$farS")._2.contains(""""data":[]"""))
      assert(get(s"/api/v1/series?end=${(t0 - 90L * 86400000L) / 1000.0}")._2
        .contains(""""data":[]"""))
      assert(get(s"/api/v1/series?start=${(t0 - 90L * 86400000L) / 1000.0}")._2
        .contains(""""event_type":"click""""))
      // repeated match[] UNION (Prometheus semantics) and the
      // percent-encoded key spelling clients actually send
      val (mc, mbody) = get("/api/v1/series?match%5B%5D=click&match%5B%5D=purchase")
      assert(mc == 200 && mbody.contains(""""event_type":"click"""") &&
        mbody.contains(""""event_type":"purchase""""), mbody)
      // malformed match[] → 400 envelope
      assert(get(s"/api/v1/series?match[]=${java.net.URLEncoder.encode("sum(", "UTF-8")}")._1 == 400)

      // ── status API: the Grafana handshake + cardinality dashboard ──
      val (bic, bibody) = get("/api/v1/status/buildinfo")
      assert(bic == 200 && bibody.contains("\"version\":\"2.50.0\""), bibody)
      val (tc, tbody) = get("/api/v1/status/tsdb")
      assert(tc == 200, tbody)
      // 3 series (click/u1, click/u2, purchase/u1), labels 2 types + 2 uids
      assert(tbody.contains("\"numSeries\":3"), tbody)
      assert(tbody.contains("""{"name":"click","value":2}"""), tbody)
      assert(tbody.contains("""{"name":"event_type","value":2}"""), tbody)
      assert(tbody.contains("""{"name":"user_id","value":2}"""), tbody)
      assert(tbody.contains(s""""minTime":$t0"""), tbody)

      // ── /federate: text exposition of the current samples, so a
      // downstream Prometheus can scrape this engine as a target ──
      val (fc, fbody) = get(s"/federate?match[]=click&match[]=purchase&time=$atS")
      assert(fc == 200, fbody)
      assert(fbody ==
        s"""# TYPE click untyped
           |click{user_id="1"} 20.0 ${t0 + 60000L}
           |click{user_id="2"} 5.0 ${t0 + 60000L}
           |# TYPE purchase untyped
           |purchase{user_id="1"} 100.0 ${t0 + 60000L}
           |""".stripMargin, fbody)
      // no match[] → 400; non-selector match[] → 400
      assert(get(s"/federate?time=$atS")._1 == 400)
      assert(get(s"/federate?match[]=${java.net.URLEncoder.encode("sum(click)", "UTF-8")}&time=$atS")._1 == 400)
    } finally endpoint.stop()
  }

  test("federate: default instant is the newest SAMPLE, not the chunk ceiling; series cap answers 422") {
    val storeDir = Files.createTempDirectory("graft_http_fedcap").toString
    // DAILY chunks: the newest sample sits 23h below the chunk's
    // exclusive ceiling, so the old dataHorizonUs default + 5m
    // lookback federated an empty page unless callers passed
    // ?time=/?lookback= (the r9 fed_scrape workaround)
    val store = new ChunkStore(spark, storeDir, chunkMs = 86400000L)
    val endpoint = new HttpEndpoint(spark, store, federateSeriesCap = 2)
    val port = endpoint.start()
    try {
      val in: Seq[RemoteWrite.Series] = Seq(
        (Map("event_type" -> "click", "user_id" -> "1"),
          Seq((t0, 1.0), (t0 + 3600000L, 2.0))),
        (Map("event_type" -> "click", "user_id" -> "2"),
          Seq((t0 + 3600000L, 3.0))),
        (Map("event_type" -> "purchase", "user_id" -> "1"),
          Seq((t0 + 3500000L, 4.0))))
      assert(post(port, "/api/v1/write", RemoteWrite.encode(in))._1 == 200)
      endpoint.drain.processAllAvailable()
      def get(path: String): (Int, String) = {
        val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        val code = conn.getResponseCode
        val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
        val body = if (stream == null) "" else
          try new String(stream.readAllBytes(), "UTF-8") finally stream.close()
        conn.disconnect()
        (code, body)
      }
      // NO ?time=, NO ?lookback=: the instant defaults to the newest
      // sample (t0+1h), so the default 5m lookback still sees both
      // click series (at t0+1h) and the purchase 100s earlier
      val (code, body) = get("/federate?match[]=click")
      assert(code == 200, body)
      assert(body.contains(s"""click{user_id="1"} 2.0 ${t0 + 3600000L}"""), body)
      assert(body.contains(s"""click{user_id="2"} 3.0 ${t0 + 3600000L}"""), body)
      // cap: the match-everything selector selects 3 series > cap 2 →
      // typed 422, bounded driver materialization
      val (cc, cbody) = get(s"/federate?match[]=${java.net.URLEncoder.encode("{}", "UTF-8")}")
      assert(cc == 422 && cbody.contains("too_many_series"), s"$cc $cbody")
      // under the cap the same store still serves
      assert(get("/federate?match[]=click")._1 == 200)
    } finally endpoint.stop()
  }

  test("serving caps: /api/v1/read, /query and /query_range answer a typed 422 over cap and keep serving under it") {
    val storeDir = Files.createTempDirectory("graft_http_servecap").toString
    val store = new ChunkStore(spark, storeDir)
    // caps of 2 against a 3-series store: every capped path must
    // refuse the match-everything request LOUDLY (422 + envelope)
    // while the narrower request still serves on the same endpoint
    val endpoint = new HttpEndpoint(spark, store,
      remoteReadSeriesCap = 2, queryResultCap = 2)
    val port = endpoint.start()
    try {
      val in: Seq[RemoteWrite.Series] = Seq(
        (Map("event_type" -> "click", "user_id" -> "1"),
          Seq((t0, 1.0), (t0 + 60000L, 2.0))),
        (Map("event_type" -> "click", "user_id" -> "2"),
          Seq((t0 + 60000L, 3.0))),
        (Map("event_type" -> "purchase", "user_id" -> "1"),
          Seq((t0 + 60000L, 4.0))))
      assert(post(port, "/api/v1/write", RemoteWrite.encode(in))._1 == 200)
      endpoint.drain.processAllAvailable()
      def get(path: String): (Int, String) = {
        val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        val code = conn.getResponseCode
        val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
        val body = if (stream == null) "" else
          try new String(stream.readAllBytes(), "UTF-8") finally stream.close()
        conn.disconnect()
        (code, body)
      }
      // remote read: the match-everything regex selects 3 series > 2
      val readAll = graft.sources.RemoteRead.encodeRequest(Seq(
        (t0, t0 + 3600000L, Seq(graft.tsdb.MatchRe("event_type", ".+")))))
      val (rAllCode, rAllBody) = post(port, "/api/v1/read", readAll)
      assert(rAllCode == 422 &&
        new String(rAllBody, "UTF-8").contains("too_many_series"),
        s"$rAllCode ${new String(rAllBody, "UTF-8")}")
      // a 2-series EQ matcher on the same socket still serves
      val readOk = graft.sources.RemoteRead.encodeRequest(Seq(
        (t0, t0 + 3600000L, Seq(MatchEq("event_type", "click")))))
      val (rOkCode, rOkBody) = post(port, "/api/v1/read", readOk)
      assert(rOkCode == 200)
      assert(graft.sources.RemoteRead.decodeResponse(rOkBody).head.size == 2)

      val atS = (t0 + 120000L) / 1000.0
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      // instant query: 3 result series > cap 2 → 422
      val (qc, qb) = get(s"/api/v1/query?query=${enc("{event_type=~\".+\"}")}&time=$atS")
      assert(qc == 422 && qb.contains("too_many_series"), s"$qc $qb")
      // 2 series → serves
      assert(get(s"/api/v1/query?query=${enc("{event_type=\"click\"}")}&time=$atS")._1 == 200)

      // range query: 3 series × 3 grid points = 9 rows > cap 2 → 422
      val startS = t0 / 1000.0
      val rq = enc("sum by (event_type, user_id) (count_over_time({event_type=~\".+\"}[1m]))")
      val (rc, rb) = get(s"/api/v1/query_range?query=$rq&start=$startS&end=$atS&step=60")
      assert(rc == 422 && rb.contains("too_many_series"), s"$rc $rb")
      // 1 series × 2 points fits the row cap → serves
      val rq2 = enc("sum by (event_type) (count_over_time({event_type=\"purchase\"}[1m]))")
      val (rc2, rb2) = get(s"/api/v1/query_range?query=$rq2&start=$startS&end=${startS + 60}&step=60")
      assert(rc2 == 200, s"$rc2 $rb2")
    } finally endpoint.stop()
  }

  test("rules/alerts API: registered rule evaluates against the store; firing alert surfaces in Prometheus shape") {
    val storeDir = Files.createTempDirectory("graft_http_rules").toString
    val store = new ChunkStore(spark, storeDir)
    val endpoint = new HttpEndpoint(spark, store)
    val port = endpoint.start()
    try {
      def get(path: String): (Int, String) = {
        val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        val code = conn.getResponseCode
        val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
        val body = if (stream == null) "" else
          try new String(stream.readAllBytes(), "UTF-8") finally stream.close()
        conn.disconnect()
        (code, body)
      }
      // two clicks in every 30m bucket over [t0, t0+160m] — the rule
      // (>1 per 30m window, FOR 1h) is active at every instant of the
      // evaluation grid, so the run is old enough to FIRE
      val samples = (0 to 5).flatMap(k => Seq(
        (t0 + k * 1800000L, 1.0), (t0 + k * 1800000L + 600000L, 1.0)))
      val in: Seq[RemoteWrite.Series] = Seq(
        (Map("event_type" -> "click", "user_id" -> "1"), samples))
      assert(post(port, "/api/v1/write", RemoteWrite.encode(in))._1 == 200)
      endpoint.drain.processAllAvailable()
      // empty registry answers the valid empty envelope
      assert(get("/api/v1/alerts")._2 ==
        """{"status":"success","data":{"alerts":[]}}""")
      // a rule that can't parse refuses AT REGISTRATION, never 500s a scrape
      intercept[IllegalArgumentException](
        endpoint.registerRule("bad", "nope(", 0L, 1800000000L))
      intercept[IllegalArgumentException](
        endpoint.registerRule("bad", "click", 0L, 0L))
      endpoint.registerRule("clickstorm",
        """sum by (event_type) (count_over_time(click[30m])) > 1""",
        3600000000L, 1800000000L)
      val teS = (t0 + 9000000L) / 1000.0 // t0 + 150m, step-aligned
      val (rc, rbody) = get(s"/api/v1/rules?time=$teS")
      assert(rc == 200, rbody)
      assert(rbody.startsWith("""{"status":"success","data":{"groups":["""), rbody)
      assert(rbody.contains(""""name":"clickstorm""""), rbody)
      assert(rbody.contains(""""state":"firing""""), rbody)
      assert(rbody.contains(""""duration":3600.0"""), rbody)
      assert(rbody.contains(""""type":"alerting""""), rbody)
      val (ac, abody) = get(s"/api/v1/alerts?time=$teS")
      assert(ac == 200, abody)
      assert(abody.contains(""""alertname":"clickstorm"""") &&
        abody.contains(""""event_type":"click"""") &&
        abody.contains(""""state":"firing""""), abody)
      // the run entered the grid at t0+60m (grid start + FOR reach)
      assert(abody.contains(""""activeAt":"2024-01-01T01:00:00Z""""), abody)
      // no ?time= → the DATA horizon (newest chunk bound), never wall
      // clock: still a valid success envelope on this historical store
      assert(get("/api/v1/rules")._2.startsWith("""{"status":"success""""))
      endpoint.unregisterRule("clickstorm")
      assert(get(s"/api/v1/alerts?time=$teS")._2 ==
        """{"status":"success","data":{"alerts":[]}}""")
    } finally endpoint.stop()
  }

  test("admin delete_series over HTTP: 204 + post-delete reads reflect it; live range answers 400") {
    val storeDir = Files.createTempDirectory("graft_http_del").toString
    val store = new ChunkStore(spark, storeDir, chunkMs = 3600000L)
    val endpoint = new HttpEndpoint(spark, store)
    val port = endpoint.start()
    try {
      val in: Seq[RemoteWrite.Series] = Seq(
        (Map("event_type" -> "click", "user_id" -> "1"),
          Seq((t0, 10.0), (t0 + 3600000L, 20.0))),
        (Map("event_type" -> "purchase", "user_id" -> "1"),
          Seq((t0, 100.0))))
      assert(post(port, "/api/v1/write", RemoteWrite.encode(in))._1 == 200)
      endpoint.drain.processAllAvailable()
      def postForm(path: String, form: String): Int = {
        val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
        conn.getOutputStream.write(form.getBytes("UTF-8"))
        conn.getOutputStream.close()
        val c = conn.getResponseCode
        conn.disconnect()
        c
      }
      // live chunks → 400 with the close-first direction
      assert(postForm("/api/v1/admin/tsdb/delete_series",
        s"match%5B%5D=click&start=${t0 / 1000.0}&end=${(t0 + 7200000L) / 1000.0}") == 400)
      store.closeChunksBelow((t0 + 7200000L) * 1000L)
      // GET is not a deletion verb
      val getConn = URI.create(
        s"http://127.0.0.1:$port/api/v1/admin/tsdb/delete_series?match%5B%5D=click").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(getConn.getResponseCode == 405); getConn.disconnect()
      // snapshot BEFORE deleting (the backup half of the admin family):
      // GET is 405; POST answers the Prometheus success shape
      val snapGet = URI.create(s"http://127.0.0.1:$port/api/v1/admin/tsdb/snapshot").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(snapGet.getResponseCode == 405); snapGet.disconnect()
      val snapConn = URI.create(
        s"http://127.0.0.1:$port/api/v1/admin/tsdb/snapshot?name=before-del").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      snapConn.setRequestMethod("POST")
      snapConn.setDoOutput(true)
      snapConn.getOutputStream.close()
      assert(snapConn.getResponseCode == 200)
      val snapBody = new String(snapConn.getInputStream.readAllBytes(), "UTF-8")
      snapConn.disconnect()
      assert(snapBody == """{"status":"success","data":{"name":"before-del"}}""", snapBody)
      // the real deletion: clicks in the first hour only
      assert(postForm("/api/v1/admin/tsdb/delete_series",
        s"match%5B%5D=click&start=${t0 / 1000.0}&end=${(t0 + 3599999L) / 1000.0}") == 204)
      val left = store.queryAll(Nil, t0 * 1000L, (t0 + 7200000L) * 1000L)
        .select("value").collect().map(_.getDouble(0)).toSet
      assert(left == Set(20.0, 100.0), left)
      // the snapshot restores the deleted click
      store.restoreSnapshot("before-del")
      assert(store.queryAll(Nil, t0 * 1000L, (t0 + 7200000L) * 1000L).count() == 3)
    } finally endpoint.stop()
  }

  test("spooled write path: enqueue-only handler, one append job per micro-batch") {
    val storeDir = Files.createTempDirectory("graft_http_spstore").toString
    val store = new ChunkStore(spark, storeDir)
    val endpoint = new HttpEndpoint(spark, store, workerNum = 8)
    val port = endpoint.start()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def fire(p: Int, users: Range): List[Int] =
      Await.result(Future.sequence(users.toList.map { u =>
        Future(post(p, "/api/v1/write", RemoteWrite.encode(Seq(
          (Map("event_type" -> "click", "user_id" -> u.toString),
            (0 until 5).map(i => (t0 + i * 60000L, i * 1.0 + u))))))._1)
      }), 120.seconds)
    def spooled() = new java.io.File(endpoint.spoolDir).listFiles().count(_.getName.endsWith(".bin"))
    try {
      // 24 concurrent small writes with no consumer running: each
      // request can only be an enqueue (validate + atomic spool
      // rename) — a handler that did Spark work would show up as rows
      // in the store below
      endpoint.drain.stop()
      val results = fire(port, 1 to 24)
      assert(results.forall(_ == 200), results.toString)
      // durable (spooled) but not yet appended
      assert(spooled() == 24)
      assert(!new java.io.File(s"$storeDir/live").exists())
      // malformed payloads are still rejected at the boundary, never spooled
      assert(post(port, "/api/v1/write", Array[Byte](9, 9, 9))._1 == 400)
      assert(spooled() == 24)
    } finally endpoint.stop()
    // stop() leaves no query or worker thread behind (the drain's
    // query lives in a session of its own, not in spark.streams)
    assert(!endpoint.drain.isActive)
    assert(endpoint.drain.sparkSession.streams.active.isEmpty)
    assert(endpoint.workersTerminated)

    val resumed = new HttpEndpoint(spark, store, workerNum = 8)
    val port2 = resumed.start()
    try {
      resumed.drain.processAllAvailable()
      val us0 = t0 * 1000
      def clicks() = store.queryAll(Seq(MatchEq("event_type", "click")),
        us0, us0 + 3600L * 1000000).count()
      assert(clicks() == 120)
      // THE scale claim: 24 requests drained as a bounded number of
      // micro-batches (all spooled files were present at start → one
      // or two), each one appendBatch job — visible as batch-scoped
      // live dirs, NOT 24 of them
      def batchDirs() = new java.io.File(s"$storeDir/live").list().filter(_.startsWith("batch="))
      assert(batchDirs().length <= 2, batchDirs().mkString(","))

      // late traffic while the drain runs: lands too, still batched
      assert(fire(port2, 25 to 32).forall(_ == 200))
      resumed.drain.processAllAvailable()
      assert(clicks() == 160)
      assert(batchDirs().length <= 10) // 32 requests, ≤10 append jobs
      // cleanSource=delete keeps the spool bounded: committed files go
      // away (deletion rides batch commit, so allow the tail to lag)
      val deadline = System.currentTimeMillis() + 30000
      while (spooled() > 8 && System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(spooled() <= 8, s"spool not draining: ${spooled()} files left")
    } finally resumed.stop()
  }

  test("sustained-rate drill: 300 concurrent writes, jobs scale with batches not requests, mid-drill restart loses nothing") {
    val storeDir = Files.createTempDirectory("graft_http_drill_store").toString
    val store = new ChunkStore(spark, storeDir)
    var endpoint = new HttpEndpoint(spark, store, workerNum = 8)
    var port = endpoint.start()
    val nReq = 300
    val samplesPerReq = 3
    // every Spark job started while the drain runs — the scale claim
    // is that this number tracks MICRO-BATCHES, not the request count
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      def fire(ids: Range): Future[List[Int]] = Future.sequence(ids.toList.map { u =>
        Future(post(port, "/api/v1/write", RemoteWrite.encode(Seq(
          (Map("event_type" -> "drill", "user_id" -> u.toString),
            (0 until samplesPerReq).map(i => (t0 + i * 60000L, i * 1.0 + u))))))._1)
      })

      // phase 1: drain running while the first half of the load arrives
      spark.sparkContext.addSparkListener(listener)
      val half1 = Await.result(fire(0 until nReq / 2), 120.seconds)
      assert(half1.forall(_ == 200))
      endpoint.drain.processAllAvailable()
      val batchesLife1 = endpoint.drain.recentProgress.count(_.numInputRows > 0)

      // mid-drill restart: a new endpoint on the SAME store resumes the
      // drain from its checkpoint (a fresh one would restart batch ids
      // at 0 and overwrite the first half's batch directories)
      endpoint.stop()
      endpoint = new HttpEndpoint(spark, store, workerNum = 8)
      port = endpoint.start()
      val half2 = Await.result(fire(nReq / 2 until nReq), 120.seconds)
      assert(half2.forall(_ == 200))
      endpoint.drain.processAllAvailable()

      Thread.sleep(1500) // listener events are delivered async
      spark.sparkContext.removeSparkListener(listener)
      val totalJobs = jobs.get()
      val drainedBatches =
        endpoint.drain.recentProgress.count(_.numInputRows > 0) + batchesLife1
      // zero loss, exactly once: every (user, ts) sample of all 300
      // requests present exactly one time
      val rows = store.live()
        .select("user_id", "ts_us").distinct().count()
      assert(rows == nReq.toLong * samplesPerReq,
        s"expected ${nReq * samplesPerReq} distinct samples, got $rows")
      assert(store.live().count() == nReq.toLong * samplesPerReq) // no dupes either
      // job count tracks micro-batches: a batch is one appendBatch
      // write with no shuffle, so one job even with adaptive execution
      // on inside foreachBatch. No listing or emptiness job; 300
      // request-sized append jobs would dwarf this
      assert(totalJobs <= drainedBatches && totalJobs < nReq,
        s"$totalJobs jobs for $drainedBatches drained micro-batches ($nReq requests)")
      // spool backlog bounded: the file-source cleaner removes a
      // batch's files when a LATER batch fetches, so nudge one more
      // micro-batch through and then require the backlog collapsed to
      // at most that nudge (+ cleaner lag)
      val nudge = Await.result(fire(nReq until nReq + 4), 120.seconds)
      assert(nudge.forall(_ == 200))
      endpoint.drain.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      def spooled() = new java.io.File(endpoint.spoolDir).listFiles().count(_.getName.endsWith(".bin"))
      while (spooled() > 8 && System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(spooled() <= 8, s"spool not draining: ${spooled()} files left")
      assert(store.live().count() == (nReq + 4).toLong * samplesPerReq)
    } finally endpoint.stop()
  }

  test("a trigger over more than 32 spooled files lists them without a Spark job") {
    val storeDir = Files.createTempDirectory("graft_http_listing").toString
    val store = new ChunkStore(spark, storeDir)
    val nReq = 40 // above the default parallel-listing threshold of 32
    val first = new HttpEndpoint(spark, store)
    val port = first.start()
    try {
      first.drain.stop()
      for (u <- 0 until nReq)
        assert(post(port, "/api/v1/write", RemoteWrite.encode(Seq(
          (Map("event_type" -> "spooled", "user_id" -> u.toString), Seq((t0, u * 1.0))))))._1 == 200)
    } finally first.stop()
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    val resumed = new HttpEndpoint(spark, store)
    resumed.start()
    try {
      resumed.drain.processAllAvailable()
      // the listener bus delivers in order: once a marker job submitted
      // after the drain shows, every drain job has shown
      val marker = s"graft-marker-${java.util.UUID.randomUUID()}"
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!descriptions.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(descriptions.contains(marker), "the marker job never reached the listener")
      val listings = descriptions.toArray.map(_.toString)
        .filter(_.startsWith("Listing leaf files and directories"))
      assert(listings.isEmpty, listings.mkString("; "))
      assert(store.queryAll(Seq(MatchEq("event_type", "spooled")), t0 * 1000L,
        (t0 + 60000L) * 1000L).count() == nReq)
    } finally {
      sc.removeSparkListener(listener)
      resumed.stop()
    }
  }

  test("a spool that cannot take a write answers 500 and logs it, so the client retries; garbage still answers 400") {
    val storeDir = Files.createTempDirectory("graft_http_spoolfault").toString
    val endpoint = new HttpEndpoint(spark, new ChunkStore(spark, storeDir))
    val port = endpoint.start()
    try {
      // the spool path turns into a regular file: creating the spooled
      // payload fails with an IOException — a server fault, not bad input
      endpoint.drain.stop()
      val spoolPath = new java.io.File(endpoint.spoolDir)
      spoolPath.listFiles().foreach(_.delete())
      assert(spoolPath.delete())
      Files.write(spoolPath.toPath, Array[Byte](0))
      val valid = RemoteWrite.encode(Seq(
        (Map("event_type" -> "click", "user_id" -> "1"), Seq((t0, 1.0)))))
      val err = new java.io.ByteArrayOutputStream()
      val stderr = System.err
      System.setErr(new java.io.PrintStream(err, true))
      val code = try post(port, "/api/v1/write", valid)._1 finally System.setErr(stderr)
      assert(code == 500, code)
      assert(err.toString.contains("POST /api/v1/write"), err.toString)
      assert(post(port, "/api/v1/write", Array[Byte](1, 2, 3))._1 == 400)
    } finally endpoint.stop()
  }

  test("a spooled write is one file holding the request body; a store off the local filesystem is refused") {
    val storeDir = Files.createTempDirectory("graft_http_onefile").toString
    val endpoint = new HttpEndpoint(spark, new ChunkStore(spark, storeDir))
    val port = endpoint.start()
    try {
      endpoint.drain.stop()
      val spool = new java.io.File(endpoint.spoolDir)
      val before = spool.list().toSet
      val body = RemoteWrite.encode(Seq(
        (Map("event_type" -> "click", "user_id" -> "1"), Seq((t0, 1.0), (t0 + 60000L, 2.0)))))
      assert(post(port, "/api/v1/write", body)._1 == 200)
      val added = spool.listFiles().filterNot(f => before(f.getName))
      assert(added.length == 1 && added.head.getName.endsWith(".bin"), added.mkString(","))
      assert(java.util.Arrays.equals(Files.readAllBytes(added.head.toPath), body))
      assert(!spool.list().exists(n => n.endsWith(".crc") || n.endsWith(".tmp")), spool.list().mkString(","))
    } finally endpoint.stop()

    // refused at construction, before the listener binds its port
    val free = new java.net.ServerSocket(0)
    val port2 = try free.getLocalPort finally free.close()
    val remote = "hdfs://nowhere/graft_store"
    val e = intercept[IllegalArgumentException](
      new HttpEndpoint(spark, new ChunkStore(spark, remote), port = port2))
    assert(e.getMessage.contains(remote), e.getMessage)
    val rebind = new java.net.ServerSocket(port2, 0, java.net.InetAddress.getByName("127.0.0.1"))
    rebind.close()
  }

  test("start() sweeps the temp files a crash left in the spool; writes still drain and read back") {
    val storeDir = Files.createTempDirectory("graft_http_sweep").toString
    val spool = new java.io.File(storeDir, "_spool")
    assert(spool.mkdirs())
    // a kill between the temp write and its rename, under this version
    // and under an earlier one whose Hadoop write left a .crc beside it
    val leftovers = Seq(".w-0000000000001-000001-deadbeef.tmp", "..w-0000000000001-000001-deadbeef.tmp.crc")
      .map(new java.io.File(spool, _))
    leftovers.foreach(f => Files.write(f.toPath, Array[Byte](1, 2, 3)))
    val store = new ChunkStore(spark, storeDir)
    val endpoint = new HttpEndpoint(spark, store)
    val port = endpoint.start()
    try {
      assert(leftovers.forall(!_.exists()), spool.list().mkString(","))
      for (u <- 0 until 3)
        assert(post(port, "/api/v1/write", RemoteWrite.encode(Seq(
          (Map("event_type" -> "swept", "user_id" -> u.toString), Seq((t0, u * 1.0))))))._1 == 200)
      endpoint.drain.processAllAvailable()
      assert(store.queryAll(Seq(MatchEq("event_type", "swept")), t0 * 1000L,
        (t0 + 60000L) * 1000L).count() == 3)
    } finally endpoint.stop()
  }

  test("start() completes a batch compaction a crash interrupted: a remote-read answers 200 at once") {
    import spark.implicits._
    val storeDir = Files.createTempDirectory("graft_http_heal").toString
    val store = new ChunkStore(spark, storeDir, filesPerChunkPerAppend = 2)
    for (b <- 0L to 3L)
      store.appendBatch(RemoteWrite.toEventSamples(Seq(RemoteWrite.encode(Seq(
        (Map("event_type" -> "healed", "user_id" -> b.toString),
          (0 until 5).map(i => (t0 + b * 60000L + i * 1000L, i * 1.0)))))).toDF("payload")), b)
    store.compactBatches(3L) // batch=-3 holds batches 0-2, batch=3 stays
    // a kill inside the next compaction's commit: its staged copy holds
    // batch=-3's rows, the plan is marked, and the source is gone (as
    // StreamCompactionSpec plants it)
    val swap = new StagedSwap(spark.sparkContext.hadoopConfiguration, storeDir, "batch_compact")
    new java.io.File(swap.begin()).mkdirs()
    assert(new java.io.File(s"$storeDir/live/batch=-3")
      .renameTo(new java.io.File(s"${swap.staging}/batch=-4")))
    swap.mark(Seq(StagedSwap.Remove("live/batch=-3"), StagedSwap.Swap("batch=-4", "live/batch=-4")))
    assert(swap.pending)
    val endpoint = new HttpEndpoint(spark, store)
    val port = endpoint.start()
    try {
      assert(!swap.pending)
      // a pending swap would hold the read for ChunkStore's 5 s settle,
      // then answer 400
      val started = System.currentTimeMillis()
      val (code, body) = post(port, "/api/v1/read", RemoteRead.encodeRequest(Seq(
        (t0, t0 + 3600000L, Seq(MatchEq("event_type", "healed"))))))
      assert(code == 200, new String(body, "UTF-8"))
      assert(System.currentTimeMillis() - started < 5000)
      val series = RemoteRead.decodeResponse(body).head
      assert(series.map(_._1("user_id")).toSet == (0 to 3).map(_.toString).toSet)
      assert(series.map(_._2.size).sum == 20)
    } finally endpoint.stop()
  }

  test("format_query pretty-prints; status flags/runtimeinfo answer the handshake shapes") {
    val storeDir = Files.createTempDirectory("graft_http_fmt").toString
    val store = new ChunkStore(spark, storeDir, chunkMs = 86400000L)
    val endpoint = new HttpEndpoint(spark, store)
    val port = endpoint.start()
    try {
      def get(path: String): (Int, String) = {
        val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        val code = conn.getResponseCode
        val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
        val body = if (stream == null) "" else
          try new String(stream.readAllBytes(), "UTF-8") finally stream.close()
        conn.disconnect()
        (code, body)
      }
      val q = java.net.URLEncoder.encode("""sum by(event_type)(rate(click[ 5m ]))""", "UTF-8")
      val (code, body) = get(s"/api/v1/format_query?query=$q")
      assert(code == 200, body)
      assert(body ==
        """{"status":"success","data":"sum by (event_type) (rate({event_type=\"click\"}[5m]))"}""",
        body)
      // malformed query → the 400 bad_data envelope, not a 500
      val (badCode, badBody) = get(s"/api/v1/format_query?query=${java.net.URLEncoder.encode("sum(((", "UTF-8")}")
      assert(badCode == 400 && badBody.contains(""""status":"error""""), badBody)
      assert(get("/api/v1/format_query")._1 == 400)

      val (fc, flags) = get("/api/v1/status/flags")
      assert(fc == 200 && flags.contains(""""storage.tsdb.chunk-duration":"1d""""), flags)
      val (rc, rt) = get("/api/v1/status/runtimeinfo")
      assert(rc == 200 && rt.contains(""""reloadConfigSuccess":true""") &&
        rt.contains(""""startTime":"""), rt)
    } finally endpoint.stop()
  }

  test("path triage 404s unknown paths; malformed payloads answer 400") {
    val storeDir = Files.createTempDirectory("graft_http_404").toString
    val endpoint = new HttpEndpoint(spark, new ChunkStore(spark, storeDir))
    val port = endpoint.start()
    try {
      assert(post(port, "/nope", Array[Byte](1, 2, 3))._1 == 404)
      // not snappy: the decode boundary rejects before any Spark job
      assert(post(port, "/api/v1/write", Array[Byte](1, 2, 3))._1 == 400)
      assert(post(port, "/api/v1/read", Array[Byte](1, 2, 3))._1 == 400)
      // snappy-valid but empty WriteRequest: reference logs "Empty
      // request" and errors; here it is the same 400 class
      val empty = org.xerial.snappy.Snappy.compress(Array.empty[Byte])
      assert(post(port, "/api/v1/write", empty)._1 == 400)
    } finally endpoint.stop()
  }

  test("streamed remote read: accepted_response_types negotiates chunked Gorilla frames past the series cap") {
    val storeDir = Files.createTempDirectory("graft_http_streamed").toString
    val store = new ChunkStore(spark, storeDir) // 1h chunks
    val endpoint = new HttpEndpoint(spark, store, remoteReadSeriesCap = 2)
    val port = endpoint.start()
    try {
      // 3 series across two chunks; chunk 0 closes so the stream mixes
      // at-rest Gorilla payloads with live-packed ones
      val in: Seq[RemoteWrite.Series] = Seq(
        (Map("event_type" -> "click", "user_id" -> "1"),
          (0 until 10).map(i => (t0 + i * 60000L, i * 1.5 + 1))),
        (Map("event_type" -> "click", "user_id" -> "2"),
          Seq((t0 + 3660000L, 7.0), (t0 + 3720000L, 8.0))),
        (Map("event_type" -> "purchase", "user_id" -> "3"),
          Seq((t0 + 30000L, 2.5))))
      assert(post(port, "/api/v1/write", RemoteWrite.encode(in))._1 == 200)
      endpoint.drain.processAllAvailable()
      store.closeChunksBelow((t0 + 3600000L) * 1000)

      val queries: Seq[RemoteRead.Query] = Seq(
        (t0, t0 + 7200000L, Seq(graft.tsdb.MatchRe("event_type", ".+"))))
      // the sampled envelope refuses: 3 series > cap 2 (unchanged)
      assert(post(port, "/api/v1/read", RemoteRead.encodeRequest(queries))._1 == 422)

      // the SAME selector streams when the request negotiates it —
      // this is the whole point: unbounded-series reads stop being a
      // 422 and become a bounded-memory stream
      val conn = URI.create(s"http://127.0.0.1:$port/api/v1/read").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        RemoteRead.encodeRequest(queries, acceptStreamed = true))
      conn.getOutputStream.close()
      assert(conn.getResponseCode == 200)
      assert(conn.getHeaderField("Content-Type")
        .startsWith("application/x-streamed-protobuf"),
        conn.getHeaderField("Content-Type"))
      val body = try conn.getInputStream.readAllBytes()
        finally conn.getInputStream.close()
      conn.disconnect()

      // every chunk is typed as this library's Gorilla format (never a
      // false XOR claim), one frame per series, CRCs verify on decode
      val raw = RemoteRead.decodeStreamedResponse(body)
      assert(raw.size == 3)
      assert(raw.forall(_._3.forall(_._3 == RemoteRead.GorillaChunkType)))
      // the closed series' payload shipped EXACTLY as it sits at rest
      val atRest = spark.read.parquet(s"$storeDir/closed")
        .select("payload").collect().map(_.getAs[Array[Byte]](0))
      val clickOneChunks = raw.collect {
        case (_, ls, chunks) if ls("user_id") == "1" => chunks }.head
      assert(clickOneChunks.size == 1)
      assert(atRest.exists(p => java.util.Arrays.equals(p, clickOneChunks.head._4)))

      // decoded all the way down, the stream equals the written truth
      // at FULL us resolution
      val perQuery = RemoteRead.decodeStreamedToSamples(body, queries)
      assert(perQuery.size == 1)
      val got = perQuery.head
        .map { case (ls, pts) => (ls("event_type"), ls("user_id")) -> pts }.toMap
      val want = in.map { case (ls, pts) =>
        (ls("event_type"), ls("user_id")) ->
          pts.map { case (ms, v) => (ms * 1000, v) } }.toMap
      assert(got == want, s"streamed samples diverged: $got vs $want")

      // a torn stream fails loudly: flip one payload byte → CRC error
      val torn = body.clone()
      torn(torn.length / 2) = (torn(torn.length / 2) ^ 0x40).toByte
      val tear = intercept[IllegalArgumentException] {
        RemoteRead.decodeStreamedResponse(torn) }
      assert(tear.getMessage.contains("CRC") || tear.getMessage.contains("truncated"),
        tear.getMessage)
    } finally endpoint.stop()
  }

  test("a fresh endpoint answers reads with 200 and empty results before the first write") {
    val store = new ChunkStore(spark, Files.createTempDirectory("graft_http_fresh").toString)
    val endpoint = new HttpEndpoint(spark, store)
    val port = endpoint.start()
    try {
      val queries: Seq[RemoteRead.Query] = Seq(
        (t0, t0 + 3600000L, Seq(MatchEq("event_type", "click"))))
      val (code, body) = post(port, "/api/v1/read", RemoteRead.encodeRequest(queries))
      assert(code == 200, new String(body, "UTF-8"))
      assert(RemoteRead.decodeResponse(body) == Seq(Seq.empty))
      val (sCode, sBody) = post(port, "/api/v1/read",
        RemoteRead.encodeRequest(queries, acceptStreamed = true))
      assert(sCode == 200, new String(sBody, "UTF-8"))
      assert(RemoteRead.decodeStreamedResponse(sBody).isEmpty)
      val (qCode, qBody) = post(port, s"/api/v1/query?query=click&time=${t0 / 1000}",
        Array.empty[Byte])
      val qText = new String(qBody, "UTF-8")
      assert(qCode == 200, qText)
      assert(qText == """{"status":"success","data":{"resultType":"vector","result":[]}}""", qText)
    } finally endpoint.stop()
  }
}
