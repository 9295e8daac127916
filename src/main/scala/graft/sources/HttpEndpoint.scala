package graft.sources

import java.net.InetSocketAddress
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.tsdb.ChunkStore

/** HTTP front door for the Prometheus remote read/write pair (reference
  * src/server.rs:47-131: a tiny_http server + rayon worker pool that
  * triages requests by URL path into a write branch and a read branch
  * and answers snappy-compressed protobuf), plus the Prometheus query,
  * metadata, rules and admin APIs over the same store.
  *
  * Spark-first placement: the listener is a thin wire boundary. A read
  * request runs [[RemoteRead.serve]] — matcher resolution, partition
  * pruning and Gorilla decode are the store's federated query plan;
  * only the bounded wire response materializes on the driver. No query
  * logic lives in a handler. JDK `com.sun.net.httpserver` keeps the
  * dependency budget at zero (build constraint: no new
  * libraryDependencies); like the reference, requests run on a fixed
  * worker pool.
  *
  * **Write path.** A remote-write request is decoded once at the
  * boundary (a malformed payload answers 400 before anything durable
  * happens), then its raw bytes become one file in the spool
  * `<store.path>/_spool`: a `java.nio` write to a hidden temp name,
  * then one atomic rename into place — O(payload) per request, no
  * Spark work, no lock, no child process. The store path must be on
  * the local filesystem (the constructor refuses any other): the
  * server, the spool and the drain are one process. Neither the write
  * nor the drain's appends fsync. [[start]] launches [[drain]], a
  * `binaryFile` stream over the spool into
  * [[graft.streaming.StreamIngest.startStoreSink]]
  * (checkpoint `<store.path>/_spool_checkpoint`): ONE batch-scoped chunk
  * append per micro-batch, whatever the request count. The drain runs
  * in a session of its own, which lists one trigger's spool files on
  * the driver, with no Spark job; so its query is in `drain`, not in
  * `spark.streams`. A 200 means the batch is accepted and durable in
  * the spool; it becomes visible to reads after the drain's next
  * micro-batch (a caller that needs read-after-write calls
  * `drain.processAllAvailable()`). The checkpoint plus the
  * replay-idempotent batch appends play the reference's WAL: a new
  * endpoint on the same store resumes from the checkpoint and drains
  * what an earlier one accepted exactly once.
  * One streaming checkpoint and one writer at a time per store path:
  * while an endpoint serves a store, nothing else writes it; once the
  * endpoint has stopped, the store takes direct [[ChunkStore.append]]
  * and [[ChunkStore.backfill]] calls.
  *
  * Status mapping, in one place ([[route]]): 200 read hit / write
  * accepted (204 for delete_series), 400 `bad_data` for bad client
  * input (IllegalArgumentException or IllegalStateException: malformed
  * payload, PromQL or parameter, or a verb the store's state refuses),
  * 404 unknown path, 405 non-POST admin verb, 422 `too_many_series`
  * when a read crosses its cap, and 500 for anything else — a server
  * fault, logged to stderr with the method, path and cause, which a
  * remote-write client retries instead of dropping the batch.
  */
final class HttpEndpoint(
    spark: SparkSession,
    store: ChunkStore,
    port: Int = 0, // 0 = ephemeral (spec-friendly); fixed in production
    workerNum: Int = 4,
    // /federate materializes every matched series' current sample on
    // the driver to serialize the text page (the wire boundary, same
    // semantics as Prometheus federation) — this cap makes a match[]
    // that matches EVERYTHING at 100× cardinality degrade loudly
    // (422) instead of collecting an unbounded vector
    federateSeriesCap: Int = 100000,
    // same class of guard on the remote-read SERVER verb: each
    // ReadRequest query collects at most this many series (cap+1
    // limit runs distributed) before protobuf encoding
    remoteReadSeriesCap: Int = 100000,
    // and on /api/v1/query + /query_range: the cap is on driver-
    // materialized RESULT ROWS (= series for an instant vector,
    // series × grid points for a range matrix — rows are what OOM the
    // driver), enforced as a distributed limit(cap+1)
    queryResultCap: Int = 1000000) {

  /** Where accepted writes wait for [[drain]]: under the store path, so
    * the whole durable state moves as one directory. */
  val spoolDir: String = s"${store.path}/_spool"
  // the handler writes the spool through java.nio, not Hadoop's local
  // create, which without the native library forks `chmod` for the file
  // and again for its .crc sidecar on every request; a schemeless path
  // is on the default filesystem. Checked before the server binds.
  private val spool: java.nio.file.Path = {
    val uri = new Path(spoolDir).toUri
    val scheme = Option(uri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
    require(scheme == "file",
      s"HttpEndpoint serves a store on the local filesystem only, not ${store.path}")
    java.nio.file.Paths.get(uri.getPath)
  }
  private val spoolSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Spool one validated payload: write to a dot-prefixed temp name
    * (hidden from Spark's file listing) then atomically rename into
    * place — the file source must never observe a half-written file.
    * Names are unique (time + sequence + random) and lexically
    * time-ordered for human debugging; the source tracks files by
    * path, so uniqueness is what prevents replay confusion. A failed
    * write or move is an IOException: a 500 the client retries. */
  private def spoolWrite(body: Array[Byte]): Unit = {
    val name = f"w-${System.currentTimeMillis()}%013d-${spoolSeq.incrementAndGet()}%06d-" +
      java.util.UUID.randomUUID().toString.take(8)
    val tmp = spool.resolve(s".$name.tmp")
    Files.write(tmp, body)
    Files.move(tmp, spool.resolve(s"$name.bin"), StandardCopyOption.ATOMIC_MOVE)
  }
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val workers = Executors.newFixedThreadPool(workerNum)
  server.setExecutor(workers)
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try route(ex)
      finally ex.close()
  })

  @volatile private var drainQuery: StreamingQuery = _

  /** The streaming query that appends spooled writes to the store
    * (running from [[start]] until [[stop]]). */
  def drain: StreamingQuery = drainQuery

  /** Start the drain, then bind and serve; returns the bound port
    * (resolves port=0). */
  def start(): Int = {
    // the source lists the directory immediately; make it exist before
    // the first request ever spools a file
    Files.createDirectories(spool)
    // a crash between a write and its rename leaves a hidden temp file
    // that the drain never reads (and, from an earlier version's Hadoop
    // write, its .crc); one endpoint per store path, so none is in flight
    val leftovers = Files.newDirectoryStream(spool, ".*.{tmp,tmp.crc}")
    try leftovers.forEach(f => Files.delete(f)) finally leftovers.close()
    // a crash inside a drain compaction's commit would leave live reads
    // refusing until the drain's next compaction; finish it now
    store.healBatchCompaction()
    // Exactly-once: the file source records processed files in the
    // checkpoint and the batch append is replay-idempotent. `cleanSource
    // = delete` removes committed spool files, so the directory stays
    // bounded by (in-flight batches × request rate), not uptime; the
    // per-trigger file cap keeps one catch-up batch after downtime from
    // monopolizing the cluster; as the drain session's parallel-listing
    // threshold it keeps the source's re-listing of a batch's files on
    // the driver, not in a Spark job with a task per file
    val drainSession = spark.newSession()
    drainSession.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
      HttpEndpoint.MaxFilesPerTrigger.toLong)
    val spooled = drainSession.readStream
      .format("binaryFile")
      // the streaming source demands an explicit schema; binaryFile's
      // is fixed by the format — restate it verbatim
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("maxFilesPerTrigger", HttpEndpoint.MaxFilesPerTrigger)
      .option("cleanSource", "delete")
      .option("pathGlobFilter", "*.bin") // never a half-renamed temp
      .load(spoolDir)
    drainQuery = graft.streaming.StreamIngest.startStoreSink(
      spooled, store, s"${store.path}/_spool_checkpoint",
      RemoteWrite.toEventSamples(_, "content"), compactEveryBatches = 64)
    server.start()
    boundPort
  }

  /** The bound port (resolves an ephemeral port=0 request). */
  def boundPort: Int = server.getAddress.getPort

  /** Stop serving, then stop the drain — writes it has not appended
    * yet stay in the spool for the next endpoint on this store. */
  def stop(): Unit = {
    server.stop(0)
    Option(drainQuery).foreach(_.stop())
    // HttpServer.stop does NOT shut down a user-provided executor; the
    // non-daemon workers would keep the JVM alive after main returns
    // (found the hard way: a probe main hung on exit with the pool's
    // threads parked)
    workers.shutdown()
    workers.awaitTermination(10, TimeUnit.SECONDS)
  }

  /** Whether [[stop]] has let every worker thread exit. */
  private[graft] def workersTerminated: Boolean = workers.isTerminated

  private def route(ex: HttpExchange): Unit = {
    val body =
      try ex.getRequestBody.readAllBytes()
      catch { case _: Exception => ex.sendResponseHeaders(400, -1); return }
    val path = ex.getRequestURI.getPath
    try path match {
      case "/api/v1/write" => handleWrite(ex, body)
      case "/api/v1/read" => handleRead(ex, body)
      case "/api/v1/query" => handleQuery(ex, body)
      case "/api/v1/query_range" => handleQueryRange(ex, body)
      case "/api/v1/labels" => handleLabels(ex)
      case "/api/v1/series" => handleSeries(ex)
      case "/api/v1/rules" => handleRules(ex)
      case "/api/v1/alerts" => handleAlerts(ex)
      case "/federate" => handleFederate(ex)
      case "/api/v1/admin/tsdb/delete_series" => handleDeleteSeries(ex, body)
      case "/api/v1/admin/tsdb/snapshot" => handleSnapshot(ex, body)
      case "/api/v1/status/buildinfo" => handleBuildInfo(ex)
      case "/api/v1/status/tsdb" => handleStatusTsdb(ex)
      case "/api/v1/status/flags" => handleStatusFlags(ex)
      case "/api/v1/status/runtimeinfo" => handleRuntimeInfo(ex)
      case "/api/v1/format_query" => handleFormatQuery(ex, body)
      case p if p.startsWith("/api/v1/label/") && p.endsWith("/values") =>
        handleLabelValues(ex,
          p.stripPrefix("/api/v1/label/").stripSuffix("/values"))
      case _ => ex.sendResponseHeaders(404, -1)
    } catch {
      case e: Exception =>
        // the status mapping of the class doc (TooManySeriesException
        // subclasses IllegalArgumentException, so it matches first)
        val (code, errorType) = e match {
          case _: RemoteRead.TooManySeriesException => (422, "too_many_series")
          case _: IllegalArgumentException | _: IllegalStateException => (400, "bad_data")
          case _ =>
            System.err.println(s"graft http: ${ex.getRequestMethod} $path -> 500: $e")
            (500, "internal")
        }
        // a streamed read that already sent its headers can only be
        // torn: closing the exchange (the handler's finally) is its
        // whole answer
        if (ex.getResponseCode == -1)
          sendJson(ex, code, s"""{"status":"error","errorType":"$errorType","error":""" +
            jstr(Option(e.getMessage).getOrElse("")) + "}")
    }
  }

  /** Prometheus HTTP query API (`GET /api/v1/query?query=…&time=…`,
    * unix-seconds `time`): the PromQL text front door served straight
    * off the store — parse, bound the store read to the expression's
    * widest window, evaluate as one distributed plan
    * ([[graft.promql.PromQL.evalStore]]), answer the standard
    * `{"status":"success","data":{"resultType":"vector",…}}` JSON.
    * Like the remote-read branch, only the bounded instant vector
    * (per-series or per-group cardinality) materializes on the
    * driver. Malformed PromQL answers 400 with `"status":"error"` —
    * the evaluator's typed parse errors surface as bad_data. */
  /** All query parameters in order — keys URL-decoded too (clients
    * send match%5B%5D=), repeats preserved (Prometheus's match[]
    * unions). */
  private def queryParamsMulti(ex: HttpExchange): Seq[(String, String)] =
    parseForm(Option(ex.getRequestURI.getRawQuery).getOrElse(""))

  private def parseForm(s: String): Seq[(String, String)] =
    s.split("&").filter(_.nonEmpty).toSeq.map { kv =>
      val i = kv.indexOf('=')
      val k = java.net.URLDecoder.decode(if (i < 0) kv else kv.substring(0, i), "UTF-8")
      val v = if (i < 0) "" else java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
      k -> v
    }

  /** URI params, plus — for a form-encoded POST — the body's (the
    * spelling Grafana and promtool actually send to the query APIs;
    * body params win on collision, as in Prometheus's Go server). */
  private def paramsWithBody(ex: HttpExchange, body: Array[Byte]): Seq[(String, String)] = {
    val uriParams = queryParamsMulti(ex)
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    if ("POST".equalsIgnoreCase(ex.getRequestMethod) && body.nonEmpty &&
        ct.takeWhile(_ != ';').trim == "application/x-www-form-urlencoded")
      uriParams ++ parseForm(new String(body, "UTF-8"))
    else uriParams
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    queryParamsMulti(ex).toMap

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A result row's label set as the JSON `metric` object (series_id
    * is the engine's synthetic identity, not a Prometheus label). */
  private def metricJson(labelCols: Array[String], r: org.apache.spark.sql.Row): String =
    labelCols.map(c =>
      s"${jstr(c)}:${jstr(Option(r.getAs[Any](c)).map(_.toString).getOrElse(""))}")
      .mkString("{", ",", "}")

  /** A sample value in Prometheus JSON spelling: "+Inf"/"-Inf"/"NaN"
    * (Double.toString says "Infinity"); defensive on null. */
  private def promVal(a: Any): String = a match {
    case null => "NaN"
    case d: java.lang.Double =>
      if (d.isInfinite) { if (d > 0) "+Inf" else "-Inf" } else d.toString
    case other => other.toString
  }

  private def sendJson(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  /** `tier=raw` (default) serves per-sample data; `tier=rollup`
    * serves from the at-rest hourly rollups (decode-free,
    * bucket-quantized windows — see PromQL.evalStoreRollup). */
  private def tierOf(params: Map[String, String]): String =
    params.getOrElse("tier", "raw") match {
      case t @ ("raw" | "rollup") => t
      case other => throw new IllegalArgumentException(s"unknown tier '$other'")
    }

  /** `step`/duration parameters accept Prometheus spellings: a float
    * second count ("15", "0.5") or a duration literal ("15s",
    * "1h30m", "500ms" — the shared PromQL duration grammar). */
  private def durationUs(s: String): Long =
    try graft.promql.PromQL.parseDuration(s)
    catch { case _: IllegalArgumentException => (s.toDouble * 1e6).toLong }

  private def handleQuery(ex: HttpExchange, body: Array[Byte]): Unit = {
    val params = paramsWithBody(ex, body).toMap
    val q = params.getOrElse("query",
      throw new IllegalArgumentException("missing query parameter"))
    val atUs = params.get("time")
      .map(t => (t.toDouble * 1e6).toLong)
      .getOrElse(System.currentTimeMillis() * 1000L)
    val df = tierOf(params) match {
      case "rollup" => graft.promql.PromQL.evalStoreRollup(store, q, atUs)
      case _ => graft.promql.PromQL.evalStore(store, q, atUs)
    }
    val labelCols = df.columns.filterNot(c => c == "value" || c == "series_id")
    // cap+1 bounds the driver materialization even when the check
    // fails (the /federate pattern): an instant vector is one row
    // per series, so the row cap IS a series cap here
    val capped = df.limit(queryResultCap + 1).collect()
    if (capped.length > queryResultCap)
      throw new RemoteRead.TooManySeriesException(queryResultCap, "query result")
    val rows = capped.map { r =>
      val v = promVal(r.getAs[Any]("value"))
      s"""{"metric":${metricJson(labelCols, r)},"value":[${atUs / 1e6},${jstr(v)}]}"""
    }
    sendJson(ex, 200,
      s"""{"status":"success","data":{"resultType":"vector","result":[${rows.mkString(",")}]}}""")
  }

  /** Prometheus HTTP range-query API (`GET /api/v1/query_range?query=…
    * &start=…&end=…&step=…`): the Grafana panel call. The WHOLE grid
    * evaluates as ONE distributed plan ([[graft.promql.PromQL
    * .evalStoreRange]] — samples map-side-emit their grid instants,
    * per-instant aggregations run keyed by (labels, grid_ts)); never
    * a per-step loop of instant queries. Only the grid result
    * (series × points, the panel's own size) materializes on the
    * driver, grouped into the standard `resultType: matrix` JSON. */
  private def handleQueryRange(ex: HttpExchange, body: Array[Byte]): Unit = {
    val params = paramsWithBody(ex, body).toMap
    def need(k: String) = params.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k parameter"))
    val q = need("query")
    val startUs = (need("start").toDouble * 1e6).toLong
    val endUs = (need("end").toDouble * 1e6).toLong
    val stepUs = durationUs(need("step"))
    if (stepUs <= 0) throw new IllegalArgumentException("step must be positive")
    if (endUs < startUs) throw new IllegalArgumentException("end < start")
    // same guard as Prometheus: refuse grids that would materialize
    // an unbounded driver-side result
    if ((endUs - startUs) / stepUs >= 11000)
      throw new IllegalArgumentException("grid exceeds 11000 points; widen the step")
    val df = tierOf(params) match {
      // the long-horizon panel path: decode-free pre-aggregated scan
      case "rollup" =>
        graft.promql.PromQL.evalStoreRangeRollup(store, q, startUs, endUs, stepUs)
      case _ => graft.promql.PromQL.evalStoreRange(store, q, startUs, endUs, stepUs)
    }
    val labelCols = df.columns.filterNot(c =>
      c == "value" || c == "series_id" || c == "ts_us")
    // the 11000-point grid cap above bounds the per-series width;
    // this bounds the series dimension too: cap+1 rows collect even
    // when the check fails (the /federate pattern)
    val capped = df.limit(queryResultCap + 1).collect()
    if (capped.length > queryResultCap)
      throw new RemoteRead.TooManySeriesException(queryResultCap, "query result")
    // group the bounded matrix by label set, values time-ascending
    val grouped = new scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.ArrayBuffer[(Long, String)]]()
    capped.foreach { r =>
      val key = metricJson(labelCols, r)
      val t = r.getAs[Long]("ts_us")
      val v = promVal(r.getAs[Any]("value"))
      grouped.getOrElseUpdate(key,
        new scala.collection.mutable.ArrayBuffer[(Long, String)]()) += ((t, v))
    }
    val series = grouped.map { case (metric, vs) =>
      val values = vs.sortBy(_._1)
        .map { case (t, v) => s"[${t / 1e6},${jstr(v)}]" }.mkString(",")
      s"""{"metric":$metric,"values":[$values]}"""
    }
    sendJson(ex, 200,
      s"""{"status":"success","data":{"resultType":"matrix","result":[${series.mkString(",")}]}}""")
  }

  // ── Prometheus metadata API (Grafana's autocomplete calls) ──
  // GET /api/v1/labels, /api/v1/label/<name>/values, /api/v1/series —
  // all served from the store CATALOG (never a sample scan): optional
  // match[] PromQL selectors filter it, optional start/end
  // (unix seconds) restrict to chunks overlapping the range
  // (partition pruning on both tiers). Only the bounded label/series
  // metadata materializes on the driver.

  /** The catalog frame a metadata request sees: time-bounded when
    * start/end given, matcher-filtered per match[] selector (multiple
    * match[] params union, as in Prometheus). */
  private def metaCatalog(params: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val pmap = params.toMap
    // each bound applies INDEPENDENTLY (Prometheus semantics): a
    // single-sided request defaults the missing side to ±infinity
    // (clamped so the chunk-grain division can't overflow)
    val cat = (pmap.get("start"), pmap.get("end")) match {
      case (None, None) => store.catalog()
      case (s, e) =>
        def us(v: Option[String], dflt: Long): Long =
          v.map(x => (x.toDouble * 1e6).toLong).getOrElse(dflt)
        store.catalogInRange(us(s, Long.MinValue / 4), us(e, Long.MaxValue / 4))
    }
    // repeated match[] selectors UNION, as in Prometheus
    val sels = params.collect { case (k, v) if k == "match[]" || k == "match" => v }
      .map { s =>
        graft.promql.PromQL.parse(s) match {
          case graft.promql.PromQL.Selector(ms, _, _) => ms
          case other => throw new IllegalArgumentException(
            s"match[] must be a selector, got $other")
        }
      }
    if (sels.isEmpty) cat
    else sels.map(ms => cat.filter(graft.tsdb.Matcher.all(ms))).reduce(_ unionByName _).distinct()
  }

  private def handleLabels(ex: HttpExchange): Unit = {
    val cat = metaCatalog(queryParamsMulti(ex))
    // label NAMES of the matched in-range series — every catalog
    // label is present on every series, so nonempty ⇒ all columns,
    // empty ⇒ [] (Prometheus semantics, not the static schema)
    val names =
      if (cat.limit(1).count() == 0) Array.empty[String]
      else cat.columns.filterNot(_ == "series_id").sorted
    sendJson(ex, 200,
      s"""{"status":"success","data":[${names.map(jstr).mkString(",")}]}""")
  }

  private def handleLabelValues(ex: HttpExchange, label: String): Unit = {
    val cat = metaCatalog(queryParamsMulti(ex))
    if (!cat.columns.contains(label) || label == "series_id")
      sendJson(ex, 200, """{"status":"success","data":[]}""")
    else {
      val values = cat.select(org.apache.spark.sql.functions.col(label).cast("string"))
        .distinct().collect().map(_.getString(0)).sorted
      sendJson(ex, 200,
        s"""{"status":"success","data":[${values.map(jstr).mkString(",")}]}""")
    }
  }

  private def handleSeries(ex: HttpExchange): Unit = {
    val cat = metaCatalog(queryParamsMulti(ex))
    val labelCols = cat.columns.filterNot(_ == "series_id").sorted
    val rows = cat.select(labelCols.map(org.apache.spark.sql.functions.col): _*)
      .distinct().collect()
      .map(r => metricJson(labelCols, r)).sorted
    sendJson(ex, 200,
      s"""{"status":"success","data":[${rows.mkString(",")}]}""")
  }

  /** Remote write: decode once to validate (a malformed or empty
    * payload answers 400 before anything is spooled), then enqueue the
    * raw bytes; the drain re-decodes inside its micro-batch job, where
    * the columnar explode happens. */
  private def handleWrite(ex: HttpExchange, body: Array[Byte]): Unit = {
    require(RemoteWrite.decode(body).nonEmpty, "empty remote-write request")
    spoolWrite(body)
    ex.sendResponseHeaders(200, -1)
  }

  // ── Prometheus rules/alerts API (the Grafana/alertmanager READ
  // side of alerting — the inverse of the role server.rs plays for
  // samples) ──
  // Rules REGISTER on the endpoint (the same rule spec
  // StreamIngest.ruleRefresh takes); GET /api/v1/rules lists them with
  // their current state and active alerts, GET /api/v1/alerts flattens
  // the active alerts.
  // Evaluation is ON READ against the store — one bounded distributed
  // grid evaluation per registered rule per request (alert-grain
  // output only materializes on the driver). The evaluation instant
  // is DATA-driven: the newest chunk's upper bound (never wall
  // clock — historical stores answer honestly), overridable with
  // ?time=<unix seconds> for dashboards scrubbing the past.

  final case class RegisteredRule(name: String, query: String,
                                  forUs: Long, stepUs: Long)
  private val ruleRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, RegisteredRule]()

  /** Register (or replace) an alerting rule. Parse errors surface
    * HERE, at registration — a rule that cannot parse must never sit
    * in the registry answering 500s on every scrape. */
  def registerRule(name: String, query: String, forUs: Long, stepUs: Long): Unit = {
    require(stepUs > 0, s"rule $name: step must be positive")
    graft.promql.PromQL.parse(query) // typed failure now, not on read
    ruleRegistry.put(name, RegisteredRule(name, query, forUs, stepUs))
  }

  def unregisterRule(name: String): Unit = ruleRegistry.remove(name)

  /** One rule's alerts at the evaluation instant: rows of
    * (labels → value, state, active_since_us). The grid reaches back
    * `for` + one step so runs old enough to fire are seen firing. */
  private def currentAlerts(r: RegisteredRule, atUs: Long): Seq[(String, String, Long)] = {
    import org.apache.spark.sql.functions.col
    val gridEnd = Math.floorDiv(atUs, r.stepUs) * r.stepUs
    val gridStart = Math.floorDiv(gridEnd - r.forUs, r.stepUs) * r.stepUs - r.stepUs
    val df = graft.promql.PromQL.alertRuleStore(store, r.query, r.forUs,
        gridStart, gridEnd, r.stepUs)
      .filter(col("ts_us") === gridEnd)
    val labelCols = df.columns.filterNot(Set("value", "ts_us", "state",
      "active_since_us", "series_id").contains).sorted
    df.collect().toSeq.map { row =>
      val labels = (s"${jstr("alertname")}:${jstr(r.name)}" +:
        labelCols.map(c => s"${jstr(c)}:${jstr(
          Option(row.getAs[Any](c)).map(_.toString).getOrElse(""))}").toSeq)
        .mkString("{", ",", "}")
      val sinceUs = row.getAs[Long]("active_since_us")
      val alertJson =
        s"""{"labels":$labels,"annotations":{},"state":${jstr(row.getAs[String]("state"))},""" +
          s""""activeAt":${jstr(java.time.Instant.ofEpochMilli(sinceUs / 1000).toString)},""" +
          s""""value":${jstr(promVal(row.getAs[Any]("value")))}}"""
      (alertJson, row.getAs[String]("state"), sinceUs)
    }
  }

  // data-driven "now" = the newest SAMPLE's timestamp, not the newest
  // chunk's exclusive ceiling: on coarse chunks (daily) the ceiling
  // sits up to a day above the last sample, so instant-vector
  // endpoints with the 5m default lookback would answer empty unless
  // callers pass ?time=/?lookback= (the r9 fed_scrape workaround)
  private def evalInstantUs(params: Map[String, String]): Long =
    params.get("time").map(t => (t.toDouble * 1e6).toLong)
      .orElse(store.newestSampleTsUs)
      .getOrElse(throw new IllegalArgumentException(
        "store holds no data and no ?time= given — nothing to evaluate rules at"))

  private def handleRules(ex: HttpExchange): Unit = {
    val at = evalInstantUs(queryParams(ex))
    import scala.jdk.CollectionConverters._
    val ruleJsons = ruleRegistry.values.asScala.toSeq.sortBy(_.name).map { r =>
      val alerts = currentAlerts(r, at)
      // rule state = worst of its alerts (firing > pending > inactive)
      val state =
        if (alerts.exists(_._2 == "firing")) "firing"
        else if (alerts.nonEmpty) "pending"
        else "inactive"
      s"""{"state":${jstr(state)},"name":${jstr(r.name)},"query":${jstr(r.query)},""" +
        s""""duration":${r.forUs / 1000000.0},"labels":{},"annotations":{},""" +
        s""""alerts":[${alerts.map(_._1).mkString(",")}],"health":"ok","type":"alerting"}"""
    }
    sendJson(ex, 200,
      s"""{"status":"success","data":{"groups":[{"name":"graft","file":"","rules":[${ruleJsons.mkString(",")}]}]}}""")
  }

  private def handleAlerts(ex: HttpExchange): Unit = {
    val at = evalInstantUs(queryParams(ex))
    import scala.jdk.CollectionConverters._
    val alerts = ruleRegistry.values.asScala.toSeq.sortBy(_.name)
      .flatMap(r => currentAlerts(r, at).map(_._1))
    sendJson(ex, 200,
      s"""{"status":"success","data":{"alerts":[${alerts.mkString(",")}]}}""")
  }

  /** Prometheus's admin deletion API (`POST /api/v1/admin/tsdb/
    * delete_series?match[]=…[&start=…&end=…]`): drops the matched
    * series' samples in the range from the closed tier
    * ([[ChunkStore.deleteSeries]] rewrites the affected chunks).
    * Missing bounds default to everything up to the data horizon;
    * success answers 204 like Prometheus. A range touching live
    * chunks answers 400 with the close-first direction. */
  private def handleDeleteSeries(ex: HttpExchange, body: Array[Byte]): Unit = {
    if (!"POST".equalsIgnoreCase(ex.getRequestMethod)) {
      ex.sendResponseHeaders(405, -1); return
    }
    val params = paramsWithBody(ex, body)
    val pmap = params.toMap
    val sels = params.collect { case (k, v) if k == "match[]" || k == "match" => v }
    if (sels.isEmpty)
      throw new IllegalArgumentException("delete_series needs at least one match[] selector")
    val startUs = pmap.get("start").map(s => (s.toDouble * 1e6).toLong).getOrElse(0L)
    val endUs = pmap.get("end").map(e => (e.toDouble * 1e6).toLong)
      .orElse(store.dataHorizonUs).getOrElse(0L)
    sels.foreach { s =>
      val sel = graft.promql.PromQL.parseSelector(s, startUs, endUs)
      store.deleteSeries(sel.matchers, startUs, endUs)
    }
    ex.sendResponseHeaders(204, -1)
  }

  /** `GET /api/v1/status/buildinfo` — the version handshake Grafana
    * performs before enabling feature-gated panels. Static JSON in
    * the Prometheus shape; the version string advertises a modern
    * API surface. */
  private def handleBuildInfo(ex: HttpExchange): Unit =
    sendJson(ex, 200,
      """{"status":"success","data":{"version":"2.50.0","revision":"graft",""" +
        """"branch":"","buildUser":"","buildDate":"","goVersion":""}}""")

  /** `GET|POST /api/v1/format_query?query=…` — Prometheus's PromQL
    * pretty-printer (2.46+, the editor/linter handshake): parse +
    * [[graft.promql.PromQL.format]]. The printer's contract
    * (PromqlFormatSpec, fuzz-driven) is parse∘format == identity on
    * the AST, so the canonical spelling never drifts from the
    * grammar. Malformed input answers the 400 bad_data envelope. */
  private def handleFormatQuery(ex: HttpExchange, body: Array[Byte]): Unit = {
    val q = paramsWithBody(ex, body).collectFirst { case ("query", v) => v }
      .getOrElse(throw new IllegalArgumentException("format_query needs a query= parameter"))
    sendJson(ex, 200,
      s"""{"status":"success","data":${jstr(graft.promql.PromQL.formatQuery(q))}}""")
  }

  /** `GET /api/v1/status/flags` — the operative engine configuration
    * in Prometheus's flag-map shape: the chunk grain, the retention
    * horizons (from the store's persisted horizon files, us-precise),
    * and the federation cardinality cap. Directory-listing grain,
    * never a Spark job. */
  private def handleStatusFlags(ex: HttpExchange): Unit = {
    val (minT, maxT) = store.dataBoundsMs
    sendJson(ex, 200,
      s"""{"status":"success","data":{""" +
        s""""storage.tsdb.chunk-duration":${jstr(graft.promql.PromQL.fmtDur(store.chunkUs))},""" +
        s""""storage.tsdb.path":${jstr(store.path)},""" +
        s""""web.federate.series-cap":"$federateSeriesCap",""" +
        s""""web.remote-read.series-cap":"$remoteReadSeriesCap",""" +
        s""""web.query.result-row-cap":"$queryResultCap",""" +
        s""""storage.tsdb.min-time-ms":"$minT","storage.tsdb.max-time-ms":"$maxT"}}""")
  }

  /** `GET /api/v1/status/runtimeinfo` — the liveness/uptime handshake
    * (Grafana's datasource test page reads it): server start time,
    * chunk/series shape of the store. Catalog-free: every field is a
    * directory listing or a constant. */
  private def handleRuntimeInfo(ex: HttpExchange): Unit = {
    sendJson(ex, 200,
      s"""{"status":"success","data":{""" +
        s""""startTime":${jstr(startedAtIso)},""" +
        s""""CWD":${jstr(System.getProperty("user.dir", ""))},""" +
        s""""reloadConfigSuccess":true,""" +
        s""""chunkDuration":${jstr(graft.promql.PromQL.fmtDur(store.chunkUs))},""" +
        s""""chunkCount":${store.chunkCount}}}""")
  }

  private val startedAtIso: String =
    java.time.Instant.ofEpochMilli(System.currentTimeMillis()).toString

  /** `GET /api/v1/status/tsdb` — Prometheus's cardinality dashboard:
    * head stats (series count, chunk count, data time bounds) plus
    * the top metric names by series count and per-label value counts.
    * One bounded Spark job over the series catalog (label grain, not
    * sample grain); chunk counts and time bounds are directory
    * listings. The numbers describe THIS store's whole retained
    * range — the engine's analog of Prometheus's head block. */
  private def handleStatusTsdb(ex: HttpExchange): Unit = {
    import org.apache.spark.sql.functions.{col, countDistinct, count, lit}
    val cat = store.catalog().persist()
    try {
      val numSeries = cat.count()
      val byMetric = cat.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type").asc)
        .limit(10).collect()
        .map(r => s"""{"name":${jstr(r.getString(0))},"value":${r.getLong(1)}}""")
      val labelCounts = cat.agg(
        countDistinct(col("event_type")).as("et"),
        countDistinct(col("user_id")).as("uid")).collect()(0)
      val chunkCount = store.chunkCount
      val (minT, maxT) = store.dataBoundsMs
      sendJson(ex, 200,
        s"""{"status":"success","data":{"headStats":{"numSeries":$numSeries,""" +
          s""""chunkCount":$chunkCount,"minTime":$minT,"maxTime":$maxT},""" +
          s""""seriesCountByMetricName":[${byMetric.mkString(",")}],""" +
          s""""labelValueCountByLabelName":[""" +
          s"""{"name":"event_type","value":${labelCounts.getLong(0)}},""" +
          s"""{"name":"user_id","value":${labelCounts.getLong(1)}}]}}""")
    } finally cat.unpersist(blocking = false)
  }

  /** Prometheus's admin snapshot verb (`POST /api/v1/admin/tsdb/
    * snapshot[?name=…]`): point-in-time copy of the closed tier into
    * `snapshots/<name>` ([[ChunkStore.snapshot]] — pure file I/O over
    * immutable parquet, no Spark job). Answers the Prometheus shape
    * `{"status":"success","data":{"name":…}}`. An empty store (nothing
    * closed) answers 400 with the close-first direction. */
  private def handleSnapshot(ex: HttpExchange, body: Array[Byte]): Unit = {
    if (!"POST".equalsIgnoreCase(ex.getRequestMethod)) {
      ex.sendResponseHeaders(405, -1); return
    }
    val name = paramsWithBody(ex, body).toMap.get("name")
    val snap = store.snapshot(name)
    sendJson(ex, 200,
      s"""{"status":"success","data":{"name":${jstr(snap)}}}""")
  }

  /** Prometheus FEDERATION endpoint (`GET /federate?match[]=…`): the
    * current sample of every matched series in the text exposition
    * format, so a DOWNSTREAM Prometheus can scrape this engine as a
    * target — the read-surface complement of the remote-read pair.
    * Instant-vector semantics (latest sample within the lookback,
    * honoring a selector's offset/@ pin); multiple match[] union;
    * `?time=` overrides the data-driven evaluation instant. The
    * metric name is the series' event_type (the bare-name sugar
    * inverted), remaining labels ride in the braces, timestamps in
    * milliseconds — the exposition contract. Only the bounded
    * per-series vector materializes on the driver. */
  private def handleFederate(ex: HttpExchange): Unit = {
    import org.apache.spark.sql.functions.{col, max, struct}
    val params = queryParamsMulti(ex)
    val at = evalInstantUs(params.toMap)
    // ?lookback= mirrors Prometheus's --query.lookback-delta (which
    // /federate honors): how far back a series may have last
    // reported and still count as current
    val lookbackUs = params.toMap.get("lookback").map(durationUs)
      .getOrElse(5L * 60L * 1000000L)
    val sels = params.collect { case (k, v) if k == "match[]" || k == "match" => v }
    if (sels.isEmpty)
      throw new IllegalArgumentException("federate needs at least one match[] selector")
    val frames = sels.map { s =>
      val sel = graft.promql.PromQL.parseSelector(s, at, at)
      val eff = sel.atUs.getOrElse(at) - sel.offsetUs
      store.queryAll(sel.matchers, eff - lookbackUs, eff)
        .groupBy(col("series_id"), col("event_type"), col("user_id"))
        .agg(max(struct(col("ts_us"), col("value"))).as("l"))
        .select(col("event_type"), col("user_id"),
          col("l.ts_us").as("ts_us"), col("l.value").as("value"))
    }
    // cap + 1 bounds the driver materialization even when the check
    // fails — the overflow row proves the cap was crossed without
    // collecting the whole vector
    val capped = frames.reduce(_ unionByName _).distinct()
      .limit(federateSeriesCap + 1).collect()
    if (capped.length > federateSeriesCap)
      throw new RemoteRead.TooManySeriesException(federateSeriesCap, "federate match[]")
    val rows = capped
      .sortBy(r => (r.getAs[String]("event_type"), r.getAs[Any]("user_id").toString))
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    val sb = new StringBuilder
    var lastName = ""
    rows.foreach { r =>
      val name = r.getAs[String]("event_type")
      if (name != lastName) { sb ++= s"# TYPE ${esc(name)} untyped\n"; lastName = name }
      sb ++= esc(name)
      sb ++= s"""{user_id="${esc(r.getAs[Any]("user_id").toString)}"} """
      sb ++= promVal(r.getAs[Any]("value"))
      sb ++= s" ${r.getAs[Long]("ts_us") / 1000}\n"
    }
    val bytes = sb.toString.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4; charset=utf-8")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  private def handleRead(ex: HttpExchange, body: Array[Byte]): Unit = {
    val (_, accepted) = RemoteRead.decodeRequestFull(body)
    if (accepted.contains(RemoteRead.ResponseTypeStreamed)) {
      // NEGOTIATED STREAM: framed ChunkedReadResponse messages, one
      // per series, Gorilla payloads straight from the at-rest tier.
      // No seriesCap — memory is bounded per frame, so the wide
      // selector that 422s on the sampled path streams fine here.
      // The FIRST frame is forced before headers go out: matcher /
      // store errors still answer with a status; an error after the
      // status line can only truncate the stream (the protocol's
      // own failure mode — the client's CRC/length framing catches
      // the tear).
      val frames = RemoteRead.serveStreamed(store, body)
      val first = if (frames.hasNext) Some(frames.next()) else None
      ex.getResponseHeaders.set("Content-Type",
        "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse")
      ex.sendResponseHeaders(200, 0L) // length unknown: chunked transfer
      val os = ex.getResponseBody
      // flush PER FRAME: each series frame leaves as its own
      // chunked-transfer write, so server memory stays one frame
      // deep and a slow reader back-pressures the store iterator
      // instead of growing a response buffer
      first.foreach { f => os.write(f); os.flush() }
      frames.foreach { f => os.write(f); os.flush() }
      return
    }
    val resp = RemoteRead.serve(store, body, remoteReadSeriesCap)
    ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
    ex.getResponseHeaders.set("Content-Encoding", "snappy")
    ex.sendResponseHeaders(200, resp.length.toLong)
    ex.getResponseBody.write(resp)
  }
}

object HttpEndpoint {
  /** Spool files per drain micro-batch, at most; the drain lists them on the driver. */
  val MaxFilesPerTrigger = 4096
}

/** Launchable server — the reference ships its engine AS a server
  * binary (src/main.rs builds MonolithServer and calls serve()); this
  * is the same front door as a runnable main:
  *
  *   sbt "runMain graft.sources.HttpServerMain /path/to/store 9090"
  *
  * Env knobs mirror Bench/Verify conventions (SPARK_GRAFT_CPUS). The
  * process serves until killed; the store directory is the whole
  * durable state (chunks, spool and drain checkpoint), so a restart on
  * the same path serves the same chunks and drains whatever was
  * accepted but not yet appended. */
object HttpServerMain {
  def main(args: Array[String]): Unit = {
    val path = if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("graft_http_store").toString
    val port = if (args.length > 1) args(1).toInt else 9090
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val endpoint = new HttpEndpoint(spark, new ChunkStore(spark, path), port)
    val bound = endpoint.start()
    // stdout contract like Bench/Verify: one parse-friendly line
    println(s"""{"serving":"http://127.0.0.1:$bound","store":"$path","spool":"${endpoint.spoolDir}"}""")
    Thread.currentThread.join() // serve until the process is killed
  }
}
