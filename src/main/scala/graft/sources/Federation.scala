package graft.sources

import java.net.{HttpURLConnection, URI}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsdb.Matcher

/** Remote-read FEDERATION CLIENT: query any Prometheus-compatible
  * remote-read endpoint (another graft store's [[HttpEndpoint]], a
  * real Prometheus, Thanos, the reference monolith — anything
  * speaking the prompb wire) into a DataFrame. This inverts the
  * reference's ecosystem role (monolith SERVES remote-read,
  * src/server.rs:96-131): the engine can now also be the READER,
  * so a Spark job can join remote live metrics against local
  * history, or migrate a remote store into a [[graft.tsdb.ChunkStore]]
  * with one write.
  *
  * Scale shape: the query's time range splits into `timeSlices`
  * non-overlapping slices and EACH SLICE IS FETCHED BY AN EXECUTOR
  * TASK (a flatMap over the slice dataset — no driver-side fetch
  * loop). Each task holds one slice's matching samples (bounded by
  * slice duration × selected series — pick slices accordingly); the
  * matcher pushdown happens on the REMOTE side, which runs its own
  * pruned store query per slice. The wire carries millisecond
  * timestamps, so federated samples are ms-truncated (the protocol's
  * resolution, not a lossy choice here).
  */
object Federation {

  /** One fetched sample: the full remote label set plus (ms-grain)
    * event time. */
  final case class FedSample(labels: Map[String, String], ts_us: Long, value: Double)

  /** Fetch `[startUs, endUs]` (inclusive) of every series matching
    * `ms` from `url` (a remote-read POST endpoint), as a DataFrame of
    * (labels map, ts_us, value). `timeSlices` > 1 distributes the
    * fetch across executor tasks on non-overlapping ms slices. */
  def read(spark: SparkSession, url: String, ms: Seq[Matcher],
           startUs: Long, endUs: Long, timeSlices: Int = 1): DataFrame = {
    require(timeSlices >= 1, s"timeSlices must be >= 1, got $timeSlices")
    import spark.implicits._
    val startMs = startUs / 1000
    val endMs = endUs / 1000
    // non-overlapping inclusive ms slices covering [startMs, endMs]
    val span = endMs - startMs + 1
    val slices = (0L until timeSlices.toLong).map { i =>
      val a = startMs + span * i / timeSlices
      val b = startMs + span * (i + 1) / timeSlices - 1
      (a, b)
    }.filter { case (a, b) => b >= a }
    slices.toDS()
      .repartition(slices.size) // one fetch per task
      .flatMap { case (aMs, bMs) =>
        fetchSlice(url, ms, aMs, bMs)
      }
      .toDF()
  }

  /** [[read]] projected onto the engine's sample model: series_id =
    * md5 of the sorted `k=v` label canonicalization (bit-identical to
    * [[graft.tsdb.Series.seriesId]], so federated samples join local
    * catalogs), plus the graft label columns and a constant event_id
    * surrogate — directly consumable by TsOps / PromQL. */
  def readSamples(spark: SparkSession, url: String, ms: Seq[Matcher],
                  startUs: Long, endUs: Long, timeSlices: Int = 1): DataFrame =
    asSamples(read(spark, url, ms, startUs, endUs, timeSlices))

  /** [[read]] over the STREAMED wire: each slice task negotiates
    * `accepted_response_types` and decodes the chunked Gorilla frames
    * locally. Two things the sampled envelope cannot do: FULL
    * MICROSECOND timestamps survive (the prompb Sample is ms-grain —
    * Gorilla payloads carry the store's native us), and the remote
    * server never materializes a series vector (no series cap — the
    * selector that 422s on the sampled path streams). Chunk payloads
    * span whole chunks, so each task trims decoded samples to ITS
    * slice — slices stay non-overlapping even when chunks straddle
    * them (the straddled chunk is fetched by both tasks; the trim
    * dedups). */
  def readStreamed(spark: SparkSession, url: String, ms: Seq[Matcher],
                   startUs: Long, endUs: Long, timeSlices: Int = 1): DataFrame = {
    require(timeSlices >= 1, s"timeSlices must be >= 1, got $timeSlices")
    import spark.implicits._
    val startMs = startUs / 1000
    val endMs = endUs / 1000
    val span = endMs - startMs + 1
    val slices = (0L until timeSlices.toLong).map { i =>
      val a = startMs + span * i / timeSlices
      val b = startMs + span * (i + 1) / timeSlices - 1
      (a, b)
    }.filter { case (a, b) => b >= a }
    slices.toDS()
      .repartition(slices.size)
      .flatMap { case (aMs, bMs) => fetchSliceStreamed(url, ms, aMs, bMs) }
      .toDF()
  }

  /** [[readStreamed]] projected onto the engine's sample model — the
    * [[readSamples]] twin at full us resolution. */
  def readSamplesStreamed(spark: SparkSession, url: String, ms: Seq[Matcher],
                          startUs: Long, endUs: Long, timeSlices: Int = 1): DataFrame =
    asSamples(readStreamed(spark, url, ms, startUs, endUs, timeSlices))

  /** Scrape a Prometheus TEXT-EXPOSITION target once (`/federate`, a
    * node exporter, any /metrics page) — the PULL half of the
    * ecosystem, where remote-read/write are the push-storage half.
    * One GET parsed to (labels, ts_us, value); the metric NAME joins
    * the label set as `event_type` (the engine's metric-name label),
    * so scraping this engine's own /federate round-trips to
    * BIT-IDENTICAL series ids. Lines without a timestamp stamp
    * `defaultTsUs`. The fetch runs in one executor task — a scrape is
    * one bounded page by contract; malformed lines fail the whole
    * scrape loudly (the Prometheus rule: a target that half-parses is
    * a broken target, not half data). */
  def scrape(spark: SparkSession, url: String, defaultTsUs: Long): DataFrame = {
    import spark.implicits._
    Seq(url).toDS()
      .repartition(1)
      .flatMap(u => fetchScrape(u, defaultTsUs))
      .toDF()
  }

  /** [[scrape]] projected onto the engine's sample model (the
    * [[readSamples]] twin). */
  def scrapeSamples(spark: SparkSession, url: String, defaultTsUs: Long): DataFrame =
    asSamples(scrape(spark, url, defaultTsUs))

  /** Fetched (labels, ts_us, value) rows as the engine's sample frame. */
  private def asSamples(fetched: DataFrame): DataFrame =
    fetched
      .withColumn("series_id", RemoteWrite.seriesIdOfLabels(col("labels")))
      .withColumn("event_type", coalesce(col("labels")("event_type"), lit("")))
      .withColumn("user_id", coalesce(col("labels")("user_id"), lit("")))
      .withColumn("event_id", lit(0L))
      .select("series_id", "event_type", "user_id", "ts_us", "event_id", "value")

  private val ExpositionLine =
    """^([a-zA-Z_:][a-zA-Z0-9_:]*)(?:\{(.*)\})?\s+(\S+)(?:\s+(-?\d+))?\s*$""".r
  /** Linear scanner for a `name="value",...` label section. The
    * previous regex (`(?:\\.|[^"\\])*`) recursed one Java-regex stack
    * frame PER VALUE CHARACTER — a ~1 MB label value from a hostile
    * scrape target blew the task stack with StackOverflowError (found
    * by FedFuzzSpec). One pass, heap bounded by the input, and the
    * loud parse-in-full contract holds: ANY residue refuses the line —
    * a half-parsed section silently dropping pairs would land the
    * sample under the WRONG canonical series id. */
  private def parseLabelSection(ls: String, lineNo: Int, line: String): Map[String, String] = {
    def fail(): Nothing = throw new java.io.IOException(
      s"exposition label parse error at line $lineNo: '${line.take(200)}'")
    def isNameStart(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_'
    def isNameChar(c: Char) = isNameStart(c) || (c >= '0' && c <= '9')
    val out = Map.newBuilder[String, String]
    var i = 0
    val n = ls.length
    while (i < n) {
      while (i < n && (ls(i) == ',' || ls(i) == ' ' || ls(i) == '\t')) i += 1
      if (i < n) {
        val s0 = i
        if (!isNameStart(ls(i))) fail()
        i += 1
        while (i < n && isNameChar(ls(i))) i += 1
        val name = ls.substring(s0, i)
        if (i >= n || ls(i) != '=') fail()
        i += 1
        if (i >= n || ls(i) != '"') fail()
        i += 1
        val sb = new StringBuilder
        var closed = false
        while (i < n && !closed) {
          ls(i) match {
            case '\\' =>
              if (i + 1 >= n) fail() // lone trailing backslash
              sb += (ls(i + 1) match { case 'n' => '\n'; case c => c })
              i += 2
            case '"' => closed = true; i += 1
            case c => sb += c; i += 1
          }
        }
        if (!closed) fail() // unterminated quote
        out += name -> sb.toString
      }
    }
    out.result()
  }

  /** Parse one exposition page. Package-private for direct spec
    * coverage of the escapes and special values. */
  private[graft] def parseExposition(text: String,
                                       defaultTsUs: Long): Iterator[FedSample] = {
    def num(s: String): Double = s match {
      case "+Inf" | "Inf" => Double.PositiveInfinity
      case "-Inf" => Double.NegativeInfinity
      case o => o.toDouble // handles NaN via Java parsing
    }
    text.linesIterator.zipWithIndex
      .filterNot { case (l, _) => l.isEmpty || l.startsWith("#") }
      .map {
        case (line @ ExpositionLine(name, labelStr, valueStr, tsStr), i) =>
          val labels = Option(labelStr)
            .map(ls => parseLabelSection(ls, i + 1, line))
            .getOrElse(Map.empty[String, String])
          val ts = Option(tsStr).map(_.toLong * 1000).getOrElse(defaultTsUs)
          FedSample(labels + ("event_type" -> name), ts, num(valueStr))
        case (line, i) =>
          throw new java.io.IOException(
            s"exposition parse error at line ${i + 1}: '$line'")
      }
  }

  /** One scrape fetch + parse; runs inside an executor task. */
  private def fetchScrape(url: String, defaultTsUs: Long): Iterator[FedSample] = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(120000)
    val code = conn.getResponseCode
    if (code / 100 != 2) {
      conn.disconnect()
      throw new java.io.IOException(s"scrape $url answered $code")
    }
    val text = try new String(conn.getInputStream.readAllBytes(), "UTF-8")
      finally conn.getInputStream.close()
    conn.disconnect()
    parseExposition(text, defaultTsUs)
  }

  /** Remote-write RELAY — the WRITE half of the migration story
    * ([[read]]/[[readSamples]] are the read half): stream a sample
    * frame OUT to any remote-write endpoint (another graft store's
    * [[HttpEndpoint]], Prometheus, a vendor agent) as snappy/protobuf
    * WriteRequests. EACH PARTITION POSTS FROM ITS EXECUTOR TASK — the
    * driver never materializes a sample — batched at
    * `maxSamplesPerRequest` rows per request with per-batch series
    * grouping; a non-2xx answer fails the task loudly (Spark retries
    * the partition, and the receiver's idempotence story is the
    * wire's at-least-once contract, same as Prometheus remote-write).
    * The wire carries millisecond timestamps — sub-ms tails truncate,
    * the protocol's resolution. Expects the sample model columns
    * (event_type, user_id, ts_us, value); returns samples sent. */
  def relay(samples: DataFrame, url: String,
            maxSamplesPerRequest: Int = 5000): Long = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples
      .select(col("event_type").cast("string"), col("user_id").cast("string"),
        expr("ts_us div 1000").cast("long"), col("value").cast("double"))
      .as[(String, String, Long, Double)]
      .mapPartitions { it =>
        var sent = 0L
        it.grouped(maxSamplesPerRequest).foreach { batch =>
          val series: Seq[RemoteWrite.Series] = batch
            .groupBy(r => (r._1, r._2)).toSeq.sortBy(_._1)
            .map { case ((et, uid), rows) =>
              (Map("event_type" -> et, "user_id" -> uid),
                rows.map(r => (r._3, r._4)).toSeq)
            }
          val body = RemoteWrite.encode(series)
          val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
          conn.setRequestMethod("POST")
          conn.setDoOutput(true)
          conn.setConnectTimeout(30000)
          conn.setReadTimeout(120000)
          conn.setRequestProperty("Content-Type", "application/x-protobuf")
          conn.setRequestProperty("Content-Encoding", "snappy")
          conn.getOutputStream.write(body)
          conn.getOutputStream.close()
          val code = conn.getResponseCode
          conn.disconnect()
          if (code / 100 != 2)
            throw new java.io.IOException(s"remote-write relay to $url answered $code")
          sent += batch.size
        }
        Iterator.single(sent)
      }
      .collect().sum // one count per partition — bounded by task count
  }

  /** One slice fetch: POST the snappy/protobuf ReadRequest, decode
    * the response, flatten to samples. Runs INSIDE an executor task.
    * Non-2xx answers raise IOException with the status (a federation
    * read must fail loudly, not return a silent partial). */
  private def fetchSlice(url: String, ms: Seq[Matcher],
                         aMs: Long, bMs: Long): Iterator[FedSample] = {
    val body = RemoteRead.encodeRequest(Seq((aMs, bMs, ms)))
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(120000)
    conn.setRequestProperty("Content-Type", "application/x-protobuf")
    conn.setRequestProperty("Content-Encoding", "snappy")
    conn.getOutputStream.write(body)
    conn.getOutputStream.close()
    val code = conn.getResponseCode
    if (code / 100 != 2) {
      conn.disconnect()
      throw new java.io.IOException(
        s"remote-read $url answered $code for slice [$aMs, $bMs]ms")
    }
    val bytes = try conn.getInputStream.readAllBytes() finally conn.getInputStream.close()
    conn.disconnect()
    RemoteRead.decodeResponse(bytes).iterator.flatMap { result =>
      result.iterator.flatMap { case (labels, pts) =>
        pts.iterator.map { case (tsMs, v) => FedSample(labels, tsMs * 1000, v) }
      }
    }
  }

  private def fetchSliceStreamed(url: String, ms: Seq[Matcher],
                                 aMs: Long, bMs: Long): Iterator[FedSample] = {
    val queries: Seq[RemoteRead.Query] = Seq((aMs, bMs, ms))
    val body = RemoteRead.encodeRequest(queries, acceptStreamed = true)
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(120000)
    conn.setRequestProperty("Content-Type", "application/x-protobuf")
    conn.setRequestProperty("Content-Encoding", "snappy")
    conn.getOutputStream.write(body)
    conn.getOutputStream.close()
    val code = conn.getResponseCode
    if (code / 100 != 2) {
      conn.disconnect()
      throw new java.io.IOException(
        s"streamed remote-read $url answered $code for slice [$aMs, $bMs]ms")
    }
    val ct = Option(conn.getHeaderField("Content-Type")).getOrElse("")
    if (!ct.startsWith("application/x-streamed-protobuf"))
      throw new java.io.IOException(
        s"remote $url ignored the streamed negotiation (Content-Type '$ct') — " +
          "read it with readSamples instead")
    val bytes = try conn.getInputStream.readAllBytes() finally conn.getInputStream.close()
    conn.disconnect()
    // decodeStreamedToSamples trims to the slice's whole-ms envelope,
    // which is exactly the non-overlap contract between slice tasks
    RemoteRead.decodeStreamedToSamples(bytes, queries).iterator.flatMap { perQ =>
      perQ.iterator.flatMap { case (labels, pts) =>
        pts.iterator.map { case (tsUs, v) => FedSample(labels, tsUs, v) }
      }
    }
  }
}
