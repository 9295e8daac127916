package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** The result of one logical request: latency runs from the first
  * attempt to the final answer, across retries. */
final case class Outcome(ok: Boolean, status: Int, body: Array[Byte], latencyMs: Double,
                         retries: Int, startNs: Long, endNs: Long)

/** Loopback HTTP client with Prometheus remote-write retry semantics:
  * 429 and 5xx (and connection errors) are retried with exponential
  * backoff; any other non-2xx status is a failure and is not retried. */
final class Client(base: String) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()
  val status4xx = new AtomicLong
  val status5xx = new AtomicLong
  val retries = new AtomicLong
  val connErrors = new AtomicLong
  /** Non-2xx answers by "route status", e.g. "read 500" (-1: no answer). */
  val errorsByRoute = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val MaxAttempts = 8

  def postProto(path: String, body: Array[Byte], read: Boolean): Outcome = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofSeconds(60))
      .header("Content-Type", "application/x-protobuf")
      .header("Content-Encoding", "snappy")
    if (read) b.header("X-Prometheus-Remote-Read-Version", "0.1.0")
    else b.header("X-Prometheus-Remote-Write-Version", "0.1.0")
    send(b.POST(HttpRequest.BodyPublishers.ofByteArray(body)).build())
  }

  def get(pathAndQuery: String): Outcome =
    send(HttpRequest.newBuilder(URI.create(base + pathAndQuery))
      .timeout(Duration.ofSeconds(60)).GET().build())

  private def send(req: HttpRequest): Outcome = {
    val t0 = System.nanoTime()
    var attempt = 0
    var backoffMs = 25L
    while (true) {
      attempt += 1
      val (code, body) =
        try {
          val r = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
          (r.statusCode(), r.body())
        } catch { case _: java.io.IOException => (-1, Array.emptyByteArray) }
      if (code >= 400 && code < 500) status4xx.incrementAndGet()
      if (code >= 500) status5xx.incrementAndGet()
      if (code == -1) connErrors.incrementAndGet()
      if (code < 200 || code >= 300)
        errorsByRoute.computeIfAbsent(s"${req.uri.getPath.split('/').last} $code", _ => new AtomicLong).incrementAndGet()
      val retryable = code == 429 || code >= 500 || code == -1
      if ((code >= 200 && code < 300) || !retryable || attempt >= MaxAttempts) {
        val t1 = System.nanoTime()
        return Outcome(code >= 200 && code < 300, code, body, (t1 - t0) / 1e6, attempt - 1, t0, t1)
      }
      retries.incrementAndGet()
      Thread.sleep(backoffMs)
      backoffMs = math.min(backoffMs * 2, 2000L)
    }
    throw new IllegalStateException("unreachable")
  }
}

/** The system under test: `graft.sources.HttpServerMain`, unmodified, in
  * a child JVM. Spark settings ride JVM system properties, which
  * `SparkConf` reads; in a traced run they register the engine probe
  * listeners. */
final class Engine(classpath: String, store: String, work: java.io.File, traceOut: Option[String]) {
  private var proc: Process = _
  var baseUrl: String = _

  def start(): Unit = {
    val tmp = new java.io.File(work, "engine-tmp"); tmp.mkdirs()
    val props = Seq(
      s"-Djava.io.tmpdir=${tmp.getAbsolutePath}",
      s"-Dspark.local.dir=${tmp.getAbsolutePath}",
      s"-Dspark.sql.warehouse.dir=${new java.io.File(work, "engine-warehouse").getAbsolutePath}",
      "-Dspark.ui.enabled=false") ++ traceOut.toSeq.flatMap(out => Seq(
      "-Dspark.extraListeners=graftbench.EngineProbe",
      "-Dspark.sql.queryExecutionListeners=graftbench.EngineQeProbe",
      "-Dspark.sql.streaming.streamingQueryListeners=graftbench.EngineStreamProbe",
      s"-Dgraftbench.probe.out=$out"))
    val cmd = Seq(Jvm.javaBin) ++ Jvm.inherited ++ props ++
      Seq("-cp", classpath, "graft.sources.HttpServerMain", store, "0")
    val pb = new ProcessBuilder(cmd: _*)
      .redirectError(new java.io.File(work, "engine.log"))
    pb.environment().put("SPARK_GRAFT_CPUS", Jvm.cpus.toString)
    proc = pb.start()
    val out = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
    val deadline = System.nanoTime() + 120L * 1000000000L
    var line = out.readLine()
    while (line != null && !line.contains("\"serving\"")) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("engine did not start")
      line = out.readLine()
    }
    if (line == null) throw new IllegalStateException(
      s"engine exited before serving (exit ${proc.waitFor()}); see ${work}/engine.log")
    baseUrl = "\"serving\":\"([^\"]+)\"".r.findFirstMatchIn(line).get.group(1)
    val drain = new Thread(() => { try while (out.readLine() != null) () catch { case _: Throwable => () } })
    drain.setDaemon(true); drain.start()
  }

  /** VmHWM (peak resident set) of the engine process, in MB. */
  def peakRssMb: Double = Jvm.peakRssMb(proc.pid())

  /** Kill the engine and wait for it to exit (its state is not reused). */
  def stop(): Unit = if (proc != null) { proc.destroyForcibly(); proc.waitFor() }
}

object Jvm {
  val javaBin: String = System.getProperty("java.home") + "/bin/java"
  val cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  /** This JVM's --add-opens and heap sizes (run.py sets them: the
    * add-opens and heap cap build.sbt gives the engine's mains, and a
    * 2 GB initial heap), for the engine JVM. */
  val inherited: Seq[String] =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Xm"))

  def peakRssMb(pid: Long): Double = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"/proc/$pid/status"))
    val hwm = lines.toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
    hwm.split("\\s+")(1).toDouble / 1024.0
  }
}
