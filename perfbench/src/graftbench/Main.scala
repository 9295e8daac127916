package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-run context shared by the workloads. */
final case class Ctx(seed: Long, seconds: Int, tracer: Tracer, work: java.io.File, classpath: String) {
  private val stops = mutable.ArrayBuffer.empty[() => Unit]
  def onStop(f: () => Unit): Unit = synchronized { stops += f }
  def stopAll(): Unit = synchronized {
    stops.reverse.foreach(f => try f() catch { case _: Throwable => () })
    stops.clear()
  }
}

/** What a workload hands back: the checked outcome, the gated
  * end-to-end metrics, the workload's own named metrics (the report
  * line), and the per-layer values of a traced run. */
final case class Result(correct: Boolean, attempted: Long, failed: Long, client: Option[Client],
                        e2e: Seq[(String, Double, String)], report: Seq[(String, Double, String)],
                        layers: LayerSink, checks: Seq[String])

/** The end-to-end metrics every workload reports, each with the
  * workload's own meaning (see perfbench/README.md). `latMsByKind`
  * holds the latencies of each request kind; every kind weighs the
  * same in `latency_iqm_ms`. */
object Universal {
  def apply(setupS: Double, throughput: Double, latMsByKind: Seq[Array[Double]])
      : Seq[(String, Double, String)] =
    Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", throughput, "1/s"),
      ("latency_iqm_ms", Stats.kindIqm(latMsByKind), "ms"))
}

/** `<op>_p50_ms` plus the rule's tail percentile, and `<op>_n`. */
object Percentiles {
  def apply(op: String, latMs: Array[Double]): Seq[(String, Double, String)] =
    Stats.report(latMs).map { case (p, v, _) => (s"${op}_${p}_ms", v, "ms") } :+
      ((s"${op}_n", latMs.length.toDouble, "count"))
}

object Main {
  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    if (args.contains("--self-test")) { SelfTest.run(); sys.exit(0) }
    if (args.contains("--list-metrics")) {
      Layers.all.foreach { case (n, u) => println(s"$n $u") }
      sys.exit(0)
    }
    val o = parse(args)
    val workload = o("workload")
    val trace = o.getOrElse("trace", "0") == "1"
    val work = new java.io.File(o("work")); work.mkdirs()
    val out = new java.io.File(o("out")); out.mkdirs()
    val ctx = Ctx(o("seed").toLong, o("seconds").toInt, new Tracer(trace), work, o("classpath"))
    Runtime.getRuntime.addShutdownHook(new Thread(() => ctx.stopAll()))
    val res =
      try workload match {
        case "ingest" => Ingest.run(ctx)
        case "dashboard" => Dashboard.run(ctx)
        case "analytics" => Analytics.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally ctx.stopAll()

    val counts = Seq(("ops", res.attempted.toDouble, "count"),
      ("ops_failed", res.failed.toDouble, "count")) ++ res.client.toSeq.flatMap(c => Seq(
      ("retries", c.retries.get.toDouble, "count"), ("status_4xx", c.status4xx.get.toDouble, "count"),
      ("status_5xx", c.status5xx.get.toDouble, "count"), ("connection_errors", c.connErrors.get.toDouble, "count")))
    val errors = res.client.toSeq.flatMap(_.errorsByRoute.asScala.toSeq.sortBy(_._1))
      .map { case (k, n) => k -> n.get.toString }
    println(Json.obj(Seq("workload" -> Json.str(workload), "seed" -> ctx.seed.toString,
      "trace" -> trace.toString, "checks" -> Json.arr(res.checks.map(Json.str)),
      "non_2xx" -> Json.obj(errors),
      "report" -> metricsJson(res.report ++ counts))))
    val e2eJson = metricsJson(res.e2e)
    val results = new java.io.File(out, "results"); results.mkdirs()
    val last = new java.io.File(results, s"$workload.json")
    if (trace) {
      res.client.foreach { c =>
        res.layers.put("sources.status_4xx", c.status4xx.get.toDouble)
        res.layers.put("sources.status_5xx", c.status5xx.get.toDouble)
        res.layers.put("sources.retries", c.retries.get.toDouble)
      }
      val dir = new java.io.File(out, s"trace/$workload-seed${ctx.seed}"); dir.mkdirs()
      ctx.tracer.write(new java.io.File(dir, "spans.jsonl"))
      val overhead = overheadJson(last, res.e2e)
      java.nio.file.Files.write(new java.io.File(dir, "overhead.json").toPath, overhead.getBytes("UTF-8"))
      println(Json.obj(Seq("spans" -> Json.str(new java.io.File(dir, "spans.jsonl").getPath),
        "span_count" -> ctx.tracer.all.size.toString,
        "tracing_overhead" -> overhead)))
    } else java.nio.file.Files.write(last.toPath, e2eJson.getBytes("UTF-8"))
    val metrics = if (trace) res.layers.metrics else res.e2e
    println(Json.obj(Seq(
      "correct" -> res.correct.toString,
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "metrics" -> metricsJson(metrics))))
    sys.exit(0)
  }

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    Json.obj(ms.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })

  /** Traced end-to-end values against the last untraced run of the same
    * workload: (traced − untraced) / untraced per metric. */
  private def overheadJson(untraced: java.io.File, traced: Seq[(String, Double, String)]): String = {
    val base: Map[String, Double] =
      if (!untraced.exists()) Map.empty
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(untraced)
        traced.map(_._1).filter(n => root.has(n)).map(n => n -> root.get(n).get("value").asDouble).toMap
      }
    Json.obj(traced.map { case (n, v, u) =>
      n -> Json.obj(Seq("traced" -> Json.num(v), "untraced" -> base.get(n).map(Json.num).getOrElse("null"),
        "share" -> base.get(n).filter(_ != 0).map(b => Json.num((v - b) / b)).getOrElse("null"),
        "unit" -> Json.str(u)))
    })
  }
}
