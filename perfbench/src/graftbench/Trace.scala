package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed span. `parent` is 0 for a root; spans of one request share
  * `request`. Times are System.nanoTime values. */
final case class Span(id: Long, parent: Long, request: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder; spans are written out once, at the end. A
  * disabled tracer still runs the body but records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val requests = new AtomicLong

  def newRequest(): Long = requests.incrementAndGet()

  /** Time `f`, passing it this span's id so children can name it as parent. */
  def span[T](name: String, request: Long, parent: Long = 0L)(f: Long => T): T = {
    val id = if (enabled) ids.incrementAndGet() else 0L
    val t0 = System.nanoTime()
    try f(id)
    finally if (enabled) spans.add(Span(id, parent, request, name, t0, System.nanoTime()))
  }

  /** A root span timed by the caller (a client call's own clock). */
  def record(name: String, request: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, request, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of every span: its duration minus the union of the time
    * its children cover. */
  def selfMs: Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> ((s.endNs - s.startNs - covered) / 1e6)
    }.toMap
  }

  def write(file: java.io.File): Unit = {
    val self = selfMs
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "request" -> s.request.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_ms" -> Json.num(self(s.id)))))
    } finally w.close()
  }

  /** Total length covered by possibly-overlapping intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = Tracer.union(iv)
}

object Tracer {
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** The per-layer metric catalogue. A traced run reports every entry;
  * an entry whose layer the workload does not exercise reads 0. */
object Layers {
  val EntryFamilies: Seq[String] =
    Seq("ann", "corpus", "dedup", "doc", "dq", "emb", "events", "graph",
      "multimodal", "promql", "tpch", "ts", "other")

  val all: Seq[(String, String)] = Seq(
    "sources.write_decode_us" -> "us",
    "sources.write_bytes_per_sample" -> "bytes",
    "sources.read_serve_ms" -> "ms",
    "sources.read_response_bytes" -> "bytes",
    "sources.route_ms.write" -> "ms",
    "sources.route_ms.read" -> "ms",
    "sources.route_ms.query" -> "ms",
    "sources.route_ms.query_range" -> "ms",
    "sources.status_4xx" -> "count",
    "sources.status_5xx" -> "count",
    "sources.retries" -> "count",
    "streaming.batches" -> "count",
    "streaming.rows_per_batch" -> "rows",
    "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.busy_share" -> "share",
    "streaming.spool_backlog_max" -> "files",
    "streaming.spool_oldest_ms" -> "ms",
    "tsdb.append_batch_ms" -> "ms",
    "tsdb.append_direct_ms" -> "ms",
    "tsdb.compact_batches_ms" -> "ms",
    "tsdb.close_ms" -> "ms",
    "tsdb.catalog_cold_ms" -> "ms",
    "tsdb.catalog_warm_ms" -> "ms",
    "tsdb.query_all_ms" -> "ms",
    "tsdb.live_files" -> "files",
    "tsdb.bytes_live" -> "bytes",
    "tsdb.bytes_closed" -> "bytes",
    "tsdb.bytes_catalog" -> "bytes",
    "tsdb.gorilla_encode_ns_per_point" -> "ns",
    "tsdb.gorilla_decode_ns_per_point" -> "ns",
    "tsdb.gorilla_bytes_per_point" -> "bytes",
    "promql.parse_us" -> "us",
    "promql.plan_ms" -> "ms",
    "promql.exec_ms" -> "ms",
    "promql.result_rows" -> "rows",
  ) ++ EntryFamilies.flatMap(f => Seq(s"entry.${f}_s" -> "s", s"entry.${f}_jobs" -> "count")) ++ Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.tasks_per_stage" -> "count",
    "spark.jobs_per_op.write" -> "count",
    "spark.jobs_per_op.read" -> "count",
    "spark.jobs_per_op.query" -> "count",
    "spark.jobs_per_op.query_range" -> "count",
    "spark.jobs_per_op.analytics" -> "count",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.deserialize_s" -> "s",
    "spark.planning_s" -> "s",
    "spark.driver_s" -> "s",
    "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB",
    "spark.persisted_rdds" -> "count",
    "spark.cached_mb" -> "MB",
    "jvm.gc_s" -> "s",
  )

  def unit(name: String): String = all.find(_._1 == name).map(_._2).getOrElse(
    throw new IllegalArgumentException(s"unknown per-layer metric $name"))
}

/** Per-layer values collected by a traced run. */
final class LayerSink {
  private val values = mutable.LinkedHashMap.empty[String, Double]
  def put(name: String, v: Double): Unit = { Layers.unit(name); values(name) = v }
  def median(name: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) put(name, Stats.median(xs))
  def get(name: String): Option[Double] = values.get(name)
  def metrics: Seq[(String, Double, String)] =
    Layers.all.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
}
