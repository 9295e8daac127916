package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** A parsed [[ProbeState]] snapshot, read from the engine's probe file
  * (child engine) or taken in-process (analytics). */
final case class ProbeSnap(root: JsonNode) {
  def long(k: String): Long = root.path(k).asLong(0L)
  def dbl(k: String): Double = root.path(k).asDouble(0.0)
  def jobsByOp(op: String): Long = root.path("jobs_by_op").path(op).asLong(0L)
  def busy: Seq[(Long, Long)] =
    root.path("busy").elements().asScala.map(a => (a.get(0).asLong, a.get(1).asLong)).toSeq
  /** (batch id, rows, phase → ms) of every reported streaming batch. */
  def progress: Seq[(Long, Long, Map[String, Long])] =
    root.path("progress").elements().asScala.map { p =>
      (p.path("batch").asLong, p.path("rows").asLong,
        p.path("ms").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap)
    }.toSeq
}

object ProbeSnap {
  private val mapper = new ObjectMapper()
  def parse(json: String): ProbeSnap = ProbeSnap(mapper.readTree(json))
  def inProcess(): ProbeSnap = parse(ProbeState.snapshotJson())

  /** Wait for the engine's probe file, then return a snapshot taken after
    * `afterMs` (epoch ms) so every event up to that instant is in it. */
  def read(file: java.io.File, afterMs: Long): ProbeSnap = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      (!file.exists() || file.lastModified() < afterMs + 250)) Thread.sleep(50)
    parse(new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8"))
  }

  /** The `spark.*` and `jvm.*` per-layer metrics over [t0Ms, t1Ms]. */
  def sparkLayer(sink: LayerSink, a: ProbeSnap, b: ProbeSnap, t0Ms: Long, t1Ms: Long,
                 opsByType: Map[String, Long]): Unit = {
    def d(k: String) = (b.long(k) - a.long(k)).toDouble
    val stages = d("stages")
    sink.put("spark.jobs", d("jobs"))
    sink.put("spark.stages", stages)
    sink.put("spark.tasks", d("tasks"))
    sink.put("spark.tasks_per_stage", if (stages > 0) d("tasks") / stages else 0.0)
    opsByType.foreach { case (op, n) =>
      val jobs = if (op == "analytics") d("jobs") else (b.jobsByOp(op) - a.jobsByOp(op)).toDouble
      if (n > 0) sink.put(s"spark.jobs_per_op.$op", jobs / n)
    }
    sink.put("spark.executor_run_s", d("run_ms") / 1000.0)
    sink.put("spark.executor_cpu_s", d("cpu_ns") / 1e9)
    sink.put("spark.deserialize_s", d("deser_ms") / 1000.0)
    sink.put("spark.planning_s", d("planning_ms") / 1000.0)
    val clipped = b.busy.map { case (s, e) => (math.max(s, t0Ms), math.min(e, t1Ms)) }
    sink.put("spark.driver_s", ((t1Ms - t0Ms) - Tracer.union(clipped)) / 1000.0)
    sink.put("spark.shuffle_read_mb", d("shuffle_read") / 1048576.0)
    sink.put("spark.shuffle_write_mb", d("shuffle_write") / 1048576.0)
    sink.put("spark.persisted_rdds", b.dbl("persisted_rdds"))
    sink.put("spark.cached_mb", b.dbl("cached_mb"))
    sink.put("jvm.gc_s", b.dbl("gc_s") - a.dbl("gc_s"))
  }

  /** The `streaming.*` metrics from the batches that ran after `a`. */
  def streamingLayer(sink: LayerSink, a: ProbeSnap, b: ProbeSnap, wallMs: Double): Unit = {
    val seen = a.progress.map(_._1).toSet
    val batches = b.progress.filter { case (id, rows, _) => !seen(id) && rows > 0 }
    sink.put("streaming.batches", batches.size.toDouble)
    if (batches.nonEmpty) {
      def phase(k: String) = batches.map(_._3.getOrElse(k, 0L).toDouble)
      sink.put("streaming.rows_per_batch", Stats.median(batches.map(_._2.toDouble)))
      sink.median("streaming.trigger_ms", phase("triggerExecution"))
      sink.median("streaming.add_batch_ms", phase("addBatch"))
      sink.median("streaming.get_batch_ms", phase("getBatch"))
      sink.median("streaming.latest_offset_ms", phase("latestOffset"))
      sink.median("streaming.planning_ms", phase("queryPlanning"))
      sink.median("streaming.wal_commit_ms", phase("walCommit"))
      sink.put("streaming.busy_share", phase("triggerExecution").sum / wallMs)
    }
  }
}

/** Sizes under a store directory, by tier. */
object StoreFiles {
  def walk(dir: java.io.File): Seq[java.io.File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).toSeq.flatten.flatMap(walk)

  def bytes(dir: java.io.File): Long = walk(dir).map(_.length).sum

  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    walk(dir).filter(f => f.getName.endsWith(".parquet"))

  def tsdbLayer(sink: LayerSink, store: java.io.File): Unit = {
    sink.put("tsdb.live_files", dataFiles(new java.io.File(store, "live")).size.toDouble)
    sink.put("tsdb.bytes_live", bytes(new java.io.File(store, "live")).toDouble)
    sink.put("tsdb.bytes_closed", bytes(new java.io.File(store, "closed")).toDouble)
    sink.put("tsdb.bytes_catalog", bytes(new java.io.File(store, "closed_catalog")).toDouble)
  }

  /** Spool backlog: (file count, age in ms of the oldest file). */
  def spool(dir: java.io.File): (Int, Long) = {
    val fs = Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".bin"))
    if (fs.isEmpty) (0, 0L)
    else (fs.size, System.currentTimeMillis() - fs.map(_.lastModified).min)
  }
}
