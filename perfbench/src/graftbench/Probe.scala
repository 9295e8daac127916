package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side counters fed by Spark's public listener APIs. One
  * instance per JVM; in a child engine the listeners are registered by
  * configuration (`spark.extraListeners` and friends) and a daemon
  * thread snapshots the state to `graftbench.probe.out` as JSON. */
object ProbeState {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val deserMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val planningMs = new AtomicLong
  /** Jobs by the serving route that started them (see [[opOf]]). */
  val jobsByOp = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  /** Busy intervals (epoch ms) of tasks and of query planning. */
  val busy = new ConcurrentLinkedQueue[(Long, Long)]()
  /** Streaming progress: (batch id, rows, durationMs by phase). */
  val progress = new ConcurrentLinkedQueue[(Long, Long, Map[String, Long])]()

  def opOf(details: String): String =
    if (details.contains("handleQueryRange")) "query_range"
    else if (details.contains("handleQuery")) "query"
    else if (details.contains("handleRead")) "read"
    else if (details.contains("StreamIngest") || details.contains("MicroBatchExecution")) "write"
    else "other"

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Persisted RDD count and their cached MB in the active session. */
  def storage: (Int, Double) =
    org.apache.spark.sql.SparkSession.getDefaultSession match {
      case Some(s) =>
        val infos = s.sparkContext.getRDDStorageInfo
        (infos.length, infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      case None => (0, 0.0)
    }

  def snapshotJson(): String = {
    val (persisted, cachedMb) = storage
    val ops = jobsByOp.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> v.get.toString }
    val prog = progress.asScala.toSeq.map { case (id, rows, d) =>
      Json.obj(Seq("batch" -> id.toString, "rows" -> rows.toString,
        "ms" -> Json.obj(d.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })))
    }
    Json.obj(Seq(
      "jobs" -> jobs.get.toString, "stages" -> stages.get.toString, "tasks" -> tasks.get.toString,
      "run_ms" -> runMs.get.toString, "cpu_ns" -> cpuNs.get.toString,
      "deser_ms" -> deserMs.get.toString, "shuffle_read" -> shuffleRead.get.toString,
      "shuffle_write" -> shuffleWrite.get.toString, "planning_ms" -> planningMs.get.toString,
      "gc_s" -> Json.num(gcSeconds), "persisted_rdds" -> persisted.toString,
      "cached_mb" -> Json.num(cachedMb), "jobs_by_op" -> Json.obj(ops),
      "busy" -> Json.arr(busy.asScala.toSeq.map { case (a, b) => s"[$a,$b]" }),
      "progress" -> Json.arr(prog)))
  }

  @volatile private var writer: Thread = _
  def ensureWriter(): Unit = synchronized {
    val out = System.getProperty("graftbench.probe.out")
    if (writer == null && out != null) {
      val t = new Thread(() => {
        val dst = java.nio.file.Paths.get(out)
        val tmp = java.nio.file.Paths.get(out + ".tmp")
        while (true) {
          try {
            java.nio.file.Files.write(tmp, snapshotJson().getBytes("UTF-8"))
            java.nio.file.Files.move(tmp, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          } catch { case _: Throwable => () }
          Thread.sleep(200)
        }
      }, "graftbench-probe-writer")
      t.setDaemon(true); t.start(); writer = t
    }
  }
}

class EngineProbe extends SparkListener {
  import ProbeState._
  ensureWriter()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val details = e.stageInfos.headOption.map(_.details).getOrElse("")
    jobsByOp.computeIfAbsent(opOf(details), _ => new AtomicLong).incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    busy.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      deserMs.addAndGet(m.executorDeserializeTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

class EngineQeProbe extends QueryExecutionListener {
  import ProbeState._
  ensureWriter()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    phases.foreach(p => busy.add((p.startTimeMs, p.endTimeMs)))
    planningMs.addAndGet(phases.map(_.durationMs).sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

class EngineStreamProbe extends StreamingQueryListener {
  import ProbeState._
  ensureWriter()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add((p.batchId, p.numInputRows,
      p.durationMs.asScala.toMap.map { case (k, v) => k -> v.longValue }))
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
