package graft

import graft.sources.RemoteWrite
import graft.streaming.StreamIngest
import graft.tsdb.ChunkStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** Streaming live-tier compaction ([[ChunkStore.compactBatches]] +
  * the sink's `compactEveryBatches` cadence): a seconds-trigger sink
  * must not accumulate one batch directory per trigger forever, and
  * folding committed batches must never break the replay idempotence
  * that batch-scoped directories exist for. */
class StreamCompactionSpec extends SparkSpec {
  import spark.implicits._

  private val t0us = 1704067200000000L // 2024-01-01 00:00 UTC, µs

  private def batchDf(ids: Range, tsBase: Long) =
    ids.map(i => (s"s$i", "click", i.toLong, tsBase + i * 1000000L, i * 1.0, i.toLong))
      .toDF("series_id", "event_type", "user_id", "ts_us", "value", "event_id")

  private def batchDirs(dir: String): Seq[String] =
    Option(new java.io.File(s"$dir/live").listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq

  private def parquetFilesPerChunk(dir: String): Map[String, Int] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$dir/live")).filter(_.getName.endsWith(".parquet"))
      .groupBy(_.getParentFile.getName).map { case (k, v) => k -> v.size }
  }

  test("compactBatches folds committed batches, keeps answers, bounds files") {
    val dir = Files.createTempDirectory("graft_bc").toString
    val store = new ChunkStore(spark, dir, filesPerChunkPerAppend = 2)
    (0L to 5L).foreach(b => store.appendBatch(batchDf(0 until 20, t0us + b * 60000000L), b))
    val before = store.live().select("series_id", "ts_us", "value")
      .as[(String, Long, Double)].collect().sorted.toSeq
    assert(batchDirs(dir).size == 6)

    // merge everything strictly below the current batch id (5): the
    // in-flight batch dir survives untouched for its potential replay
    store.compactBatches(5L)
    assert(batchDirs(dir) == Seq("batch=-5", "batch=5"))
    val after = store.live().select("series_id", "ts_us", "value")
      .as[(String, Long, Double)].collect().sorted.toSeq
    assert(after == before)
    // one consolidated dir + one live batch, each ≤ salts files/chunk
    parquetFilesPerChunk(dir).foreach { case (chunk, n) =>
      assert(n <= 4, s"$chunk has $n files (> 2 dirs × 2 salts)")
    }

    // a replay of the in-flight batch overwrites its own directory and
    // re-triggering the same horizon no-ops (single mergeable source)
    store.appendBatch(batchDf(0 until 20, t0us + 5 * 60000000L), 5L)
    store.compactBatches(5L)
    assert(batchDirs(dir) == Seq("batch=-5", "batch=5"))
    assert(store.live().count() == before.size.toLong)

    // the next horizon folds the previous consolidation output too
    (6L to 7L).foreach(b => store.appendBatch(batchDf(0 until 20, t0us + b * 60000000L), b))
    store.compactBatches(7L)
    assert(batchDirs(dir) == Seq("batch=-7", "batch=7"))
    assert(store.live().count() == 20L * 8)
  }

  test("interrupted batch-compact swap: reads refuse, re-run heals from staging") {
    val dir = Files.createTempDirectory("graft_bc_crash").toString
    val store = new ChunkStore(spark, dir, filesPerChunkPerAppend = 2)
    (0L to 3L).foreach(b => store.appendBatch(batchDf(0 until 10, t0us + b * 60000000L), b))
    val expect = store.live().select("series_id", "ts_us", "value")
      .as[(String, Long, Double)].collect().sorted.toSeq
    store.compactBatches(3L)
    assert(batchDirs(dir) == Seq("batch=-3", "batch=3"))

    // fabricate the worst crash window: the consolidated copy sits in
    // staging, the committed plan removes the sources and swaps in the
    // target, and the sources are already (partially) gone — exactly
    // the state between marker write and swap completion
    val swap = new StagedSwap(spark.sparkContext.hadoopConfiguration, dir, "batch_compact")
    new java.io.File(swap.begin()).mkdirs()
    assert(new java.io.File(s"$dir/live/batch=-3")
      .renameTo(new java.io.File(s"${swap.staging}/batch=-4")))
    swap.mark(Seq(StagedSwap.Remove("live/batch=-3"), StagedSwap.Swap("batch=-4", "live/batch=-4")))
    val e = intercept[IllegalArgumentException](store.live().count())
    assert(e.getMessage.contains("interrupted mid-swap"))

    // any compactBatches call completes the swap first
    store.compactBatches(99L)
    assert(!new java.io.File(s"$dir/_batch_compact_pending").exists())
    assert(batchDirs(dir) == Seq("batch=-4", "batch=3"))
    val healed = store.live().select("series_id", "ts_us", "value")
      .as[(String, Long, Double)].collect().sorted.toSeq
    assert(healed == expect)
  }

  test("remote-write sink cadence: batch dirs bounded over many micro-batches, store lossless") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir = Files.createTempDirectory("graft_bc_sink").toString
    val ckpt = Files.createTempDirectory("graft_bc_ckpt").toString
    val store = new ChunkStore(spark, storeDir, filesPerChunkPerAppend = 2)

    val input = MemoryStream[Array[Byte]]
    val q = StreamIngest.startStoreSink(input.toDF().toDF("payload"), store, ckpt,
      RemoteWrite.toEventSamples(_), compactEveryBatches = 3)
    val nBatches = 10
    (0 until nBatches).foreach { b =>
      input.addData(RemoteWrite.encode(Seq(
        (Map("event_type" -> "click", "user_id" -> b.toString),
          (0 until 5).map(i => (1704067200000L + b * 60000L + i * 1000L, i * 1.0))))))
      q.processAllAvailable()
    }
    q.stop()

    // 10 triggers, cadence 3: every dir except the tail fold + the
    // in-flight window is consolidated — far below one-dir-per-trigger
    val dirs = batchDirs(storeDir)
    assert(dirs.count(_.startsWith("batch=-")) == 1, s"dirs=$dirs")
    assert(dirs.size <= 5, s"dirs=$dirs (expected ≤ 1 consolidated + cadence tail)")
    assert(store.live().count() == nBatches * 5L)
  }
}
