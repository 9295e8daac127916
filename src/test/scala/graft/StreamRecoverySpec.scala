package graft

import graft.streaming.StreamIngest
import graft.tsdb.{ChunkStore, Series}
import java.nio.file.Files

/** Crash-recovery drill for the streaming chunk sink — the Spark
  * equivalence of the reference's WAL replay on open (src/wal/mod.rs,
  * db.rs read_existing_chunk): stop the query mid-stream, restart
  * from the checkpoint, and require the store to equal a one-shot
  * batch write — no sample lost, none duplicated. */
class StreamRecoverySpec extends SparkSpec {
  import spark.implicits._

  test("restart-from-checkpoint == one-shot batch write (WAL replay equivalence)") {
    val srcDir = Files.createTempDirectory("graft_rec_src").toString
    val storeDir = Files.createTempDirectory("graft_rec_store").toString
    val ckpt = Files.createTempDirectory("graft_rec_ckpt").toString
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val schema = events.schema

    // stage the stream as 4 parquet files: 2 delivered in the first
    // life of the query, 2 after the restart
    val staged = Files.createTempDirectory("graft_rec_staged").toString
    events.repartition(4).write.mode("overwrite").parquet(staged)
    val files = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length >= 2)
    def deliver(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(srcDir, f.getName))
    }
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val store = new ChunkStore(spark, storeDir)
      val q = StreamIngest.startStoreSink(stream, store, ckpt)
      q.processAllAvailable()
      q.stop()
    }

    deliver(files.take(2).toSeq); run() // first life, then stop mid-stream
    deliver(files.drop(2).toSeq); run() // second life resumes the checkpoint

    val store = new ChunkStore(spark, storeDir)
    val got = store.live().select("series_id", "ts_us", "value")
      .as[(String, Long, Double)].collect().sorted.toSeq
    val expect = Series.samples(events)
      .select("series_id", "ts_us", "value")
      .as[(String, Long, Double)].collect().sorted.toSeq
    assert(got.size == expect.size, s"${got.size} vs ${expect.size}")
    assert(got == expect)
  }

  test("appendBatch replay is idempotent (at-least-once -> exactly-once)") {
    val dir = Files.createTempDirectory("graft_rec_idem").toString
    val store = new ChunkStore(spark, dir)
    val s = Seq(
      ("sA", "click", 1L, 1704067200000001L, 1.0, 1L),
      ("sB", "click", 2L, 1704070800000001L, 2.0, 2L))
      .toDF("series_id", "event_type", "user_id", "ts_us", "value", "event_id")
    store.appendBatch(s, 3L)
    val n1 = store.live().count()
    // a crash between sink write and offset commit replays the SAME
    // batch id with the same rows — the overwrite must not duplicate
    store.appendBatch(s, 3L)
    assert(store.live().count() == n1)
    assert(n1 == 2L)
  }
}
