package graft

import graft.streaming.StreamIngest
import graft.streaming.StreamIngest.{SessionEvent, SessionOut}
import graft.tsdb.{ChunkStore, MatchEq}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

class StreamSessionSpec extends SparkSpec {
  import spark.implicits._

  test("flatMapGroupsWithState closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val out = StreamIngest.sessionizeStream(input.toDS(), gapUs = 1000000L) // 1s gap
    val q = out.writeStream.format("memory").queryName("sessions").outputMode("append").start()

    val us = 1704067200000000L
    // user 1: two bursts 10s apart → first session closes when the
    // second burst arrives in a later batch
    input.addData(SessionEvent(1L, us, 1.0), SessionEvent(1L, us + 500000, 2.0))
    q.processAllAvailable()
    input.addData(SessionEvent(1L, us + 10000000, 4.0))
    q.processAllAvailable()

    val rows = spark.table("sessions").as[SessionOut].collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows.head == SessionOut(1L, us, us + 500000, 2, 3.0))
  }

  test("sentinel flush closes every real session; sums are cents-exact (batch decimal parity)") {
    implicit val sqlCtx = spark.sqlContext
    val gap = 1000000L // 1s
    val us = 1704067200000000L
    val input = MemoryStream[SessionEvent]
    val out = StreamIngest.sessionizeStream(input.toDS(), gap)
    val q = out.writeStream.format("memory").queryName("flush_sessions")
      .outputMode("append").start()

    // user 1: two sessions; user 2: two sessions, one with a value
    // that rounds AWAY (0.004 → 0 cents) — the DECIMAL(28,2) HALF_UP
    // contract the batch oracle applies per value
    input.addData(
      SessionEvent(1L, us, 1.005), SessionEvent(1L, us + 300000, 2.115),
      SessionEvent(2L, us + 100, 9.99))
    q.processAllAvailable()
    input.addData(
      SessionEvent(1L, us + 5000000, 0.5),
      SessionEvent(2L, us + 2000000, 0.004), SessionEvent(2L, us + 2100000, 1.0))
    q.processAllAvailable()
    // SENTINEL FLUSH: one virtual event per user a full gap past the
    // user's horizon — closes every open real session; the sentinel's
    // own session stays in state, never emitted
    input.addData(
      SessionEvent(1L, us + 5000000 + gap + 1, 0.0),
      SessionEvent(2L, us + 2100000 + gap + 1, 0.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("flush_sessions").as[SessionOut].collect()
      .sortBy(r => (r.user_id, r.start_us)).toSeq
    assert(got == Seq(
      SessionOut(1L, us, us + 300000, 2, 3.13), // 1.005→1.01, 2.115→2.12 (HALF_UP on the shortest repr)
      SessionOut(1L, us + 5000000, us + 5000000, 1, 0.5),
      SessionOut(2L, us + 100, us + 100, 1, 9.99),
      SessionOut(2L, us + 2000000, us + 2100000, 2, 1.0)), // 0.004 → 0.00 cents
      s"got $got")
  }

  test("streaming chunk sink lands batches in hour partitions") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_stream_chunks").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val store = new ChunkStore(spark, dir)

    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamIngest.startStoreSink(events, store, ckpt)

    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:15:00")
    input.addData((1L, ts(0), 1L, "click", 1.0), (2L, ts(1), 1L, "click", 2.0))
    q.processAllAvailable()
    input.addData((3L, ts(1), 2L, "view", 3.0))
    q.processAllAvailable()
    q.stop()

    assert(store.live().count() == 3)
    assert(store.live().select("chunk").distinct().count() == 2)
    val r = store.query(Seq(MatchEq("event_type", "click")),
      1704067200000000L, 1704067200000000L + 2L * 3600 * 1000000)
    assert(r.count() == 2)
  }
}
