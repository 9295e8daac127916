package graft

import graft.streaming.StreamIngest
import graft.streaming.StreamIngest.SessionOut
import graft.tsdb.ChunkStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

class StreamTimeoutSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("event-time timeout closes a forever-quiet session via watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
    val out = StreamIngest.sessionizeStreamEventTime(events,
      gapUs = 60L * 1000000, delay = "10 seconds") // 1-min gap, 10s watermark
    val q = out.writeStream.format("memory").queryName("et_sessions")
      .outputMode("append").start()

    // user 1 speaks once, then goes silent forever
    input.addData((1L, ts("2024-01-01 00:00:00"), 1.0))
    q.processAllAvailable()
    assert(spark.table("et_sessions").count() == 0) // still open

    // OTHER users' events push the watermark past 00:01:00 + gap
    input.addData((2L, ts("2024-01-01 00:10:00"), 5.0))
    q.processAllAvailable()
    input.addData((2L, ts("2024-01-01 00:10:01"), 5.0)) // extra batch: timeout fires on the NEXT trigger
    q.processAllAvailable()

    val rows = spark.table("et_sessions").as[SessionOut].collect()
    q.stop()
    val u1 = rows.filter(_.user_id == 1L)
    assert(u1.length == 1) // closed by timeout, no user-1 event needed
    assert(u1.head.n_events == 1 && u1.head.sum_value == 1.0)
  }

  test("out-of-order event within the watermark merges without regressing the span") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
    val out = StreamIngest.sessionizeStreamEventTime(events,
      gapUs = 60L * 1000000, delay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("ooo_sessions")
      .outputMode("append").start()

    input.addData((1L, ts("2024-01-01 00:05:00"), 1.0))
    q.processAllAvailable()
    // a LATER batch delivers an EARLIER event (inside the watermark
    // delay, inside the gap): it must extend the session backwards —
    // an end_us overwrite would shrink the span and fire the timeout
    // early with a wrong end
    input.addData((1L, ts("2024-01-01 00:04:40"), 2.0))
    q.processAllAvailable()
    // advance the watermark far past end+gap, then one more trigger
    input.addData((2L, ts("2024-01-01 00:30:00"), 9.0))
    q.processAllAvailable()
    input.addData((2L, ts("2024-01-01 00:30:01"), 9.0))
    q.processAllAvailable()

    val u1 = spark.table("ooo_sessions").as[SessionOut].collect()
      .filter(_.user_id == 1L)
    q.stop()
    assert(u1.length == 1)
    val s = u1.head
    assert(s.n_events == 2 && s.sum_value == 3.0)
    assert(s.start_us == ts("2024-01-01 00:04:40").getTime * 1000)
    assert(s.end_us == ts("2024-01-01 00:05:00").getTime * 1000, "span regressed")
  }

  test("a straggler a full gap BEFORE the session becomes its own session, not a merge") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
    val out = StreamIngest.sessionizeStreamEventTime(events,
      gapUs = 60L * 1000000, delay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("straggler_sessions")
      .outputMode("append").start()

    input.addData((1L, ts("2024-01-01 00:09:00"), 1.0))
    q.processAllAvailable()
    // 8 minutes before the session start with a 60s gap: merging it
    // would stretch one session across a silence the gap rule forbids
    input.addData((1L, ts("2024-01-01 00:01:00"), 2.0))
    q.processAllAvailable()
    input.addData((2L, ts("2024-01-01 00:40:00"), 9.0))
    q.processAllAvailable()
    input.addData((2L, ts("2024-01-01 00:40:01"), 9.0))
    q.processAllAvailable()

    val u1 = spark.table("straggler_sessions").as[SessionOut].collect()
      .filter(_.user_id == 1L).sortBy(_.start_us)
    q.stop()
    assert(u1.length == 2, s"expected 2 sessions, got ${u1.toSeq}")
    assert(u1(0).start_us == ts("2024-01-01 00:01:00").getTime * 1000 && u1(0).n_events == 1)
    assert(u1(1).start_us == ts("2024-01-01 00:09:00").getTime * 1000 && u1(1).n_events == 1)
  }

  test("streaming dedup emits first arrival only, within the watermark window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val out = StreamIngest.dedupStream(docs, delay = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()

    input.addData((1L, ts("2024-01-01 00:00:00"), "the same text"),
      (2L, ts("2024-01-01 00:00:01"), "different text"))
    q.processAllAvailable()
    input.addData((3L, ts("2024-01-01 00:10:00"), "the same text")) // dup, later batch
    q.processAllAvailable()
    // duplicates arriving in the SAME micro-batch are also collapsed
    input.addData((4L, ts("2024-01-01 00:20:00"), "batch twin"),
      (5L, ts("2024-01-01 00:20:01"), "batch twin"))
    q.processAllAvailable()
    val rows = spark.table("dedup_stream").select("doc_id").as[Long].collect().toSet
    q.stop()
    assert(rows.contains(2L))
    assert(rows.intersect(Set(1L, 3L)).size == 1) // "the same text" emitted exactly once
    assert(rows.intersect(Set(4L, 5L)).size == 1) // same-batch dup collapsed too
  }

  test("stream-static join: streaming events enrich against a static dimension") {
    implicit val sqlCtx = spark.sqlContext
    val userDim = Seq((1L, "gold"), (2L, "free")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "value")
    // static side broadcast per micro-batch — no state, no watermark needed
    val enriched = events.join(userDim, "user_id")
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    input.addData((1L, ts("2024-01-01 00:00:00"), 1L, 5.0),
      (2L, ts("2024-01-01 00:00:01"), 2L, 6.0),
      (3L, ts("2024-01-01 00:00:02"), 9L, 7.0)) // no dim row → dropped (inner)
    q.processAllAvailable()
    val rows = spark.table("enriched").select("event_id", "tier")
      .as[(Long, String)].collect().toSet
    q.stop()
    assert(rows == Set((1L, "gold"), (2L, "free")))
  }

  test("compacting chunk sink closes old chunks as event time advances") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_compact_chunks").toString
    val ckpt = Files.createTempDirectory("graft_compact_ckpt").toString
    val store = new ChunkStore(spark, dir)

    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamIngest.startStoreSink(events, store, ckpt,
      closeLagUs = Some(2L * 3600 * 1000000))

    def t(h: Int, m: Int = 15) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    input.addData((1L, t(0), 1L, "click", 1.0), (2L, t(1), 1L, "click", 2.0))
    q.processAllAvailable() // max ts 01:15, lag 2h → nothing closes
    assert(!new java.io.File(s"$dir/closed").exists())

    input.addData((3L, t(4), 2L, "view", 3.0)) // max ts 04:15 → chunks 0,1 close
    q.processAllAvailable()
    input.addData((4L, t(5), 2L, "view", 4.0)) // idempotent second pass
    q.processAllAvailable()
    q.stop()

    val closed = spark.read.parquet(s"$dir/closed")
      .select("chunk").distinct().as[Long].collect().sorted.toSeq
    assert(closed == Seq(473352L, 473353L)) // 2024-01-01 00:xx and 01:xx hours
    // both closed chunks decode back; federation sees every sample once
    val all = store.queryAll(Seq.empty, 0L, Long.MaxValue / 2)
    assert(all.count() == 4)
  }

  test("compacting sink with retention ages closed chunks out as data progresses") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_compact_ret").toString
    val ckpt = Files.createTempDirectory("graft_compact_ret_ckpt").toString
    val store = new ChunkStore(spark, dir)

    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamIngest.startStoreSink(events, store, ckpt,
      closeLagUs = Some(2L * 3600 * 1000000), retentionUs = 5L * 3600 * 1000000)

    def t(h: Int, m: Int = 15) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    input.addData((1L, t(0), 1L, "click", 1.0), (2L, t(1), 1L, "click", 2.0))
    q.processAllAvailable() // nothing closes or retires yet
    input.addData((3L, t(4), 2L, "view", 3.0)) // closes chunks 0,1
    q.processAllAvailable()
    input.addData((4L, t(7), 2L, "view", 4.0)) // horizon 02:15 → hours 0 AND 1
    q.processAllAvailable()                    // end below it and retire
    q.stop()

    val all = store.queryAll(Seq.empty, 0L, Long.MaxValue / 2)
      .select("value").as[Double].collect().toSet
    assert(all == Set(3.0, 4.0), s"got $all") // hour-0/1 events aged out
    assert(!new java.io.File(s"$dir/closed/chunk=473352").exists())
    assert(!new java.io.File(s"$dir/closed/chunk=473353").exists())
  }
}
