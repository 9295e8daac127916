package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.promql.PromQL
import graft.streaming.StreamIngest
import graft.tsdb.ChunkStore

/** The continuous PromQL rule evaluator (the store sink's
  * [[StreamIngest.ruleRefresh]] hook): per-batch
  * data-progress evaluation over the step grid, per-instant partition
  * overwrites. Must equal the one-shot batch [[PromQL.alertRule]] on
  * the union of all batches — including runs that span batch
  * boundaries and instants refreshed by late data. */
class StreamRuleSpec extends SparkSpec {
  import spark.implicits._

  private val hu = 3600000000L
  private val t0 = 1704067200000000L // 2024-01-01 (store guard: ts > 0)

  test("continuous rule evaluation == batch alertRule; late data refreshes its instants") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")

    val storeDir = java.nio.file.Files.createTempDirectory("graft_rule_store").toString
    val alertsDir = java.nio.file.Files.createTempDirectory("graft_rule_alerts").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rule_ckpt").toString
    val store = new ChunkStore(spark, storeDir, chunkMs = 86400000L)

    // rule: >1 click per 30m window, FOR 2h, hourly grid (the
    // PromqlSpec alert shape, now arriving incrementally)
    val query = """sum by (event_type) (count_over_time(click[30m])) > 1"""
    val sink = StreamIngest.startStoreSink(events, store, ckpt,
      onProgress = Some(StreamIngest.ruleRefresh(store, query, 2L * hu, hu, alertsDir)))

    def ns(hour: Long) = (t0 + hour * hu) * 1000L
    def addHour(eidBase: Long, hour: Long, n: Int): Unit =
      input.addData((0 until n).map(i =>
        (eidBase + i, ns(hour), (i + 1).toLong, "click", 1.0)): _*)

    try {
      // batch 1: hours 1-2 active (2 clicks each)
      addHour(100L, 1L, 2); addHour(200L, 2L, 2)
      sink.processAllAvailable()
      // batch 2: hours 3-4 active — the run crosses the batch
      // boundary and must FIRE at hour 3 (active since hour 1)
      addHour(300L, 3L, 2); addHour(400L, 4L, 2)
      sink.processAllAvailable()
      // batch 3: hour 5 INACTIVE (1 click), hours 6-7 active again
      addHour(500L, 5L, 1); addHour(600L, 6L, 2); addHour(700L, 7L, 2)
      sink.processAllAvailable()

      val streamed = spark.read.parquet(alertsDir)
        .select(col("ts_us").cast("long"), col("state"), col("active_since_us"))
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      // one-shot batch evaluation over the SAME total data
      val all = (Seq(1L, 2L, 3L, 4L, 6L, 7L).flatMap(h =>
        (0 until 2).map(i => (h * 100L + i, ns(h), (i + 1).toLong, "click", 1.0))) :+
        ((550L, ns(5L), 1L, "click", 1.0)))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = PromQL.alertRule(all, query, 2L * hu,
        t0 + 1L * hu, t0 + 7L * hu, hu)
        .select(col("ts_us"), col("state"), col("active_since_us"))
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      assert(streamed == batch, s"\nstreamed=$streamed\nbatch=$batch")
      // shape sanity: run 1 fires from hour 3, run 2 (hours 6-7) is
      // pending only, hour 5 absent
      assert(streamed.map(r => (r._1 - t0) / hu -> r._2) == Seq(
        1L -> "pending", 2L -> "pending", 3L -> "firing", 4L -> "firing",
        6L -> "pending", 7L -> "pending"))

      // LATE DATA: a second hour-5 click arrives — hour 5 becomes
      // active retroactively, and the refresh range (its window +
      // FOR reach) rewrites hours 5..7 against the now-complete
      // store: the two runs heal into one and the WHOLE table equals
      // the one-shot batch evaluation of the complete data
      input.addData((560L, ns(5L), 2L, "click", 1.0))
      sink.processAllAvailable()
      val healed = spark.read.parquet(alertsDir)
        .select(col("ts_us").cast("long"), col("state"), col("active_since_us"))
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      val healedBatch = PromQL.alertRule(
        all.union(Seq((560L, ns(5L), 2L, "click", 1.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")),
        query, 2L * hu, t0 + 1L * hu, t0 + 7L * hu, hu)
        .select(col("ts_us"), col("state"), col("active_since_us"))
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      // STATE equals the batch answer everywhere (the exactness
      // contract); active_since may clip LATER for runs older than a
      // refresh batch's evaluated grid (the documented trade) but
      // never earlier, and never past its own instant
      assert(healed.map(r => (r._1, r._2)) == healedBatch.map(r => (r._1, r._2)),
        s"\nhealed=$healed\nbatch=$healedBatch")
      healed.zip(healedBatch).foreach { case ((ts, _, since), (_, _, bSince)) =>
        assert(since >= bSince && since <= ts, s"active_since $since vs batch $bSince at $ts")
      }
      assert(healed.map(r => (r._1 - t0) / hu -> r._2) == Seq(
        1L -> "pending", 2L -> "pending", 3L -> "firing", 4L -> "firing",
        5L -> "firing", 6L -> "firing", 7L -> "firing"))
    } finally sink.stop()
  }

  private def clicks(hour: Long, n: Int) =
    (0 until n).map(i => (hour * 100L + i, (t0 + hour * hu) * 1000L, (i + 1).toLong, "click", 1.0))

  test("one sink runs rule evaluation, chunk close and batch compaction together") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val storeDir = java.nio.file.Files.createTempDirectory("graft_rule_all_store").toString
    val alertsDir = java.nio.file.Files.createTempDirectory("graft_rule_all_alerts").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rule_all_ckpt").toString
    val store = new ChunkStore(spark, storeDir) // hourly chunks
    val query = """sum by (event_type) (count_over_time(click[30m])) > 1"""
    val sink = StreamIngest.startStoreSink(events, store, ckpt,
      compactEveryBatches = 3, closeLagUs = Some(2L * hu),
      onProgress = Some(StreamIngest.ruleRefresh(store, query, 2L * hu, hu, alertsDir)))
    // one batch per hour (ids 0-6); hour 5 has a single click, so the
    // alert runs are hours 1-4 and 6-7
    val batches = (1L to 7L).map(h => clicks(h, if (h == 5L) 1 else 2))
    try batches.foreach { b => input.addData(b: _*); sink.processAllAvailable() }
    finally sink.stop()

    val streamed = spark.read.parquet(alertsDir)
      .select(col("ts_us").cast("long"), col("state"), col("active_since_us"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val oneShot = PromQL.alertRule(
      batches.flatten.toDF("event_id", "ts", "user_id", "event_type", "value"),
      query, 2L * hu, t0 + 1L * hu, t0 + 7L * hu, hu)
      .select(col("ts_us"), col("state"), col("active_since_us"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == oneShot, s"\nstreamed=$streamed\noneShot=$oneShot")
    assert(streamed.map(_._2).contains("firing"))
    // the last batch's max is t0+7h: with a 2h lag the chunks of hours
    // 1-4 (ids 473353-473356) end at or below t0+5h and are closed
    val closed = new java.io.File(s"$storeDir/closed").list()
      .filter(_.startsWith("chunk=")).sorted.toSeq
    assert(closed == (473353L to 473356L).map(c => s"chunk=$c"), closed)
    // compaction at batch 6 folded batches 0-5 (and batch 3's fold of
    // 0-2); only batch 6, the one that could still replay, stays apart
    val batchDirs = new java.io.File(s"$storeDir/live").list()
      .filter(_.startsWith("batch=")).sorted.toSeq
    assert(batchDirs == Seq("batch=-6", "batch=6"), batchDirs)
    assert(store.queryAll(Seq.empty, 0L, Long.MaxValue / 2).count() == 13L)
  }

  test("a batch that fails after its append releases the persisted samples") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val storeDir = java.nio.file.Files.createTempDirectory("graft_rule_fail_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rule_fail_ckpt").toString
    // a regular file where the alerts table belongs: the rule write
    // fails after the append and the [min, max] probe have run
    val alertsFile = java.nio.file.Files.createTempFile("graft_rule_fail_alerts", "").toString
    val store = new ChunkStore(spark, storeDir, chunkMs = 86400000L)
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val sink = StreamIngest.startStoreSink(events, store, ckpt,
      onProgress = Some(StreamIngest.ruleRefresh(store,
        """count_over_time(click[30m]) > 0""", hu, hu, alertsFile)))
    try {
      input.addData(clicks(1L, 2): _*)
      intercept[StreamingQueryException](sink.processAllAvailable())
      assert(store.live().count() == 2L)
      assert(cache.isEmpty, "the failed batch left a cached relation behind")
    } finally sink.stop()
  }
}
