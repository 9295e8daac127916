package graft

import graft.tsdb._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import java.nio.file.Files

class ChunkStoreSpec extends SparkSpec {
  import spark.implicits._

  /** The `chunk=<c>` directories under every `live/batch=<id>` of the store at `dir`. */
  private def liveChunkDirs(dir: String, chunk: Long): Seq[java.io.File] =
    Option(new java.io.File(s"$dir/live").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("batch="))
      .map(new java.io.File(_, s"chunk=$chunk")).filter(_.exists())

  private def swapAt(dir: String, name: String) =
    new StagedSwap(spark.sparkContext.hadoopConfiguration, dir, name)

  /** An interrupted delete (or backfill) swap: the closed partition of
    * chunk `c` moved into the delete staging and its swap committed but
    * not yet run — the state after a crash mid-rename. */
  private def interruptDeleteSwap(dir: String, c: Long): Unit = {
    val swap = swapAt(dir, "delete")
    val staged = new java.io.File(s"${swap.begin()}/closed/chunk=$c")
    staged.getParentFile.mkdirs()
    assert(new java.io.File(s"$dir/closed/chunk=$c").renameTo(staged))
    swap.mark(Seq(StagedSwap.Swap(s"closed/chunk=$c", s"closed/chunk=$c")))
  }

  test("append → query prunes partitions and trims range; close → gorilla readback") {
    val dir = Files.createTempDirectory("graft_chunks").toString
    val store = new ChunkStore(spark, dir)
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val samples = Series.samples(events)
    store.append(samples)

    // chunk column materialized as partition dirs
    val chunks = store.live().select("chunk").distinct().count()
    assert(chunks > 100) // a month of hourly chunks

    val t1 = 1704412800000000L
    val t2 = 1704499200000000L // one day
    val got = store.query(Seq(MatchEq("event_type", "purchase")), t1, t2)
    val expect = samples.filter($"event_type" === "purchase" &&
      $"ts_us" >= t1 && $"ts_us" <= t2).count()
    assert(got.count() == expect && expect > 0)

    // partition pruning visible in the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("chunk"), plan.take(500))

    // close one chunk and read it back losslessly — snapshot the raw
    // rows FIRST: compaction completes by deleting them from live
    val someChunk = store.live().select("chunk").distinct().as[Long].head()
    val b = store.live().filter($"chunk" === someChunk)
      .orderBy("series_id", "ts_us").select("series_id", "ts_us", "value")
      .as[(String, Long, Double)].collect().toSeq
    store.closeChunk(someChunk)
    val a = store.readClosed(someChunk)
      .orderBy("series_id", "ts_us").select("series_id", "ts_us", "value")
      .as[(String, Long, Double)].collect().toSeq
    assert(a == b && a.nonEmpty)
    // the raw copy is GONE (no raw+compressed double storage), and
    // the federated query still serves every sample exactly once
    assert(liveChunkDirs(dir, someChunk).isEmpty)
    assert(store.live().filter($"chunk" === someChunk).count() == 0)
  }

  test("rollups at rest: closed chunks answer ranges without payload decode") {
    val dir = Files.createTempDirectory("graft_chunks_ru").toString
    val store = new ChunkStore(spark, dir, chunkMs = 86400000L, // daily chunks, hourly rollups
      rollupOnClose = true)
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val samples = Series.samples(events)
    store.append(samples)
    val t1 = 1704412800000000L // 2024-01-05
    val t2 = t1 + 2L * 86400000000L
    // queryRollup before any close refuses with a pointer to the rule
    val err = intercept[IllegalArgumentException] { store.queryRollup(Nil, t1, t2) }
    assert(err.getMessage.contains("rollup"), err.getMessage)
    store.closeChunksBelow(t2 + 86400000000L)

    val got = store.queryRollup(Seq(MatchEq("event_type", "purchase")), t1, t2)
      .select("series_id", "bucket_ms", "n_points", "min_value", "max_value", "sum_value", "avg_value")
      .as[(String, Long, Long, Double, Double, Double, Double)].collect().toSet
    // oracle: downsample of the RAW samples at BUCKET grain — rollup
    // bounds snap to the hour (a pre-aggregate cannot split a bucket),
    // so the comparable raw set is every sample whose bucket START
    // falls inside the range
    val expect = graft.tsdb.TsOps.downsample(
      samples.filter($"event_type" === "purchase")
        .filter(expr("ts_us div 3600000000") * 3600000000L >= (t1 / 3600000000L) * 3600000000L &&
          expr("ts_us div 3600000000") * 3600000000L <= t2))
      .select("series_id", "bucket_ms", "n_points", "min_value", "max_value", "sum_value", "avg_value")
      .as[(String, Long, Long, Double, Double, Double, Double)].collect().toSet
    assert(got == expect && got.nonEmpty, s"got=${got.size} expect=${expect.size}")

    // the rollup plan touches neither the gorilla payloads nor live raw
    val plan = store.queryRollup(Nil, t1, t2).queryExecution.executedPlan.toString
    assert(!plan.contains("/closed/") && !plan.contains("/live"), plan.take(800))

    // retire drops rollups with their chunks
    store.retire(t2 + 86400000000L * 2)
    assert(!new java.io.File(s"$dir/rollup").exists())
  }

  test("retire drops chunks below the horizon, persists it, and guards re-ingest") {
    val dir = Files.createTempDirectory("graft_chunks_ret").toString
    val store = new ChunkStore(spark, dir, chunkMs = 3600000L)
    val h0 = 1704067200000000L // 2024-01-01 00:00 UTC (us)
    def row(i: Int, tsUs: Long) =
      ("s" + (i % 3), "click", (i % 3).toLong, tsUs, i.toDouble, i.toLong)
    // three hours of data; close the first two, keep hour 2 live
    val rows = (0 until 30).map(i => row(i, h0 + (i % 3) * 3600000000L + (i / 3) * 60000000L))
    store.append(rows.toDF("series_id", "event_type", "user_id", "ts_us", "value", "event_id"))
    store.closeChunksBelow(h0 + 2 * 3600000000L)

    // retention horizon = start of hour 1: hour 0 (closed) retires
    val retired = store.retire(h0 + 3600000000L)
    assert(retired == Set(h0 / 3600000000L), s"retired=$retired")
    val all = store.queryAll(Nil, h0, h0 + 3 * 3600000000L)
    assert(all.count() == 20) // hours 1 and 2 survive
    assert(all.agg(min($"ts_us")).as[Long].head() >= h0 + 3600000000L)

    // late append below the horizon is dropped at ingest (the
    // persisted horizon, not the closed-id set, excludes it) — also
    // across a RESTART (fresh store instance, same path)
    val reopened = new ChunkStore(spark, dir, chunkMs = 3600000L)
    reopened.append(Seq(row(99, h0 + 60000000L))
      .toDF("series_id", "event_type", "user_id", "ts_us", "value", "event_id"))
    assert(reopened.queryAll(Nil, h0, h0 + 3 * 3600000000L).count() == 20)

    // horizon is monotone: retiring at an EARLIER time cannot undo it
    reopened.retire(h0)
    assert(reopened.queryAll(Nil, h0, h0 + 3 * 3600000000L).count() == 20)

    // full retirement leaves a readable (fresh-like) store
    reopened.retire(h0 + 10 * 3600000000L)
    assert(!new java.io.File(s"$dir/closed").exists())
    assert(!new java.io.File(s"$dir/live").exists())
  }

  test("append drops non-positive timestamps (reference ingest guard)") {
    val dir = Files.createTempDirectory("graft_chunks_ts0").toString
    val store = new ChunkStore(spark, dir)
    val s = Seq(
      ("a", "click", 1L, 0L, 1.0, 1L),      // ts=0 → dropped (db.rs:183-186)
      ("a", "click", 1L, -5L, 2.0, 2L),     // negative → dropped
      ("a", "click", 1L, 1704067200000000L, 3.0, 3L))
      .toDF("series_id", "event_type", "user_id", "ts_us", "value", "event_id")
    store.append(s)
    assert(store.live().count() == 1)
    assert(store.live().select("value").as[Double].head() == 3.0)
  }

  test("append spreads ONE chunk across multiple tasks/files, bounded count") {
    val dir = Files.createTempDirectory("graft_chunks_par").toString
    val store = new ChunkStore(spark, dir)
    // 10k points from 64 series, ALL inside one hour chunk — the case
    // where repartition(chunk) alone would collapse the write to one
    // task (the 100 TB/day write-path killer)
    val base = 1704067200000000L
    val s = spark.range(0, 10000).select(
      concat(lit("s"), $"id" % 64).as("series_id"),
      lit("click").as("event_type"),
      ($"id" % 7).as("user_id"),
      (lit(base) + $"id" * 1000L).as("ts_us"),
      ($"id" * 1.0).as("value"),
      $"id".as("event_id"))
    store.append(s)
    val Seq(chunkDir) = liveChunkDirs(dir, base / 3600000000L)
    val files = chunkDir.listFiles().count(_.getName.endsWith(".parquet"))
    // parallel (salted) write, still bounded small-files discipline
    assert(files > 1, s"one-task write: $files file(s)")
    assert(files <= 8, s"small-files blowout: $files files")
    assert(store.live().count() == 10000)
  }

  test("append into an already-closed chunk is dropped (late-data guard)") {
    val dir = Files.createTempDirectory("graft_chunks_late").toString
    val store = new ChunkStore(spark, dir)
    val h0 = 1704067200000000L            // chunk A start
    val h1 = h0 + 3600L * 1000000         // chunk B start
    def ev(ts: Long, v: Double, id: Long) =
      ("sA", "click", 1L, ts, v, id)
    val batch1 = Seq(ev(h0 + 1, 1.0, 1L), ev(h1 + 1, 2.0, 2L))
      .toDF("series_id", "event_type", "user_id", "ts_us", "value", "event_id")
    store.append(batch1)
    store.closeChunk(h0 / 3600000000L)
    // late batch: one point addressed to the CLOSED chunk A (must be
    // dropped — it would be invisible to queryAll otherwise), one to
    // the still-live chunk B (must land)
    val batch2 = Seq(ev(h0 + 2, 3.0, 3L), ev(h1 + 2, 4.0, 4L))
      .toDF("series_id", "event_type", "user_id", "ts_us", "value", "event_id")
    store.append(batch2)
    val got = store.queryAll(Seq.empty, h0, h1 + 3600L * 1000000)
      .select("value").as[Double].collect().sorted.toSeq
    assert(got == Seq(1.0, 2.0, 4.0), s"got $got")
  }

  test("direct, streaming and replay appends share one store and one compaction") {
    val dir = Files.createTempDirectory("graft_chunks_mix").toString
    val store = new ChunkStore(spark, dir)
    def rows(ids: Range) =
      ids.map(i => (s"s${i % 4}", "click", (i % 4).toLong, 1704067200000000L + i * 60000000L,
        i.toDouble, i.toLong))
        .toDF("series_id", "event_type", "user_id", "ts_us", "value", "event_id")
    def children() = new java.io.File(s"$dir/live").list().toSeq.sorted
    store.append(rows(0 until 10))
    store.appendBatch(rows(10 until 20), 0L)
    store.appendBatch(rows(10 until 20), 0L) // a replay overwrites its own directory
    store.append(rows(20 until 30))
    // direct appends take ids below every listed one, never a streaming id
    assert(children() == Seq("batch=-1", "batch=-2", "batch=0"), children())
    store.compactBatches(1L)
    assert(children() == Seq("batch=-1"), children())
    assert(store.live().select("value").as[Double].collect().sorted.toSeq ==
      (0 until 30).map(_.toDouble))
  }

  test("federated queryAll == live-only answer after a chunk is closed") {
    val dir = Files.createTempDirectory("graft_chunks2").toString
    val store = new ChunkStore(spark, dir)
    val samples = Series.samples(spark.read.parquet(s"$sfDir/events.parquet"))
    store.append(samples)

    val t1 = 1704067200000000L            // 2024-01-01 00:00
    val t2 = t1 + 48L * 3600 * 1000000    // two days
    val ms = Seq(MatchRe("event_type", "^(click|view)$"))
    val expect = samples
      .filter($"event_type".rlike("^(click|view)$") && $"ts_us" >= t1 && $"ts_us" <= t2)
      .select("series_id", "ts_us", "value")
      .as[(String, Long, Double)].collect().sorted.toSeq
    assert(expect.nonEmpty)

    // close the first two hour-chunks, then federate
    store.live().select("chunk").distinct().orderBy("chunk").as[Long].take(2)
      .foreach(store.closeChunk)
    val got = store.queryAll(ms, t1, t2)
      .select("series_id", "ts_us", "value")
      .as[(String, Long, Double)].collect().sorted.toSeq
    assert(got == expect)

    // matcher filtering happens on the closed catalog: a non-matching
    // label returns nothing from closed chunks
    assert(store.queryClosed(Seq(MatchEq("event_type", "nope")), t1, t2).count() == 0)
  }

  test("deleteSeries: range-scoped closed-tier deletion rewrites payloads/catalog/rollups; empty chunks vanish; live refuses") {
    val h = 3600000000000L // ns
    val t0 = 1704067200000000L
    val t0n = t0 * 1000L
    val ev = Seq(
      // click/u1 in chunks (days) 0, 1, 2; purchase/u1 in day 1
      (1L, t0n + 1L * h, 1L, "click", 10.0),
      (2L, t0n + 25L * h, 1L, "click", 20.0),
      (3L, t0n + 49L * h, 1L, "click", 40.0),
      (4L, t0n + 26L * h, 1L, "purchase", 100.0),
      // a series that exists ONLY in day 1 and only as click/u2
      (5L, t0n + 27L * h, 2L, "click", 5.0),
      // day 5 stays LIVE (not closed)
      (6L, t0n + 121L * h, 1L, "click", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("graft_delete").toString
    val store = new ChunkStore(spark, dir, chunkMs = 86400000L, rollupOnClose = true)
    store.append(Series.samples(ev))
    store.closeChunksBelow(t0 + 96L * 3600000000L) // close days 0..3
    val dayUs = 86400000000L
    // a range touching the live day-5 chunk refuses with direction
    val live = intercept[IllegalStateException](
      store.deleteSeries(Seq(MatchEq("event_type", "click")), t0, t0 + 200L * 3600000000L))
    assert(live.getMessage.contains("close"), live.getMessage)
    // delete clicks in day 1 only
    store.deleteSeries(Seq(MatchEq("event_type", "click")), t0 + dayUs, t0 + 2 * dayUs - 1)
    val left = store.queryAll(Nil, t0, t0 + 4 * dayUs)
      .select("ts_us", "value").as[(Long, Double)].collect().toSet
    // day-1 clicks (20.0, 5.0) gone; day-0/2 clicks + day-1 purchase stay
    assert(left == Set((t0 + 1L * 3600000000L, 10.0),
      (t0 + 49L * 3600000000L, 40.0), (t0 + 26L * 3600000000L, 100.0)), left)
    // catalog: click/u2 existed only in day 1 — its catalog rows are gone
    assert(store.catalog().filter(col("user_id") === 2L).count() == 0)
    // rollups stay consistent: the guard sees no missing chunks and
    // the decode-free tier serves the post-delete truth
    val roll = store.queryRollup(Seq(MatchEq("event_type", "click")), t0, t0 + 3 * dayUs)
    assert(roll.agg(sum(col("sum_value"))).collect()(0).getDouble(0) == 50.0)
    // idempotent: re-running the same delete changes nothing
    store.deleteSeries(Seq(MatchEq("event_type", "click")), t0 + dayUs, t0 + 2 * dayUs - 1)
    assert(store.queryAll(Nil, t0, t0 + 4 * dayUs).count() == 3)
    // a delete that empties every chunk it touches (day 0 holds only
    // click/u1): its partitions go, nothing is staged
    store.deleteSeries(Seq(MatchEq("event_type", "click")), t0, t0 + dayUs - 1)
    assert(store.queryAll(Nil, t0, t0 + 4 * dayUs).select("value").as[Double].collect().toSet ==
      Set(40.0, 100.0))
    assert(!new java.io.File(s"$dir/closed/chunk=${t0 / dayUs}").exists())
    assert(store.queryRollup(Seq(MatchEq("event_type", "click")), t0, t0 + 3 * dayUs)
      .agg(sum(col("sum_value"))).collect()(0).getDouble(0) == 40.0)
    // matcher-less deletion refuses
    intercept[IllegalArgumentException](store.deleteSeries(Nil, t0, t0 + dayUs))
  }

  test("retireRaw: payloads drop, rollups serve, raw reads refuse loudly, guards hold across restart") {
    val h = 3600000000000L // ns
    val t0 = 1704067200000000L
    val t0n = t0 * 1000L
    val dayUs = 86400000000L
    val ev = Seq(
      (1L, t0n + 1L * h, 1L, "click", 10.0),
      (2L, t0n + 25L * h, 1L, "click", 20.0),
      (3L, t0n + 49L * h, 1L, "click", 40.0),
      (4L, t0n + 26L * h, 1L, "purchase", 100.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("graft_tiered").toString
    val store = new ChunkStore(spark, dir, chunkMs = 86400000L, rollupOnClose = true)
    store.append(Series.samples(ev))
    // live chunks below the horizon refuse (close first)
    val liveErr = intercept[IllegalStateException](store.retireRaw(t0 + 4 * dayUs))
    assert(liveErr.getMessage.contains("close"), liveErr.getMessage)
    store.closeChunksBelow(t0 + 96L * 3600000000L)
    val c0 = t0 / dayUs
    // raw-retire days 0 and 1
    val retired = store.retireRaw(t0 + 2 * dayUs)
    assert(retired == Set(c0, c0 + 1), retired)
    // payload dirs GONE; rollup partitions SURVIVE with their labels,
    // and the catalog still lists a series only the retired days hold
    assert(!new java.io.File(s"$dir/closed/chunk=$c0").exists())
    assert(new java.io.File(s"$dir/rollup/chunk=$c0").exists())
    assert(spark.read.parquet(s"$dir/rollup").filter(col("chunk") === c0)
      .select("event_type", "user_id").as[(String, Long)].collect().toSet == Set(("click", 1L)))
    assert(store.catalog().filter(col("event_type") === "purchase")
      .select("user_id").as[Long].collect().toSeq == Seq(1L))
    // rollup tier serves the WHOLE history, including retired days
    val roll = store.queryRollup(Seq(MatchEq("event_type", "click")), t0, t0 + 3 * dayUs)
    assert(roll.agg(sum(col("sum_value"))).collect()(0).getDouble(0) == 70.0)
    // raw reads dipping below the horizon refuse with direction...
    val err = intercept[IllegalStateException](store.queryAll(Nil, t0, t0 + 3 * dayUs).count())
    assert(err.getMessage.contains("queryRollup"), err.getMessage)
    // ...while raw reads at or after it still serve
    assert(store.queryAll(Nil, t0 + 2 * dayUs, t0 + 3 * dayUs).count() == 1)
    // late append below the raw horizon drops at ingest, ACROSS RESTART
    val reopened = new ChunkStore(spark, dir, chunkMs = 86400000L, rollupOnClose = true)
    reopened.append(Seq((9L, t0n + 2L * h, 1L, "click", 99.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .transform(Series.samples))
    assert(liveChunkDirs(dir, c0).isEmpty,
      "a late raw row below the raw horizon must not resurface")
    // snapshot of a tiered store carries the rollup-only chunks and
    // the raw horizon; the opened snapshot refuses raw reads the same
    reopened.snapshot(Some("tiered"))
    val snap = reopened.openSnapshot("tiered")
    assert(snap.queryRollup(Seq(MatchEq("event_type", "click")), t0, t0 + 3 * dayUs)
      .agg(sum(col("sum_value"))).collect()(0).getDouble(0) == 70.0)
    // delete_series dipping below the raw horizon refuses — silently
    // skipping the rollup-only chunks would leave "deleted" series
    // serving from the rollup tier (the privacy-delete footgun)
    val del = intercept[IllegalStateException](
      reopened.deleteSeries(Seq(MatchEq("event_type", "click")), t0, t0 + 3 * dayUs))
    assert(del.getMessage.contains("rollup"), del.getMessage)
    // full retirement still removes the rollup-only partitions
    reopened.retire(t0 + dayUs)
    assert(!new java.io.File(s"$dir/rollup/chunk=$c0").exists())
    assert(reopened.catalogInRange(t0, t0 + dayUs - 1).count() == 0)
  }

  test("cloneTo: a hardlink clone mutates independently of its source") {
    val h = 3600000000000L
    val t0 = 1704067200000000L
    val ev = Seq(
      (1L, t0 * 1000 + 1L * h, 1L, "click", 10.0),
      (2L, t0 * 1000 + 25L * h, 1L, "click", 20.0),
      (3L, t0 * 1000 + 26L * h, 2L, "view", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val srcDir = Files.createTempDirectory("graft_clone_src").toString
    val src = new ChunkStore(spark, srcDir, chunkMs = 86400000L)
    src.append(Series.samples(ev))
    src.closeChunksBelow(t0 + 96L * 3600000000L)
    val dstDir = Files.createTempDirectory("graft_clone_dst").toString + "/store"
    val clone = src.cloneTo(dstDir)
    def rows(s: ChunkStore) = s.queryAll(Nil, t0, t0 + 4L * 86400000000L)
      .select("ts_us", "value").as[(Long, Double)].collect().toSet
    val before = rows(src)
    assert(rows(clone) == before, "clone must serve the source's truth")
    // mutate the CLONE: the delete's staged swap unlinks hardlinked
    // files rather than editing them, so the source must not move
    clone.deleteSeries(Seq(MatchEq("event_type", "click")), t0, t0 + 4L * 86400000000L)
    assert(rows(clone).size == 1)
    assert(rows(src) == before, "mutating the clone leaked into the source")
    // and the other direction: mutating the source leaves the clone be
    src.deleteSeries(Seq(MatchEq("event_type", "view")), t0, t0 + 4L * 86400000000L)
    assert(rows(clone).size == 1 && rows(src).size == 2)
    // non-empty destination refuses
    intercept[IllegalArgumentException](src.cloneTo(dstDir))
  }

  test("snapshot → delete → restore round-trip; snapshots are readable stores; stale temp ignored") {
    val h = 3600000000000L // ns
    val t0 = 1704067200000000L
    val t0n = t0 * 1000L
    val dayUs = 86400000000L
    val ev = Seq(
      (1L, t0n + 1L * h, 1L, "click", 10.0),
      (2L, t0n + 25L * h, 1L, "click", 20.0),
      (3L, t0n + 49L * h, 1L, "click", 40.0),
      (4L, t0n + 26L * h, 1L, "purchase", 100.0),
      (5L, t0n + 27L * h, 2L, "click", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("graft_snapshot").toString
    val store = new ChunkStore(spark, dir, chunkMs = 86400000L, rollupOnClose = true)
    // nothing closed yet → snapshot refuses with direction
    store.append(Series.samples(ev))
    val empty = intercept[IllegalArgumentException](store.snapshot())
    assert(empty.getMessage.contains("close"), empty.getMessage)
    store.closeChunksBelow(t0 + 96L * 3600000000L)
    def allRows(s: ChunkStore): Set[(Long, Double)] =
      s.queryAll(Nil, t0, t0 + 4 * dayUs)
        .select("ts_us", "value").as[(Long, Double)].collect().toSet
    val before = allRows(store)
    assert(before.size == 5)

    // a crashed predecessor's temp dir is invisible to the verb
    new java.io.File(dir, "snapshots/.tmp-dead").mkdirs()
    // the dot-file skip is EXACTLY Hadoop's ".name.crc" checksum-shadow
    // pattern: a legitimate dot-file under the closed tree must survive
    // the snapshot copy (ADVICE r11: the blanket dot-skip silently
    // dropped it while the remote-FS branch copied it)
    // (the snapshot copies chunk-partition subtrees, so the planted
    // files go INSIDE one chunk dir — a tree-root file is outside the
    // verb's grain by design)
    val chunkDir = new java.io.File(dir, "closed").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("chunk=")).head
    val dotKeep = new java.io.File(chunkDir, ".meta-marker")
    java.nio.file.Files.write(dotKeep.toPath, "keep me".getBytes("UTF-8"))
    val crcSkip = new java.io.File(chunkDir, ".part-0.crc")
    java.nio.file.Files.write(crcSkip.toPath, Array[Byte](1, 2, 3))
    val snap = store.snapshot(Some("pre-delete"))
    assert(snap == "pre-delete" && store.listSnapshots() == Seq("pre-delete"))
    // the snapshot holds the two closed tiers and its manifest
    assert(new java.io.File(s"$dir/snapshots/pre-delete").list().filterNot(_.startsWith(".")).toSet ==
      Set("closed", "rollup", "manifest.json"))
    val snapChunk = new java.io.File(
      s"$dir/snapshots/pre-delete/closed/${chunkDir.getName}")
    assert(new java.io.File(snapChunk, ".meta-marker").exists(),
      "legitimate dot-file vanished from the snapshot copy")
    assert(!new java.io.File(snapChunk, ".part-0.crc").exists(),
      "Hadoop checksum shadow must stay skipped")
    dotKeep.delete(); crcSkip.delete() // keep the rest of the drill byte-clean
    intercept[IllegalArgumentException](store.snapshot(Some("pre-delete"))) // duplicate
    intercept[IllegalArgumentException](store.snapshot(Some("../escape"))) // hostile name

    // mutate the store: delete all day-1 clicks
    store.deleteSeries(Seq(MatchEq("event_type", "click")), t0 + dayUs, t0 + 2 * dayUs - 1)
    assert(allRows(store).size == 3)

    // the snapshot still holds the pre-delete truth, as a plain
    // closed-only store — raw queries AND the rollup tier
    val snapStore = store.openSnapshot("pre-delete")
    assert(allRows(snapStore) == before)
    val roll = snapStore.queryRollup(Seq(MatchEq("event_type", "click")), t0, t0 + 3 * dayUs)
    assert(roll.agg(sum(col("sum_value"))).collect()(0).getDouble(0) == 75.0)

    // restore: the store serves the pre-delete truth again
    store.restoreSnapshot("pre-delete")
    assert(allRows(store) == before)
    assert(store.queryRollup(Seq(MatchEq("event_type", "click")), t0, t0 + 3 * dayUs)
      .agg(sum(col("sum_value"))).collect()(0).getDouble(0) == 75.0)
    // unknown snapshot refuses
    intercept[IllegalArgumentException](store.restoreSnapshot("nope"))

    // restore resets the RETENTION GUARDS to the snapshot's state
    // (review fix): raw-retire AFTER the snapshot, then restore — the
    // payloads are back AND the raw horizon is gone, so raw reads
    // serve instead of refusing data the store actually holds
    store.closeChunksBelow(t0 + 96L * 3600000000L)
    store.retireRaw(t0 + 2 * dayUs)
    intercept[IllegalStateException](store.queryAll(Nil, t0, t0 + 4 * dayUs).count())
    store.restoreSnapshot("pre-delete")
    assert(allRows(store) == before)
    // a marker-crash mid-restore heals on re-run and reads refuse
    // meanwhile (the _delete_pending discipline, restore flavor):
    // simulate the worst state — a tier moved out with only the
    // staging copy on disk
    val restoreSwap = swapAt(dir, "restore")
    new java.io.File(restoreSwap.begin()).mkdirs()
    assert(new java.io.File(s"$dir/closed")
      .renameTo(new java.io.File(s"${restoreSwap.staging}/closed")))
    restoreSwap.mark(Seq(StagedSwap.Swap("closed", "closed")))
    val g2 = intercept[IllegalArgumentException](
      store.queryAll(Nil, t0, t0 + 4 * dayUs).count())
    assert(g2.getMessage.contains("restore"), g2.getMessage)
    store.restoreSnapshot("pre-delete")
    assert(allRows(store) == before)
    assert(!new java.io.File(dir, "_restore_pending").exists())
  }

  /** Five samples over three daily chunks, all closed, on a rollup
    * store, and a read of every sample in them. */
  private object Days {
    val t0 = 1704067200000000L
    val hUs = 3600000000L
    def build(prefix: String): (String, ChunkStore) = {
      val h = 3600000000000L // ns
      val t0n = t0 * 1000L
      val ev = Seq(
        (1L, t0n + 1L * h, 1L, "click", 10.0),
        (2L, t0n + 25L * h, 1L, "click", 20.0),
        (3L, t0n + 49L * h, 1L, "click", 40.0),
        (4L, t0n + 26L * h, 1L, "purchase", 100.0),
        (5L, t0n + 27L * h, 2L, "click", 5.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val dir = Files.createTempDirectory(prefix).toString
      val store = new ChunkStore(spark, dir, chunkMs = 86400000L, rollupOnClose = true)
      store.append(Series.samples(ev))
      store.closeChunksBelow(t0 + 96L * hUs)
      (dir, store)
    }
    def rows(s: ChunkStore): Set[(Long, Double)] =
      s.queryAll(Nil, t0, t0 + 4 * dayUs).select("ts_us", "value").as[(Long, Double)].collect().toSet
    def noSwapLeft(dir: String): Boolean =
      Seq("_delete_pending", "_restore_pending", "_delete_staging", "_restore_staging")
        .forall(n => !new java.io.File(dir, n).exists())
  }

  test("an interrupted delete completes before restoreSnapshot: the store equals the snapshot") {
    import Days._
    val (dir, store) = Days.build("graft_heal_delete_restore")
    val before = rows(store)
    store.snapshot(Some("s"))
    // the interrupted delete: its day-1 rewrite (no clicks) is staged
    // and committed while the pre-delete partition is still in place
    val c1 = (t0 + dayUs) / dayUs
    store.deleteSeries(Seq(MatchEq("event_type", "click")), t0 + dayUs, t0 + 2 * dayUs - 1)
    interruptDeleteSwap(dir, c1)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/snapshots/s/closed/chunk=$c1"), new java.io.File(s"$dir/closed/chunk=$c1"))
    store.restoreSnapshot("s")
    assert(rows(store) == before)
    assert(noSwapLeft(dir))
    // nothing is left for a later closed-tier verb to rename over the restored tier
    store.deleteSeries(Seq(MatchEq("event_type", "none")), t0, t0 + 3 * dayUs)
    assert(rows(store) == before)
  }

  test("an interrupted restore completes before deleteSeries: the deleted range stays deleted") {
    import Days._
    val (dir, store) = Days.build("graft_heal_restore_delete")
    val before = rows(store)
    store.snapshot(Some("s"))
    // diverge from the snapshot, then interrupt a restore of it after
    // its first swap
    store.deleteSeries(Seq(MatchEq("event_type", "purchase")), t0, t0 + 3 * dayUs)
    assert(rows(store).size == 4)
    val swap = swapAt(dir, "restore")
    val staging = swap.begin()
    val tiers = Seq("closed", "rollup")
    tiers.foreach(t => org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/snapshots/s/$t"), new java.io.File(s"$staging/$t")))
    val plan = tiers.map(t => StagedSwap.Swap(t, t))
    swap.mark(plan)
    swap.run(plan.head)
    store.deleteSeries(Seq(MatchEq("event_type", "click")), t0 + dayUs, t0 + 2 * dayUs - 1)
    assert(noSwapLeft(dir))
    assert(rows(store) == before -- Set((t0 + 25L * hUs, 20.0), (t0 + 27L * hUs, 5.0)))
    val roll = store.queryRollup(Seq(MatchEq("event_type", "click")), t0, t0 + 3 * dayUs)
    assert(roll.agg(sum(col("sum_value"))).collect()(0).getDouble(0) == 50.0)
  }

  test("snapshot refuses while a closed-tier swap is pending") {
    import Days._
    val (dir, store) = Days.build("graft_snapshot_guard")
    val before = rows(store)
    interruptDeleteSwap(dir, (t0 + dayUs) / dayUs)
    val e = intercept[IllegalArgumentException](store.snapshot(Some("mid-delete")))
    assert(e.getMessage.contains("interrupted"), e.getMessage)
    assert(store.listSnapshots().isEmpty)
    store.retire(0L) // any closed-tier writer heals
    store.snapshot(Some("healed"))
    assert(rows(store.openSnapshot("healed")) == before)

    val restore = swapAt(dir, "restore")
    new java.io.File(restore.begin()).mkdirs()
    assert(new java.io.File(s"$dir/closed").renameTo(new java.io.File(s"${restore.staging}/closed")))
    restore.mark(Seq(StagedSwap.Swap("closed", "closed")))
    val r = intercept[IllegalArgumentException](store.snapshot(Some("mid-restore")))
    assert(r.getMessage.contains("restore"), r.getMessage)
    store.restoreSnapshot("healed")
    assert(rows(store) == before)
    assert(noSwapLeft(dir))
  }

  test("deleting every series of every closed chunk leaves a store that reads empty") {
    import Days._
    val (dir, store) = Days.build("graft_delete_all")
    store.deleteSeries(Seq(MatchRe("event_type", ".*")), t0, t0 + 4 * dayUs - 1)
    assert(noSwapLeft(dir))
    assert(store.queryAll(Nil, t0, t0 + 4 * dayUs).count() == 0)
    assert(store.queryEncoded(Nil, t0, t0 + 4 * dayUs).count() == 0)
    assert(store.catalog().count() == 0)
    val roll = store.queryRollup(Nil, t0, t0 + 4 * dayUs)
    assert(roll.count() == 0)
    assert(roll.columns.takeRight(2).toSeq == Seq("event_type", "user_id"))
    // the next close writes into the emptied tier and serves as usual
    store.append(Series.samples(Seq((9L, (t0 + 98L * hUs) * 1000L, 1L, "click", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")))
    store.closeChunksBelow(t0 + 8 * dayUs)
    assert(rows(store) == Set.empty)
    assert(store.queryAll(Nil, t0, t0 + 8 * dayUs).select("value").as[Double].collect().toSeq == Seq(3.0))
    assert(store.queryRollup(Nil, t0, t0 + 8 * dayUs).count() == 1)
    assert(store.catalog().count() == 1)
  }

  test("backfill: late rows merge into closed chunks (payloads, catalog growth, rollups); fresh rows go live; dup collapse; untouched payloads byte-identical; heal") {
    val h = 3600000000000L // ns
    val t0 = 1704067200000000L
    val t0n = t0 * 1000L
    val dayUs = 86400000000L
    val ev = Seq(
      (1L, t0n + 1L * h, 1L, "click", 10.0),     // day0  series A
      (2L, t0n + 25L * h, 1L, "click", 20.0),    // day1  A
      (3L, t0n + 49L * h, 1L, "click", 40.0),    // day2  A
      (4L, t0n + 26L * h, 1L, "purchase", 100.0) // day1  B (stays untouched)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("graft_backfill").toString
    val store = new ChunkStore(spark, dir, chunkMs = 86400000L, rollupOnClose = true)
    store.append(Series.samples(ev))
    store.closeChunksBelow(t0 + 72L * 3600000000L) // chunks day0..day2 closed

    val bId = store.catalog().filter(col("event_type") === "purchase")
      .select("series_id").as[String].head()
    def bPayload(): Array[Byte] = spark.read.parquet(s"$dir/closed")
      .filter(col("series_id") === bId).select("payload")
      .as[Array[Byte]].head()
    val bBefore = bPayload()

    val lateClosed = Seq(
      (10L, t0n + 30L * h, 1L, "click", 21.0), // existing series, closed day1
      (11L, t0n + 2L * h, 2L, "click", 7.0),   // NEW series C into closed day0
      (12L, t0n + 25L * h, 1L, "click", 20.0), // exact duplicate of event 2 — must collapse
      (14L, 0L, 1L, "click", 1.0)              // non-positive ts — ingest guard drops
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val lateFresh = Seq(
      (13L, t0n + 121L * h, 1L, "click", 99.0) // day5 — not closed, must route to live
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    store.backfill(Series.samples(lateClosed.unionByName(lateFresh)))

    val got = store.queryAll(Nil, t0, t0 + 10 * dayUs)
      .select("ts_us", "value").as[(Long, Double)].collect().toSet
    val hUs = 3600000000L
    assert(got == Set(
      (t0 + 1L * hUs, 10.0), (t0 + 25L * hUs, 20.0), (t0 + 49L * hUs, 40.0),
      (t0 + 26L * hUs, 100.0), (t0 + 30L * hUs, 21.0), (t0 + 2L * hUs, 7.0),
      (t0 + 121L * hUs, 99.0)), got)

    // catalog grew the new series in its closed chunk
    assert(store.catalog().filter(col("user_id") === 2L).count() == 1)
    // fresh row sits in LIVE (day5 chunk dir), not a rewritten closed chunk
    assert(liveChunkDirs(dir, (t0 + 121L * hUs) / dayUs).nonEmpty)
    // rollups of the affected chunks rebuilt: full-range sum includes late rows once
    val roll = store.queryRollup(Nil, t0, t0 + 3 * dayUs - 1)
    assert(roll.agg(sum(col("sum_value"))).collect()(0).getDouble(0) == 198.0)
    // untouched series' payload carried over byte-identical
    assert(java.util.Arrays.equals(bBefore, bPayload()))

    // idempotence of the closed merge: same late data again changes nothing
    store.backfill(Series.samples(lateClosed))
    assert(store.queryAll(Nil, t0, t0 + 10 * dayUs).count() == 7)

    // interrupted-swap heal: marker present → reads refuse; the next
    // backfill completes the pending swap before its own work
    interruptDeleteSwap(dir, (t0 + dayUs) / dayUs)
    val gate = intercept[IllegalArgumentException](
      store.queryAll(Nil, t0, t0 + 4 * dayUs).count())
    assert(gate.getMessage.contains("interrupted"), gate.getMessage)
    store.backfill(Series.samples(lateClosed))
    assert(!new java.io.File(dir, "_delete_pending").exists())
    assert(store.queryAll(Nil, t0, t0 + 10 * dayUs).count() == 7)
    assert(!new java.io.File(dir, "_delete_staging").exists(),
      "staging area must be cleaned up after a completed backfill")
  }

  test("deleteSeries staged swap: stale staging discarded; every interrupted-swap state re-runs to a correct store") {
    val h = 3600000000000L // ns
    val t0 = 1704067200000000L
    val t0n = t0 * 1000L
    val dayUs = 86400000000L
    def freshStore(): (String, ChunkStore) = {
      val ev = Seq(
        (1L, t0n + 1L * h, 1L, "click", 10.0),
        (2L, t0n + 25L * h, 1L, "click", 20.0),
        (3L, t0n + 49L * h, 1L, "click", 40.0),
        (4L, t0n + 26L * h, 1L, "purchase", 100.0),
        (5L, t0n + 27L * h, 2L, "click", 5.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val dir = Files.createTempDirectory("graft_delete_swap").toString
      val store = new ChunkStore(spark, dir, chunkMs = 86400000L, rollupOnClose = true)
      store.append(Series.samples(ev))
      store.closeChunksBelow(t0 + 96L * 3600000000L)
      (dir, store)
    }
    def doDelete(s: ChunkStore): Unit =
      s.deleteSeries(Seq(MatchEq("event_type", "click")), t0 + dayUs, t0 + 2 * dayUs - 1)
    def assertHealthy(dir: String, s: ChunkStore): Unit = {
      val left = s.queryAll(Nil, t0, t0 + 4 * dayUs)
        .select("ts_us", "value").as[(Long, Double)].collect().toSet
      assert(left == Set((t0 + 1L * 3600000000L, 10.0),
        (t0 + 49L * 3600000000L, 40.0), (t0 + 26L * 3600000000L, 100.0)), left)
      assert(s.catalog().filter(col("user_id") === 2L).count() == 0)
      val roll = s.queryRollup(Seq(MatchEq("event_type", "click")), t0, t0 + 3 * dayUs)
      assert(roll.agg(sum(col("sum_value"))).collect()(0).getDouble(0) == 50.0)
      assert(!new java.io.File(dir, "_delete_staging").exists(),
        "staging area must be cleaned up after a completed delete")
    }

    // 1) a crashed predecessor's stale staging area (garbage content)
    //    is discarded, not merged, by the next attempt
    val (dirA, storeA) = freshStore()
    val stale = new java.io.File(dirA, "_delete_staging/closed/chunk=999")
    stale.mkdirs()
    Files.write(stale.toPath.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    doDelete(storeA)
    assertHealthy(dirA, storeA)

    // 1b) commit-marker protocol (review fix): while _delete_pending
    //     exists, closed-tier reads refuse; the previously-FATAL state
    //     (old partition deleted, only copy in staging, marker set) is
    //     healed by the next deleteSeries call completing the swap
    //     BEFORE its own stale-staging discard
    val (dirM, storeM) = freshStore()
    doDelete(storeM)
    // simulate a crash mid-swap: the day-1 closed partition moved to
    // staging, marker present with nothing to remove-without-replace
    interruptDeleteSwap(dirM, (t0 + dayUs) / dayUs)
    val gate = intercept[IllegalArgumentException](
      storeM.queryAll(Nil, t0, t0 + 4 * dayUs).count())
    assert(gate.getMessage.contains("interrupted"), gate.getMessage)
    doDelete(storeM) // completes the pending swap, then no-op re-delete
    assertHealthy(dirM, storeM)
    assert(!new java.io.File(dirM, "_delete_pending").exists())

    // 2) crash-state matrix: stage completed, swap interrupted after
    //    each tier of the day-1 chunk (payloads → rollup, the code's
    //    swap order). Build each state by snapshotting the pre-delete
    //    partition dirs, running the real delete, then restoring the
    //    not-yet-swapped tiers — re-running the SAME delete must heal
    //    every state.
    for (restoredTiers <- Seq(
        Seq("closed", "rollup"), // crashed before any swap of this chunk
        Seq("rollup"))) {        // payloads swapped, rollup old
      val (dir, store) = freshStore()
      val c1 = (t0 + dayUs) / dayUs // the day-1 chunk's absolute id
      val snap = Files.createTempDirectory("graft_delete_snap").toString
      for (t <- Seq("closed", "rollup")) {
        val src = new java.io.File(s"$dir/$t/chunk=$c1")
        assert(src.exists(), s"expected pre-delete $t/chunk=$c1")
        org.apache.commons.io.FileUtils.copyDirectory(src, new java.io.File(s"$snap/$t"))
      }
      doDelete(store)
      for (t <- restoredTiers) {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/$t/chunk=$c1"))
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(s"$snap/$t"), new java.io.File(s"$dir/$t/chunk=$c1"))
      }
      doDelete(store) // the heal re-run
      assertHealthy(dir, store)
    }
  }

  // ─────────── labels ride the read plan ───────────

  private val dayUs = 86400000000L
  private val day0 = 1704067200000000L // 2024-01-01 00:00 UTC, us

  /** Events over five daily chunks: click/u1 and purchase/u1 span days
    * 0-4, view/u2 days 0-2, click/u3 only day 4. */
  private def labeledEvents = {
    val h = 3600000000000L // ns
    val t0n = day0 * 1000L
    Seq(
      (1L, t0n + 1L * h, 1L, "click", 10.0),
      (2L, t0n + 25L * h, 1L, "click", 20.0),
      (3L, t0n + 97L * h, 1L, "click", 30.0),
      (4L, t0n + 26L * h, 1L, "purchase", 100.0),
      (5L, t0n + 100L * h, 1L, "purchase", 110.0),
      (6L, t0n + 3L * h, 2L, "view", 5.0),
      (7L, t0n + 50L * h, 2L, "view", 6.0),
      (8L, t0n + 98L * h, 3L, "click", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  /** A daily-chunk rollup store holding [[labeledEvents]], with every
    * chunk below `closeBelowDay` closed. */
  private def labeledStore(name: String, closeBelowDay: Int): ChunkStore = {
    val store = new ChunkStore(spark, Files.createTempDirectory(name).toString,
      chunkMs = 86400000L, rollupOnClose = true)
    store.append(Series.samples(labeledEvents))
    if (closeBelowDay > 0) store.closeChunksBelow(day0 + closeBelowDay * dayUs)
    store
  }

  private def assertSameRows(got: org.apache.spark.sql.DataFrame,
                             want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty, "rows missing from the reference")
    assert(want.exceptAll(got).isEmpty, "reference rows missing")
  }

  test("labeled reads equal the old catalog join on live, closed, mixed and backfilled+deleted stores") {
    val liveOnly = labeledStore("graft_lbl_live", 0)
    val closedOnly = labeledStore("graft_lbl_closed", 5)
    val mixed = labeledStore("graft_lbl_mixed", 3) // days 0-2 closed, day 4 live
    val revised = labeledStore("graft_lbl_revised", 3)
    val t0n = day0 * 1000L
    val h = 3600000000000L
    val late = Seq(
      (20L, t0n + 30L * h, 1L, "click", 21.0), // existing series, closed day 1
      (21L, t0n + 2L * h, 4L, "view", 8.0))    // new series into closed day 0
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    revised.backfill(Series.samples(late))
    revised.deleteSeries(Seq(MatchEq("event_type", "click")), day0 + dayUs, day0 + 2 * dayUs - 1)
    val revisedTruth = Series.samples(labeledEvents.unionByName(late))
      .filter(!($"event_type" === "click" &&
        $"ts_us".between(day0 + dayUs, day0 + 2 * dayUs - 1)))
    // label arity and types follow the disk: a recording-rule store
    // holds string user_ids, and a third label rides the live rows
    val recorded = new ChunkStore(spark, Files.createTempDirectory("graft_lbl_rule").toString,
      chunkMs = 86400000L, rollupOnClose = true)
    assert(graft.promql.PromQL.recordRule(liveOnly, recorded, "job:hits:sum1d",
      """sum by (user_id) (sum_over_time({event_type=~"click|purchase"}[1d]))""",
      day0 + dayUs, day0 + 5 * dayUs, dayUs) > 0)
    val recordedLive = recorded.live().select("series_id", "event_type", "user_id", "ts_us", "value")
    val recordedTruth = spark.createDataFrame(recordedLive.collectAsList(), recordedLive.schema)
    recorded.closeChunksBelow(day0 + 3 * dayUs)
    val threeLabel = new ChunkStore(spark, Files.createTempDirectory("graft_lbl_three").toString,
      chunkMs = 86400000L, rollupOnClose = true)
    val threeTruth = Series.samplesLabeled(
      labeledEvents.withColumn("region", when($"user_id" === 1, "eu").otherwise("us")),
      Seq("event_type", "region", "user_id"))
    threeLabel.append(threeTruth)
    threeLabel.closeChunksBelow(day0 + 3 * dayUs)
    assert(threeLabel.live().columns.contains("region"))
    val reads = Seq(
      (Seq.empty[Matcher], day0, day0 + 10 * dayUs),
      (Seq[Matcher](MatchRe("event_type", "click|view")), day0 + dayUs / 2, day0 + 5 * dayUs))
    for ((store, truth) <- Seq(liveOnly -> Series.samples(labeledEvents),
           closedOnly -> Series.samples(labeledEvents),
           mixed -> Series.samples(labeledEvents), revised -> revisedTruth,
           recorded -> recordedTruth, threeLabel -> threeTruth);
         (ms, lo, hi) <- reads) {
      val cat = store.catalog()
      val all = store.queryAll(ms, lo, hi)
      val userIdType = if (store eq recorded) StringType else LongType
      assert(cat.schema("user_id").dataType == userIdType)
      assert(all.schema("user_id").dataType == userIdType)
      assertSameRows(all, all.select("series_id", "ts_us", "value").join(cat, "series_id"))
      // and the rows themselves are the written truth, labels included
      val want = TsOps.rangeQuery(truth, ms, lo, hi)
      assertSameRows(all, want.join(cat, "series_id"))
      val enc = store.queryEncoded(ms, lo, hi)
      assertSameRows(enc, enc.select("series_id", "chunk", "payload").join(cat, "series_id"))
      if (store ne liveOnly) { // rollups exist once a chunk closes
        val roll = store.queryRollup(ms, lo, hi)
        assert(roll.isEmpty == want.isEmpty)
        assertSameRows(roll, roll.drop("event_type", "user_id").join(cat, "series_id"))
      }
    }
    assert(recorded.queryAll(Nil, day0, day0 + 10 * dayUs).select("user_id").distinct()
      .as[String].collect().toSet == Set("1", "3"))
    // the mixed store really federates one series across both tiers
    val a = mixed.queryAll(Seq(MatchEq("event_type", "click"), MatchEq("user_id", "1")),
      day0, day0 + 10 * dayUs).select("value").as[Double].collect().sorted.toSeq
    assert(a == Seq(10.0, 20.0, 30.0), a)
  }

  /** Every node of a physical plan: adaptive stages, cached relations
    * and planned subqueries (a dynamic-pruning scan included) opened up. */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case m: InMemoryTableScanExec => m +: planNodes(m.relation.cachedPlan)
      // before preparation a subquery can still hold a logical plan
      case other => other +: (other.children ++ other.subqueries.asInstanceOf[Seq[Any]]
        .collect { case q: org.apache.spark.sql.execution.SparkPlan => q }).flatMap(planNodes)
    }
  }

  /** The tier roots (`live`, `closed`, `rollup`) a frame's physical
    * plan scans, as planned: before adaptive execution drops a branch
    * that ran empty. */
  private def scannedTiers(df: org.apache.spark.sql.DataFrame): Set[String] =
    planNodes(df.queryExecution.sparkPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.getName)
    }.flatten.toSet

  test("remote-read and range-query plans scan the live root once on a mixed store") {
    def liveScans(df: org.apache.spark.sql.DataFrame): Int = {
      assert(df.collect().nonEmpty)
      planNodes(df.queryExecution.executedPlan).count {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.getName == "live")
        case _ => false
      }
    }
    val store = labeledStore("graft_lbl_plan", 3)
    val read = graft.sources.RemoteRead.seriesFrame(store,
      (day0 / 1000, (day0 + 10 * dayUs) / 1000, Seq.empty))
    assert(liveScans(read) == 1)
    val range = graft.promql.PromQL.evalStoreRange(store,
      """sum by (event_type) (sum_over_time({event_type=~"click|purchase"}[1d]))""",
      day0 + dayUs, day0 + 5 * dayUs, dayUs)
    assert(liveScans(range) == 1)
  }

  test("a read plans only the tiers its range touches, and a closed read joins nothing") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val store = labeledStore("graft_tier_skip", 3) // days 0-2 closed, day 4 live
    val full = store.queryAll(Nil, day0, day0 + 10 * dayUs)
    val ms = Seq[Matcher](MatchRe("event_type", "click|view"))
    val liveDay = (day0 + 4 * dayUs, day0 + 5 * dayUs - 1)
    val closedDays = (day0, day0 + 3 * dayUs - 1)
    for (((lo, hi), tiers) <- Seq(liveDay -> Set("live"), closedDays -> Set("closed"),
           (day0 + dayUs, day0 + 5 * dayUs) -> Set("live", "closed"))) {
      assert(scannedTiers(store.queryAll(ms, lo, hi)) == tiers, (lo, hi))
      assert(scannedTiers(store.queryEncoded(ms, lo, hi)) == tiers, (lo, hi))
    }
    for ((lo, hi) <- Seq(liveDay, closedDays, (day0 + dayUs, day0 + 5 * dayUs),
           (day0 + 20 * dayUs, day0 + 21 * dayUs), (day0 + 30 * dayUs, day0 + 70 * dayUs / 2)))
      assertSameRows(store.queryAll(Nil, lo, hi), full.filter($"ts_us".between(lo, hi)))
    // a closed read filters the payload and rollup rows' own labels
    for (df <- Seq(store.queryAll(ms, closedDays._1, closedDays._2),
           store.queryRollup(ms, closedDays._1, closedDays._2))) {
      assert(!df.isEmpty)
      val nodes = planNodes(df.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), nodes.mkString("\n"))
      assert(!nodes.exists(_.isInstanceOf[BroadcastExchangeExec]), nodes.mkString("\n"))
    }
    // an out-of-range read answers empty in the store's own label types
    val recorded = new ChunkStore(spark, Files.createTempDirectory("graft_tier_rule").toString,
      chunkMs = 86400000L, rollupOnClose = true)
    assert(graft.promql.PromQL.recordRule(labeledStore("graft_tier_src", 0), recorded,
      "job:hits:sum1d", """sum by (user_id) (sum_over_time({event_type=~"click|purchase"}[1d]))""",
      day0 + dayUs, day0 + 5 * dayUs, dayUs) > 0)
    for (closeBelow <- Seq(day0 + 3 * dayUs, day0 + 10 * dayUs)) { // mixed, then closed only
      recorded.closeChunksBelow(closeBelow)
      for (df <- Seq(recorded.queryAll(Nil, day0 + 20 * dayUs, day0 + 21 * dayUs),
             recorded.queryEncoded(Nil, day0 + 20 * dayUs, day0 + 21 * dayUs))) {
        assert(df.isEmpty)
        assert(df.schema("user_id").dataType == StringType)
      }
    }
  }

  test("backfillRollups gives chunks closed before rollupOnClose labeled rollups") {
    val plain = labeledStore("graft_backfill_rollups", 0)
    val dir = plain.path
    new ChunkStore(spark, dir, chunkMs = 86400000L).closeChunksBelow(day0 + 3 * dayUs)
    assert(!new java.io.File(s"$dir/rollup").exists())
    val ms = Seq[Matcher](MatchEq("event_type", "click"))
    // every closed chunk lacks its rollups: the refusal names the fix
    val missing = intercept[IllegalStateException](plain.queryRollup(ms, day0, day0 + 3 * dayUs))
    assert(missing.getMessage.contains("backfillRollups()"), missing.getMessage)
    plain.backfillRollups()
    // the same answer as a store that wrote its rollups on close, but
    // for the event_id inside first/last_point, which a decode cannot
    // recover
    val closedWithRollups = labeledStore("graft_rollups_on_close", 3)
    def served(s: ChunkStore) =
      s.queryRollup(ms, day0, day0 + 3 * dayUs).drop("first_point", "last_point")
    assert(!served(plain).isEmpty)
    assertSameRows(served(plain), served(closedWithRollups))
  }

  /** Rewrite closed chunk `c` of the store at `dir` in the layout an
    * earlier version wrote: payload rows without labels, and the labels
    * in `closed_catalog/chunk=<c>`. */
  private def toEarlierClosedFormat(dir: String, c: Long): Unit = {
    val onDisk = spark.read.parquet(s"$dir/closed/chunk=$c")
    val labeled = spark.createDataFrame(onDisk.collectAsList(), onDisk.schema) // off disk before the delete
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/closed/chunk=$c"))
    labeled.select("series_id", "payload").write.parquet(s"$dir/closed/chunk=$c")
    labeled.select("series_id", "event_type", "user_id").write.parquet(s"$dir/closed_catalog/chunk=$c")
  }

  test("a store or snapshot an earlier version closed chunks in refuses reads, writes and restores") {
    import Days._
    def refuses(root: String)(body: => Any): Unit = {
      val e = intercept[java.io.IOException](body)
      assert(e.getMessage.contains(s"$root/closed_catalog") &&
        e.getMessage.contains("earlier version"), e.getMessage)
    }
    val (dir, store) = Days.build("graft_old_format")
    toEarlierClosedFormat(dir, t0 / dayUs) // day 0 old, days 1-2 as this version writes them
    val (lo, hi) = (t0, t0 + 4 * dayUs)
    refuses(dir)(store.queryAll(Nil, lo, hi))
    refuses(dir)(store.queryAll(Nil, t0 + dayUs, t0 + 2 * dayUs)) // a new-format chunk only
    refuses(dir)(store.queryEncoded(Nil, lo, hi))
    refuses(dir)(store.queryRollup(Nil, lo, hi))
    refuses(dir)(store.catalog())
    refuses(dir)(store.deleteSeries(Seq(MatchEq("event_type", "click")), lo, hi))
    refuses(dir)(store.backfill(Series.samples(Seq((9L, (t0 + 2 * hUs) * 1000L, 1L, "click", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"))))
    refuses(dir)(store.snapshot(Some("s")))
    assert(!new java.io.File(dir, "_delete_staging").exists() && store.listSnapshots().isEmpty)
    // a snapshot an earlier version took: open and restore refuse, and
    // the restore leaves the store as it was
    val (dir2, current) = Days.build("graft_old_snapshot")
    val before = rows(current)
    current.snapshot(Some("old"))
    toEarlierClosedFormat(s"$dir2/snapshots/old", t0 / dayUs)
    refuses(s"$dir2/snapshots/old")(current.openSnapshot("old"))
    refuses(s"$dir2/snapshots/old")(current.restoreSnapshot("old"))
    assert(noSwapLeft(dir2))
    assert(rows(current) == before)
  }

  /** The Spark jobs the calling thread submits while `body` runs. */
  private def jobsSubmittedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-counted-${java.util.UUID.randomUUID()}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(f: => Unit): Unit = {
        sc.setJobGroup(g, g)
        try f finally sc.clearJobGroup()
      }
      inGroup(group)(body)
      // the listener bus delivers in order: once a marker job submitted
      // after `body` shows, every job of `body` has shown
      inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains(s"$group-marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(groups.contains(s"$group-marker"), "the marker job never reached the listener")
      groups.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("building a read frame on a mixed store with rollups submits no Spark job") {
    val store = labeledStore("graft_zero_jobs", 3) // days 0-2 closed, day 4 live
    val (lo, hi) = (day0, day0 + 10 * dayUs)
    val ms = Seq[Matcher](MatchRe("event_type", "click|view"))
    val frames = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "queryAll" -> (() => store.queryAll(ms, lo, hi)),
      "queryEncoded" -> (() => store.queryEncoded(ms, lo, hi)),
      "queryRollup" -> (() => store.queryRollup(ms, lo, hi)),
      "catalog" -> (() => store.catalog()),
      "seriesFrame" -> (() => graft.sources.RemoteRead.seriesFrame(store,
        (lo / 1000, hi / 1000, ms))),
      "evalStoreRange" -> (() => graft.promql.PromQL.evalStoreRange(store,
        """sum by (event_type) (rate({event_type=~"click|purchase"}[1d]))""",
        day0 + dayUs, day0 + 5 * dayUs, dayUs)))
    for ((name, build) <- frames) {
      var df: org.apache.spark.sql.DataFrame = null
      assert(jobsSubmittedBy { df = build() } == 0, s"$name submitted a job while planning")
      assert(!df.isEmpty, name) // and the frame answers
    }
  }

  /** A store of 2,000 events over five daily chunks (15 series, one
    * event every 216 s), written as `n` streaming batches. */
  private def batchedStore(name: String, n: Int): ChunkStore = {
    val store = new ChunkStore(spark, Files.createTempDirectory(name).toString,
      chunkMs = 86400000L, rollupOnClose = true)
    val written = Series.samples(spark.range(2000).select($"id".as("event_id"),
      (lit(day0 * 1000L) + $"id" * 216000000000L).as("ts"), ($"id" % 5).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase")),
        ($"id" % 3 + 1).cast("int")).as("event_type"),
      $"id".cast("double").as("value")))
    for (b <- 0 until n) store.appendBatch(written.filter($"event_id" % n === b), b.toLong)
    store
  }

  /** A frame's rows as sorted strings, binary payloads by content. */
  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
      case v => String.valueOf(v)
    }.mkString(",")).sorted.toSeq

  test("reads skip live batch directories that hold no data file yet") {
    val store = batchedStore("graft_inflight", 3)
    store.closeChunksBelow(day0 + 3 * dayUs) // days 0-2 closed, day 4 live
    val (lo, hi) = (day0, day0 + 10 * dayUs)
    def answers = Seq(sortedRows(store.queryAll(Nil, lo, hi)),
      sortedRows(store.queryEncoded(Nil, lo, hi)), sortedRows(store.catalog()))
    val quiet = answers
    // in-flight micro-batches, named to sort before every written one:
    // one with only its committer's `_temporary`, one empty, and one
    // with an empty chunk directory
    val live = s"${store.path}/live"
    val temp = new java.io.File(s"$live/batch=-7/_temporary/0/_temporary/attempt_0/chunk=${day0 / dayUs + 4}")
    assert(temp.mkdirs())
    Files.write(new java.io.File(temp, "part-00000.parquet").toPath, Array[Byte](1, 2, 3))
    assert(new java.io.File(s"$live/batch=-8").mkdirs())
    assert(new java.io.File(s"$live/batch=-9/chunk=${day0 / dayUs + 4}").mkdirs())
    assert(answers == quiet)
  }

  test("appendBatch is one write job and leaves no empty batch directory") {
    val store = batchedStore("graft_one_write", 2)
    store.closeChunksBelow(day0 + 3 * dayUs) // days 0-2 closed, days 3-4 live
    val (lo, hi) = (day0, day0 + 10 * dayUs)
    def answers = Seq(sortedRows(store.queryAll(Nil, lo, hi)), sortedRows(store.catalog()))
    def batchDir(id: Long) = new java.io.File(s"${store.path}/live/batch=$id")
    def samples(tsUs: Long, n: Int) = Series.samples(spark.range(n).select($"id".as("event_id"),
      (lit(tsUs * 1000L) + $"id" * 1000000000L).as("ts"), lit(7L).as("user_id"),
      lit("late").as("event_type"), $"id".cast("double").as("value")))
    val sc = spark.sparkContext
    // under the session default, adaptive execution on
    val persisted = sc.getPersistentRDDs.keySet
    assert(jobsSubmittedBy(store.appendBatch(samples(day0 + 4 * dayUs, 50), 10L)) == 1)
    assert(sc.getPersistentRDDs.keySet == persisted)
    assert(batchDir(10L).isDirectory)
    val before = answers
    // every row routed to a closed chunk: the guard drops them all
    store.appendBatch(samples(day0 + dayUs, 50), 11L)
    assert(!batchDir(11L).exists())
    store.appendBatch(samples(day0 + 4 * dayUs, 50).limit(0), 12L)
    assert(!batchDir(12L).exists())
    assert(answers == before)
    // a crash between the write and that removal leaves a committed,
    // file-less batch directory; the next compaction removes it
    assert(batchDir(13L).mkdirs())
    Files.write(new java.io.File(batchDir(13L), "_SUCCESS").toPath, Array.emptyByteArray)
    store.compactBatches(14L)
    assert(!batchDir(13L).exists())
    assert(answers == before)
  }

  test("an append of 16 partitions over 3 chunks writes at most filesPerChunkPerAppend files per chunk, with no shuffle") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft_coalesced").toString
    val store = new ChunkStore(spark, dir, chunkMs = 86400000L, filesPerChunkPerAppend = 2)
    // 3,000 events, one every 86.4 s: days 0-2, in 16 input partitions
    val samples = Series.samples(spark.range(0, 3000, 1, 16).select($"id".as("event_id"),
      (lit(day0 * 1000L) + $"id" * 86400000000L).as("ts"), ($"id" % 7).as("user_id"),
      lit("click").as("event_type"), $"id".cast("double").as("value")))
    assert(samples.rdd.getNumPartitions == 16)
    // the write's executed plan, delivered on the listener bus
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.executedPlan match {
          case w: DataWritingCommandExec if w.cmd.toString.contains(dir) => writes.add(w)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(jobsSubmittedBy(store.appendBatch(samples, 0L)) == 1)
      val deadline = System.currentTimeMillis() + 30000
      while (writes.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, "the append's write plan never reached the listener")
    val shuffles = new AdaptiveSparkPlanHelper {}.collect(writes.peek()) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, writes.peek().toString)
    for (c <- 0L to 2L) {
      val dirs = liveChunkDirs(dir, day0 / dayUs + c)
      assert(dirs.size == 1, s"chunk day $c")
      val files = dirs.head.list().filter(_.endsWith(".parquet"))
      assert(files.nonEmpty && files.length <= 2, files.mkString(","))
    }
    assert(store.live().count() == 3000L)
  }

  test("reads racing compactBatches answer as a quiet store or fail retryably") {
    val template = batchedStore("graft_race_template", 16)
    val (lo, hi) = (day0, day0 + 10 * dayUs)
    val quiet = sortedRows(template.queryAll(Nil, lo, hi))
    /** A read as a remote-read client sees it: 5xx-class failures
      * (anything but the endpoint's 400 mapping) are retried. */
    def read(store: ChunkStore, tries: Int = 1): Seq[String] =
      try sortedRows(store.queryAll(Nil, lo, hi))
      catch {
        case e: Exception if !e.isInstanceOf[IllegalArgumentException] &&
          !e.isInstanceOf[IllegalStateException] && tries < 20 =>
          Thread.sleep(20)
          read(store, tries + 1)
      }
    for (round <- 0 until 3) {
      val store = template.cloneTo(Files.createTempDirectory(s"graft_race_$round").toString + "/s")
      val compaction = scala.concurrent.Future(store.compactBatches(16L))(
        scala.concurrent.ExecutionContext.global)
      var reads = 0
      while (!compaction.isCompleted || reads == 0) {
        assert(read(store) == quiet, s"round $round, read $reads")
        reads += 1
      }
      compaction.value.get.get // a failed compaction fails the spec
      assert(new java.io.File(s"${store.path}/live").list().toSeq == Seq("batch=-16"))
      assert(read(store) == quiet)
    }
  }

  test("a tier file without Spark's row schema fails the read as a server fault, not bad input") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_foreign").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary series_id (UTF8); required int64 ts_us; required double value; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/live/batch=0/chunk=1/part-00000.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("series_id", "s").append("ts_us", 86400000001L).append("value", 1.0))
    finally writer.close()
    val e = intercept[Exception](new ChunkStore(spark, dir, chunkMs = 86400000L)
      .queryAll(Nil, 0L, 10 * dayUs))
    assert(!e.isInstanceOf[IllegalArgumentException] && !e.isInstanceOf[IllegalStateException], e)
    assert(e.getMessage.contains("org.apache.spark.sql.parquet.row.metadata"), e.getMessage)
  }

  test("a second handle's append and close show in this handle's catalog and queryAll") {
    val dir = Files.createTempDirectory("graft_two_handles").toString
    val a = new ChunkStore(spark, dir, chunkMs = 86400000L)
    val b = new ChunkStore(spark, dir, chunkMs = 86400000L)
    val events = labeledEvents
    a.append(Series.samples(events.filter($"event_type" === "view")))
    assert(a.catalog().count() == 1)
    assert(a.queryAll(Nil, day0, day0 + 10 * dayUs).count() == 2)
    b.append(Series.samples(events.filter($"event_type" =!= "view")))
    b.closeChunksBelow(day0 + 3 * dayUs)
    assert(a.catalog().select("event_type", "user_id").as[(String, Long)].collect().toSet ==
      Set(("view", 2L), ("click", 1L), ("purchase", 1L), ("click", 3L)))
    val got = a.queryAll(Nil, day0, day0 + 10 * dayUs)
      .select("event_type", "user_id", "value").as[(String, Long, Double)].collect().toSet
    assert(got == events.select("event_type", "user_id", "value")
      .as[(String, Long, Double)].collect().toSet, got)
  }

  test("a second handle's close and retire drop this handle's late appends") {
    val dir = Files.createTempDirectory("graft_two_writers").toString
    val a = new ChunkStore(spark, dir, chunkMs = 86400000L)
    val b = new ChunkStore(spark, dir, chunkMs = 86400000L)
    a.append(Series.samples(labeledEvents))
    b.closeChunk(day0 / dayUs + 2)
    b.retire(day0 + dayUs)
    val t0n = day0 * 1000L
    val h = 3600000000000L
    a.append(Series.samples(Seq(
      (30L, t0n + 51L * h, 1L, "click", 99.0), // into the chunk b closed
      (31L, t0n + 5L * h, 1L, "click", 98.0))  // below b's retention horizon
      .toDF("event_id", "ts", "user_id", "event_type", "value")))
    val got = a.queryAll(Nil, day0, day0 + 10 * dayUs)
    // day 0 (5.0, 10.0) is retired; neither late row lands
    assert(got.select("value").as[Double].collect().sorted.toSeq ==
      Seq(6.0, 7.0, 20.0, 30.0, 100.0, 110.0))
    assertSameRows(got, new ChunkStore(spark, dir, chunkMs = 86400000L)
      .queryAll(Nil, day0, day0 + 10 * dayUs))
  }

  test("backfill merges late rows into a store written by streaming batches") {
    val dir = Files.createTempDirectory("graft_stream_backfill").toString
    val store = new ChunkStore(spark, dir, chunkMs = 86400000L)
    val written = Series.samples(labeledEvents)
    store.appendBatch(written.filter($"event_id" % 2 === 0), 0L)
    store.appendBatch(written.filter($"event_id" % 2 === 1), 1L)
    store.closeChunksBelow(day0 + 3 * dayUs) // days 0-2 closed, day 4 live
    val t0n = day0 * 1000L
    val h = 3600000000000L
    val late = Seq(
      (20L, t0n + 30L * h, 1L, "click", 21.0), // existing series, closed day 1
      (21L, t0n + 2L * h, 4L, "view", 8.0),    // new series, closed day 0
      (22L, t0n + 99L * h, 2L, "view", 9.0))   // live day 4
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    store.backfill(Series.samples(late))
    assertSameRows(store.queryAll(Nil, day0, day0 + 10 * dayUs),
      Series.samples(labeledEvents.unionByName(late))
        .select("series_id", "ts_us", "value", "event_type", "user_id"))
  }
}
