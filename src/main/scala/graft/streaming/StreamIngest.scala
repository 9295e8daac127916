package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.tsdb.{ChunkStore, Series}

/** Streaming ingest — the reference's WAL + remote-write path
  * (src/wal/, src/server.rs:170-179) re-expressed as Structured
  * Streaming: `readStream` → event-time watermark → windowed
  * aggregation. The same transforms run identically on a batch
  * DataFrame (used by the oracle-checked `stream_window_counts`
  * query) — Structured Streaming's prefix-consistency guarantee means
  * the streaming result converges to the batch result.
  */
object StreamIngest {

  /** Tumbling-window per-event_type counts + exact value sums.
    * `events` may be a streaming or batch frame with (ts, event_type,
    * value). On streaming input add [[withWatermark]] first. */
  def windowCounts(events: DataFrame, windowDuration: String = "1 hour"): DataFrame = {
    val eventTs = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts div 1000"))
      // NTZ → TZ under the UTC session tz so unix_millis(window.start)
      // below stays well-typed (it requires TIMESTAMP, not _NTZ)
      case org.apache.spark.sql.types.TimestampNTZType =>
        col("ts").cast(org.apache.spark.sql.types.TimestampType)
      case _ => col("ts")
    }
    events
      .groupBy(window(eventTs, windowDuration), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,2)")).cast("double").as("sum_value"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  def withWatermark(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", delay)

  /** Windowed aggregates AT REST: append-mode parquet sink. Append
    * mode emits a window only once the watermark passes its end — the
    * row is FINAL, so the parquet files are immutable facts (no
    * update-in-place, which a file sink can't do) and a reader sees
    * exactly the batch-equivalent result for every closed window.
    * This is the long-term-storage end of the ingest story: stream →
    * finalized hourly rollups, queryable forever, exactly-once via
    * the checkpoint. `events` must already carry a watermark. */
  def startWindowedParquetSink(events: DataFrame, outDir: String, checkpoint: String,
                               windowDuration: String = "1 hour") =
    windowCounts(events, windowDuration)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", outDir)
      .start()

  /** The one streaming sink into a [[graft.tsdb.ChunkStore]]: the
    * reference's ingest loop (remote-write → WAL → current chunk,
    * src/server.rs:170-179, src/db.rs:178-199, and the background swap
    * that closes it, src/db.rs:100-110,265-303) as one `foreachBatch`.
    * Each micro-batch runs, in order:
    *  1. `toSamples(batch)`: the source rows as store samples
    *     ([[graft.tsdb.Series.samples]] for event rows,
    *     [[graft.sources.RemoteWrite.toEventSamples]] for payloads,
    *     [[scrapeSamples]] for a pull loop);
    *  2. [[graft.tsdb.ChunkStore.appendBatch]] under the batch id, one
    *     Spark job with no shuffle. It overwrites a batch-scoped
    *     directory, so an at-least-once replay after a crash rewrites
    *     the same directory instead of duplicating rows: the checkpoint
    *     plays the WAL, and restart-from-checkpoint converges to the
    *     one-shot batch result (StreamRecoverySpec);
    *  3. [[graft.tsdb.ChunkStore.compactBatches]] every
    *     `compactEveryBatches` batches (0 = never), so a seconds-trigger
    *     sink keeps (cadence × salts) live files per chunk instead of
    *     one batch directory per trigger for as long as it runs;
    *  4. with `closeLagUs`, every live chunk entirely below the batch's
    *     max event time minus the lag is Gorilla-closed; with
    *     `retentionUs > 0`, chunks ending below max − retention retire.
    *     Retire is called only when that horizon crosses a chunk
    *     boundary at the store's own grain: it can only free whole
    *     chunks, and each call rewrites `_retention` and re-lists the
    *     store;
    *  5. `onProgress(minTs, maxTs)` over the batch's event-time span
    *     (e.g. [[ruleRefresh]]).
    *
    * Maintenance follows DATA progress, not a timer thread: it is
    * deterministic, and a replayed batch re-issues the same or an older
    * horizon, which close and retire treat as a no-op. Only when one of
    * steps 4-5 is configured is the batch persisted for its [min, max]
    * probe, and it is released on every exit path; otherwise the sink
    * runs one append job per micro-batch. Misconfiguration is refused
    * here, at setup: inside `foreachBatch` it would start a
    * healthy-looking query that dies on its first non-empty batch.
    * `intervalMs` is the processing-time trigger (0 = start the next
    * batch as soon as the last ends). One streaming query (one
    * checkpoint) per store path: a fresh checkpoint restarts batch ids
    * at 0 and would overwrite history. */
  def startStoreSink(source: DataFrame, store: ChunkStore, checkpoint: String,
                     toSamples: DataFrame => DataFrame = Series.samples,
                     compactEveryBatches: Int = 0,
                     closeLagUs: Option[Long] = None,
                     retentionUs: Long = 0L,
                     intervalMs: Long = 0L,
                     onProgress: Option[(Long, Long) => Unit] = None): StreamingQuery = {
    require(retentionUs == 0L || closeLagUs.exists(retentionUs > _),
      s"retentionUs=$retentionUs must exceed closeLagUs=$closeLagUs " +
        "(retiring not-yet-closed chunks would drop live data)")
    val probe = closeLagUs.isDefined || retentionUs > 0L || onProgress.isDefined
    var lastRetireHorizonUs = Long.MinValue
    source.writeStream
      .trigger(Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val samples = if (probe) toSamples(batch).persist() else toSamples(batch)
        try {
          store.appendBatch(samples, batchId)
          if (compactEveryBatches > 0 && batchId > 0 && batchId % compactEveryBatches == 0)
            store.compactBatches(batchId)
          if (probe) {
            val mm = samples.agg(min(col("ts_us")), max(col("ts_us"))).head()
            if (!mm.isNullAt(1)) {
              val (lo, hi) = (mm.getLong(0), mm.getLong(1))
              closeLagUs.foreach(lag => store.closeChunksBelow(hi - lag))
              if (retentionUs > 0L) {
                val horizon = hi - retentionUs
                if (lastRetireHorizonUs == Long.MinValue ||
                  horizon / store.chunkUs > lastRetireHorizonUs / store.chunkUs) {
                  store.retire(horizon)
                  lastRetireHorizonUs = horizon
                }
              }
              onProgress.foreach(_(lo, hi))
            }
          }
        } finally if (probe) samples.unpersist(blocking = false)
        ()
      }
      .start()
  }

  case class TimedEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionEvent(user_id: Long, ts_us: Long, value: Double)
  case class SessionState(start_us: Long, end_us: Long, n: Long, sum_cents: Long)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long, sum_value: Double)

  /** Session value sums accumulate as integer CENTS (the batch
    * operator's per-value DECIMAL(28,2) HALF_UP cast + exact sum), so
    * a session's sum_value is bit-identical whatever order its events
    * arrived in — raw double accumulation would drift per micro-batch
    * cut and could never answer the batch oracle. */
  private def cents2(v: Double): Long = java.math.BigDecimal.valueOf(v)
    .setScale(2, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
  private def centsToDouble(c: Long): Double =
    java.math.BigDecimal.valueOf(c, 2).doubleValue()

  /** Stateful streaming sessionization: a per-user session closes when
    * a later event arrives more than `gapUs` past its end, and the
    * closed session is emitted. Custom state via
    * `flatMapGroupsWithState` — state lives in the state store keyed
    * by user, so at 100 TB of events state size is O(active users),
    * not O(events). Deliberately NoTimeout: emission is driven purely
    * by data (deterministic, replayable); a wall-clock close for
    * forever-quiet users belongs to an event-time-timeout variant.
    *
    * Converges EXACTLY to the batch [[graft.tsdb.TsOps.sessionize]]
    * grouping on ordered arrival (same gap rule; sums in cents — see
    * [[cents2]]); the stream_sessionize gate closes every session with
    * the SENTINEL-FLUSH idiom — one virtual per-user event a full gap
    * past the user's horizon, the data-driven stand-in for a
    * watermark timeout — and answers the batch oracle row-for-row. */
  def sessionizeStream(events: Dataset[SessionEvent],
                       gapUs: Long = 30L * 60 * 1000 * 1000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          var out = List.empty[SessionOut]
          var cur = state.getOption
          rows.toSeq.sortBy(e => e.ts_us).foreach { e =>
            cur match {
              case Some(s) if e.ts_us >= s.start_us - gapUs && e.ts_us - s.end_us <= gapUs =>
                // within gap of the session INTERVAL (either side):
                // merge via min/max, never overwrite — a cross-batch
                // out-of-order event inside the gap must not regress
                // the span. The lower bound matters too: "before end"
                // alone would swallow arbitrarily-early stragglers.
                cur = Some(SessionState(math.min(s.start_us, e.ts_us),
                  math.max(s.end_us, e.ts_us), s.n + 1,
                  s.sum_cents + cents2(e.value)))
              case Some(s) if e.ts_us < s.start_us - gapUs =>
                // an out-of-order event a full gap BEFORE the current
                // session: it belongs to an earlier session the state
                // no longer holds — emit it as its own closed
                // single-event session (deterministic best effort;
                // the batch operator would have grouped it with its
                // true contemporaries)
                out ::= SessionOut(user, e.ts_us, e.ts_us, 1,
                  centsToDouble(cents2(e.value)))
              case Some(s) =>
                out ::= SessionOut(user, s.start_us, s.end_us, s.n,
                  centsToDouble(s.sum_cents))
                cur = Some(SessionState(e.ts_us, e.ts_us, 1, cents2(e.value)))
              case None =>
                cur = Some(SessionState(e.ts_us, e.ts_us, 1, cents2(e.value)))
            }
          }
          cur.foreach(state.update)
          out.reverseIterator
      }
  }

  /** Stream-stream interval join: attribute each purchase to every
    * click by the same user in the preceding `within` window — the
    * symmetric stateful join (each side buffers in the state store
    * until the other side's watermark passes its join window). The
    * time-bound condition is what makes state FINITE: with watermarks
    * on both sides Spark evicts a buffered click once no future
    * purchase can land in its window, so state is
    * O(events-per-watermark-horizon), independent of stream length.
    * An unbounded-condition stream join would grow state forever —
    * the interval bound is mandatory at 100 TB/day, not a nicety. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      within: String = "1 hour",
                      delay: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", delay)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", delay)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
    c.join(p,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $within"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        col("c_ts"), col("p_ts"), col("value"))
  }

  case class KmvIn(g: String, h: Long)
  case class KmvState(mins: Array[Long])
  case class KmvOut(g: String, n_kept: Long, kth_hash: Long, est_distinct: Double)

  /** Streaming distinct-count sketch: the k-minimum-values estimator
    * (analytics/Kmv.scala) maintained incrementally per group with
    * `mapGroupsWithState`. State is the k smallest distinct hash60
    * values seen so far — O(k) per group FOREVER, where exact
    * streaming distinct state grows with the true cardinality. Each
    * micro-batch emits the group's refreshed estimate (Update mode).
    * The sketch is a monotone semilattice (merge = min-k of union), so
    * arrival order, batching, and replays cannot change the converged
    * state — the final estimate equals the batch [[graft.analytics.Kmv
    * .distinctEstimate]] on the same data (asserted in StreamKmvSpec). */
  def kmvDistinctStream(events: DataFrame, k: Int = 64): Dataset[KmvOut] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("event_type").as("g"),
        graft.analytics.Kmv.hash60(col("user_id")).as("h"))
      .as[KmvIn]
      .groupByKey(_.g)
      .mapGroupsWithState[KmvState, KmvOut](GroupStateTimeout.NoTimeout()) {
        (g: String, rows: Iterator[KmvIn], state: GroupState[KmvState]) =>
          val set = scala.collection.mutable.TreeSet.empty[Long]
          state.getOption.foreach(st => set ++= st.mins)
          rows.foreach { r =>
            if (set.size < k) set += r.h
            else if (r.h < set.max && !set.contains(r.h)) { set -= set.max; set += r.h }
          }
          state.update(KmvState(set.toArray))
          val n = set.size
          val kth = if (n > 0) set.max else 0L
          val est =
            if (n < k) n.toDouble
            else (k - 1).toDouble * graft.analytics.Kmv.HashSpace / kth.toDouble
          KmvOut(g, n.toLong, kth, est)
      }
  }

  case class AlertIn(series_id: String, ts_us: Long, event_id: Long, value: Double)
  case class AlertRunState(active_since_us: Long)
  case class AlertOut(series_id: String, ts_us: Long, value: Double,
                      active_since_us: Long, state: String)

  /** Streaming Prometheus alerting — the rule evaluator's FOR state
    * machine ([[graft.tsdb.TsOps.alertFiring]]'s batch semantics) run
    * incrementally per series with `flatMapGroupsWithState`. State is
    * the current unbroken run's start timestamp — O(1) per series
    * FOREVER — so a 100M-series alert rule carries 100M tiny state
    * rows, not history. Each condition-true sample emits pending or
    * firing against `active_since`; one false sample resets the run.
    * Within a micro-batch samples sort by the batch operator's
    * (ts_us, event_id) total order (bounded by the batch's per-series
    * volume); across batches per-series order is
    * the remote-write path's append order, same as the reference's
    * rule evaluator. Converges to the batch operator on ordered
    * arrival (StreamAlertSpec). */
  def alertStream(samples: DataFrame, threshold: Double,
                  forUs: Long): Dataset[AlertOut] = {
    import samples.sparkSession.implicits._
    samples.select(col("series_id"), col("ts_us"), col("event_id"), col("value"))
      .as[AlertIn]
      .groupByKey(_.series_id)
      .flatMapGroupsWithState[AlertRunState, AlertOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, rows: Iterator[AlertIn], state: GroupState[AlertRunState]) =>
          var st = state.getOption.getOrElse(AlertRunState(-1L))
          val out = Seq.newBuilder[AlertOut]
          // the batch operator's (ts_us, event_id) TOTAL order — a
          // value-based tiebreak would diverge on duplicate timestamps
          rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            if (e.value > threshold) {
              val since = if (st.active_since_us >= 0) st.active_since_us else e.ts_us
              out += AlertOut(sid, e.ts_us, e.value, since,
                if (e.ts_us - since >= forUs) "firing" else "pending")
              st = AlertRunState(since)
            } else st = AlertRunState(-1L)
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class CusumState(s_hi: Long, s_lo: Long)
  case class CusumOut(series_id: String, ts_us: Long, value: Double,
                      direction: String, stat: Double)

  /** ONLINE CUSUM change-point detection — the batch
    * [[graft.tsdb.TsOps.cusum]] recursion run live per series with
    * `mapGroupsWithState`-style O(1) state: the pair (s_hi, s_lo) in
    * integer 1e-6 units, nothing else, forever. The baseline
    * (mean, std) is a PARAMETER here — a live monitor tests against a
    * configured baseline; the batch operator estimates it from the
    * corpus — so feeding the stream the batch's moments converges the
    * two exactly (StreamCusumSpec drills it across micro-batch cuts).
    * Summands quantize through the same HALF_UP 6dp rounding as the
    * batch decimals, so state and crossings are bit-identical to the
    * batch closed form, not merely close. */
  def cusumStream(samples: DataFrame, mean: Double, std: Double,
                  k: Double = 0.25, h: Double = 3.0): Dataset[CusumOut] = {
    import samples.sparkSession.implicits._
    require(std > 0, "positive std baseline")
    val hUnits = java.math.BigDecimal.valueOf(h)
      .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
    def r6(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
    samples.select(col("series_id"), col("ts_us"), col("event_id"), col("value"))
      .as[AlertIn]
      .groupByKey(_.series_id)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, rows: Iterator[AlertIn], state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0L, 0L))
          val out = Seq.newBuilder[CusumOut]
          rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            val z = (e.value - mean) / std
            val sHi = math.max(0L, st.s_hi + r6(z - k))
            val sLo = math.max(0L, st.s_lo + r6(-z - k))
            if (sHi >= hUnits && st.s_hi < hUnits)
              out += CusumOut(sid, e.ts_us, e.value, "up", sHi.toDouble / 1e6)
            else if (sLo >= hUnits && st.s_lo < hUnits)
              out += CusumOut(sid, e.ts_us, e.value, "down", sLo.toDouble / 1e6)
            st = CusumState(sHi, sLo)
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class EwmaState(cents: Array[Long])
  case class EwmaOut(series_id: String, ts_us: Long, value: Double, ewma: Double)

  /** ONLINE truncated EWMA — the batch [[graft.tsdb.TsOps.ewma]]
    * smoother run live per series with O(k) state: the last k−1
    * sample values as integer cents (oldest first), nothing else,
    * forever. Each arriving sample emits its smoothed value over the
    * ≤k most recent samples with weights 2^(k−1−distance) — the same
    * truncated dyadic kernel the batch operator emits map-side (a
    * true infinite-tail EWMA recursion is not order-independently
    * exact; the k-term truncation is what makes both engines agree to
    * the bit). Numerator/denominator build in integer cents × integer
    * weights (num ≤ 2^k · 100·|v|max — far inside Long), and the one
    * division reproduces the batch's DECIMAL→double cast exactly:
    * BigDecimal(num, 2).doubleValue / den. Converges bit-identically
    * to the batch operator across any micro-batch cuts on ordered
    * arrival (StreamEwmaSpec). */
  def ewmaStream(samples: DataFrame, k: Int = 16): Dataset[EwmaOut] = {
    import samples.sparkSession.implicits._
    require(k >= 1 && k <= 62, s"k in [1, 62], got $k")
    samples.select(col("series_id"), col("ts_us"), col("event_id"), col("value"))
      .as[AlertIn]
      .groupByKey(_.series_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, rows: Iterator[AlertIn], state: GroupState[EwmaState]) =>
          var hist = state.getOption.map(_.cents.toVector).getOrElse(Vector.empty)
          val out = Seq.newBuilder[EwmaOut]
          // the batch operator's (ts_us, event_id) total order
          rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            hist = (hist :+ cents2(e.value)).takeRight(k)
            var num = 0L
            var den = 0L
            var j = 0
            while (j < hist.length) {
              // element j (oldest first) sits distance hist.length−1−j
              // from the current sample → weight 2^(k−1−distance)
              val w = 1L << (k - hist.length + j)
              num += hist(j) * w
              den += w
              j += 1
            }
            out += EwmaOut(sid, e.ts_us, e.value,
              java.math.BigDecimal.valueOf(num, 2).doubleValue() / den.toDouble)
          }
          // state needs only the k−1 values a FUTURE sample can see
          state.update(EwmaState(hist.takeRight(k - 1).toArray))
          out.result().iterator
      }
  }

  case class SsIn(day: Long, t: String)
  case class SsEntry(t: String, cnt: Long, err: Long)
  case class SsState(entries: Array[SsEntry])
  case class SsOut(day: Long, event_type: String, cnt: Long, err: Long,
                   rank: Long)

  /** Streaming HEAVY HITTERS — the SpaceSaving sketch (Metwally et
    * al., ICDT 2005; the Misra–Gries family member every streaming
    * top-k dashboard runs on): per day, at most `k` monitored
    * (type, count, err) entries FOREVER — an eviction replaces the
    * minimum-count entry and inherits its count as the new entry's
    * overestimation bound `err` — where exact streaming counts grow
    * with the true type cardinality. Each batch emits the refreshed
    * top `topN` by (cnt desc, type asc).
    *
    * In the k ≥ cardinality regime the sketch is EXACT (no eviction
    * ever fires, err = 0, merge across batches is count addition —
    * order-free), which is what the oracle gates: plain per-day
    * counts. The eviction path (err inheritance, the deterministic
    * evict-smallest-count-then-lexicographic-type rule) is
    * spec-pinned where the oracle can't see it. O(k) state per day;
    * the corpus-scale work is upstream of the grouping. */
  def topkStream(events: DataFrame, k: Int = 32,
                 topN: Int = 5): Dataset[SsOut] = {
    val s = events.sparkSession
    import s.implicits._
    require(k >= 1 && topN >= 1 && topN <= k, s"need 1 <= topN <= k, got $topN/$k")
    graft.tsdb.Series.samples(events)
      .select(expr("ts_us div 86400000000").as("day"),
        col("event_type").as("t"))
      .as[SsIn]
      .groupByKey(_.day)
      .flatMapGroupsWithState[SsState, SsOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (day: Long, rows: Iterator[SsIn], state: GroupState[SsState]) =>
          val m = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
          state.getOption.foreach(_.entries.foreach(e => m(e.t) = (e.cnt, e.err)))
          rows.foreach { r =>
            m.get(r.t) match {
              case Some((c, e)) => m(r.t) = (c + 1, e)
              case None if m.size < k => m(r.t) = (1L, 0L)
              case None =>
                // evict the min count; ties break to the smallest type
                // string so replay order can't change the survivor
                val (vt, (vc, _)) = m.minBy { case (t, (c, _)) => (c, t) }
                m.remove(vt)
                m(r.t) = (vc + 1, vc)
            }
          }
          state.update(SsState(
            m.map { case (t, (c, e)) => SsEntry(t, c, e) }.toArray))
          m.toSeq.sortBy { case (t, (c, _)) => (-c, t) }.take(topN)
            .zipWithIndex.map { case ((t, (c, e)), i) =>
              SsOut(day, t, c, e, i + 1L)
            }.iterator
      }
  }

  case class GapIn(series_id: String, ts_us: Long, event_id: Long)
  case class GapState(last_us: Long)
  case class GapOut(series_id: String, gap_start_us: Long, gap_end_us: Long,
                    gap_us: Long)

  /** Streaming GAP DETECTOR — the incremental sibling of
    * TsOps.gapReport: per series the state is ONE long (the last
    * sample time, O(1) forever); a gap over `gapUs` emits when the
    * NEXT sample arrives, carrying its exact [start, end] bounds.
    * (Detection-on-arrival, stated — a series that goes silent
    * forever needs the absent/alert path, which watches wall clock;
    * this one reports how long the outage WAS once it heals.)
    * In-batch rows process in the (ts_us, event_id) total order (the
    * ewma discipline), so batch-mode equals the batch lag pass
    * row-for-row and micro-batch cuts can't change the emitted
    * set on ordered arrival. */
  def gapStream(events: DataFrame,
                gapUs: Long = 2L * 86400L * 1000000L): Dataset[GapOut] = {
    val s = events.sparkSession
    import s.implicits._
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    graft.tsdb.Series.samples(events)
      .select(col("series_id"), col("ts_us"), col("event_id"))
      .as[GapIn]
      .groupByKey(_.series_id)
      .flatMapGroupsWithState[GapState, GapOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, rows: Iterator[GapIn], state: GroupState[GapState]) =>
          var last = state.getOption.map(_.last_us)
          val out = Seq.newBuilder[GapOut]
          rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
            last.foreach { l =>
              if (r.ts_us - l > gapUs)
                out += GapOut(sid, l, r.ts_us, r.ts_us - l)
            }
            last = Some(last.fold(r.ts_us)(math.max(_, r.ts_us)))
          }
          last.foreach(l => state.update(GapState(l)))
          out.result().iterator
      }
  }

  case class DriftIn(dim: Long, grp: String, x: Double)
  case class DriftState(a: Array[Long], b: Array[Long])
  case class DriftOut(dim: Long, n_a: Long, n_b: Long, psi: Double)

  /** STREAMING PSI drift monitor — the batch
    * [[graft.vector.VectorOps.driftPsi]] run live with
    * `flatMapGroupsWithState` and O(bins) integer state per dimension
    * (two count arrays, nothing else, forever). The bin grid
    * (per-dim min/max) is a PARAMETER here — a live monitor bins
    * against a configured reference grid, exactly like
    * [[cusumStream]]'s (mean, std) baseline; the batch operator
    * estimates extents from the corpus, so feeding the stream the
    * batch's extents converges the two EXACTLY (StreamDriftSpec pins
    * psi equality across micro-batch cuts).
    *
    * The replication is expression-for-expression: same IEEE bin
    * formula (constant dims route to bin 0), same Laplace
    * (n+1)/(tot+bins) doubles, same 9dp-HALF_UP term rounding and
    * exact decimal sum, same final 6dp round — BigDecimal.valueOf
    * mirrors Spark's string-repr round, Math.log is the same JVM log.
    * The batch denominator is the GLOBAL cohort count (rows × dims,
    * every dim of a dense vector contributes one value), so each
    * dim's group derives it as its own count × `nDims` — the dense-
    * vector contract. Emits the dim's CURRENT psi after every
    * micro-batch touch (append mode): a dashboard reads the latest
    * row per dim. Input: exploded (dim, grp ∈ {a,b}, x). */
  def driftPsiStream(rows: DataFrame, extents: Map[Long, (Double, Double)],
                     nDims: Int, nBins: Int = 10,
                     roundTo: Int = 6): Dataset[DriftOut] = {
    import rows.sparkSession.implicits._
    require(nDims > 0 && nBins > 0, "positive dims/bins")
    def r(x: Double, s: Int): Double = java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
    rows.select(col("dim"), col("grp"), col("x")).as[DriftIn]
      .groupByKey(_.dim)
      .flatMapGroupsWithState[DriftState, DriftOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (dim: Long, it: Iterator[DriftIn], state: GroupState[DriftState]) =>
          val st = state.getOption.getOrElse(
            DriftState(new Array[Long](nBins), new Array[Long](nBins)))
          val (mn, mx) = extents.getOrElse(dim,
            throw new IllegalArgumentException(s"no bin extents for dim $dim"))
          it.foreach { e =>
            // the batch bin expression verbatim: constant dims (mx ==
            // mn would divide 0/0) pin to bin 0 and stay visible
            val bin = if (mx > mn)
              math.min(math.floor((e.x - mn) / (mx - mn) * nBins).toLong, nBins - 1L)
            else 0L
            val b = bin.toInt
            if (e.grp == "a") st.a(b) += 1 else st.b(b) += 1
          }
          state.update(st)
          val (na, nb) = (st.a.sum, st.b.sum)
          // batch denominators: global cohort counts = per-dim × nDims
          val (ta, tb) = (na * nDims + nBins, nb * nDims + nBins)
          var sum = java.math.BigDecimal.ZERO
          var i = 0
          while (i < nBins) {
            val pa = (st.a(i) + 1).toDouble / ta.toDouble
            val pb = (st.b(i) + 1).toDouble / tb.toDouble
            val term = r((pa - pb) * math.log(pa / pb), 9)
            sum = sum.add(java.math.BigDecimal.valueOf(term)
              .setScale(9, java.math.RoundingMode.HALF_UP))
            i += 1
          }
          Iterator.single(DriftOut(dim, na, nb, r(sum.doubleValue(), roundTo)))
      }
  }

  /** Event-time-timeout sessionization: like [[sessionizeStream]], but
    * a forever-quiet user's open session ALSO closes once the event-
    * time watermark passes `session end + gap` — the state store never
    * accumulates dead sessions (bounded state at any uptime, which the
    * NoTimeout variant can't guarantee). Input needs a `ts` TIMESTAMP
    * column; emission stays deterministic in event time because the
    * timeout fires on watermark progress, not wall clock. */
  def sessionizeStreamEventTime(events: DataFrame,
                                gapUs: Long = 30L * 60 * 1000 * 1000,
                                delay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[TimedEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed end+gap with no new events: close & drop
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start_us, s.end_us, s.n,
              centsToDouble(s.sum_cents)))
          } else {
            var out = List.empty[SessionOut]
            var cur = state.getOption
            rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val us = e.ts.getTime * 1000
              cur match {
                case Some(s) if us >= s.start_us - gapUs && us - s.end_us <= gapUs =>
                  // see sessionizeStream: merge only within gap of the
                  // session interval, via min/max (no span regression)
                  cur = Some(SessionState(math.min(s.start_us, us),
                    math.max(s.end_us, us), s.n + 1,
                    s.sum_cents + cents2(e.value)))
                case Some(s) if us < s.start_us - gapUs =>
                  // straggler a full gap before the session: its own
                  // closed single-event session (see sessionizeStream)
                  out ::= SessionOut(user, us, us, 1,
                    centsToDouble(cents2(e.value)))
                case Some(s) =>
                  out ::= SessionOut(user, s.start_us, s.end_us, s.n,
                    centsToDouble(s.sum_cents))
                  cur = Some(SessionState(us, us, 1, cents2(e.value)))
                case None =>
                  cur = Some(SessionState(us, us, 1, cents2(e.value)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fires when watermark ≥ session end + gap (ms precision)
              state.setTimeoutTimestamp((s.end_us + gapUs) / 1000)
            }
            out.reverseIterator
          }
      }
  }

  /** Streaming exact dedup: emit each distinct text's FIRST arrival,
    * dropping later duplicates. `dropDuplicatesWithinWatermark` keys
    * state on the content hash and expires entries once the watermark
    * passes them — state is bounded by (dedup window × arrival rate),
    * not by stream lifetime, which is what makes exact dedup viable on
    * an unbounded corpus feed. Input needs (doc_id, ts TIMESTAMP,
    * text). */
  def dedupStream(docs: DataFrame, delay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("text_md5", md5(col("text")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Continuous PromQL RULE EVALUATION, the Prometheus evaluator loop,
    * as a [[startStoreSink]] `onProgress` hook. After a batch's append
    * it evaluates the rule expression over the step-aligned instants
    * the batch's DATA PROGRESS covers ([min ts, max ts]: no wall clock,
    * deterministic on replay) via [[graft.promql.PromQL.alertRuleStore]],
    * and overwrites those instants' partitions of the alerts table.
    *
    * Idempotence + late data share one mechanism: an instant's alert
    * rows are a pure function of the store content and the instant,
    * and writes are per-instant partition rewrites — a replayed batch
    * rewrites identical rows; a late batch touching an already-evaluated
    * instant REFRESHES it against the now-complete store (self-healing,
    * where a log-append sink would duplicate or go stale). FOR runs
    * older than the evaluated grid clip their `active_since_us` at the
    * grid's lookback edge (forUs + one step back), but the
    * pending/firing STATE is exact — a run active through the whole
    * lookback has already been active ≥ forUs. */
  def ruleRefresh(store: ChunkStore, query: String, forUs: Long, stepUs: Long,
                  alertsDir: String): (Long, Long) => Unit = {
    require(stepUs > 0, s"stepUs must be positive, got $stepUs")
    // the batch's REFRESH RANGE: its data [lo, hi] can change any
    // instant whose window touches it (t ≤ hi + widest-window) and,
    // through the FOR run it extends, the state of instants up to
    // forUs further (beyond that a run is ≥ forUs old on its own and
    // already firing) — so evaluate and rewrite every step-aligned
    // instant in [ceil(lo), floor(hi + window + forUs)]
    val windowUs = graft.promql.PromQL.maxWindowUs(
      graft.promql.PromQL.parse(query), 5L * 60L * 1000000L)
    (lo: Long, hi: Long) => {
      val first = Math.floorDiv(lo + stepUs - 1, stepUs) * stepUs
      val last = Math.floorDiv(hi + windowUs + forUs, stepUs) * stepUs
      if (last >= first) {
        // lookback edge aligned DOWN to the step grid, so every
        // evaluated instant stays epoch-step-aligned even when forUs is
        // not a step multiple
        val gridStart = Math.floorDiv(first - forUs, stepUs) * stepUs - stepUs
        val out = graft.promql.PromQL.alertRuleStore(store, query, forUs,
            gridStart, last, stepUs)
          .filter(col("ts_us") >= first)
        // exact refresh = clear-then-append: an instant whose alert
        // DISAPPEARS on re-evaluation must lose its old rows, and
        // dynamic overwrite only rewrites partitions that still produce
        // data. ONE directory listing, then delete only the partitions
        // that EXIST in the refresh range — a small step with a wide
        // window+FOR reach spans thousands of grid instants, and a
        // blind per-instant delete is that many blocking filesystem
        // calls per batch (object-store latency would dominate); the
        // existing set is bounded by what earlier batches actually wrote
        val root = new org.apache.hadoop.fs.Path(alertsDir)
        val fs = root.getFileSystem(out.sparkSession.sparkContext.hadoopConfiguration)
        if (fs.exists(root))
          fs.listStatus(root).foreach { st =>
            val n = st.getPath.getName
            if (n.startsWith("ts_us=")) {
              val t = try n.stripPrefix("ts_us=").toLong catch {
                case _: NumberFormatException => Long.MinValue
              }
              if (t >= first && t <= last) fs.delete(st.getPath, true)
            }
          }
        out.write.mode("append").partitionBy("ts_us").parquet(alertsDir)
      }
    }
  }

  /** The Prometheus PULL loop's [[startStoreSink]] `toSamples`: scrape
    * a text-exposition target (`/federate`, any /metrics page) once per
    * micro-batch. Run it on a tick source that yields a row on every
    * trigger, `spark.readStream.format("rate-micro-batch")
    * .option("rowsPerBatch", 1)`, with the scrape interval as
    * `intervalMs`; the tick rows carry nothing. (The `rate` source adds
    * one row per second, and a trigger with no new row runs no batch,
    * so on it the loop scrapes at most once a second.) Each trigger
    * re-scrapes the LIVE target, which is the pull model's semantics:
    * there is no replay of a scrape, so a re-run batch after recovery
    * re-reads the target's CURRENT page and the batch-scoped append
    * keeps the store consistent, as a restarted Prometheus scraper
    * simply scrapes now. Lines without a timestamp stamp the scrape
    * wall-clock instant.
    *
    * The one bounded page is read here, so a failed fetch or parse is
    * a DOWN TARGET for one interval, not a dead scraper: it is logged
    * and yields no samples (a propagated exception would terminate the
    * query). A store fault in the append still fails the query, as in
    * every other sink. */
  def scrapeSamples(url: String): DataFrame => DataFrame = { tick =>
    val spark = tick.sparkSession
    val page = graft.sources.Federation.scrapeSamples(
      spark, url, System.currentTimeMillis() * 1000L)
    try spark.createDataFrame(page.collectAsList(), page.schema)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[scrapeSamples] scrape of $url failed (target down this interval): ${e.getMessage}")
        spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), page.schema)
    }
  }
}
