package graft

import graft.tsdb._
import org.apache.spark.sql.functions._

class TsOpsSpec extends SparkSpec {
  import spark.implicits._

  private def toyEvents = Seq(
    // (event_id, ts_ns, user_id, event_type, value)
    (1L, 1000000000L, 1L, "click", 1.0),
    (2L, 2000000000L, 1L, "click", 3.0),
    (3L, 3000000000L, 1L, "click", 7.0),
    (4L, 1500000000L, 2L, "view", 10.0),
    (5L, 9999000000000L, 2L, "view", 20.0))
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("samples assigns md5 series ids over sorted labels") {
    val s = Series.samples(toyEvents)
    val ids = s.select("series_id").distinct().as[String].collect().sorted
    assert(ids.length == 2)
    // canonical: event_type=click,user_id=1
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("event_type=click,user_id=1".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(ids.contains(expected))
  }

  test("matchers: EQ/NEQ/RE/NRE semantics") {
    val s = Series.samples(toyEvents)
    assert(s.filter(Matcher.all(Seq(MatchEq("event_type", "click")))).count() == 3)
    assert(s.filter(Matcher.all(Seq(MatchNeq("event_type", "click")))).count() == 2)
    assert(s.filter(Matcher.all(Seq(MatchRe("event_type", "^(click|view)$")))).count() == 5)
    // matchers are FULLY ANCHORED (Prometheus =~ semantics): a plain
    // alternation needs no ^$, and a bare prefix matches only itself
    assert(s.filter(Matcher.all(Seq(MatchRe("event_type", "click|view")))).count() == 5)
    assert(s.filter(Matcher.all(Seq(MatchNre("event_type", "v.*")))).count() == 3)
    assert(s.filter(Matcher.all(Seq(MatchNre("event_type", "^v")))).count() == 5)
    assert(s.filter(Matcher.all(Seq(MatchEq("event_type", "click"), MatchEq("user_id", "1")))).count() == 3)
    assert(s.filter(Matcher.all(Nil)).count() == 5)
  }

  test("rangeQuery trims inclusively (reference trim_time_series)") {
    val s = Series.samples(toyEvents)
    val r = TsOps.rangeQuery(s, Nil, 1000000L, 2000000L) // us
    assert(r.count() == 3) // ts_us 1000000, 1500000, 2000000
  }

  test("rangeQuery raw-ts pushdown predicate is boundary-exact") {
    // ns values straddling every boundary of [1000us, 2000us]:
    // 999999ns→999us out; 1000000ns→1000us in; 2000999ns→2000us in
    // (truncating div); 2001000ns→2001us out
    val edges = Seq(
      (1L, 999999L, 1L, "click", 1.0), (2L, 1000000L, 1L, "click", 2.0),
      (3L, 2000999L, 1L, "click", 3.0), (4L, 2001000L, 1L, "click", 4.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val viaDerived = TsOps.rangeQuery(Series.samples(edges), Nil, 1000L, 2000L)
      .select("ts_us").as[Long].collect().sorted.toSeq
    val viaRaw = TsOps.rangeQuery(Series.samplesWithRaw(edges), Nil, 1000L, 2000L)
      .select("ts_us").as[Long].collect().sorted.toSeq
    assert(viaDerived == Seq(1000L, 2000L))
    assert(viaRaw == viaDerived, s"raw=$viaRaw derived=$viaDerived")
    // identical answer on the real corpus too
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val t1 = 1704412800000000L; val t2 = 1704499200000000L
    assert(TsOps.rangeQuery(Series.samplesWithRaw(ev), Nil, t1, t2).count() ==
      TsOps.rangeQuery(Series.samples(ev), Nil, t1, t2).count())
  }

  test("rate = (last-first)/(dt seconds) per series") {
    val r = TsOps.rate(Series.samples(toyEvents))
      .filter($"n_points" === 3).select("rate_per_sec").as[Double].head()
    assert(math.abs(r - (7.0 - 1.0) / 2.0) < 1e-12) // 6 over 2 seconds
  }

  test("lastOverTime picks latest at-or-before cutoff") {
    val l = TsOps.lastOverTime(Series.samples(toyEvents), 2000000L)
    val rows = l.select("value").as[Double].collect().sorted
    assert(rows.toSeq == Seq(3.0, 10.0))
  }

  test("madOutliers flags the spike the z-score detector hides from itself") {
    // 9 points near 10 plus one spike at 1000: the spike drags mean to
    // ~109 and std to ~297, so its z ≈ 3.0 barely clears 2 while MAD
    // stays ~1 and the MAD score is huge; a milder spike (60) is
    // INVISIBLE to z (z ≈ 1.9 in its series) but obvious to MAD
    val rows = ((1 to 9).map(i => (i.toLong, i * 1000000000L, 1L, "click", 9.0 + (i % 3))) :+
      (10L, 10000000000L, 1L, "click", 60.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val mad = TsOps.madOutliers(Series.samples(rows))
      .select("value", "score").as[(Double, Double)].collect().toSeq
    assert(mad.map(_._1) == Seq(60.0), s"got $mad")
    assert(mad.head._2 > 10, "MAD score should dwarf the threshold")
    // z-score on the same series: spike z = (60-15)/sd; sd ≈ 15.1 → z ≈ 3
    // passes too, but shrink the spike and z dies first — the robust
    // property is pinned by construction above (score margin), not by
    // a race between two detectors
  }

  test("overTimeStats: count/min/max over the inclusive range, absent series omitted") {
    // window [1s, 2s] (us): click samples 1.0@1s, 3.0@2s in range;
    // view has only 10.0@1.5s in range (20.0 is far outside)
    val r = TsOps.overTimeStats(Series.samples(toyEvents), 1000000L, 2000000L)
      .select("n_points", "min_value", "max_value", "sum_value", "avg_value")
      .as[(Long, Double, Double, Double, Double)].collect().toSet
    assert(r == Set((2L, 1.0, 3.0, 4.0, 2.0), (1L, 10.0, 10.0, 10.0, 10.0)))
    // a window with no samples at all yields no rows, not zeros
    assert(TsOps.overTimeStats(Series.samples(toyEvents), 0L, 500000L).count() == 0)
  }

  test("downsample buckets by hour with exact sums") {
    val d = TsOps.downsample(Series.samples(toyEvents))
    // first four events share hour bucket 0; the fifth is far out
    assert(d.count() == 3)
    val b0 = d.filter($"bucket_ms" === 0 && $"n_points" === 3)
      .select("sum_value").as[Double].head()
    assert(b0 == 11.0)
  }

  test("sessionize splits on gap") {
    val s = TsOps.sessionize(toyEvents) // user 2: 1.5s then ~9999s later
    assert(s.filter($"user_id" === 2).count() == 2)
    assert(s.filter($"user_id" === 1).count() == 1)
  }

  test("movingAvg: RANGE frame covers exactly the trailing window") {
    val s = Series.samples(toyEvents).filter($"user_id" === 1L)
    val m = TsOps.movingAvg(s, windowUs = 1500000L) // 1.5s lookback
      .select("ts_us", "n_win", "sum_win").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(m(1000000L) == ((1L, 1.0)))        // only itself
    assert(m(2000000L) == ((2L, 4.0)))        // 1s + 2s rows
    assert(m(3000000L) == ((2L, 10.0)))       // 2s + 3s rows (1s aged out)
  }

  test("movingAvg: equal-timestamp rows are frame PEERS (RANGE semantics, matches DuckDB)") {
    val s = Seq(("a", 1000000L, 1.0), ("a", 2000000L, 3.0),
      ("a", 2000000L, 5.0), ("a", 3000000L, 7.0))
      .toDF("series_id", "ts_us", "value")
    val m = TsOps.movingAvg(s, windowUs = 1500000L)
      .select("ts_us", "value", "n_win", "sum_win")
      .as[(Long, Double, Long, Double)].collect().toSet
    // both ts=2000000 rows see BOTH peers (n=3, sum=9) — verified
    // identical in DuckDB's RANGE window on the same input
    assert(m == Set((1000000L, 1.0, 1L, 1.0), (2000000L, 3.0, 3L, 9.0),
      (2000000L, 5.0, 3L, 9.0), (3000000L, 7.0, 3L, 15.0)))
  }

  test("retention matrix: cohort = first-seen day, offsets count distinct users") {
    val day = 86400000000000L // ns
    val ev = Seq(
      (1L, 0L, 1L, "click", 1.0),            // u1 day0
      (2L, 2 * day + 5L, 1L, "click", 1.0),  // u1 day2
      (3L, day, 2L, "click", 1.0),           // u2 day1
      (4L, 2 * day, 2L, "click", 1.0),       // u2 day2
      (5L, 2 * day, 3L, "click", 1.0))       // u3 day2
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = SparkEntry_retention(ev)
    val got = r.as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 0L, 1L), (0L, 2L, 1L), (1L, 0L, 1L), (1L, 1L, 1L), (2L, 0L, 1L)))
  }

  private def SparkEntry_retention(ev: org.apache.spark.sql.DataFrame) = {
    val days = Series.samples(ev)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
    val first = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    days.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  test("gapFill: empty buckets carry the last value forward, marked filled") {
    val hourNs = 3600000000000L
    val ev = Seq(
      (1L, 0L, 1L, "click", 5.0),              // hour 0
      (2L, 2 * hourNs + 1000L, 1L, "click", 9.0)) // hour 2 — hour 1 is a gap
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val g = TsOps.gapFill(Series.samples(ev))
      .select("bucket_ms", "value", "filled")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(g == Seq(
      (0L, 5.0, false),
      (3600000L, 5.0, true),   // carried forward
      (7200000L, 9.0, false)))
  }

  test("resets and changes count adjacent transitions in (ts,event_id) order") {
    val ev = Seq(
      (1L, 1000000000L, 1L, "c", 5.0),
      (2L, 2000000000L, 1L, "c", 3.0), // reset (5→3), change
      (3L, 3000000000L, 1L, "c", 3.0), // flat
      (4L, 4000000000L, 1L, "c", 8.0), // change
      (5L, 5000000000L, 1L, "c", 2.0)) // reset, change
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val s = Series.samples(ev)
    val r = TsOps.resets(s).select("n_points", "n_resets").as[(Long, Long)].head()
    assert(r == ((5L, 2L)))
    val c = TsOps.changes(s).select("n_points", "n_changes").as[(Long, Long)].head()
    assert(c == ((5L, 3L)))
  }

  test("seriesChurn: per-day created/ended/active from series lifespans") {
    // A lives day0..day2 (active all three), B only day1
    val ev = Seq(
      (1L, 1000000000L, 1L, "a", 1.0),        // A first: day 0
      (2L, 216000000000000L, 1L, "a", 1.0),   // A last: day 2 (2.5 d)
      (3L, 100000000000000L, 2L, "a", 1.0))   // B: day 1
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dayUs = 86400000000L
    val r = TsOps.seriesChurn(Series.samples(ev))
      .select("day_us", "active", "created", "ended")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(r.toSeq == Seq(
      (0L, 1L, 1L, 0L),
      (dayUs, 2L, 1L, 1L),
      (2 * dayUs, 1L, 0L, 1L)), r.toSeq)
  }

  test("linreg recovers an exact slope and prediction on a perfect line") {
    val t0Us = 1704067200000000L
    // value = 2·x + 10 at x = 0..4 seconds after t0
    val ev = (0 until 5).map { k =>
      ((k + 1).toLong, (t0Us + k * 1000000L) * 1000L, 1L, "c", 2.0 * k + 10.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val f = TsOps.linreg(Series.samples(ev), t0Us)
      .select("n_points", "slope_per_sec", "predicted")
      .as[(Long, Double, Double)].head()
    assert(f._1 == 5L)
    assert(f._2 == 2.0) // exact: integer x, decimal y, double division of exact sums
    // fit evaluated at x_last + 3600 = 3604: 10 + 2·3604 = 7218
    assert(f._3 == 7218.0)
  }

  test("linreg: constant-time series has zero slope, predicts the mean") {
    val t0Us = 1704067200000000L
    val ev = Seq(
      (1L, t0Us * 1000L, 1L, "c", 4.0),
      (2L, t0Us * 1000L + 500L, 1L, "c", 8.0)) // same second ⇒ den = 0
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val f = TsOps.linreg(Series.samples(ev), t0Us)
      .select("slope_per_sec", "predicted").as[(Double, Double)].head()
    assert(f == ((0.0, 6.0)))
  }

  test("stddevOverTime: exact moments, constant series → 0") {
    val ev = Seq(
      (1L, 1000000000L, 1L, "c", 1.0),
      (2L, 2000000000L, 1L, "c", 2.0),
      (3L, 3000000000L, 1L, "c", 3.0),
      (4L, 4000000000L, 1L, "c", 4.0),
      (5L, 1000000000L, 2L, "v", 7.0),
      (6L, 2000000000L, 2L, "v", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.stddevOverTime(Series.samples(ev))
      .select("n_points", "avg_value", "stddev_value")
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(out.head == ((2L, 7.0, 0.0)))
    assert(out(1)._2 == 2.5 && out(1)._3 == math.sqrt(1.25))
  }

  test("absent returns exactly the series with no sample in range") {
    val s = Series.samples(toyEvents)
    // click samples at 1/2/3s, view at 1.5s and 9999000s (all µs×10⁶)
    assert(TsOps.absent(Series.catalog(toyEvents), s, 0L, 10000000L).count() == 0)
    // only click has a sample in [2.5s, 9s]
    val absent = TsOps.absent(Series.catalog(toyEvents), s, 2500000L, 9000000L)
      .select("event_type").as[String].collect().toSeq
    assert(absent == Seq("view"))
    // nobody samples inside (3s, 9s] exclusive of the clicks → both absent
    assert(TsOps.absent(Series.catalog(toyEvents), s, 4000000L, 9000000L).count() == 2)
  }

  test("vectorRatio: inner vector matching, exact sums") {
    val hourNs = 3600000000000L
    val ev = Seq(
      (1L, 1000L, 1L, "purchase", 10.0),
      (2L, 2000L, 1L, "click", 4.0),
      (3L, 3000L, 1L, "view", 99.0),        // filtered out
      (4L, hourNs + 1000L, 1L, "purchase", 5.0), // purchase-only hour: dropped
      (5L, 2 * hourNs, 2L, "click", 3.0))   // click-only user-hour: dropped
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.vectorRatio(Series.samples(ev), "purchase", "click")
      .select("user_id", "bucket_ms", "num_value", "den_value", "ratio")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq((1L, 0L, 10.0, 4.0, 2.5)))
  }

  test("labelReplace recomputes series identity from the rewritten label set") {
    val out = Series.labelReplace(Series.catalog(toyEvents),
      "family", "event_type", "(cl)[a-z]*", "other")
      .select("series_id", "family", "user_id", "n_source_series")
      .as[(String, String, Long, Long)].collect().sortBy(_._2).toSeq
    val expectCl = java.security.MessageDigest.getInstance("MD5")
      .digest("family=cl,user_id=1".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out.map(r => (r._2, r._3, r._4)) == Seq(("cl", 1L, 1L), ("other", 2L, 1L)))
    assert(out.head._1 == expectCl)
  }

  test("engagement: DAU vs trailing-7-day WAU with stickiness") {
    val dayNs = 86400000000000L
    // user 1 active days 0 and 3; user 2 active day 3 only
    val ev = Seq(
      (1L, 0L, 1L, "c", 1.0),
      (2L, 1000L, 1L, "c", 1.0),          // same day, deduped
      (3L, 3 * dayNs, 1L, "c", 1.0),
      (4L, 3 * dayNs + 5L, 2L, "c", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.engagement(Series.samples(ev))
      .select("day", "dau", "wau7", "stickiness")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // day 0: dau 1, wau7 (days −6..0) = {u1} = 1
    // day 3: dau 2, wau7 (days −3..3) = {u1, u2} = 2
    assert(out == Seq((0L, 1L, 1L, 1.0), (3L, 2L, 2L, 1.0)))
  }

  test("subqueryMaxRate: inner 5-minute rates, hourly max over them") {
    val secNs = 1000000000L
    // inner window 0 (0-300s): samples at 0s→0 and 60s→30: rate 0.5/s
    // inner window 1 (300-600s): 300s→30 and 360s→90: rate 1.0/s
    val ev = Seq(
      (1L, 0L, 1L, "click", 0.0),
      (2L, 60 * secNs, 1L, "click", 30.0),
      (3L, 300 * secNs, 1L, "click", 30.0),
      (4L, 360 * secNs, 1L, "click", 90.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.subqueryMaxRate(Series.samples(ev))
      .select("bucket_ms", "n_windows", "max_rate")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((0L, 2L, 1.0)))
  }

  test("offsetRatio: day-over-day hourly ratio, inner match drops unmatched buckets") {
    val hrNs = 3600000000000L
    val ev = Seq(
      (1L, 0L, 1L, "c", 4.0),             // day 0 hour 0: sum 4
      (2L, 24 * hrNs, 1L, "c", 6.0),      // day 1 hour 0: sum 8
      (3L, 24 * hrNs + 5000L, 1L, "c", 2.0),
      (4L, 25 * hrNs, 1L, "c", 9.0))      // day 1 hour 1: no day-0 peer → dropped
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.offsetRatio(Series.samples(ev))
      .select("bucket_ms", "cur_sum", "prev_sum", "ratio")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq((86400000L, 8.0, 4.0, 2.0)))
  }

  test("interpolate: hourly grid values between neighbors, no extrapolation") {
    val hrNs = 3600000000000L
    // one series: samples at 0:30→10 and 2:30→30. Interior grid
    // points 1:00 and 2:00 interpolate linearly; no grid at 0:00/3:00.
    val ev = Seq(
      (1L, hrNs / 2, 1L, "c", 10.0),
      (2L, 5 * hrNs / 2, 1L, "c", 30.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.interpolate(Series.samples(ev))
      .select("grid_ms", "value_interp")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq((3600000L, 15.0), (7200000L, 25.0)))
  }

  test("interpolate: pair ownership is half-open (pt, nt]; gap-free pairs emit nothing") {
    val hrNs = 3600000000000L
    val ev = Seq(
      (1L, hrNs, 1L, "c", 7.0),       // exactly 1:00
      (2L, 2 * hrNs, 1L, "c", 9.0),   // exactly 2:00
      (3L, 100L, 2L, "c", 1.0),       // user 2: sub-hour pair — no grid inside
      (4L, 200L, 2L, "c", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.interpolate(Series.samples(ev))
      .select("series_id", "grid_ms", "value_interp")
      .as[(String, Long, Double)].collect().toSeq
    // user 2 contributes nothing; user 1's pair (1:00, 2:00] owns the
    // 2:00 instant → interpolated at frac=1 (the right endpoint);
    // 1:00 itself is unowned (grid before the first sample never emits)
    assert(out.map(r => (r._2, r._3)) == Seq((7200000L, 9.0)))
  }

  test("bandOutliers: breach vs trailing band, thin windows never alarm") {
    // one series, 6 points a minute apart: five 1.0s then a 100.0 spike.
    // points 1-4 have n_win < 5 (excluded); point 5 has σ=0 band=0 and
    // |1-1| > 0 is false; point 6: mean 17.5, pop-var 1361.25,
    // band 2σ ≈ 73.79 < |100-17.5| = 82.5 → the only alarm
    val ev = (0 until 6).map { i =>
      (i.toLong + 1, 1000000000000L + i * 60000000000L, 1L, "click",
        if (i == 5) 100.0 else 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.bandOutliers(Series.samples(ev))
      .select("ts_us", "value", "n_win", "mean_win", "band")
      .as[(Long, Double, Long, Double, Double)].collect().toSeq
    assert(out.size == 1)
    val (ts, v, n, mean, band) = out.head
    assert(ts == 1000000000L + 5 * 60000000L && v == 100.0 && n == 6)
    assert(math.abs(mean - 17.5) < 1e-12)
    assert(math.abs(band - 2 * math.sqrt(1361.25)) < 1e-9)
  }

  test("transitions: per-user lead pairs, MLE row-normalized") {
    val out = TsOps.transitions(toyEvents)
      .select("from_type", "to_type", "n", "out_n", "prob")
      .as[(String, String, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // user 1: click->click ×2; user 2: view->view ×1 (no cross-user pair)
    assert(out == Seq(
      ("click", "click", 2L, 2L, 1.0),
      ("view", "view", 1L, 1L, 1.0)))
  }

  test("markovStationary: a two-state alternating chain fixes at exactly 0.5/0.5 in nano-units") {
    // one user alternating A,B,A,B,...: P(A→B) = P(B→A) = 1; the
    // damped fixed point is uniform, and the integer arithmetic hits
    // it EXACTLY (1e9/2 = 5e8; base 75e6 + (85·5e8) div 100 = 5e8)
    val ev = (0 until 10).map(i =>
      (i.toLong + 1, (i.toLong + 1) * 1000000000L, 1L,
        if (i % 2 == 0) "A" else "B", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.markovStationary(ev)
      .select("event_type", "pi_nano", "pi")
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(("A", 500000000L, 0.5), ("B", 500000000L, 0.5)), out)

    // asymmetric check on the real corpus: mass sums to ≈1 (floor
    // crumbs only) and every state is present
    val real = TsOps.markovStationary(spark.read.parquet(s"$sfDir/events.parquet"))
      .select("pi_nano").as[Long].collect()
    assert(real.nonEmpty && math.abs(real.sum - 1000000000L) < real.length * 200L,
      s"mass ${real.sum}")
  }

  test("markovStationary regime split: driver and distributed sweeps are bit-identical on both sides of each cap") {
    // the driver replica the split promises to match, in plain Long
    // arithmetic over the collected edge frame
    def replica(ev: org.apache.spark.sql.DataFrame): Seq[(String, Long)] = {
      val edges = TsOps.transitions(ev).select("from_type", "to_type", "n", "out_n")
        .as[(String, String, Long, Long)].collect()
      val sts = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted.toSeq
      val base = 150000000L / sts.size
      var pi = sts.map(_ -> 1000000000L / sts.size).toMap
      for (_ <- 1 to 8) {
        val in = edges.groupMapReduce(_._2)(e => pi(e._1) * e._3 / e._4)(_ + _)
        pi = sts.map(s => s -> in.get(s).map(base + 85L * _ / 100L).getOrElse(base)).toMap
      }
      sts.map(s => s -> pi(s))
    }
    def run(ev: org.apache.spark.sql.DataFrame, maxStates: Int) =
      TsOps.markovStationary(ev, driverMaxStates = maxStates)
        .select("event_type", "pi_nano", "pi")
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq

    // two-event users: user k walks s(k div width) -> s(k mod width);
    // every 7th edge gets a second walker so the weights are uneven
    def walks(nEdges: Long, width: Long) = {
      val users = spark.range(nEdges).select(col("id").as("k"), col("id").as("user_id"))
        .unionByName(spark.range(0, nEdges, 7)
          .select(col("id").as("k"), (col("id") + nEdges).as("user_id")))
      def state(c: org.apache.spark.sql.Column) = format_string("s%04d", c)
      users.select(col("user_id"), lit(1L).as("step"), state(expr(s"k div $width")).as("event_type"))
        .unionByName(users.select(col("user_id"), lit(2L).as("step"),
          state(col("k") % width).as("event_type")))
        .select((col("user_id") * 2 + col("step")).as("event_id"),
          (col("step") * 1000000000L).as("ts"), col("user_id"), col("event_type"),
          lit(1.0).as("value"))
    }

    // state cap: 12 states run on the driver at driverMaxStates = 12
    // and distributed at 11
    val small = walks(60L, 12L)
    val driver = run(small, 12)
    assert(driver.size == 12)
    assert(driver == run(small, 11), driver)
    // the replica is the driver path, so it can stand in for it where
    // the edge cap forbids that path
    assert(driver.map(r => (r._1, r._2)) == replica(small))

    // edge cap: 65,600 distinct edges exceed the 65,536-edge collect
    // even though 300 states fit driverMaxStates, so this runs
    // distributed and must still equal the driver arithmetic
    val wide = walks(65600L, 300L)
    assert(TsOps.transitions(wide).count() == 65600L)
    val dist = run(wide, 300)
    assert(dist.size == 300)
    assert(dist.map(r => (r._1, r._2)) == replica(wide))
    assert(dist.forall(r => r._3 == r._2 / 1e9))
  }

  test("topPaths: consecutive trigrams per user, two-event users emit none") {
    val out = TsOps.topPaths(toyEvents)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("click > click > click", 1L)))
  }

  test("dauWau: 7-day fan-out distinct, stickiness bounds") {
    val day = 86400000000000L // ns
    // user 1 active days 0 and 1; user 2 active day 1 only (twice —
    // distinct per (user, day) must collapse it)
    val ev = Seq(
      (1L, 0L * day + 1000000000L, 1L, "click", 1.0),
      (2L, 1L * day + 1000000000L, 1L, "click", 1.0),
      (3L, 1L * day + 2000000000L, 2L, "view", 1.0),
      (4L, 1L * day + 3000000000L, 2L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.dauWau(ev)
      .select("day", "dau", "wau", "stickiness")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // day 0: dau=1 (u1), wau=1 (only u1@0 in [-6,0]); day 1: dau=2,
    // wau covers u1@{0,1} and u2@1 → 2 distinct users
    assert(out == Seq((0L, 1L, 1L, 1.0), (1L, 2L, 2L, 1.0)))
  }

  test("alertFiring: pending until FOR elapses within one unbroken run; a false sample resets") {
    val h = 3600000000000L // ns per hour
    // one series: true(0h), true(1h), FALSE(2h), true(3h), true(4h), true(5h)
    // threshold 10, FOR 90min: 0h/1h pending (1h < 1.5h); reset at 2h;
    // 3h/4h pending (new run, 1h < 1.5h), 5h firing (2h >= 1.5h)
    val ev = Seq(
      (1L, 0L * h, 1L, "click", 20.0),
      (2L, 1L * h, 1L, "click", 30.0),
      (3L, 2L * h, 1L, "click", 5.0),
      (4L, 3L * h, 1L, "click", 25.0),
      (5L, 4L * h, 1L, "click", 25.0),
      (6L, 5L * h, 1L, "click", 25.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.alertFiring(Series.samples(ev), 10.0, 5400000000L)
      .select("ts_us", "active_since_us", "state")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val hu = 3600000000L
    assert(out == Seq(
      (0L * hu, 0L, "pending"),
      (1L * hu, 0L, "pending"),  // 1h < 1.5h
      (3L * hu, 3L * hu, "pending"),
      (4L * hu, 3L * hu, "pending"),
      (5L * hu, 3L * hu, "firing")))
  }

  test("attribution: last click within window attributes, older clicks stay organic") {
    val m = 60000000000L // ns per minute
    val ev = Seq(
      // user 1: click at 0, purchase at 30min (attributed), purchase at
      // 90min (click 90min old -> organic)
      (1L, 0L * m, 1L, "click", 0.0),
      (2L, 30L * m, 1L, "purchase", 10.0),
      (3L, 90L * m, 1L, "purchase", 7.0),
      // user 2: purchase with no click ever -> organic
      (4L, 10L * m, 2L, "purchase", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.attribution(ev)
      .select("day", "n_purchases", "n_attributed", "attributed_value", "organic_value")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq((0L, 3L, 1L, 10.0, 12.0)))
  }

  test("churn: day-over-day churn counts, trailing day excluded") {
    val d = 86400000000000L // ns per day
    // u1 active days 0,1,2; u2 active days 0,2 — max day 2 excluded.
    // day 0: active {u1,u2}, churned {u2}; day 1: active {u1}, churned {}
    val ev = Seq(
      (1L, 0L * d, 1L, "click", 0.0), (2L, 1L * d, 1L, "click", 0.0),
      (3L, 2L * d, 1L, "click", 0.0),
      (4L, 0L * d, 2L, "view", 0.0), (5L, 2L * d, 2L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.churn(ev)
      .select("day", "n_active", "n_churned", "churn_rate")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq((0L, 2L, 1L, 0.5), (1L, 1L, 0L, 0.0)))
  }

  test("rfm: purchase recency drives r_score, never-purchased user scores 1") {
    val h = 3600000000000L // ns per hour
    val nowUs = 50L * 3600000000L
    val ev = Seq(
      (1L, 10L * h, 1L, "purchase", 1.0), // recency 40h
      (2L, 20L * h, 2L, "purchase", 2.0), // recency 30h
      (3L, 30L * h, 3L, "purchase", 3.0), // recency 20h
      (4L, 40L * h, 4L, "purchase", 4.0), // recency 10h
      (5L, 40L * h, 5L, "click", 9.9))    // never purchased
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.rfm(ev, nowUs)
      .select("user_id", "recency_hours", "r_score", "f_score", "m_score")
      .as[(Long, Option[Long], Long, Long, Long)].collect().sortBy(_._1).toSeq
    // recency quartile cuts over [10,20,30,40]: 17.5 / 25 / 32.5;
    // frequency is the constant 1 (every f_score = 1); monetary cuts
    // over [0,1,2,3,4]: 1 / 2 / 3
    assert(out == Seq(
      (1L, Some(40L), 1L, 1L, 1L),
      (2L, Some(30L), 2L, 1L, 2L),
      (3L, Some(20L), 3L, 1L, 3L),
      (4L, Some(10L), 4L, 1L, 4L),
      (5L, None, 1L, 1L, 1L)))
  }

  test("funnel3: 24h step windows gate each stage") {
    val h = 3600000000000L
    val ev = Seq(
      // u1: full funnel inside the windows
      (1L, 0L * h, 1L, "view", 0.0), (2L, 1L * h, 1L, "click", 0.0),
      (3L, 2L * h, 1L, "purchase", 5.0),
      // u2: click misses the 24h window after the first view
      (4L, 0L * h, 2L, "view", 0.0), (5L, 25L * h, 2L, "click", 0.0),
      // u3: purchase misses the 24h window after the click
      (6L, 0L * h, 3L, "view", 0.0), (7L, 1L * h, 3L, "click", 0.0),
      (8L, 26L * h, 3L, "purchase", 5.0),
      // u4: no view — not in the funnel at all
      (9L, 0L * h, 4L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.funnel3(ev)
      .select("user_id", "reached")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 3L), (2L, 1L), (3L, 2L)))
  }

  test("sessionStats: 4h-gap sessions, multi share and R-7 p95s") {
    val h = 3600000000000L
    val ev = Seq(
      // u1: one 3-event session (dur 2h) + one singleton at 10h
      (1L, 0L * h, 1L, "click", 0.0), (2L, 1L * h, 1L, "click", 0.0),
      (3L, 2L * h, 1L, "click", 0.0), (4L, 10L * h, 1L, "click", 0.0),
      // u2: singleton
      (5L, 0L * h, 2L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.sessionStats(ev)
      .select("n_sessions", "n_users", "avg_events", "multi_share",
        "p95_events", "p95_dur_us")
      .as[(Long, Long, Double, Double, Double, Double)].collect().head
    assert(out._1 == 3L && out._2 == 2L)
    assert(math.abs(out._3 - 5.0 / 3) < 1e-12)
    assert(math.abs(out._4 - 1.0 / 3) < 1e-12)
    // R-7 over [1,1,3]: 1 + 0.9·2 = 2.8; durs [0,0,7.2e9]: 0.9·7.2e9
    assert(out._5 == 2.8 && math.abs(out._6 - 6.48e9) < 1.0)
  }

  test("corrMatrix: perfect/anti correlation and constant-series NULL") {
    val h = 3600000000000L
    def burst(t: String, hour: Long, n: Int, base: Long) =
      (0 until n).map(i => (base + i, hour * h + i * 1000L, 1L + i, t, 0.0))
    // hourly counts: click [1,2,3], view [2,4,6] (r=1), error [3,2,1]
    // (r=-1 vs click), signup [2,2,2] (constant → NULL)
    val rows = burst("click", 0, 1, 100) ++ burst("click", 1, 2, 200) ++ burst("click", 2, 3, 300) ++
      burst("view", 0, 2, 400) ++ burst("view", 1, 4, 500) ++ burst("view", 2, 6, 600) ++
      burst("error", 0, 3, 700) ++ burst("error", 1, 2, 800) ++ burst("error", 2, 1, 900) ++
      burst("signup", 0, 2, 1000) ++ burst("signup", 1, 2, 1100) ++ burst("signup", 2, 2, 1200)
    val ev = rows.map { case (id, ts, u, t, v) => (id.toLong, ts, u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.corrMatrix(ev)
      .select("type_a", "type_b", "n_hours", "corr")
      .as[(String, String, Long, Option[Double])].collect()
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    assert(out(("click", "view")) == ((3L, Some(1.0))))
    assert(out(("click", "error")) == ((3L, Some(-1.0))))
    assert(out(("click", "signup"))._2.isEmpty, "constant series must yield NULL")
    assert(out.size == 6)
  }

  test("ewma: power-of-two decay over the trailing window, constant series is a fixed point") {
    val h = 3600000000000L
    val ev = Seq(
      (1L, 0L * h, 1L, "click", 1.0),
      (2L, 1L * h, 1L, "click", 3.0),
      // second series: constant values — ewma must equal the value
      (3L, 0L * h, 2L, "view", 7.0),
      (4L, 1L * h, 2L, "view", 7.0),
      (5L, 2L * h, 2L, "view", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.ewma(Series.samples(ev))
      .select("ts_us", "value", "ewma")
      .as[(Long, Double, Double)].collect().sortBy(r => (r._2, r._1)).toSeq
    val hu = 3600000000L
    // series 1 sample 2: (1·2^14 + 3·2^15) / (2^14 + 2^15) = 7/3
    assert(out(0) == ((0L, 1.0, 1.0)))
    assert(math.abs(out(1)._3 - 7.0 / 3) < 1e-12 && out(1)._1 == 1L * hu)
    assert(out.drop(2).forall(_._3 == 7.0), s"constant series drifted: $out")
  }

  test("powerUsers: top decile by the p90 revenue cut") {
    val h = 3600000000000L
    // users 1..10 with one purchase of value = user id → p90 cut 9.1,
    // top set {10}: revenue share 10/55, purchase share 1/10
    val ev = (1L to 10L).map(u => (u, u * h, u, "purchase", u.toDouble))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.powerUsers(ev)
      .select("n_users", "n_top_users", "total_revenue",
        "top_revenue_share", "top_purchase_share")
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(out._1 == 10L && out._2 == 1L && out._3 == 55.0)
    assert(math.abs(out._4 - 10.0 / 55) < 1e-12 && math.abs(out._5 - 0.1) < 1e-12)
  }

  test("abSrm: a balanced split reads z=0; an all-one-side split flags") {
    def ev(users: Seq[Long]) = users.zipWithIndex.map { case (u, i) =>
      (i.toLong, i * 1000L, u, "m", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val ok = TsOps.abSrm(ev(0L to 5L))
      .select("n_a", "n_b", "share_a", "z", "srm_flag")
      .as[(Long, Long, Double, Double, Boolean)].head()
    assert(ok == ((3L, 3L, 0.5, 0.0, false)), ok)
    // 16 even-id users: z = 16/4 = 4 > 3 → flagged
    val bad = TsOps.abSrm(ev((0L until 32L by 2)))
      .select("n_a", "n_b", "z", "srm_flag")
      .as[(Long, Long, Double, Boolean)].head()
    assert(bad == ((16L, 0L, 4.0, true)), bad)
  }

  test("forecastBacktest: a perfectly linear series scores zero error, a broken one doesn't") {
    val h = 3600000000000L // ns per hour
    // series "lin": hourly sums 1,2,3,4,5 — train 0..3 fits y=x+1
    // exactly, the held-out hour 4 predicts 5 → mae = rmse = 0.
    // series "jump": 1,1,1,1,9 — flat fit, test error 8.
    val ev = ((0 to 4).map(i => (i.toLong, i * h, 1L, "lin", (i + 1).toDouble)) ++
      (0 to 4).map(i => (10L + i, i * h, 1L, "jump", if (i == 4) 9.0 else 1.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.forecastBacktest(Series.samples(ev))
      .select("n_train", "n_test", "slope", "mae", "rmse")
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._5).toSeq
    assert(out.length == 2, out)
    assert(out.head == ((4L, 1L, 1.0, 0.0, 0.0)), out.head)
    assert(out(1)._1 == 4L && out(1)._2 == 1L && out(1)._3 == 0.0
      && out(1)._4 == 8.0 && out(1)._5 == 8.0, out(1))
  }

  test("monotonize: resets heal into increments, running counter exact") {
    // one series, values 1,3,2,5 — the 3→2 drop is a reset, so the
    // increments are 1,2,2,3 and the repaired counter reads 1,3,5,8
    val ev = Seq(
      (1L, 1000L, 7L, "ctr", 1.0), (2L, 2000L, 7L, "ctr", 3.0),
      (3L, 3000L, 7L, "ctr", 2.0), (4L, 4000L, 7L, "ctr", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.monotonize(Series.samples(ev))
      .select("event_id", "value", "adjusted")
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 1.0, 1.0), (2L, 3.0, 3.0), (3L, 2.0, 5.0), (4L, 5.0, 8.0)), out)
  }

  test("haDedup: fuller replica wins each window, ties go to the smaller replica") {
    val h = 3600000000L // us per hour
    def rows(rep: String, ts: Seq[Long]) = ts.zipWithIndex.map { case (t, i) =>
      (rep, s"s1", t, 1.0, i.toLong)
    }
    // w0: a=3 vs b=1 → a; w1: a=1 vs b=2 → b; w2: 1-1 tie → a
    val rep = (rows("a", Seq(1L, 2L, 3L, h + 1, 2 * h + 1)) ++
      rows("b", Seq(5L, h + 1, h + 2, 2 * h + 5)))
      .toDF("replica", "series_id", "ts_us", "value", "event_id")
    val out = TsOps.haDedup(rep)
      .select("series_id", "replica", "n_windows_won", "n_samples")
      .as[(String, String, Long, Long)].collect().sortBy(_._2).toSeq
    assert(out == Seq(("s1", "a", 2L, 4L), ("s1", "b", 1L, 2L)), out)
  }

  test("abCuped: theta fits pooled, adjusted variance collapses when X predicts Y") {
    // mid_us = (0+4)/2 = 2: ts=0ns is pre, ts=4000ns (4us) is post.
    // X = [10,0,10,20] Y = [20,10,30,30] → theta = 800/800 = 1, mx = 10
    val ev = Seq(
      (1L, 0L, 0L, "m", 10.0), (2L, 4000L, 0L, "m", 20.0),
      (3L, 4000L, 2L, "m", 10.0),                              // u2: no pre
      (4L, 0L, 1L, "m", 10.0), (5L, 4000L, 1L, "m", 30.0),
      (6L, 0L, 3L, "m", 20.0), (7L, 4000L, 3L, "m", 30.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.abCuped(ev)
      .select("variant", "n_users", "mean_y", "var_y", "mean_y_adj",
        "var_y_adj", "theta", "var_reduction")
      .as[(Long, Long, Double, Double, Double, Double, Double, Option[Double])]
      .collect().sortBy(_._1).toSeq
    // variant 0 (u0,u2): X perfectly predicts Y → adjusted var 0, full reduction
    assert(out.head == (0L, 2L, 15.0, 25.0, 20.0, 0.0, 1.0, Some(1.0)), out.head)
    // variant 1 (u1,u3): var_y = 0 → reduction undefined (null), not -Inf
    assert(out(1) == (1L, 2L, 30.0, 0.0, 25.0, 25.0, 1.0, None), out(1))
  }

  test("growthAccounting: new/retained/resurrected/churned per day, last day's churn is NULL") {
    val d = 86400000000000L
    // u1 active days 0,1,3; u2 active day 1 only; max day = 3
    val ev = Seq(
      (1L, 0L * d, 1L, "click", 0.0), (2L, 1L * d, 1L, "click", 0.0),
      (3L, 3L * d, 1L, "click", 0.0), (4L, 1L * d, 2L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.growthAccounting(ev)
      .select("day", "n_new", "n_retained", "n_resurrected", "n_churned")
      .as[(Long, Long, Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (0L, 1L, 0L, 0L, Some(0L)),
      (1L, 1L, 1L, 0L, Some(2L)),
      (3L, 0L, 0L, 1L, None)))
  }

  test("cusum fires once per excursion, on the shifted side only, where theory says") {
    // 20 samples at 0 then 10 at 10: mean=10/3, std=√(100/3−100/9)
    // ≈4.714. The long low stretch sits 0.707σ BELOW the whole-series
    // mean, so the low side accumulates 0.707−0.25=0.457/sample and
    // crosses h=3 on the 7th sample (ts=6e6); after the shift
    // z=+1.414 drives the high side 1.164/sample across h on the 3rd
    // shifted sample (ts=22e6). Exactly those two firings, in order —
    // the lag re-arm suppresses every later above-threshold row.
    val rows = (0 until 20).map(i => (s"e$i", i.toLong * 1000000L, 0.0)) ++
      (20 until 30).map(i => (s"e$i", i.toLong * 1000000L, 10.0))
    val samples = rows.toDF("event_id", "ts_us", "value")
      .withColumn("series_id", lit("s1"))
    val out = TsOps.cusum(samples)
      .select("ts_us", "direction", "stat").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq
    assert(out.map(r => (r._1, r._2)) ==
      Seq((6000000L, "down"), (22000000L, "up")), out)
    out.foreach(r => assert(r._3 >= 3.0 && r._3 < 3.5, out))
    // the mirrored series fires the mirrored directions
    val rows2 = (0 until 20).map(i => (s"e$i", i.toLong * 1000000L, 10.0)) ++
      (20 until 30).map(i => (s"e$i", i.toLong * 1000000L, 0.0))
    val out2 = TsOps.cusum(rows2.toDF("event_id", "ts_us", "value")
        .withColumn("series_id", lit("s1")))
      .select("ts_us", "direction").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(out2 == Seq((6000000L, "up"), (22000000L, "down")), out2)
  }

  test("activeTime: a long interval swallows later starts; islands measure the union") {
    // hold 10s. user 1: events at 0s, 3s, 25s → [0,10)∪[3,13)=[0,13)
    // and [25,35): 2 islands, covered 23s, span 35s. user 2: single.
    val ev = Seq(
      (1L, 0L, 1L, "click", 1.0),
      (2L, 3000000L * 1000, 1L, "click", 1.0),
      (3L, 25000000L * 1000, 1L, "click", 1.0),
      (4L, 0L, 2L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.activeTime(ev, holdUs = 10000000L)
      .select("user_id", "n_events", "n_islands", "covered_us", "span_us", "coverage_frac")
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 3L, 2L, 23000000L, 35000000L, 23.0 / 35),
      (2L, 1L, 1L, 10000000L, 10000000L, 1.0)), out)
    // back-to-back half-open intervals [0,10) and [10,20) do NOT merge
    val ev2 = Seq((1L, 0L, 1L, "click", 1.0), (2L, 10000000L * 1000, 1L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val two = TsOps.activeTime(ev2, holdUs = 10000000L)
      .select("n_islands").as[Long].head()
    assert(two == 2L)
  }

  test("attributionLinear: equal integer split, window respected, value conserves") {
    val h = 3600000000L
    val ev = Seq(
      // user 1: purchase 100.00 at t=2h with 3 clicks inside [1h, 2h]
      (1L, (2L * h) * 1000, 1L, "purchase", 100.0),
      (2L, (h + 600L * 1000000) * 1000, 1L, "click", 0.0),
      (3L, (h + 1200L * 1000000) * 1000, 1L, "click", 0.0),
      (4L, (h + 1800L * 1000000) * 1000, 1L, "click", 0.0),
      (5L, 0L, 1L, "click", 0.0),                       // outside window
      // user 2: organic purchase, no clicks
      (6L, (2L * h) * 1000, 2L, "purchase", 50.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.attributionLinear(ev)
      .select("n_purchases_touched", "n_touches", "credited_value",
        "n_purchases_organic", "organic_value")
      .as[(Long, Long, Double, Long, Double)].head()
    // 100.00 → 10000 cents → 10^10 µcents div 3 = 3333333333, ×3 / 1e8
    assert(out == ((1L, 3L, 3333333333L * 3 / 1e8, 1L, 50.0)), out)
    // conservation: credited + organic within a micro-cent floor of total
    assert(out._3 + out._5 > 149.9999 && out._3 + out._5 <= 150.0)
  }

  test("attributionDecay: newer touches earn exponentially more; value conserves; recency beats count") {
    val h = 3600000000L
    val ev = Seq(
      // purchase 100.00 at t=2h; clicks at ages 10min (k=0, w=16) and
      // 40min (k=2, w=4) → credits 16/20 and 4/20 of 10^10 µcents
      (1L, (2L * h) * 1000, 1L, "purchase", 100.0),
      (2L, (2L * h - 600L * 1000000) * 1000, 1L, "click", 0.0),
      (3L, (2L * h - 2400L * 1000000) * 1000, 1L, "click", 0.0),
      (4L, 0L, 1L, "click", 0.0), // outside the window
      (5L, (2L * h) * 1000, 2L, "purchase", 50.0)) // organic
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.attributionDecay(ev)
      .select("n_purchases_touched", "n_touches", "credited_value",
        "n_purchases_organic", "organic_value")
      .as[(Long, Long, Double, Long, Double)].head()
    // w: age 10min → k=0 → 2^(4-0)=16; age 40min → k=2 → 2^(4-2)=4;
    // sw=20 → credits (10^10·16) div 20 + (10^10·4) div 20 = 10^10
    assert(out == ((1L, 2L, 100.0, 1L, 50.0)), out)
    // the newer touch must out-earn the older one 4:1 — recompute the
    // per-touch split directly
    val perTouch = (1e10.toLong * 16 / 20, 1e10.toLong * 4 / 20)
    assert(perTouch._1 == 4 * perTouch._2)
    // conservation within the floor loss on an uneven split: 3 touches
    // at ages 10/40/55min (w 16,4,2; sw=22) — floors lose < 3 µcents
    val ev3 = Seq(
      (1L, (2L * h) * 1000, 1L, "purchase", 100.0),
      (2L, (2L * h - 600L * 1000000) * 1000, 1L, "click", 0.0),
      (3L, (2L * h - 2400L * 1000000) * 1000, 1L, "click", 0.0),
      (6L, (2L * h - 3300L * 1000000) * 1000, 1L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val c3 = TsOps.attributionDecay(ev3)
      .select("credited_value").as[Double].head()
    assert(c3 > 99.9999 && c3 <= 100.0, c3)
  }

  test("liftMatrix: independent behaviors read lift 1, nested behaviors read the marginal ratio") {
    // 4 users: types A,B co-occur for users 1,2; A alone 3; B alone 4
    // → P(A)=P(B)=3/4? build: A:{1,2,3}, B:{1,2,4} → n_both=2,
    // n_users=4 → lift = 2·4/(3·3) = 8/9
    val ev = Seq(
      (1L, 1L, "A"), (2L, 1L, "B"), (3L, 2L, "A"), (4L, 2L, "B"),
      (5L, 3L, "A"), (6L, 4L, "B"), (7L, 1L, "A")) // dup incidence collapses
      .map { case (e, u, t) => (e, e * 1000000000L, u, t, 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.liftMatrix(ev)
      .select("type_a", "type_b", "n_a", "n_b", "n_both", "n_users",
        "support", "confidence", "lift")
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    assert(out == Seq(("A", "B", 3L, 3L, 2L, 4L, 0.5, 2.0 / 3.0, 8.0 / 9.0)), out)
  }

  test("windowFunnel: the window binds the WHOLE chain; a later anchor can out-convert the first view") {
    val m = 60000000L // one minute in us
    def row(e: Long, tsUs: Long, u: Long, t: String) = (e, tsUs * 1000, u, t, 1.0)
    val ev = Seq(
      // user 1: first view at t=0 finds a click at t=30h? no — its
      // 24h window holds only the click at 23h; the purchase at 25h
      // falls OUTSIDE that anchor's window. The SECOND view at 20h
      // completes the whole chain (click 23h, purchase 25h) — depth 3
      // only because every view anchors (funnel3's first-view rule
      // would stop at depth 2).
      row(1L, 0L, 1L, "view"),
      row(2L, 20L * 60 * m, 1L, "view"),
      row(3L, 23L * 60 * m, 1L, "click"),
      row(4L, 25L * 60 * m, 1L, "purchase"),
      // user 2: view + click inside 24h, purchase 30h after the
      // anchor → depth 2
      row(5L, 0L, 2L, "view"),
      row(6L, 60L * m, 2L, "click"),
      row(7L, 30L * 60 * m, 2L, "purchase"),
      // user 3: clicks but never views → depth 0
      row(8L, 0L, 3L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TsOps.windowFunnel(ev)
      .select("funnel_depth", "n_users").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq((0L, 1L), (2L, 1L), (3L, 1L)), out)
  }

  test("revenueGini: perfect equality reads 0, total concentration reads (n-1)/n") {
    // 4 users, equal revenue → G = 0; one user owns everything → G = 3/4
    def ev(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, i.toLong * 1000000000L, i.toLong, "purchase", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val eq = TsOps.revenueGini(ev(Seq(10.0, 10.0, 10.0, 10.0)))
      .select("gini", "top_decile_share").as[(Double, Double)].head()
    assert(math.abs(eq._1) < 1e-12, eq)
    val conc = TsOps.revenueGini(ev(Seq(0.0, 0.0, 0.0, 100.0)))
      .select("gini").as[Double].head()
    assert(math.abs(conc - 0.75) < 1e-12, conc)
  }

  test("gorilla pack/unpack is lossless through Spark") {
    val s = Series.samples(toyEvents)
    val back = Gorilla.unpack(Gorilla.pack(s))
      .orderBy("series_id", "ts_us")
      .select("ts_us", "value").as[(Long, Double)].collect().toSeq
    val expect = s.orderBy("series_id", "ts_us")
      .select("ts_us", "value").as[(Long, Double)].collect().toSeq
    assert(back == expect)
  }

  test("acf: an alternating hourly count series shows lag-1 anticorrelation, lag-2 correlation") {
    // hour h carries 5 events when even, 1 when odd → the count
    // series alternates 5,1,5,1,… over 24 hours: acf(1) = -1,
    // acf(2) = +1, acf(3) = -1 exactly (perfect period 2)
    var id = 0L
    val rows = for {
      h <- 0 until 24
      i <- 0 until (if (h % 2 == 0) 5 else 1)
    } yield {
      id += 1
      (id, (h * 3600000000L + i * 1000000L) * 1000L, 1L, "alt", 1.0)
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.acf(df, maxLag = 3)
      .select("event_type", "lag", "n_pairs", "acf")
      .as[(String, Int, Long, Double)].collect()
      .map(r => r._2 -> (r._3, r._4)).toMap
    assert(got(1)._1 == 23 && got(2)._1 == 22 && got(3)._1 == 21)
    assert(math.abs(got(1)._2 + 1.0) < 1e-12, s"lag1: ${got(1)}")
    assert(math.abs(got(2)._2 - 1.0) < 1e-12, s"lag2: ${got(2)}")
    assert(math.abs(got(3)._2 + 1.0) < 1e-12, s"lag3: ${got(3)}")
    // constant series → zero variance → NULL acf (never a NaN)
    val const = (1 to 12).map(h => (100L + h, h * 3600000000000L, 1L, "flat", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val flat = TsOps.acf(const, maxLag = 1).select("acf").collect()
    assert(flat.length == 1 && flat.head.isNullAt(0))
  }

  /** Hourly-count fixture: count at hour h = pattern(h % pattern.len),
    * repeated over `hours` hours. */
  private def patternedEvents(pattern: Seq[Int], hours: Int, tpe: String) = {
    var id = 0L
    val rows = for {
      h <- 0 until hours
      i <- 0 until pattern(h % pattern.length)
    } yield {
      id += 1
      (id, (h * 3600000000L + i * 1000000L) * 1000L, 1L, tpe, 1.0)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("ljung_box: a periodic count series rejects white noise; constant series → NULL") {
    // the acf fixture: ρ = (−1, +1, −1) EXACTLY (integer sufficient
    // stats make vx·vy a perfect square, sqrt exact), n = 24 hours
    val got = TsOps.ljungBox(patternedEvents(Seq(5, 1), 24, "alt"))
      .select("n_hours", "q_stat", "reject")
      .as[(Long, Double, Long)].collect()
    assert(got.length == 1)
    val (nh, q, reject) = got.head
    assert(nh == 24L)
    // the engine's exact expression over ρ² = 1.0
    val nhD = 24.0
    val expect = nhD * (nhD + 2) *
      (1.0 * 1.0 / (nhD - 1) + 1.0 * 1.0 / (nhD - 2) + 1.0 * 1.0 / (nhD - 3))
    assert(q == expect, s"q=$q expect=$expect")
    assert(reject == 1L)
    // constant series: NULL ρ → NULL q, NULL reject (never NaN / a flag)
    val flat = TsOps.ljungBox(patternedEvents(Seq(2), 12, "flat"))
      .select("q_stat", "reject").collect()
    assert(flat.length == 1 && flat.head.isNullAt(0) && flat.head.isNullAt(1))
  }

  test("survival_km: censoring shrinks at-risk without adding deaths; log-curve closed form") {
    val t0 = 1704067200000000L
    val day = 86400000000L
    var id = 0L
    def user(u: Long, firstDay: Long, lastDay: Long) = {
      id += 2
      Seq((id - 1, (t0 + firstDay * day) * 1000, u, "view", 1.0),
        (id, (t0 + lastDay * day) * 1000, u, "view", 1.0))
    }
    // horizon = day 10 (u5); u1,u2 die at L=2; u3 dies at L=5;
    // u4 censored at L=4 (last event ON the horizon... see below);
    // u5 censored at L=10 (defines the horizon)
    val rows = (user(1L, 0, 2) ++ user(2L, 1, 3) ++ user(3L, 2, 7) ++
      user(4L, 6, 10) ++ user(5L, 0, 10))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.survivalKm(rows)
      .orderBy("lifetime_d")
      .select("lifetime_d", "n_risk", "n_deaths", "n_censored", "neg_ln_s")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // L=2: 5 at risk, 2 die; L=5: u4's censoring at L=4 has REMOVED
    // it from risk (the whole point) → 2 at risk, 1 dies; u4/u5
    // never appear as deaths
    assert(got.map(r => (r._1, r._2, r._3, r._4)) ==
      Seq((2L, 5L, 2L, 0L), (5L, 2L, 1L, 0L)), s"got $got")
    def t9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val e1 = t9(-math.log(1.0 - 2.0 / 5))
    assert(got.head._5 == e1.toDouble, s"got ${got.head._5}")
    assert(got(1)._5 == (e1 + t9(-math.log(1.0 - 1.0 / 2))).toDouble, s"got ${got(1)._5}")
  }

  test("periodogram: a daily pattern peaks at period 24; a constant series is silent") {
    val daily = patternedEvents(Seq.fill(12)(10) ++ Seq.fill(12)(2), 48, "daily")
    val p = TsOps.periodogram(daily)
      .select("period", "power").as[(Long, Double)].collect().toMap
    // the square wave's fundamental dominates; the 48h window leaks
    // ~1/10 onto the unaligned 168h basis, and the even harmonic
    // (period 12) of a symmetric square wave cancels exactly
    assert(p(24L) > 300.0 && p(24L) > 5 * p(168L), s"power $p")
    assert(p(12L) < 1e-6, s"power $p")
    // constant series: every mean-centered term is exactly 0
    val flat = TsOps.periodogram(patternedEvents(Seq(3), 24, "flat"))
      .select("power").as[Double].collect().toSeq
    assert(flat.nonEmpty && flat.forall(_ == 0.0))
  }

  test("markov_entropy: a forced chain reads 0, a fair coin reads ln 2") {
    // user 1 strictly alternates a→b→a→…: both states have ONE
    // destination → entropy exactly 0
    var id = 0L
    val forced = (0 until 20).map { i =>
      id += 1
      (id, (i * 1000000L) * 1000L, 1L, if (i % 2 == 0) "a" else "b", 1.0)
    }
    // user 2 emits c then alternates d/e evenly after it: from c the
    // next step is a fair coin over {d, e}
    val coin = (0 until 40).flatMap { i =>
      id += 1
      val c = (id, (i * 2000000L) * 1000L, 2L, "c", 1.0)
      id += 1
      val de = (id, (i * 2000000L + 1000000L) * 1000L, 2L,
        if (i % 2 == 0) "d" else "e", 1.0)
      Seq(c, de)
    }
    val got = TsOps.markovEntropy(
      (forced ++ coin).toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("from_type", "entropy_nats").as[(String, Double)].collect().toMap
    assert(got("a") == 0.0 && got("b") == 0.0, s"got $got")
    assert(math.abs(got("c") - math.log(2.0)) < 1e-6, s"got $got")
  }

  test("ab_welch: detects a constructed shift, closed form checks out") {
    // 40 users/variant; even users (variant 0) spend 10/event, odd
    // users 12 — a +20% shift Welch must flag
    var id = 0L
    val rows = (0 until 80).flatMap { u =>
      (0 until 3).map { i =>
        id += 1
        (id, (i * 3600000000L + u) * 1000L, u.toLong,
          "purchase", if (u % 2 == 0) 10.0 else 12.0 + (u % 5) * 0.1)
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.abWelch(rows)
      .select("n0", "n1", "mean_0", "mean_1", "t_stat", "significant")
      .as[(Long, Long, Double, Double, Double, Long)].head()
    assert(got._1 == 40L && got._2 == 40L)
    assert(got._3 == 30.0, s"mean_0 ${got._3}")
    assert(got._4 > 36.0 && got._4 < 37.5, s"mean_1 ${got._4}")
    assert(got._5 < -1.96 && got._6 == 1L, s"t ${got._5} sig ${got._6}")
  }

  test("lttb: keeps the spike, first and last; short series pass through") {
    // hourly counts 1,1,10,1,1 with buckets=3: the single middle
    // bucket holds hours 1..3; prev = (h0,1), next "centroid" = the
    // last point (h4,1), cnt=1 → area ∝ |(x0−x4)(y−y0)| = 4|y−1| →
    // the spike (h2,10) wins by hand
    val df = patternedEvents(Seq(1, 1, 10, 1, 1), 5, "spike")
    val got = TsOps.lttb(df, buckets = 3)
      .orderBy("idx").select("idx", "hour", "c")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 0L, 1L), (1L, 2L, 10L), (2L, 4L, 1L)), s"got $got")
    // n <= buckets: every point passes through in time order
    val short = TsOps.lttb(patternedEvents(Seq(2, 3, 4), 3, "short"), buckets = 12)
      .orderBy("idx").select("idx", "c").as[(Long, Long)].collect().toSeq
    assert(short == Seq((0L, 2L), (1L, 3L), (2L, 4L)))
  }

  test("esd: round 2 unmasks the outlier round 1's inflated std was hiding") {
    // 46 hours at 10, one spike 100 (hour 46), one lesser spike 40
    // (hour 47): with the 100 in the moments the 40 sits under 3σ;
    // once round 1 removes the 100, round 2 flags the 40 — masking
    val counts = Seq.fill(46)(10) ++ Seq(100, 40)
    val got = TsOps.esdOutliers(patternedEvents(counts, 48, "mask"))
      .orderBy("iter")
      .select("iter", "hour", "value", "r_stat", "anomalous")
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    // round 3's remainder is constant (std = 0) → no candidate at all
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq((1L, 46L, 100L), (2L, 47L, 40L)), s"got $got")
    // single-pass z over ALL data would keep the 40: its global z is
    // under 3 (the masking the sweep exists to break)
    val all = counts.map(_.toDouble)
    val m = all.sum / all.size
    val sd = math.sqrt(all.map(v => v * v).sum / all.size - m * m)
    assert(math.abs(40.0 - m) / sd < 3.0)
    assert(got(0)._5 == 1L && got(1)._5 == 1L, s"got $got")
  }

  test("m4: first/last/min/max per bucket, value ties break to the earliest hour") {
    // counts 5,1,9,1,5 in hours 0..4 (bucket 0 at 48h grain): first
    // (0,5), last (4,5), min ties hours 1 and 3 → earliest (1,1),
    // max (2,9)
    val got = TsOps.m4(patternedEvents(Seq(5, 1, 9, 1, 5), 5, "m"))
      .select("bucket", "n_hours", "t_first", "v_first", "t_last", "v_last",
        "t_min", "v_min", "t_max", "v_max")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(got == ((0L, 5L, 0L, 5L, 4L, 5L, 1L, 1L, 2L, 9L)), s"got $got")
    // a max tie must also break earliest: 3,7,7 → t_max = 1
    val tie = TsOps.m4(patternedEvents(Seq(3, 7, 7), 3, "t"))
      .select("t_max", "v_max").as[(Long, Long)].head()
    assert(tie == ((1L, 7L)), s"got $tie")
  }

  test("seasonal_strength: clean daily pattern → 1, constant series → NULL") {
    // hour-of-day pattern 10/2 split repeated over 2 days: the hod
    // profile explains everything → residuals 0 → strength exactly 1
    val daily = patternedEvents(
      Seq.fill(12)(10) ++ Seq.fill(12)(2), 48, "daily")
    val got = TsOps.seasonalStrength(daily)
      .select("n_hours", "var_resid", "strength")
      .as[(Long, Double, Double)].head()
    assert(got._1 == 48L && got._2 == 0.0 && got._3 == 1.0, s"got $got")
    // constant series: var_total = 0 → NULL strength, never NaN
    val flat = TsOps.seasonalStrength(patternedEvents(Seq(3), 24, "flat"))
      .select("strength").collect()
    assert(flat.length == 1 && flat.head.isNullAt(0))
  }

  test("sax: equal-count segments, symbols read the quartile ladder") {
    // 5,1 alternating counts, 24 hours, w=8 → 3 hours/segment with
    // alternating sums 11/7 around mean 3 (std 2): z = ±1/6 → c,b,…
    val got = TsOps.saxSegments(patternedEvents(Seq(5, 1), 24, "alt"), w = 8)
      .orderBy("seg")
      .select("seg", "n_in_seg", "symbol")
      .as[(Long, Long, String)].collect().toSeq
    assert(got.map(_._1) == (0L until 8L))
    assert(got.forall(_._2 == 3L))
    assert(got.map(_._3) == Seq("c", "b", "c", "b", "c", "b", "c", "b"), s"got $got")
    // constant series drops (std = 0): no symbols without variance
    assert(TsOps.saxSegments(patternedEvents(Seq(3), 24, "flat")).count() == 0)
  }

  test("conversion_lag: window is [click, click+24h]; earlier/later purchases don't convert") {
    val t0 = 1704067200000000L
    val day = 86400000000L
    val rows = Seq(
      (1L, t0 * 1000, 1L, "click", 1.0),
      (2L, (t0 + 10000000L) * 1000, 1L, "purchase", 5.0),    // +10s → converts
      (3L, (t0 + 100L) * 1000, 2L, "click", 1.0),            // never converts
      (4L, (t0 - 5000000L) * 1000, 3L, "purchase", 5.0),     // BEFORE the click
      (5L, (t0 + 200L) * 1000, 3L, "click", 1.0),
      (6L, (t0 + 300L) * 1000, 4L, "click", 1.0),
      (7L, (t0 + 300L + day + 1) * 1000, 4L, "purchase", 5.0)) // 1µs past the window
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.conversionLag(rows)
      .select("n_clickers", "n_converted", "mean_lag_us", "p50_lag_s", "conv_rate")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(got == ((4L, 1L, 1.0e7, 10.0, 1.0 / 4.0)), s"got $got")
  }

  test("apdex: band edges are inclusive-at-T, score is the integer closed form") {
    // T=50: values 50 (satisfied, inclusive), 200 (tolerating,
    // inclusive), 200.01 (frustrated), 10 (satisfied)
    val rows = Seq(
      (1L, 1000000000L * 1000, 1L, "api", 50.0),
      (2L, 2000000000L * 1000, 1L, "api", 200.0),
      (3L, 3000000000L * 1000, 1L, "api", 200.01),
      (4L, 4000000000L * 1000, 1L, "api", 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.apdex(rows)
      .select("n_total", "n_satisfied", "n_tolerating", "n_frustrated", "apdex")
      .as[(Long, Long, Long, Long, Double)].head()
    assert(got == ((4L, 2L, 1L, 1L, (2.0 * 2 + 1) / 8.0)), s"got $got")
  }

  test("burn_rate: 6h RANGE window skips missing hours; firing needs BOTH windows hot") {
    // hour 0: 1/10 errors (cold); hours 7..9: 5/10 each (hot 1h); the
    // RANGE window at hour 7 must NOT reach back to hour 0 (gap), so
    // burn_6h(7) = 5/10/0.2 = 2.5 → firing. An extra cold hour 10
    // drops burn_1h below threshold → not firing even with a hot 6h.
    var id = 0L
    def hour(h: Int, errs: Int, tot: Int) = (0 until tot).map { i =>
      id += 1
      (id, (h * 3600000000L + i * 1000L) * 1000L, 1L,
        if (i < errs) "error" else "view", 1.0)
    }
    val rows = (hour(0, 1, 10) ++ hour(7, 5, 10) ++ hour(8, 5, 10) ++
      hour(9, 5, 10) ++ hour(10, 1, 10))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.burnRate(rows)
      .select("hour", "tot_6h", "err_6h", "burn_1h", "burn_6h", "firing")
      .as[(Long, Long, Long, Double, Double, Long)].collect()
      .sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(0L, 7L, 8L, 9L, 10L))
    val at7 = got(1)
    assert(at7._2 == 10L && at7._3 == 5L, s"hour-7 window reached the gap: $at7")
    assert(at7._4 == 2.5 && at7._5 == 2.5 && at7._6 == 1L)
    val at10 = got(4)
    assert(at10._4 == 0.5 && at10._6 == 0L, s"cold 1h must veto: $at10")
    assert(got(0)._6 == 0L)
  }

  test("pacf: Durbin–Levinson levels equal the closed form on acf's ρ; |ρ1|=1 → NULL, never Inf") {
    // period-3 counts 5,1,3 over 24 hours: |ρ1| < 1, all levels live
    val df = patternedEvents(Seq(5, 1, 3), 24, "p3")
    val rho = TsOps.acf(df, maxLag = 3)
      .select("lag", "acf").as[(Int, Double)].collect().toMap
    val (r1, r2, r3) = (rho(1), rho(2), rho(3))
    val got = TsOps.pacf(df)
      .select("pacf1", "pacf2", "pacf3").as[(Double, Double, Double)].head()
    assert(got._1 == r1)
    val p2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    assert(got._2 == p2, s"pacf2 ${got._2} vs $p2")
    val phi21 = r1 - p2 * r1
    val p3 = (r3 - phi21 * r2 - p2 * r1) / (1.0 - phi21 * r1 - p2 * r2)
    assert(got._3 == p3, s"pacf3 ${got._3} vs $p3")
    // |ρ1| = 1 (alternating): zero denominator → NULL pacf2/pacf3
    val alt = TsOps.pacf(patternedEvents(Seq(5, 1), 24, "alt")).head()
    assert(alt.getAs[Double]("pacf1") == -1.0)
    assert(alt.isNullAt(alt.fieldIndex("pacf2")))
    assert(alt.isNullAt(alt.fieldIndex("pacf3")))
  }

  test("cross_corr: a series shifted by +2h reads r=1 at lag 2 and only there") {
    // type "aa" carries an aperiodic count pattern on hours 0..23;
    // type "bb" carries the SAME counts two hours later (hours 2..25)
    // → at lag +2 every pair is (x, x): r = 1 exactly, n_pairs = 24
    val pat = Seq(1, 5, 2, 8, 3, 9, 4, 7, 2, 6, 1, 8)
    var id = 0L
    val rows = for {
      h <- 0 until 24
      (tpe, off) <- Seq(("aa", 0), ("bb", 2))
      i <- 0 until pat(h % pat.length)
    } yield {
      id += 1
      (id, ((h + off) * 3600000000L + i * 1000000L) * 1000L, 1L, tpe, 1.0)
    }
    val got = TsOps.crossCorr(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("type_a", "type_b", "lag", "n_pairs", "xcorr")
      .as[(String, String, Int, Long, Option[Double])].collect()
    assert(got.forall(r => r._1 == "aa" && r._2 == "bb"))
    val at2 = got.find(_._3 == 2).get
    assert(at2._4 == 24 && at2._5.contains(1.0), s"lag2: $at2")
    assert(got.filter(_._3 != 2).forall(_._5.forall(r => math.abs(r) < 1.0)))
  }

  test("iqr_outliers: degenerate IQR flags both sides; the bulk stays inside") {
    // 20 hours at count 4 pin q1 = q3 = 4 (IQR 0, fences collapse to
    // the median) — hour 20's 100 flags high, hour 21's 1 flags low
    val counts = Seq.fill(20)(4) ++ Seq(100, 1)
    var id = 0L
    val rows = for {
      (c, h) <- counts.zipWithIndex
      i <- 0 until c
    } yield {
      id += 1
      (id, (h * 3600000000L + i * 1000000L) * 1000L, 1L, "t", 1.0)
    }
    val got = TsOps.iqrOutliers(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("hour", "cnt", "side").as[(Long, Long, String)].collect().toSet
    assert(got == Set((20L, 100L, "high"), (21L, 1L, "low")))
  }

  test("spc_rules: rule4 needs 8 full same-side hours; zone rules fire on the run") {
    // 24 hours at 4 then 8 hours at 6: mean 4.5, σ = √0.75 —
    // z(4) = −0.577 (inside every zone), z(6) = +1.732 (beyond 1σ,
    // inside 2σ). rule4 below-side fires first at hour 7 (8th
    // consecutive below-mean hour); the above-side run fires at hour
    // 31; hour 24 (run length 1) must NOT appear at all
    val counts = Seq.fill(24)(4) ++ Seq.fill(8)(6)
    var id = 0L
    val rows = for {
      (c, h) <- counts.zipWithIndex
      i <- 0 until c
    } yield {
      id += 1
      (id, (h * 3600000000L + i * 1000000L) * 1000L, 1L, "t", 1.0)
    }
    val got = TsOps.spcRules(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("hour", "cnt", "rule1", "rule2", "rule3", "rule4")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(!got.contains(24L), "run of 1 must not fire")
    assert(!got.contains(6L), "only 7 below-mean hours so far")
    val h7 = got(7L)
    assert(h7._6 == 1 && h7._3 == 0 && h7._4 == 0 && h7._5 == 0)
    val h31 = got(31L)
    assert(h31._6 == 1 && h31._5 == 1, s"hour 31: $h31") // rule3: 5 of last 5 beyond 1σ
    assert(h31._3 == 0 && h31._4 == 0) // 1.73σ: no 3σ point, no 2σ zone
  }

  test("user_concentration: tied boundary level interpolates in exact integers") {
    // 100 users: one with 901 events, 99 with 1 → k(1%)=1 takes the
    // whale (.901), k(5%)=5 adds 4 of the 99-way tie (.905), k(10%)
    // adds 9 (.910) — the tie split is the thing under test
    var id = 0L
    val rows = for {
      u <- 0 until 100
      i <- 0 until (if (u == 0) 901 else 1)
    } yield {
      id += 1
      (id, (id * 1000000L) * 1000L, u.toLong, "t", 1.0)
    }
    val got = TsOps.userConcentration(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("pct", "n_users", "k_users", "top_events", "n_events", "share")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 100L, 1L, 901L, 1000L, 0.901)))
    assert(got(5L) == ((5L, 100L, 5L, 905L, 1000L, 0.905)))
    assert(got(10L) == ((10L, 100L, 10L, 910L, 1000L, 0.910)))
  }

  test("ab_mwu: tie-block ranks match the closed form; a large shift is detected") {
    // variant 0 users (even ids) all total 10.0; variant 1 (odd) all
    // 30.0 — two pure tie blocks, complete separation. n0 = n1 = 8:
    // R0 = sum of avg ranks 4.5×8 = 36, U0 = 0, z < -1.96 (detected)
    val rows = for {
      u <- 0 until 16
      v <- Seq(if (u % 2 == 0) 10.0 else 30.0)
    } yield ((u + 1).toLong, (u + 1) * 1000000000L, u.toLong, "t", v)
    val got = TsOps.abMannWhitney(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("n0", "n1", "u0", "tie_sum", "z", "significant")
      .as[(Long, Long, Double, Long, Double, Long)].head()
    assert(got._1 == 8 && got._2 == 8)
    assert(got._3 == 0.0, s"u0: $got")
    assert(got._4 == (8L * 8 * 8 - 8) * 2, s"tie_sum: $got")
    assert(got._5 < -1.96 && got._6 == 1L, s"z: $got")
  }

  test("haar_dwt: closed-form energies on a 4-hour step pattern") {
    // counts 3,1,3,1 on hours 0..3 (base-aligned): level 1 details
    // (3−1, 3−1) → energy 8 over 2 blocks; level 2 detail (4−4) = 0
    val rows = for {
      h <- 0 until 4
      i <- 0 until (if (h % 2 == 0) 3 else 1)
    } yield {
      (h * 10 + i + 1L,
        (1704067200000000L + h * 3600000000L + i * 1000000L) * 1000L,
        1L, "t", 1.0)
    }
    val got = TsOps.haarDwt(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"),
      levels = 2, span = 4)
      .select("lvl", "n_blocks", "energy")
      .as[(Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1) == ((1, 2L, 8L)), got(1))
    assert(got(2) == ((2, 1L, 0L)), got(2))
  }
  test("hurst: a perfect period-2 alternation reads R/S = 1 at every size, H = 0") {
    // counts 5,1,5,1,… for 128 hours (base-aligned): every block has
    // mean 3, population σ 2, and the cumulative-deviation path
    // oscillates +2,0,+2,0 → R = 2, R/S = 1 at m = 16/32/64; the
    // log-log slope of a flat line is 0 — perfectly anti-persistent
    var id = 0L
    val rows = for {
      h <- 0 until 128
      i <- 0 until (if (h % 2 == 0) 5 else 1)
    } yield {
      id += 1
      (id, (1704067200000000L + h * 3600000000L + i * 1000000L) * 1000L,
        1L, "alt", 1.0)
    }
    val got = TsOps.hurst(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("event_type", "rs16", "rs32", "rs64", "hurst")
      .as[(String, Double, Double, Double, Double)].head()
    assert(got == (("alt", 1.0, 1.0, 1.0, 0.0)), got)
  }

  test("weekly_profile: epoch day 0 is a Thursday (dow 4); shares sum per type") {
    // three events at epoch hour 0-1 (Thu) and one 3 days later (Sun)
    val rows = Seq(
      (1L, 0L, 1L, "t", 1.0),
      (2L, 1000L * 1000, 1L, "t", 1.0),          // still hour 0
      (3L, 3600000000L * 1000, 1L, "t", 1.0),    // hour 1 Thu
      (4L, 3L * 86400000000L * 1000, 1L, "t", 1.0)) // day 3 = Sunday
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.weeklyProfile(rows)
      .select("dow", "hour_of_day", "n", "share")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((4L, 0L, 2L, 0.5), (4L, 1L, 1L, 0.25), (0L, 0L, 1L, 0.25)), got)
  }

  test("stickiness: dau over the fixed 28-day period actives") {
    // day 0: users 1,2,3; day 1: users 1,2 — one period, mau = 3
    val rows = Seq(
      (1L, 0L, 1L), (2L, 0L, 2L), (3L, 0L, 3L),
      (4L, 1L, 1L), (5L, 1L, 2L))
      .map { case (id, day, u) =>
        (id, (1704067200000000L + day * 86400000000L) * 1000L, u, "t", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.stickiness(rows)
      .select("day", "dau", "period", "mau", "stickiness")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 3L, 0L, 3L, 1.0), (1L, 2L, 0L, 3L, 2.0 / 3)), got)
  }
  test("gap_report: gaps over the cut aggregate exactly; gapless series stay silent") {
    // series A: samples at hours 0, 1, 100, 300 -> gaps 99h and 200h
    // over a 48h cut; series B: dense, no gaps -> absent from report
    val rows = (Seq(0L, 1L, 100L, 300L).map(h => (h + 1, h, 1L)) ++
      Seq(0L, 24L, 48L, 72L).map(h => (h + 500, h, 2L)))
      .map { case (id, h, u) =>
        (id, h * 3600000000L * 1000L, u, "t", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.gapReport(rows)
      .select("n_samples", "n_gaps", "max_gap_us", "total_gap_us", "availability")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got.length == 1, got)
    val g = got.head
    val h = 3600000000L
    assert(g._1 == 4 && g._2 == 2)
    assert(g._3 == 200 * h && g._4 == 299 * h)
    assert(g._5 == 1.0 - (299.0 * h) / (300 * h), g.toString)
  }
  test("capacity_eta: exact linear growth reads its closed-form ETA; flat reads NULL") {
    // type "g": daily totals 10,20,30,40 (slope 10, fit 40 at day 3)
    // -> days to 2x = 40*1/10 = 4; type "f": constant -> slope 0, NULL
    var id = 0L
    val rows = for {
      (tpe, counts) <- Seq(("g", Seq(10, 20, 30, 40)), ("f", Seq(5, 5, 5, 5)))
      (c, d) <- counts.zipWithIndex
      i <- 0 until c
    } yield {
      id += 1
      (id, (d * 86400000000L + i * 1000000L) * 1000L, 1L, tpe, 1.0)
    }
    val got = TsOps.capacityEta(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("event_type", "n_days", "slope", "current_fit", "days_to_cap")
      .as[(String, Long, Double, Double, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("g") == (("g", 4L, 10.0, 40.0, Some(4.0))), got("g"))
    val f = got("f")
    assert(f._3 == 0.0 && f._5.isEmpty, f.toString)
  }

  test("attribution_first: earliest in-window click wins; out-of-window and later clicks don't") {
    val hu = 3600000000L
    // purchase at hour 30 value 50: clicks at hours 2 (inside 24h? 30-2=28h -> OUT),
    // 10 and 20 (both inside) -> first = hour 10, lead 20h;
    // purchase at hour 100: no click in window -> organic
    val rows = Seq(
      (1L, 2L * hu, 1L, "click", 0.0),
      (2L, 10L * hu, 1L, "click", 0.0),
      (3L, 20L * hu, 1L, "click", 0.0),
      (4L, 30L * hu, 1L, "purchase", 50.0),
      (5L, 100L * hu, 1L, "purchase", 7.0))
      .map { case (id, us, u, t, v) => (id, us * 1000L, u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.attributionFirst(rows)
      .select("day", "n_purchases", "n_attributed", "attributed_value", "sum_lead_us")
      .as[(Long, Long, Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 1L, 1L, 50.0, 20L * hu),
      (4L, 1L, 0L, 0.0, 0L)), got)
  }

  test("seasonal_threshold: per-hour-of-day bands; a spiky hour doesn't widen a quiet one") {
    // hod 0 over 4 days: counts 4,4,4,40 -> median 4, MAD 0, band 4;
    // hod 1: counts 1,9,1,9 -> median 5, MAD 4, band 17
    val counts = Map(0 -> Seq(4, 4, 4, 40), 1 -> Seq(1, 9, 1, 9))
    var id = 0L
    val rows = for {
      d <- 0 until 4
      hod <- Seq(0, 1)
      i <- 0 until counts(hod)(d)
    } yield {
      id += 1
      (id, ((d * 24L + hod) * 3600000000L + i * 1000000L) * 1000L, 1L, "t", 1.0)
    }
    val got = TsOps.seasonalThreshold(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("hour_of_day", "n_hours", "median", "mad", "threshold")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0L) == ((0L, 4L, 4.0, 0.0, 4.0)), got(0L))
    assert(got(1L) == ((1L, 4L, 5.0, 4.0, 17.0)), got(1L))
  }

  test("retention_headline: unobservable cohorts stay out of the denominator") {
    // horizon day 8. user 1 first day 0, active d1+d7 -> eligible+retained both.
    // user 2 first day 0, never returns -> eligible both, retained neither.
    // user 3 first day 5: eligible for d1 (6<=8) but NOT d7 (12>8).
    val rows = Seq(
      (1L, 0L, 1L), (2L, 1L, 1L), (3L, 7L, 1L),
      (4L, 0L, 2L),
      (5L, 5L, 3L), (6L, 6L, 3L),
      (7L, 8L, 9L)) // horizon marker user
      .map { case (id, day, u) =>
        (id, day * 86400000000L * 1000L, u, "t", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.retentionHeadline(rows, days = Seq(1, 7))
      .select("d", "n_eligible", "n_retained", "rate")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // d1 eligible: users 1,2,3 (+9? first=8, 8+1>8 no) = 3; retained: 1 (d1), 3 (d6)
    assert(got(1L) == ((1L, 3L, 2L, 2.0 / 3)), got(1L))
    // d7 eligible: users 1,2 (first 0, 7<=8); retained: user 1 only
    assert(got(7L) == ((7L, 2L, 1L, 0.5)), got(7L))
  }

  test("decompose: residuals cancel within each hour-of-day cell") {
    // hod 0 counts 2,6 (profile 4 -> residuals -2,+2); hod 1 constant 3
    var id = 0L
    val rows = for {
      (h, c) <- Seq((0L, 2), (1L, 3), (24L, 6), (25L, 3))
      i <- 0 until c
    } yield { id += 1; (id, (h * 3600000000L + i * 1000L) * 1000L, 1L, "t", 1.0) }
    val got = TsOps.decompose(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("hour", "hour_of_day", "observed", "profile", "residual")
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 0L, 2L, 4.0, -2.0), (1L, 1L, 3L, 3.0, 0.0),
      (24L, 0L, 6L, 4.0, 2.0), (25L, 1L, 3L, 3.0, 0.0)), got)
  }

  test("ab_strat: a confounded activity draw corrects toward the true null") {
    // heavy users (n_ev 10) all value 100/event; light (n_ev 1) value 10.
    // Arm 1 drew more heavy users by construction -> the RAW diff is
    // large positive, but WITHIN each stratum the arms are identical
    // -> the stratified estimate is exactly 0
    var id = 0L
    val rows = (
      // 6 heavy in arm1 (odd ids), 2 heavy in arm0 (even)
      (1 to 6).map(i => (i * 2 + 1).toLong -> 10) ++
        (1 to 2).map(i => (i * 2).toLong -> 10) ++
        // 10 light per arm
        (20 to 29).map(i => (i * 2).toLong -> 1) ++
        (30 to 39).map(i => (i * 2 + 1).toLong -> 1)
      ).flatMap { case (u, nEv) =>
        (0 until nEv).map { j =>
          id += 1
          (id, id * 1000000000L, u, "t", if (nEv == 10) 100.0 else 10.0)
        }
      }
    val got = TsOps.abStratified(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("stratum", "diff", "strat_diff")
      .as[(Long, Double, Double)].collect()
    // within every populated stratum the arms see identical per-user
    // totals -> diff 0; the weighted overall is exactly 0
    assert(got.forall(_._2 == 0.0), got.toSeq.toString)
    assert(got.head._3 == 0.0, got.head.toString)
  }

  test("anomaly_votes: a big spike sweeps all three detectors; the bulk stays silent") {
    // 40 quiet hours at 4/5 alternating + one 100-count spike
    var id = 0L
    val rows = (for {
      h <- 0 until 40
      i <- 0 until (if (h % 2 == 0) 4 else 5)
    } yield { id += 1; (id, h.toLong, 1L) }) ++
      (0 until 100).map { i => id += 1; (id, 40L, 1L) }
    val df = rows.map { case (i2, h, u) =>
      (i2, (h * 3600000000L) * 1000L + i2 * 1000L, u, "t", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.anomalyVotes(df)
      .select("hour", "cnt", "votes")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 1 && got.head == ((40L, 100L, 3L)), got.toSeq)
  }

  test("ab_aa: null splits mostly accept; a genuinely split metric still calibrates per split") {
    // identical per-user totals -> every split's t is exactly 0/NaN-free
    // and nothing flags; distinct totals -> t varies by split but the
    // flag fraction stays small on a null population
    val rows = (0 until 200).map { u =>
      ((u + 1).toLong, (u + 1) * 1000000000L, u.toLong, "t", 10.0 + (u % 7))
    }
    val got = TsOps.abAaCalibration(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"), nSplits = 10)
      .select("split_id", "n0", "n1", "t_stat", "significant")
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(got.length == 10)
    assert(got.forall(r => r._2 + r._3 == 200), "every user assigned in every split")
    // hash splits differ from each other (not one split re-labeled)
    assert(got.map(_._2).distinct.length > 1, got.map(_._2).toSeq.toString)
    // null population: at most 2 of 10 splits flag (alpha = 5%)
    assert(got.map(_._5).sum <= 2, got.map(_._5).toSeq.toString)
  }

  test("ab_mde: equal-arm closed form; detectable shifts exceed the MDE, undetectable don't") {
    // arms of 50 users each, per-user totals 10 or 12 alternating
    // inside each arm -> pooled variance = 1 (values split evenly
    // around 11), MDE = 2.8016 * 1 * sqrt(2/50) = 0.560..
    val rows = (0 until 100).map { u =>
      ((u + 1).toLong, (u + 1) * 1000000000L, u.toLong, "t",
        if ((u / 2) % 2 == 0) 10.0 else 12.0)
    }
    val got = TsOps.abMde(rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("n0", "n1", "pooled_sd", "grand_mean", "mde_abs", "mde_rel")
      .as[(Long, Long, Double, Double, Double, Double)].head()
    assert(got._1 == 50 && got._2 == 50)
    // each arm: 25x10 + 25x12 -> ss = 50, pooled = sqrt(100/98)
    val sd = math.sqrt(100.0 / 98.0)
    assert(math.abs(got._3 - sd) < 1e-12, got.toString)
    assert(got._4 == 11.0)
    val mde = TsOps.MdeZ * sd * math.sqrt(2.0 / 50.0)
    assert(math.abs(got._5 - mde) < 1e-12, got.toString)
  }

  test("streaks: islands split on the gap; longest wins with earliest-start tiebreak") {
    // counts: hours 0-2 at 5 (above), 3 at 1, 4-7 at 5 (above, len 4),
    // 8-9 at 1, 10-13 at 5 (len 4 again -> tie, earliest start = 4)
    val pattern = Seq(5, 5, 5, 1, 5, 5, 5, 5, 1, 1, 5, 5, 5, 5)
    var id = 0L
    val rows = for {
      (c, h) <- pattern.zipWithIndex
      i <- 0 until c
    } yield {
      id += 1
      (id, (h * 3600000000L + i * 1000000L) * 1000L, 1L, "t", 1.0)
    }
    val got = TsOps.streaks(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("n_islands", "longest_len", "longest_start_hour")
      .as[(Long, Long, Long)].head()
    assert(got == ((3L, 4L, 4L)), got)
  }

  test("audience_overlap: intersection and jaccard match the hand sets") {
    // users(a) = {1,2,3}, users(b) = {2,3,4,5} -> inter 2, union 5
    val rows = (Seq(1L, 2L, 3L).map(u => ("a", u)) ++
      Seq(2L, 3L, 4L, 5L).map(u => ("b", u)) ++
      Seq(("a", 2L))) // duplicate event: distinct reduction absorbs it
      .zipWithIndex.map { case ((t, u), i) =>
        ((i + 1).toLong, (i + 1) * 1000000000L, u, t, 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TsOps.audienceOverlap(rows)
      .select("type_a", "type_b", "n_a", "n_b", "n_inter", "jaccard")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("a", "b", 3L, 4L, 2L, 0.4)), got)
  }
}
