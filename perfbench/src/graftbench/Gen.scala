package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of the
  * seed (and its own arguments): the same seed gives byte-identical
  * payloads and identical expected results. */
object Gen {
  /** The store's label schema: (event_type, user_id). */
  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")
  /** Counters (rate-able, with resets) vs random-walk gauges, by type. */
  def isCounter(eventType: String): Boolean = eventType match {
    case "click" | "view" | "purchase" => true
    case _ => false
  }
  /** 2024-01-01T00:00:00Z in epoch ms: the start of every generated timeline. */
  val BaseMs = 1704067200000L

  def seriesLabels(i: Int): Map[String, String] =
    Map("event_type" -> EventTypes(i % EventTypes.length), "user_id" -> (i / EventTypes.length).toString)

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(Stats.mix64(seed * 0x9E3779B97F4A7C15L + stream))

  /** One value step: counters add a small integer increment and reset to
    * 0 about once in 200 steps; gauges take a bounded random walk. */
  def step(counter: Boolean, prev: Double, r: SplittableRandom): Double =
    if (counter) { if (r.nextInt(200) == 0) 0.0 else prev + r.nextInt(20) }
    else math.rint((prev + (r.nextDouble() - 0.5) * 4.0) * 1000.0) / 1000.0

  def initial(counter: Boolean, r: SplittableRandom): Double =
    if (counter) r.nextInt(1000).toDouble else 50.0 + r.nextInt(100)
}

/** One remote-write request: the snappy WriteRequest body plus what it
  * carries, so an acknowledgement can be tallied without re-decoding. */
final case class WriteReq(payload: Array[Byte], samples: Int, tally: Tally,
                          minTs: Long, maxTs: Long, last: (Map[String, String], Long))

/** A Prometheus remote-write shard: a fixed slice of the series space
  * scraped on a 15 s grid with millisecond jitter, shipped in requests
  * of `perRequest` samples (one sample per series per request). */
final class WriteShard(seed: Long, shard: Int, shards: Int, totalSeries: Int,
                       perRequest: Int = 500, scrapeMs: Long = 15000L) {
  private val r = Gen.rng(seed, 1000L + shard)
  private val ids: Array[Int] = (shard until totalSeries by shards).toArray
  require(ids.length >= perRequest, s"shard $shard has ${ids.length} series, fewer than one request")
  private val labels = ids.map(Gen.seriesLabels)
  private val keys = labels.map(Stats.labelKey)
  private val counter = labels.map(l => Gen.isCounter(l("event_type")))
  private val value = Array.tabulate(ids.length)(j => Gen.initial(counter(j), r))
  private var round = 0L
  private var pos = 0

  def next(): WriteReq = {
    val series = new Array[(Map[String, String], Seq[(Long, Double)])](perRequest)
    var sum = 0L
    var minTs = Long.MaxValue
    var maxTs = Long.MinValue
    var i = 0
    while (i < perRequest) {
      if (pos == ids.length) { pos = 0; round += 1 }
      val ts = Gen.BaseMs + round * scrapeMs + r.nextInt(1000)
      value(pos) = Gen.step(counter(pos), value(pos), r)
      series(i) = (labels(pos), Seq((ts, value(pos))))
      sum += Stats.sampleHash(keys(pos), ts, value(pos))
      minTs = math.min(minTs, ts); maxTs = math.max(maxTs, ts)
      pos += 1; i += 1
    }
    WriteReq(graft.sources.RemoteWrite.encode(series.toSeq), perRequest,
      Tally(perRequest, sum), minTs, maxTs, (series.last._1, series.last._2.head._1))
  }
}

/** The dashboard store's history: `nSeries` series on a fixed grid. A
  * series' values depend only on (seed, series), so the Spark job that
  * writes them and the checker that expects them agree exactly. */
final case class History(seed: Long, nSeries: Int, hours: Int, stepMs: Long = 60000L) {
  val points: Int = (hours * 3600000L / stepMs).toInt
  val startMs: Long = Gen.BaseMs
  /** Timestamp of the last history sample; every query window ends here. */
  val endMs: Long = startMs + (points - 1) * stepMs

  def ts(i: Int): Long = startMs + i * stepMs

  def values(s: Int): Array[Double] = {
    val r = Gen.rng(seed, 500000L + s)
    val c = Gen.isCounter(Gen.seriesLabels(s)("event_type"))
    val out = new Array[Double](points)
    var v = Gen.initial(c, r)
    var i = 0
    while (i < points) { v = Gen.step(c, v, r); out(i) = v; i += 1 }
    out
  }

  /** Expected samples of series `s` with ts in [fromMs, toMs]. */
  def samples(s: Int, fromMs: Long, toMs: Long): Seq[(Long, Double)] = {
    val vs = values(s)
    (0 until points).iterator.map(i => (ts(i), vs(i)))
      .filter { case (t, _) => t >= fromMs && t <= toMs }.toSeq
  }

  /** Series ids whose labels satisfy `keep`. */
  def seriesWhere(keep: Map[String, String] => Boolean): Seq[Int] =
    (0 until nSeries).filter(s => keep(Gen.seriesLabels(s)))
}

/** The dashboard's open-loop trickle: request k carries the next grid
  * steps past the history, one sample per series per step, filled up to
  * `perRequest - 1` samples, plus the canary sample
  * {event_type="canary", user_id="0"} whose value is k. */
final class Trickle(h: History, perRequest: Int = 500) {
  val CanaryLabels: Map[String, String] = Map("event_type" -> "canary", "user_id" -> "0")
  private val stepsPerRequest = (perRequest - 1 + h.nSeries - 1) / h.nSeries
  private def stepTs(step: Long): Long = h.endMs + step * h.stepMs
  /** Timestamp of request k's canary: its last grid step. */
  def tsOf(k: Long): Long = stepTs((k + 1) * stepsPerRequest)
  /** A lone canary sample (value -1) one step before the first request. */
  def warmup: Array[Byte] = graft.sources.RemoteWrite.encode(Seq((CanaryLabels, Seq((tsOf(-1), -1.0)))))
  def request(k: Long): Array[Byte] = {
    val regular = (0 until perRequest - 1).map { i =>
      (Gen.seriesLabels(i % h.nSeries), Seq((stepTs(k * stepsPerRequest + i / h.nSeries + 1), 1000.0 + k)))
    }
    graft.sources.RemoteWrite.encode(regular :+ ((CanaryLabels, Seq((tsOf(k), k.toDouble)))))
  }
}
