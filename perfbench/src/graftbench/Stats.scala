package graftbench

import scala.collection.mutable

/** Latency samples and the percentile rule every workload reports by:
  * the median, plus the highest of p90/p99/p99.9 that still has at
  * least 10 samples strictly beyond it. Each reported percentile
  * carries the sample count it was taken from. */
final class Samples {
  private val buf = mutable.ArrayBuffer.empty[Double]
  def add(v: Double): Unit = synchronized { buf += v }
  def values: Array[Double] = synchronized { buf.toArray }
  def size: Int = synchronized { buf.size }
}

object Stats {
  val TailCandidates: Seq[Double] = Seq(90.0, 99.0, 99.9)

  /** Nearest-rank percentile: the value at 1-based rank ceil(p/100·n). */
  def rank(p: Double, n: Int): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def percentile(sorted: Array[Double], p: Double): Double = sorted(rank(p, sorted.length) - 1)

  /** The percentiles the rule allows for `n` samples: 50 whenever there
    * is a sample, and the highest tail candidate with ≥ 10 beyond it. */
  def allowed(n: Int): Seq[Double] =
    if (n == 0) Nil
    else 50.0 +: TailCandidates.filter(p => n - rank(p, n) >= 10).lastOption.toSeq

  /** (percentile label, value, sample count) for every allowed percentile. */
  def report(xs: Array[Double]): Seq[(String, Double, Int)] = {
    val s = xs.sorted
    allowed(s.length).map(p => (label(p), percentile(s, p), s.length))
  }

  def label(p: Double): String =
    if (p == p.floor) s"p${p.toInt}" else "p" + p.toString.replace(".", "")

  /** Interquartile mean: the mean of the middle half of the sorted
    * samples (all of them below four) — as robust as the median to a
    * stray outlier, but it averages more of the samples. */
  def iqm(xs: Array[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val cut = s.length / 4
      val mid = s.slice(cut, s.length - cut)
      mid.sum / mid.length
    }

  /** The mean over request kinds of each kind's interquartile mean, so
    * a kind that is asked for less often still weighs the same. */
  def kindIqm(kinds: Seq[Array[Double]]): Double = {
    val ks = kinds.filter(_.nonEmpty)
    if (ks.isEmpty) Double.NaN else ks.map(iqm).sum / ks.size
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else percentile(xs.toArray.sorted, 50.0)

  /** Order-independent checksum of (labels, ts, value) samples: a sum of
    * 64-bit mixes, so the same multiset in any order sums alike and one
    * dropped or altered sample changes it. */
  def sampleHash(labelKey: String, tsMs: Long, v: Double): Long =
    mix64(mix64(scala.util.hashing.MurmurHash3.stringHash(labelKey).toLong) ^
      (tsMs * 0x9E3779B97F4A7C15L) ^
      mix64(java.lang.Double.doubleToRawLongBits(v)))

  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def labelKey(labels: Map[String, String]): String =
    labels.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
}

/** Sample-multiset summary: count + order-independent checksum. */
final case class Tally(count: Long, sum: Long) {
  def +(o: Tally): Tally = Tally(count + o.count, sum + o.sum)
}
object Tally {
  val zero: Tally = Tally(0, 0)
  def of(series: Seq[(Map[String, String], Seq[(Long, Double)])]): Tally =
    series.foldLeft(zero) { case (acc, (labels, pts)) =>
      val k = Stats.labelKey(labels)
      Tally(acc.count + pts.size, acc.sum + pts.map { case (t, v) => Stats.sampleHash(k, t, v) }.sum)
    }
}

/** Minimal JSON writer (the output schema is flat and fixed). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
