package graftbench

/** The benchmark's own checks, run by `perfbench/tests/test_bench.py`
  * through `Main --self-test`. Prints one line per check and exits
  * non-zero on the first failure. */
object SelfTest {
  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  error: $e"); false }
    println(s"${if (pass) "PASS" else "FAIL"} $name")
    if (!pass) sys.exit(1)
  }

  private def payloads(seed: Long): Seq[Array[Byte]] = {
    val shards = (0 until Ingest.Writers).map(w => new WriteShard(seed, w, Ingest.Writers, Ingest.Series))
    val trickle = new Trickle(History(seed, Dashboard.NSeries, Dashboard.Hours))
    shards.flatMap(s => Seq.fill(12)(s.next().payload)) ++ (0L until 5L).map(trickle.request)
  }

  def run(): Unit = {
    check("same seed gives byte-identical payloads") {
      payloads(7).zip(payloads(7)).forall { case (a, b) => java.util.Arrays.equals(a, b) }
    }
    check("another seed gives other payloads") {
      payloads(7).zip(payloads(8)).exists { case (a, b) => !java.util.Arrays.equals(a, b) }
    }
    check("same seed gives the same history") {
      val a = History(3, 20, 1); val b = History(3, 20, 1)
      (0 until 20).forall(s => java.util.Arrays.equals(a.values(s), b.values(s)))
    }
    check("payloads decode to 500 samples on the 15 s grid") {
      val req = new WriteShard(1, 0, 4, 5000).next()
      val series = graft.sources.RemoteWrite.decode(req.payload)
      series.map(_._2.size).sum == 500 && Tally.of(series) == req.tally
    }

    val names = Layers.all.map(_._1) ++
      Universal(1, 1, Seq(Array(1.0))).map(_._1) ++
      Percentiles("visible_lag", Array.tabulate(1000)(_.toDouble)).map(_._1)
    check("metric names match [A-Za-z0-9_.-]+") {
      names.forall(_.matches("[A-Za-z0-9_.-]+")) && names.distinct.size == names.size
    }
    check("per-layer names are at most 64 characters and at most 128 of them") {
      Layers.all.forall(_._1.length <= 64) && Layers.all.size <= 128
    }

    check("percentile rule: the median alone below 20 samples") {
      Stats.allowed(1) == Seq(50.0) && Stats.allowed(19) == Seq(50.0)
    }
    check("percentile rule: p90 needs 10 samples beyond it") {
      Stats.allowed(99) == Seq(50.0) && Stats.allowed(100) == Seq(50.0, 90.0)
    }
    check("percentile rule: p99 from 1000 samples, p99.9 from 10000") {
      Stats.allowed(999) == Seq(50.0, 90.0) && Stats.allowed(1000) == Seq(50.0, 99.0) &&
        Stats.allowed(10000) == Seq(50.0, 99.9)
    }
    check("percentile rule: nearest rank values and labels") {
      val xs = Array.tabulate(100)(i => (i + 1).toDouble)
      Stats.report(xs) == Seq(("p50", 50.0, 100), ("p90", 90.0, 100)) &&
        Stats.label(99.9) == "p999"
    }
    check("latency_iqm_ms weighs every request kind the same") {
      Stats.kindIqm(Seq(Array(10.0, 10.0, 10.0, 10.0), Array(30.0))) == 20.0 &&
        Stats.iqm(Array(1.0, 2.0, 3.0, 100.0)) == 2.5
    }

    val reqs = { val s = new WriteShard(11, 1, 4, 5000); Seq.fill(3)(s.next()) }
    val all = reqs.flatMap(r => graft.sources.RemoteWrite.decode(r.payload))
    val expected = reqs.map(_.tally).reduce(_ + _)
    check("readback tally is order-independent") {
      Tally.of(all) == expected && Tally.of(scala.util.Random.shuffle(all)) == expected
    }
    check("readback check catches one dropped sample") {
      val victim = 731
      Tally.of(all.patch(victim, Nil, 1)) != expected
    }
    check("readback check catches one altered value") {
      val (l, pts) = all(5)
      Tally.of(all.updated(5, (l, pts.map { case (t, v) => (t, v + 1) }))) != expected
    }
  }
}
