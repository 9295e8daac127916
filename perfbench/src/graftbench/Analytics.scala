package graftbench

/** `analytics`: a fixed set of `SparkEntry.queries` over seeded tables,
  * once each (the cold number), in sorted order through the `noop`
  * sink, with `clearCache` at every family boundary as `graft.Bench`
  * does. A query that throws is a failed operation. */
object Analytics {
  /** Two of the per-job tail the roadmap targets (graph_pagerank,
    * ts_backfill; dedup_lsh_tuning alone would add a quarter to the run)
    * plus one light query from every other operator family: text,
    * corpus, vector, ANN, quality, multimodal, events, PromQL, time
    * series and TPC-H. */
  val Queries: Seq[String] = Seq(
    "ann_lsh_topk", "corpus_stats", "dedup_minhash", "doc_topterms", "dq_profile",
    "emb_centroids", "events_funnel", "graph_pagerank", "multimodal_image_stats",
    "promql_eval", "q1_agg", "text_quality", "ts_backfill", "ts_rate").sorted

  def family(q: String): String = q.takeWhile(_ != '_')
  /** The per-layer family a query is pooled into. */
  def layerFamily(q: String): String = family(q) match {
    case f if Layers.EntryFamilies.contains(f) => f
    case f if f.matches("q[0-9]+") => "tpch"
    case _ => "other"
  }

  def run(ctx: Ctx): Result = {
    val t0 = System.nanoTime()
    val spark = Local.session(ctx.work, probes = ctx.tracer.enabled)
    val data = new java.io.File(ctx.work, "tables").getAbsolutePath
    Tables.write(spark, ctx.seed, data)
    val setupS = (System.nanoTime() - t0) / 1e9

    val all = graft.SparkEntry.queries
    val probe0 = ProbeSnap.inProcess()
    val startMs = System.currentTimeMillis()
    var prevFamily = ""
    val famS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val famJobs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val times = Queries.map { q =>
      if (family(q) != prevFamily) { spark.catalog.clearCache(); prevFamily = family(q) }
      val jobs0 = ProbeState.jobs.get
      val rid = ctx.tracer.newRequest()
      val q0 = System.nanoTime()
      try ctx.tracer.span(s"entry.$q", rid)(_ =>
        all(q)(spark, data).write.format("noop").mode("overwrite").save())
      catch { case e: Throwable => failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      val s = (System.nanoTime() - q0) / 1e9
      val f = layerFamily(q)
      famS(f) = famS.getOrElse(f, 0.0) + s
      famJobs(f) = famJobs.getOrElse(f, 0L) + (ProbeState.jobs.get - jobs0)
      s
    }
    val endMs = System.currentTimeMillis()
    val analyticsS = times.sum
    val peakRss = Jvm.peakRssMb(ProcessHandle.current().pid())

    val sink = new LayerSink
    if (ctx.tracer.enabled) {
      Thread.sleep(300) // listener bus delivery
      ProbeSnap.sparkLayer(sink, probe0, ProbeSnap.inProcess(), startMs, endMs,
        Map("analytics" -> Queries.size.toLong))
      famS.foreach { case (f, s) => sink.put(s"entry.${f}_s", s) }
      famJobs.foreach { case (f, n) => sink.put(s"entry.${f}_jobs", n.toDouble) }
    }
    val lat = times.map(_ * 1000.0).toArray
    Result(
      correct = failures.isEmpty,
      attempted = Queries.size,
      failed = failures.size,
      client = None,
      e2e = Universal(setupS, Queries.size / analyticsS, Seq(lat)),
      report = Seq(
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", peakRss, "MB"),
        ("analytics_s", analyticsS, "s")) ++ Percentiles("query", lat),
      layers = sink,
      checks = failures.toSeq :+ s"${Queries.size - failures.size} of ${Queries.size} queries completed")
  }
}
