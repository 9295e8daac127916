package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch timing probe for pipeline stages (dev only). */
object DebugProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    if (names.contains("__scale10") || names.contains("__scale100")) {
      // Scale-behavior probe: 10× the sf0.1 tables (ids shifted per
      // copy so cardinalities scale too — 10× users/series/docs, same
      // per-entity density) and time the structurally-riskiest
      // operator families against their sf0.1 baseline. A scale-clean
      // operator should grow ≲ the 10× data factor on fixed cores;
      // quadratic plans blow past it. PERF probe only — correctness
      // stays on the driver's own parquet via graft.Verify.
      import org.apache.spark.sql.DataFrame
      // __scale100 = the same probe at 100 copies (~sf10-class volume:
      // 10M events, 6M lineitems on local[32]) — documents families are
      // excluded there (the vowel-dialect trick has only 10 disjoint
      // alphabets, and 100 mirrored copies would probe data density,
      // not engine scaling)
      val factor = if (names.contains("__scale100")) 100L else 10L
      val base = java.nio.file.Files.createTempDirectory("graft_x10").toString
      def x10(name: String, shift: Seq[(String, Long => org.apache.spark.sql.Column)]): String = {
        val t = spark.read.parquet(s"$sfDir/$name.parquet")
        val big = (0L until factor).map { k =>
          shift.foldLeft(t) { case (df, (c, f)) => df.withColumn(c, f(k)) }
        }.reduce(_ unionByName _)
        val p = s"$base/$name.parquet"
        big.repartition(32).write.mode("overwrite").parquet(p)
        p
      }
      lazy val eventsP = x10("events", Seq(
        "user_id" -> (k => col("user_id") + lit(k * 1000000L)),
        "event_id" -> (k => col("event_id") + lit(k * 1000000000L))))
      // documents: besides the id shift, each copy rewrites its vowels
      // (translate with a per-copy map) — 10 disjoint "dialects" with
      // the SAME internal near-dup structure but no cross-copy
      // duplicates, so the pair graph scales linearly like a real
      // corpus 10× the size, not quadratically like 10 mirrors.
      val dialect = "aeioubcdfghjklmnp" // ≥ 9+5 chars: copy k maps vowels to chars k..k+4
      lazy val docsP = x10("documents", Seq(
        "doc_id" -> (k => col("doc_id") + lit(k * 10000000L)),
        "text" -> (k => translate(col("text"), "aeiou", dialect.substring(k.toInt, k.toInt + 5)))))
      lazy val embP = x10("embeddings", Seq(
        "vec_id" -> (k => col("vec_id") + lit(k * 10000000L))))
      // near-dup-structure probes need the embedding analog of the
      // vowel dialects: plain mirrors are exact cross-copy duplicates,
      // so the pair graph grows quadratically in copies (data density,
      // not engine scaling). A per-copy DIMENSION ROTATION preserves
      // every within-copy cosine (common permutation) while making
      // cross-copy pairs non-duplicate. Distinct only for k < 64 —
      // fine at 10×, excluded from __scale100 like the documents
      // families.
      lazy val embRotP = x10("embeddings", Seq(
        "vec_id" -> (k => col("vec_id") + lit(k * 10000000L)),
        "embedding" -> (k => expr(
          s"transform(sequence(0, 63), i -> element_at(embedding, CAST((i + $k) % 64 AS INT) + 1))"))))
      lazy val liP = x10("lineitem", Seq(
        "l_orderkey" -> (k => col("l_orderkey") + lit(k * 100000000L))))
      // orders/customer shifted CONSISTENTLY with liP so referential
      // checks stay truthful at 10x (same orderkey/custkey offsets)
      lazy val ordP = x10("orders", Seq(
        "o_orderkey" -> (k => col("o_orderkey") + lit(k * 100000000L)),
        "o_custkey" -> (k => col("o_custkey") + lit(k * 10000000L))))
      lazy val custP = x10("customer", Seq(
        "c_custkey" -> (k => col("c_custkey") + lit(k * 10000000L))))
      def time(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      def ev(p: String) = graft.tsdb.Series.samples(spark.read.parquet(p))
      def docs(p: String) = spark.read.parquet(p)
      def emb(p: String) = spark.read.parquet(p)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val probes: Seq[(String, String => Long)] = Seq(
        ("downsample", p => graft.tsdb.TsOps.downsample(ev(p)).count()),
        ("gap_fill", p => graft.tsdb.TsOps.gapFill(ev(p)).count()),
        ("sessionize", p => graft.tsdb.TsOps.sessionize(spark.read.parquet(p)).count()),
        ("twostage_jaccard", p => graft.text.Dedup.ngramJaccardTwoStage(docs(p)).count()),
        ("dedup_clusters", p => graft.text.Dedup.duplicateClusters(docs(p)).count()),
        // simhash_pairs deliberately absent: the toy 30-word testdata
        // vocabulary makes its RESULT quadratic in data (28% of pairs
        // are genuine candidates — the oracle pays the same join), so
        // a 10x run measures data density, not engine scaling
        ("ann_ivf", p => graft.vector.VectorOps.ivfTopK(emb(p), col("vec_id") < 5, 10).count()),
        ("chunked_store", p => {
          // the full storage path: salted parallel append into daily
          // chunks, batched gorilla close, federated matcher query
          val dir = java.nio.file.Files.createTempDirectory("x10_store").toString
          val st = new graft.tsdb.ChunkStore(spark, dir, chunkMs = 86400000L,
            filesPerChunkPerAppend = 2)
          st.append(ev(p))
          st.closeChunksBelow(1704412800000000L)
          st.queryAll(Seq(graft.tsdb.MatchEq("event_type", "view")),
            1704067200000000L, 1705708800000000L).count()
        }),
        // r4 additions — the new families with structural risk:
        // positional k-gram df (substring spans), ×7 fan-out +
        // double-distinct (engagement), interval explode + hash join
        // (range join: events ⋈ their session intervals)
        ("substring_spans", p => graft.text.Dedup.substringSpans(docs(p), 10).count()),
        ("engagement", p => graft.tsdb.TsOps.engagement(ev(p)).count()),
        ("range_join", p => {
          val e = spark.read.parquet(p)
          val sess = graft.tsdb.TsOps.sessionize(e)
            .select(col("user_id"), col("session_idx"), col("start_us"), col("end_us"))
          graft.tsdb.RangeJoin.pointsInIntervals(
            graft.tsdb.Series.samples(e).select("user_id", "event_id", "ts_us"),
            sess, Seq("user_id")).count()
        }),
        // r4b additions: PromQL subquery/offset composition (two-level
        // re-aggregation), per-dimension embedding explode, and the
        // q21 join-free per-order reshape over a 10× order space
        ("subquery_rate", p => graft.tsdb.TsOps.subqueryMaxRate(ev(p)).count()),
        ("interpolate", p => graft.tsdb.TsOps.interpolate(ev(p)).count()),
        ("offset_ratio", p => graft.tsdb.TsOps.offsetRatio(ev(p)).count()),
        ("dim_stats", p => graft.vector.VectorOps.dimStats(emb(p)).count()),
        // r5 additions: the ×2080 map-side pair fan-out (covariance)
        // and the token-instance explode + global-tf join (unigram LM)
        ("emb_covariance", p => graft.vector.VectorOps.covariance(emb(p)).count()),
        ("unigram_logprob", p => graft.text.TextOps.unigramLogprob(docs(p)).count()),
        // r8 additions: the union-window as-of (clicks ∪ purchases one
        // shuffle), the ×7 map-side fan-out + double distinct, and the
        // gaps-and-islands alert pass
        ("attribution", p => graft.tsdb.TsOps.attribution(spark.read.parquet(p)).count()),
        ("dau_wau", p => graft.tsdb.TsOps.dauWau(spark.read.parquet(p)).count()),
        ("alert_firing", p => graft.tsdb.TsOps.alertFiring(ev(p), 20.0, 172800000000L).count()),
        // r8b additions: positional-gram window selection (winnow),
        // per-hour collect+pair fan-out (corr), distinct double-emit
        // (churn), user-grain anchor joins (funnel3), and the corpus ×
        // nLabels broadcast pass (label margins)
        ("winnow", p => graft.text.TextOps.winnow(docs(p)).count()),
        // r9: sequence packing — per-shard running-offset window; the
        // shard count is the scale knob, so the 10× run holds it
        // fixed and the per-shard window grows 10× (the honest risk)
        ("doc_pack", p => graft.text.TextOps.pack(docs(p)).count()),
        ("corr_matrix", p => graft.tsdb.TsOps.corrMatrix(spark.read.parquet(p)).count()),
        ("churn", p => graft.tsdb.TsOps.churn(spark.read.parquet(p)).count()),
        ("funnel3", p => graft.tsdb.TsOps.funnel3(spark.read.parquet(p)).count()),
        ("label_margin", p => graft.vector.VectorOps.labelMargin(
          spark.read.parquet(p).select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))).count()),
        // ×16 per-sample contribution emit (ewma) and the 3-way
        // presence emit + first-seen join (growth accounting)
        ("ewma", p => graft.tsdb.TsOps.ewma(ev(p)).count()),
        ("growth_accounting", p =>
          graft.tsdb.TsOps.growthAccounting(spark.read.parquet(p)).count()),
        // r8c additions: the PromQL range-grid emit (72 instants,
        // fan-out 7 per sample) and the two-level subquery nesting
        ("promql_range", p => graft.promql.PromQL.evalRange(spark.read.parquet(p),
          """sum by (event_type) (sum_over_time({event_type=~"click|view"}[6h]))""",
          1704088800000000L, 1704348000000000L, 3600000000L).count()),
        ("promql_subquery", p => graft.promql.PromQL.eval(spark.read.parquet(p),
          """max_over_time(sum_over_time(click[6h])[1d:6h])""",
          1705708800000000L).count()),
        // r9 addition: the full federation path at scale — ingest into
        // a store, serve over a live HTTP endpoint, multi-slice
        // distributed remote read-back (slices fetch in executor
        // tasks; matchers push remotely)
        ("federation", p => {
          val dir = java.nio.file.Files.createTempDirectory("x10_fedstore").toString
          val st = new graft.tsdb.ChunkStore(spark, dir, chunkMs = 86400000L,
            filesPerChunkPerAppend = 2)
          st.append(ev(p))
          val ep = new graft.sources.HttpEndpoint(spark, st)
          val port = ep.start()
          try graft.sources.Federation.readSamples(spark,
              s"http://127.0.0.1:$port/api/v1/read",
              Seq(graft.tsdb.MatchRe("event_type", "click|view")),
              1704067200000000L, 1704412800000000L, timeSlices = 8).count()
          finally ep.stop()
        }),
        // r10 additions: the tiered-retention serve (store build +
        // retireRaw + rollup serve), the containment/bucket-stats/
        // sweep dedup family riders, the mixing/packing/embedding
        // profile passes, and real-WAV audio feature extraction
        ("tiered_serving", p => {
          val dir = java.nio.file.Files.createTempDirectory("x10_tiered").toString
          val st = new graft.tsdb.ChunkStore(spark, dir, chunkMs = 86400000L,
            filesPerChunkPerAppend = 2, rollupOnClose = true)
          st.append(ev(p))
          st.closeChunksBelow(1704412800000000L)
          st.retireRaw(1704067200000000L + 2L * 86400000000L)
          st.queryRollup(Seq(graft.tsdb.MatchEq("event_type", "click")),
            1704067200000000L, 1704412799999999L).count()
        }),
        ("containment", p => graft.text.Dedup.containmentPairs(docs(p)).count()),
        ("bucket_stats", p => graft.text.Dedup.lshBucketStats(docs(p)).count()),
        ("dedup_sweep", p => graft.text.Dedup.dedupSweep(docs(p)).count()),
        ("budget_alloc", p => graft.text.TextOps.budgetAlloc(docs(p), 250000L).count()),
        ("pack_bins", p => graft.text.TextOps.packBins(docs(p)).count()),
        ("emb_quantize", p => graft.vector.VectorOps.quantizeStats(emb(p)).count()),
        ("mrl_curve", p => graft.vector.VectorOps.mrlCurve(emb(p)).count()),
        ("audio_features", p => graft.multimodal.Multimodal.audioFeatures(
          graft.multimodal.Multimodal.attachMedia(docs(p))).count()),
        // r10 continuation: the backfill closed-chunk merge (store
        // build + withheld-slice backfill + federated read-back), the
        // two recall evaluators (brute-force × approx joins over a 10×
        // corpus), the S-curve truth∩candidate pass, the covariance
        // power iteration, the one-pass confusion matrix, and the
        // cardinality-limiting aggregators
        ("backfill", p => {
          val dir = java.nio.file.Files.createTempDirectory("x10_backfill").toString
          val st = new graft.tsdb.ChunkStore(spark, dir, chunkMs = 86400000L,
            filesPerChunkPerAppend = 2)
          val sm = ev(p)
          st.append(sm.filter(col("event_id") % 7 =!= 0))
          st.closeChunksBelow(1704412800000000L)
          st.backfill(sm.filter(col("event_id") % 7 === 0))
          st.queryAll(Nil, 1704067200000000L, 1705708800000000L).count()
        }),
        ("ann_recall", p => graft.vector.VectorOps.recallAtK(
          emb(p), col("vec_id") < 50, 10).count()),
        ("ivf_recall", p => graft.vector.VectorOps.recallAtKIvf(
          emb(p), col("vec_id") < 50, 10).count()),
        ("lsh_recall", p => graft.text.Dedup.lshRecallCurve(docs(p)).count()),
        ("pca_power", p => graft.vector.VectorOps.pcaTopComponent(emb(p)).count()),
        ("lang_confusion", p => graft.text.TextOps.langConfusion(docs(p)).count()),
        ("promql_limitk", p => graft.promql.PromQL.eval(spark.read.parquet(p),
          """limitk(25, count_over_time({event_type="click"}[7d])) or limit_ratio(0.35, count_over_time({event_type="view"}[7d]))""",
          1705708800000000L).count()),
        ("promql_mad", p => graft.promql.PromQL.eval(spark.read.parquet(p),
          """mad_over_time({event_type="view"}[7d])""", 1705708800000000L).count()),
        ("pq_profile", p => graft.vector.VectorOps.pqProfile(emb(p)).count()),
        ("heaps_curve", p => graft.text.TextOps.heapsCurve(docs(p)).count()),
        // the AUTO band sizing (autoBandSize's log2-occupancy law) is
        // now the default — the probe exercises the default to prove
        // the default is the scale-safe one (was: 9.3× wall at 10×
        // with bandSize pinned at 4; 1.3× with the law applied)
        ("semantic_clusters", p =>
          graft.vector.VectorOps.semanticClusters(emb(p), 0.4).count()),
        ("rule_chain", p => {
          val d1 = java.nio.file.Files.createTempDirectory("x10_chain").toString
          val d2 = java.nio.file.Files.createTempDirectory("x10_chain_dst").toString
          val st = new graft.tsdb.ChunkStore(spark, d1, chunkMs = 86400000L,
            filesPerChunkPerAppend = 2)
          val dst = new graft.tsdb.ChunkStore(spark, d2, chunkMs = 86400000L,
            filesPerChunkPerAppend = 2)
          st.append(ev(p))
          graft.promql.PromQL.ruleGroup(st, dst, Seq(
            "job:traffic:sum6h" ->
              """sum by (event_type) (sum_over_time({event_type=~"click|view"}[6h]))""",
            "job:traffic:daily_max" ->
              """max_over_time({event_type="job:traffic:sum6h"}[1d])"""),
            1704088800000000L, 1704412800000000L, 21600000000L).map(_._2).sum
        }),
        // r10 third session: the BM25 posting-list join (query terms ×
        // postings), the cogroup MMR greedy rerank, the hashed-model
        // DSIR pass, the two-agg CUPED readout, the PQ recall join,
        // the Bloom distinct-bit build + probe join, the per-iteration
        // Lloyd passes, the decile-KL drift pass, replica dedup,
        // counter repair (full-corpus window), the backtest fit, and
        // the fertility counting pass
        ("bm25", p => graft.search.Hybrid.bm25TopK(
          docs(p), col("doc_id") < 8, 20).count()),
        ("mmr", p => graft.search.Hybrid.mmrDiversify(
          emb(p), emb(p).filter(col("vec_id") < 8)).count()),
        ("dsir", p => graft.text.TextOps.dsirWeights(
          docs(p), col("source").isin("src1", "src2")).count()),
        ("ab_cuped", p => graft.tsdb.TsOps.abCuped(spark.read.parquet(p)).count()),
        ("pq_recall", p => graft.vector.VectorOps.recallAtKPq(emb(p)).count()),
        ("bloom_profile", p => graft.text.Dedup.bloomProfile(docs(p)).count()),
        ("kmeans_inertia", p => graft.vector.VectorOps.kmeansInertia(emb(p)).count()),
        ("drift_kl", p => graft.text.TextOps.driftKl(docs(p)).count()),
        ("ha_dedup", p => {
          val sm = ev(p)
          graft.tsdb.TsOps.haDedup(
            sm.filter(pmod(col("event_id"), lit(3L)) =!= 1).withColumn("replica", lit("a"))
              .unionByName(sm.filter(pmod(col("event_id"), lit(3L)) =!= 2)
                .withColumn("replica", lit("b")))).count()
        }),
        ("monotonize", p => graft.tsdb.TsOps.monotonize(ev(p)).count()),
        ("forecast_backtest", p => graft.tsdb.TsOps.forecastBacktest(ev(p)).count()),
        ("fertility", p => graft.text.TextOps.tokenizerFertility(docs(p)).count()),
        ("substring_apply", p => graft.text.Dedup.substringApply(docs(p)).count()),
        ("ab_srm", p => graft.tsdb.TsOps.abSrm(spark.read.parquet(p)).count()),
        ("image_stats", p => graft.multimodal.Multimodal.imageStats(
          graft.multimodal.Multimodal.attachMedia(docs(p))).count()),
        ("q21_reshape", p => {
          val li = spark.read.parquet(p)
            .select("l_orderkey", "l_suppkey", "l_shipdate")
            .repartition(col("l_orderkey"))
          li.groupBy(col("l_orderkey"), col("l_suppkey"))
            .agg(max(col("l_shipdate")).as("supp_last"))
            .groupBy(col("l_orderkey"))
            .agg(count(lit(1)).as("n_supp"),
              max(struct(col("supp_last"), col("l_suppkey").as("sk"))).as("hi"),
              max(struct(col("supp_last"), (-col("l_suppkey")).as("neg"))).as("lo"))
            .filter(col("n_supp") >= 2 && col("hi.sk") === -col("lo.neg"))
            .count()
        }),
        // r10 continuation additions: the session's new families —
        // closed-form CUSUM (one series window), integer PageRank
        // (8 bounded sweeps over the dialect-linear pair graph), the
        // DQ suite (3 one-pass scans + key-only joins at consistent
        // 10x shifts), SCD2/CDC merges (full-outer key joins), z-order
        // (map-side interleave + one agg), length batching (bucket-
        // partitioned windows), LSH tuner (4 band regroups + S-curve),
        // bloom apply (broadcast membership), profiler (one Expand)
        ("cusum", p => graft.tsdb.TsOps.cusum(ev(p)).count()),
        ("pagerank", p => graft.analytics.Graph.pagerank(
          graft.text.Dedup.ngramJaccardTwoStage(docs(p))
            .select("doc_a", "doc_b")).count()),
        ("dq_checks", p => graft.quality.Quality.tpchSuite(
          spark.read.parquet(p), spark.read.parquet(ordP),
          spark.read.parquet(custP)).count()),
        ("dq_profile", p => graft.quality.Quality.profile(
          spark.read.parquet(p).withColumn("o_totalprice",
            col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority")).count()),
        ("scd2_merge", p => {
          val base = spark.read.parquet(p)
            .select("c_custkey", "c_acctbal", "c_mktsegment")
          val batch = base.filter(pmod(col("c_custkey"), lit(7L)) === 2)
            .select(col("c_custkey"),
              round(col("c_acctbal") + 100.0, 2).as("c_acctbal"),
              col("c_mktsegment"))
          graft.analytics.Scd.scd2Merge(graft.analytics.Scd.scd2Init(base),
            batch, "c_custkey", Seq("c_acctbal", "c_mktsegment"),
            1700000000000000L).count()
        }),
        ("cdc_apply", p => {
          val base = spark.read.parquet(p)
            .select("c_custkey", "c_acctbal", "c_mktsegment")
          val ops = base.filter(pmod(col("c_custkey"), lit(5L)) === 1)
            .select(col("c_custkey"), lit("U").as("op"),
              (lit(1000L) + col("c_custkey")).as("ts_us"),
              round(col("c_acctbal") + 50.0, 2).as("c_acctbal"),
              col("c_mktsegment"))
          graft.analytics.Scd.cdcApply(base, ops, "c_custkey",
            Seq("c_acctbal", "c_mktsegment")).count()
        }),
        ("zorder", p => graft.analytics.Layout.zorderLayout(
          spark.read.parquet(p), "l_orderkey", "l_partkey").count()),
        ("length_batching", p => graft.text.TextOps.lengthBatching(docs(p)).count()),
        ("lsh_tuning", p => graft.text.Dedup.lshTuning(docs(p)).count()),
        ("bloom_apply", p => {
          val d = docs(p)
          val batch = d.filter(pmod(col("doc_id"), lit(7L)) === 0)
            .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
          graft.text.Dedup.bloomApply(d, batch).count()
        }),
        // r11: per-year runs through the persistence layer, then the
        // trend read — each year's single-scan checks see 10× rows
        ("dq_trend", p => {
          val li = spark.read.parquet(p)
          val store = java.nio.file.Files.createTempDirectory("x10_dq").toString
          val years = li.select(year(col("l_shipdate").cast("timestamp")).as("y"))
            .distinct().orderBy(col("y")).collect().map(_.getInt(0))
          years.foreach { y =>
            graft.quality.Quality.persistVerdicts(store, s"y$y",
              graft.quality.Quality.lineitemRunChecks(
                li.filter(year(col("l_shipdate").cast("timestamp")) === y)))
          }
          graft.quality.Quality.trend(
            graft.quality.Quality.readVerdicts(spark, store)).count()
        }),
        // r11: 3-component deflation — the corpus cost is ONE
        // covariance pass; everything after is dim²-frame arithmetic
        ("pca_deflate", p => graft.vector.VectorOps.pcaComponents(emb(p)).count()),
        // r11: whole-chain windowed funnel — two chunked range joins
        ("window_funnel", p => graft.tsdb.TsOps.windowFunnel(
          spark.read.parquet(p)).count()),
        // r11: user-grain incidence self-join (types-bounded fan-out)
        ("lift_matrix", p => graft.tsdb.TsOps.liftMatrix(
          spark.read.parquet(p)).count()),
        // r11: step-decay attribution over the chunked range join
        ("attribution_decay", p => graft.tsdb.TsOps.attributionDecay(
          spark.read.parquet(p)).count()),
        // r11: damped stationary sweeps over the transitions edge frame
        ("markov", p => graft.tsdb.TsOps.markovStationary(
          spark.read.parquet(p)).count()))
      // paths are thunks: a probe-name subset (extra args after
      // __scale10) only builds the 10x tables it actually reads
      val tableFor = Map[String, (String, () => String)](
        "downsample" -> ("events", () => eventsP), "gap_fill" -> ("events", () => eventsP),
        "sessionize" -> ("events", () => eventsP),
        "twostage_jaccard" -> ("documents", () => docsP),
        "dedup_clusters" -> ("documents", () => docsP),
        "ann_ivf" -> ("embeddings", () => embP),
        "chunked_store" -> ("events", () => eventsP),
        "substring_spans" -> ("documents", () => docsP),
        "engagement" -> ("events", () => eventsP),
        "range_join" -> ("events", () => eventsP),
        "subquery_rate" -> ("events", () => eventsP),
        "interpolate" -> ("events", () => eventsP),
        "offset_ratio" -> ("events", () => eventsP),
        "dim_stats" -> ("embeddings", () => embP),
        "emb_covariance" -> ("embeddings", () => embP),
        "unigram_logprob" -> ("documents", () => docsP),
        "attribution" -> ("events", () => eventsP),
        "dau_wau" -> ("events", () => eventsP),
        "alert_firing" -> ("events", () => eventsP),
        "winnow" -> ("documents", () => docsP),
        "doc_pack" -> ("documents", () => docsP),
        "corr_matrix" -> ("events", () => eventsP),
        "churn" -> ("events", () => eventsP),
        "funnel3" -> ("events", () => eventsP),
        "label_margin" -> ("embeddings", () => embP),
        "ewma" -> ("events", () => eventsP),
        "growth_accounting" -> ("events", () => eventsP),
        "promql_range" -> ("events", () => eventsP),
        "promql_subquery" -> ("events", () => eventsP),
        "federation" -> ("events", () => eventsP),
        "q21_reshape" -> ("lineitem", () => liP),
        "tiered_serving" -> ("events", () => eventsP),
        "containment" -> ("documents", () => docsP),
        "bucket_stats" -> ("documents", () => docsP),
        "dedup_sweep" -> ("documents", () => docsP),
        "budget_alloc" -> ("documents", () => docsP),
        "pack_bins" -> ("documents", () => docsP),
        "emb_quantize" -> ("embeddings", () => embP),
        "mrl_curve" -> ("embeddings", () => embP),
        "audio_features" -> ("documents", () => docsP),
        "backfill" -> ("events", () => eventsP),
        "ann_recall" -> ("embeddings", () => embP),
        "ivf_recall" -> ("embeddings", () => embP),
        "lsh_recall" -> ("documents", () => docsP),
        "pca_power" -> ("embeddings", () => embP),
        "lang_confusion" -> ("documents", () => docsP),
        "promql_limitk" -> ("events", () => eventsP),
        "promql_mad" -> ("events", () => eventsP),
        "pq_profile" -> ("embeddings", () => embP),
        "heaps_curve" -> ("documents", () => docsP),
        "semantic_clusters" -> ("embeddings", () => embRotP),
        "rule_chain" -> ("events", () => eventsP),
        "bm25" -> ("documents", () => docsP),
        "mmr" -> ("embeddings", () => embP),
        "dsir" -> ("documents", () => docsP),
        "ab_cuped" -> ("events", () => eventsP),
        "pq_recall" -> ("embeddings", () => embP),
        "bloom_profile" -> ("documents", () => docsP),
        "kmeans_inertia" -> ("embeddings", () => embP),
        "drift_kl" -> ("documents", () => docsP),
        "ha_dedup" -> ("events", () => eventsP),
        "monotonize" -> ("events", () => eventsP),
        "forecast_backtest" -> ("events", () => eventsP),
        "fertility" -> ("documents", () => docsP),
        "substring_apply" -> ("documents", () => docsP),
        "ab_srm" -> ("events", () => eventsP),
        "image_stats" -> ("documents", () => docsP),
        "cusum" -> ("events", () => eventsP),
        "pagerank" -> ("documents", () => docsP),
        "dq_checks" -> ("lineitem", () => liP),
        "dq_profile" -> ("orders", () => ordP),
        "scd2_merge" -> ("customer", () => custP),
        "cdc_apply" -> ("customer", () => custP),
        "zorder" -> ("lineitem", () => liP),
        "length_batching" -> ("documents", () => docsP),
        "lsh_tuning" -> ("documents", () => docsP),
        "bloom_apply" -> ("documents", () => docsP),
        "dq_trend" -> ("lineitem", () => liP),
        "pca_deflate" -> ("embeddings", () => embP),
        "window_funnel" -> ("events", () => eventsP),
        "lift_matrix" -> ("events", () => eventsP),
        "attribution_decay" -> ("events", () => eventsP),
        "markov" -> ("events", () => eventsP))
      val sel = names - "__scale10" - "__scale100"
      probes
        .filter(p => sel.isEmpty || sel.contains(p._1))
        .filter(p => factor == 10L ||
          (tableFor(p._1)._1 != "documents" && p._1 != "semantic_clusters"))
        .foreach { case (nm, f) =>
          val (tbl, bigPT) = tableFor(nm)
          val bigP = bigPT()
          spark.catalog.clearCache() // no cross-run subtree cache leaks
          val (t1, n1) = time(f(s"$sfDir/$tbl.parquet"))
          spark.catalog.clearCache()
          val (t10, n10) = time(f(bigP))
          println(f"[probe] scale$factor%-3d $nm%-18s sf0.1 $t1%6.2fs ($n1%9d rows) -> x$factor%-3d $t10%7.2fs ($n10%10d rows)  ratio ${t10 / t1}%5.1fx")
        }
      spark.stop(); return
    }
    if (names.contains("__explain")) {
      // plan audit: print the AQE-final executed plan of each named query
      (names - "__explain").toSeq.sorted.foreach { nm =>
        val df = SparkEntry.queries(nm)(spark, sfDir)
        df.count() // finalize AQE
        println(s"\n========== $nm ==========")
        println(df.queryExecution.executedPlan.toString.take(6000))
      }
      spark.stop(); return
    }
    if (names.contains("__prepare")) {
      val g = new Graft(spark, sfDir)
      val total = g.documents.count()
      val prepped = g.prepareCorpus().persist()
      val n = prepped.count()
      val splits = prepped.groupBy(col("split")).count()
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      val nullRows = prepped.filter(col("clean_text").isNull || col("split").isNull).count()
      println(s"[probe] corpus $total -> prepped $n  splits: $splits  nullRows=$nullRows")
      spark.stop(); return
    }
    if (names.contains("__mhstore")) {
      // the MinhashStore claim under test: probe cost scales with the
      // BATCH, not the indexed corpus. Index 1× and 10× corpora (10
      // vowel-dialect copies — disjoint near-dup structure, like the
      // __scale10 documents table), probe the SAME 500-doc batch.
      import graft.text.MinhashStore
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val dialect = "aeioubcdfghjklmnp"
      val big = (0L until 10L).map { k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
          .withColumn("text", translate(col("text"), "aeiou",
            dialect.substring(k.toInt, k.toInt + 5)))
      }.reduce(_ unionByName _)
      val batch = docs.filter(col("doc_id") % 17 === 0)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
      def drop(t: String): Unit = Seq("sigs", "bands").foreach { s =>
        spark.sql(s"DROP TABLE IF EXISTS ${t}_$s")
        val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir") + s"/${t}_$s"), true)
      }
      def run(tag: String, corpus: org.apache.spark.sql.DataFrame): Unit = {
        drop(s"mh_probe_$tag")
        val st = new MinhashStore(spark, s"mh_probe_$tag")
        val t0 = System.nanoTime(); st.write(corpus)
        val tw = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime(); val n = st.probe(batch).count()
        val tp = (System.nanoTime() - t1) / 1e9
        println(f"[probe] mhstore $tag%-4s index ${corpus.count()}%8d docs " +
          f"write $tw%6.2fs  probe(500) $tp%6.2fs  hits $n%6d")
        drop(s"mh_probe_$tag")
      }
      run("x1", docs)
      run("x10", big)
      spark.stop(); return
    }
    if (names.contains("__promqltier")) {
      // Raw vs rollup serving on DENSE series — the regime the rollup
      // tier exists for: 50 series × 1 sample/10s × 30 days = 13M
      // samples, vs 50 × 720 hourly rollup rows (360× smaller scan,
      // zero Gorilla decode). The month-of-daily-windows dashboard
      // query runs through both tiers. (Results differ only at exact
      // window-closing instants — raw is right-closed, rollup
      // right-open; the probe prints both row counts.)
      import graft.tsdb.ChunkStore
      val t0 = 1704067200000000L
      val nSeries = 50L
      val samples = spark.range(nSeries * 30L * 8640L).select(
        (col("id") % nSeries).as("sid"),
        expr(s"(id div $nSeries) * 10000000 + $t0").as("ts_us"),
        col("id"))
        .select(
          graft.tsdb.Series.seriesId(Seq(
            "event_type" -> concat(lit("m"), (col("sid") % 5).cast("string")),
            "user_id" -> expr("sid div 5").cast("string"))).as("series_id"),
          col("ts_us"), col("id").as("event_id"),
          (col("sid") + (col("ts_us") % 97)).cast("double").as("value"),
          concat(lit("m"), (col("sid") % 5).cast("string")).as("event_type"),
          expr("sid div 5").as("user_id"))
      val dir = java.nio.file.Files.createTempDirectory("graft_tier").toString
      val store = new ChunkStore(spark, dir, chunkMs = 86400000L,
        filesPerChunkPerAppend = 2, rollupOnClose = true)
      store.append(samples)
      store.closeChunksBelow(t0 + 40L * 86400000000L)
      val q = """sum by (event_type) (sum_over_time({}[1d]))"""
      val gridStart = t0 + 7L * 86400000000L
      val gridEnd = t0 + 29L * 86400000000L
      val step = 86400000000L
      def time(f: => Long): (Double, Long) = {
        val t = System.nanoTime(); val n = f
        ((System.nanoTime() - t) / 1e9, n)
      }
      // min-of-2 like the bench (run 1 pays codegen)
      def best(f: => Long): (Double, Long) = { val a = time(f); val b = time(f)
        (math.min(a._1, b._1), b._2) }
      val (rawT, rawN) = best(
        graft.promql.PromQL.evalStoreRange(store, q, gridStart, gridEnd, step).count())
      val (rollT, rollN) = best(
        graft.promql.PromQL.evalStoreRangeRollup(store, q, gridStart, gridEnd, step).count())
      println(f"[probe] promqltier raw    $rawT%6.2fs ($rawN rows)")
      println(f"[probe] promqltier rollup $rollT%6.2fs ($rollN rows)  speedup ${rawT / rollT}%4.1fx")
      spark.stop(); return
    }
    if (names.contains("__ivfstore")) {
      import graft.vector.{IvfStore, VectorOps}
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val dir = java.nio.file.Files.createTempDirectory("probe_ivf").toString
      val store = new IvfStore(spark, dir)
      store.write(e)
      val cells = new java.io.File(s"$dir/cells").listFiles().count(_.getName.startsWith("cell="))
      println(s"[probe] wrote index: $cells cell partitions")
      val q = e.filter(col("vec_id") < 5)
      val got = store.probeTopK(q, 10, 4)
      val n = got.count()
      // non-vacuous: FileSourceScan prints `PartitionFilters: []` even
      // without pruning, so require bracket CONTENT mentioning cell
      val pruned = """PartitionFilters: \[([^\]]+)\]""".r
        .findAllMatchIn(got.queryExecution.executedPlan.toString)
        .exists(_.group(1).contains("cell"))
      val mem = VectorOps.ivfTopK(e, col("vec_id") < 5, 10).collect().toSet
      val same = got.collect().toSet == mem
      println(s"[probe] probe rows=$n pruned=$pruned matches_inmemory=$same")
      val wide = store.probeTopK(q, 10, nProbe = 99) // nProbe > nCells: full scan, still correct
      println(s"[probe] nProbe>nCells rows=${wide.count()}")
      spark.stop(); return
    }
    if (names.contains("__multimodal")) {
      import graft.multimodal.Multimodal
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val m = Multimodal.attachMedia(docs)
      val dec = Multimodal.decodeMeta(m)
      println(s"[probe] decode rows=${dec.count()} kinds=${dec.select("kind").distinct().count()}")
      val rs = Multimodal.resizeMedia(m, 16)
      val maxB = rs.agg(max(col("n_bytes"))).collect()(0).getLong(0)
      println(s"[probe] resize rows=${rs.count()} maxBytes=$maxB")
      val fr = Multimodal.frameSample(m, 4)
      println(s"[probe] frames rows=${fr.count()} (expect ${docs.count() * 4})")
      val feats = Multimodal.features(m, 16)
      val ann = graft.vector.VectorOps.cosineTopK(feats, feats.filter(col("vec_id") < 2), 5)
      println(s"[probe] media->features->ann rows=${ann.count()}")
      spark.stop(); return
    }
    if (names.contains("__chunkstore")) {
      import graft.tsdb._
      val dir = java.nio.file.Files.createTempDirectory("probe_chunks").toString
      val store = new ChunkStore(spark, dir)
      val samples = Series.samples(spark.read.parquet(s"$sfDir/events.parquet"))
      store.append(samples)
      val total = samples.count()
      println(s"[probe] appended $total samples, ${store.live().select("chunk").distinct().count()} live chunks")
      // close everything below Jan 3 — MANY chunks in one pass
      val cutoff = 1704240000000000L
      store.closeChunksBelow(cutoff)
      val closed1 = spark.read.parquet(s"$dir/closed").select("chunk").distinct().count()
      println(s"[probe] closed $closed1 chunks below $cutoff")
      store.closeChunksBelow(cutoff) // idempotent re-run
      val closed2 = spark.read.parquet(s"$dir/closed").select("chunk").distinct().count()
      println(s"[probe] after idempotent re-close: $closed2 chunks")
      val fed = store.queryAll(Seq.empty, 0L, Long.MaxValue / 2).count()
      println(s"[probe] federated count=$fed (expect $total)")
      val bt = new BucketedChunkTable(spark, "probe_bucketed")
      bt.drop(); bt.write(samples, mode = "overwrite")
      val stats = bt.seriesStats()
      val ns = stats.count()
      val noExchange = !stats.queryExecution.executedPlan.toString.contains("Exchange")
      println(s"[probe] bucketed seriesStats rows=$ns noExchange=$noExchange")
      bt.writeClosed(samples, mode = "overwrite")
      val dec = bt.readClosed()
      val aggP = dec.groupBy(col("series_id")).count()
      aggP.count()
      println(s"[probe] gorilla-closed decode rows=${dec.count()} (expect $total) " +
        s"decodedAggNoExchange=${!aggP.queryExecution.executedPlan.toString.contains("Exchange")}")
      bt.drop()
      spark.stop(); return
    }
    if (names.contains("__stages")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .repartition(32, col("doc_id"))
      def t(what: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        println(f"[probe] $what%-28s n=$n%-9d t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      t("docs.count")(docs.count())
      t("tokens explode")(docs.select(col("doc_id"),
        explode(graft.text.TextOps.tokens(col("text"))).as("t")).count())
      val sh = graft.text.Dedup.shingles(docs, 3)
      t("shingles persisted")(sh.count())
      val nSh = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val keep = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 1000L).select(col("sh"))
      val w = sh.join(keep, Seq("sh")).join(broadcast(nSh), Seq("doc_id")).persist()
      t("df-capped persisted")(w.count())
      t("self-join pairs")(w.as("a").join(w.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id"), col("b.doc_id")).count().count())
      val pairs = graft.text.Dedup.ngramJaccardPairs(docs, 3, 0.3)
        .select(col("doc_a"), col("doc_b")).persist()
      t("jaccard pairs persisted")(pairs.count())
      t("clusters end-to-end")(graft.text.Dedup.duplicateClusters(docs).count())
      spark.stop(); return
    }
    if (names.contains("__fed")) {
      // stage-level breakdown of the remote-read federation gate
      import graft.tsdb.{ChunkStore, MatchRe}
      val T0 = 1704067200000000L; val T1 = 1704412800000000L
      val dir = java.nio.file.Files.createTempDirectory("probe_fed").toString
      val store = new ChunkStore(spark, dir, chunkMs = 86400000L,
        filesPerChunkPerAppend = 2)
      def tt(what: String)(f: => Long): Unit = {
        val rs = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); val n = f
          ((System.nanoTime() - t0) / 1e9, n)
        }
        println(f"[probe] fed ${what}%-28s min=${rs.map(_._1).min}%.2fs " +
          f"runs=${rs.map(r => f"${r._1}%.2f").mkString(",")} n=${rs.head._2}")
      }
      // append ONCE (tt runs its block twice, which would double-ingest
      // the corpus and skew every downstream stage timing / row count
      // relative to the real gate — ADVICE r12)
      locally {
        val t0 = System.nanoTime()
        store.append(graft.tsdb.Series.samples(
          spark.read.parquet(s"$sfDir/events.parquet")))
        println(f"[probe] fed ${"append(once)"}%-28s min=${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      val ms = Seq(MatchRe("event_type", "click|view"))
      tt("queryAll.count") { store.queryAll(ms, T0, T1).count() }
      tt("grouped.collect(1 slice)") {
        import org.apache.spark.sql.functions._
        store.queryAll(ms, T0, T1)
          .groupBy(col("series_id"), col("event_type"), col("user_id"))
          .agg(sort_array(collect_list(struct(col("ts_us"), col("value")))).as("pts"))
          .orderBy(col("series_id")).limit(100001).collect().length.toLong
      }
      val ep = new graft.sources.HttpEndpoint(spark, store)
      val port = ep.start()
      try {
        tt("readSamples(4 slices).count") {
          graft.sources.Federation.readSamples(spark,
            s"http://127.0.0.1:$port/api/v1/read", ms, T0, T1, timeSlices = 4).count()
        }
        tt("readSamples+parquet out") {
          val outDir = java.nio.file.Files.createTempDirectory("probe_fed_out").toString
          graft.sources.Federation.readSamples(spark,
            s"http://127.0.0.1:$port/api/v1/read", ms, T0, T1, timeSlices = 4)
            .select("series_id", "event_type", "user_id", "ts_us", "value")
            .write.mode("overwrite").parquet(outDir)
          spark.read.parquet(outDir).count()
        }
      } finally ep.stop()
      spark.stop(); return
    }
    if (names.contains("__noop2")) {
      // bench-protocol single-query drill: noop sink, min of 2, cache
      // cleared once up front (NOT between runs — mirrors Bench, where
      // run 2 rides the session caches run 1 populated)
      spark.catalog.clearCache()
      (names - "__noop2").toSeq.sorted.foreach { nm =>
        val rs = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          try SparkEntry.queries(nm)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          catch { case e: Throwable => println(s"$nm FAILED: $e") }
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[probe] $nm%-30s min=${rs.min}%.2fs runs=" +
          rs.map(t => f"$t%.2f").mkString(","))
      }
      spark.sparkContext.getRDDStorageInfo.foreach { i =>
        println(f"[probe] cached ${i.name.replaceAll("\\s+", " ").take(60)} " +
          f"parts=${i.numCachedPartitions} " +
          f"mem=${i.memSize / 1e6}%.1fMB disk=${i.diskSize / 1e6}%.1fMB")
      }
      spark.stop(); return
    }
    SparkEntry.queries.filter(q => names.isEmpty || names(q._1)).foreach {
      case (name, fn) =>
        val t0 = System.nanoTime()
        val n = try fn(spark, sfDir).count() catch { case e: Throwable => println(e); -1L }
        println(f"[probe] $name%-28s n=$n%-9d t=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
