package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing entry point: a reference (monolith) user points this at
  * a data directory and gets the whole surface — tables as SQL views,
  * the TSDB sample/catalog frames, graft's native SQL functions — on a
  * session tuned for the engine.
  *
  * {{{
  * val g = Graft(spark, "/data/sf1")
  * g.samples.filter(...)                            // DataFrame surface
  * spark.sql("SELECT cosine_sim(a.embedding, b.embedding) ...")  // SQL surface
  * }}}
  */
final class Graft(val spark: SparkSession, dir: String) {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def table(name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Register every table as a temp view + graft SQL functions. */
  def registerAll(): Unit = {
    tableNames.foreach(n => table(n).createOrReplaceTempView(n))
    Graft.registerFunctions(spark)
  }

  def events: DataFrame = table("events")
  def samples: DataFrame = tsdb.Series.samples(events)
  def seriesCatalog: DataFrame = tsdb.Series.catalog(events)
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame =
    table("embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  def chunkStore(path: String, chunkMs: Long = 3600000L): tsdb.ChunkStore =
    new tsdb.ChunkStore(spark, path, chunkMs)

  def bucketedChunkTable(table: String, chunkMs: Long = 3600000L,
                         nBuckets: Int = 8): tsdb.BucketedChunkTable =
    new tsdb.BucketedChunkTable(spark, table, chunkMs, nBuckets)

  def ivfStore(path: String, nCells: Int = 16): vector.IvfStore =
    new vector.IvfStore(spark, path, nCells)

  /** Serve a chunk store over the Prometheus remote read/write wire
    * (the reference's server front door). Returns the started
    * endpoint; `.start()` was already called, stop() to shut down.
    * A write answering 200 is accepted and durable in the endpoint's
    * spool; it becomes visible to reads after the endpoint's drain
    * runs its next micro-batch (`drain.processAllAvailable()` waits for
    * that). One streaming checkpoint and one writer at a time per
    * store path: direct `append` and `backfill` wait until the
    * endpoint has stopped. */
  def serveHttp(store: tsdb.ChunkStore, port: Int = 9090): sources.HttpEndpoint = {
    val e = new sources.HttpEndpoint(spark, store, port)
    e.start()
    e
  }

  /** Deduplicated documents view (the pipeline-completing operator). */
  def dedupedDocuments(threshold: Double = 0.3): DataFrame =
    text.Dedup.dedupedCorpus(documents, threshold = threshold)

  /** The complete corpus-prep pipeline in one call — what a training-
    * data user actually runs end-to-end:
    *   1. quality gate (length + stopword-ratio + repetition bounds),
    *   2. near-dup removal (greedy keep-lowest-id over jaccard pairs),
    *   3. leakage-safe train/val/test split (cluster-keyed hash),
    *   4. PII redaction.
    * Output: (doc_id, split, clean_text) ∪ quality columns. Every
    * stage is the operator verified by its own oracle query; the
    * composition shares the session-cached shingle/pair frames, so
    * the whole pipeline costs one dedup pass. */
  def prepareCorpus(minLen: Long = 20, maxStopRatio: Double = 0.8,
                    maxRepRatio: Double = 0.9,
                    dedupThreshold: Double = 0.3): DataFrame = {
    val q = text.TextOps.quality(documents)
      .filter(col("len") >= minLen && col("stop_ratio") <= maxStopRatio)
      .select("doc_id")
    // anti-join against VIOLATORS, not inner-join against passers: a
    // doc with < n tokens has no shingles, hence no repetition row at
    // all — an inner join would silently drop it even though it
    // breaks none of the documented gates
    val repViolators = text.TextOps.repetition(documents)
      .filter(col("rep_ratio") > maxRepRatio)
      .select("doc_id")
    val kept = text.Dedup.dedupedCorpus(documents, threshold = dedupThreshold)
      .join(q, "doc_id")
      .join(repViolators, Seq("doc_id"), "left_anti")
    val split = text.Dedup.leakageSafeSplit(documents, threshold = dedupThreshold)
      .select("doc_id", "split")
    val clean = text.TextOps.redact(documents).select("doc_id", "clean_text")
    kept.join(split, "doc_id").join(clean, "doc_id")
      .select("doc_id", "split", "clean_text", "lang", "source", "n_chars")
  }

  /** Materialize [[prepareCorpus]] as a training-ready layout:
    * parquet partitioned by `split` (train/val/test read
    * independently via partition pruning), clustered on
    * (split, salt-of-doc_id) before the write — the same discipline
    * as the chunk store: `split` alone is a 3-value hash key that
    * would collapse the job to three writer tasks, while the salt
    * spreads each split over `filesPerSplit` parallel tasks with a
    * bounded file count. Returns the written row count. */
  def writeCorpus(outDir: String, minLen: Long = 20, maxStopRatio: Double = 0.8,
                  maxRepRatio: Double = 0.9, dedupThreshold: Double = 0.3,
                  filesPerSplit: Int = 16): Long = {
    val prepped = prepareCorpus(minLen, maxStopRatio, maxRepRatio, dedupThreshold)
      .persist()
    prepped
      .repartition(spark.sparkContext.defaultParallelism, col("split"),
        pmod(hash(col("doc_id")), lit(filesPerSplit)))
      .write.mode("overwrite").partitionBy("split").parquet(outDir)
    val n = prepped.count()
    prepped.unpersist(blocking = false)
    n
  }

  /** Index this corpus's minhash signatures as the incremental
    * near-dup index ([[text.MinhashStore]]); later batches dedup
    * against it with `store.probe(newDocs)` — no corpus rescan. */
  def writeNearDupIndex(table: String): text.MinhashStore = {
    val store = new text.MinhashStore(spark, table)
    store.write(documents.select(col("doc_id"), col("text")))
    store
  }

  /** Materialize the embedding corpus as a probe-prunable ANN index
    * at rest ([[vector.IvfStore]] layout) in one call. */
  def writeIvfIndex(outDir: String, nCells: Int = 16,
                    trained: Boolean = false): vector.IvfStore = {
    val store = new vector.IvfStore(spark, outDir, nCells)
    val corpus = embeddings
    store.write(corpus,
      if (trained) Some(vector.VectorOps.kmeansCentroids(corpus, nCells)) else None)
    store
  }
}

object Graft {
  def apply(spark: SparkSession, dir: String): Graft = {
    val g = new Graft(spark, dir)
    g.registerAll()
    g
  }

  /** Graft's SQL function surface (also injectable session-wide via
    * [[GraftExtensions]]): cosine_sim (native codegen'd expression),
    * gorilla_encode / gorilla_decode (chunk-close codec). */
  def registerFunctions(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim",
      // explicit Casts: the expression reads 8-byte doubles, but the
      // embeddings column is array<float> — without coercion a SQL
      // call would read garbage (UnsafeArrayData) or throw (Generic).
      // ExpectsInputTypes can't do this (private[sql] in Spark 4), so
      // coerce at the registration boundary, mirroring the Column API.
      exprs => functions.CosineSimilarity(
        org.apache.spark.sql.catalyst.expressions.Cast(exprs(0),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
        org.apache.spark.sql.catalyst.expressions.Cast(exprs(1),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "token_run_count",
      // the native token counter over an ALREADY-LOWERCASED string —
      // SQL callers write token_run_count(lower(text)), same contract
      // as the Column API helper (TextOps.tokenCount applies lower)
      exprs => functions.TokenRunCount(
        org.apache.spark.sql.catalyst.expressions.Cast(exprs(0),
          org.apache.spark.sql.types.StringType)),
      "built-in")
    spark.udf.register("gorilla_encode",
      (pts: Seq[org.apache.spark.sql.Row]) =>
        tsdb.Gorilla.encode(pts.map(r => (r.getLong(0), r.getDouble(1)))))
    spark.udf.register("gorilla_decode",
      (bytes: Array[Byte]) => tsdb.Gorilla.decode(bytes))
  }
}
