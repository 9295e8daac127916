package graft.tsdb

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType, StringType,
  StructField, StructType}

/** Time-chunked sample storage — the reference's chunk lifecycle
  * (src/db.rs:100-110 chunk dirs, :265-303 swap, src/chunk/chunk.rs)
  * mapped to its Spark-native equivalent:
  *
  *  - a chunk = a parquet partition `chunk=<hour-bucket>`; the
  *    reference's range-overlap chunk pruning (db.rs:236
  *    `is_with_range`) becomes Catalyst partition pruning on the
  *    `chunk` directory column — metadata-only, scales to 100 TB;
  *  - "closing" a chunk (reference: compress on swap,
  *    src/chunk/chunk.rs `close`) = rewriting its rows as one Gorilla
  *    payload per series ([[Gorilla.packBy]]); each payload row keeps
  *    its series' labels (`event_type`, `user_id`), as live rows do,
  *    so label matchers filter the closed tier's own rows;
  *  - queries federate live ∪ closed chunks and merge per series —
  *    the reference's read path walks the current chunk then the
  *    secondary chunks and merges by label set (db.rs:205-263). A read
  *    plans only the tiers holding a chunk that overlaps its range.
  *
  * The live tier has one layout, `live/batch=<id>/chunk=<c>`: every
  * write is a batch directory. A streaming micro-batch takes its batch
  * id ([[appendBatch]]); a direct [[append]] takes a negative id below
  * every listed one, so it never collides with a streaming batch and is
  * a source of the next [[compactBatches]]. Writes never rewrite
  * history. One streaming checkpoint and one writer at a time per store
  * path; every handle reads the store's state from disk on each call,
  * so a second handle on the same path never acts on stale state.
  *
  * A read plans without a Spark job: every tier read takes its schema
  * from one parquet footer, read in process (the Spark row schema
  * Spark's own inference prefers, plus the `batch`/`chunk` directory
  * keys as long), instead of a schema-inference job per tier. The
  * footer is read on every call, so the schema follows what is on disk:
  * a recording-rule store keeps its string `user_id`, a third label
  * column rides the live rows. A tier of more than 32 partition
  * directories still pays Spark's parallel-listing job
  * (`spark.sql.sources.parallelPartitionDiscovery.threshold`).
  * `filesPerChunkPerAppend` bounds the files an append or a
  * compaction leaves per chunk.
  */
final class ChunkStore(spark: SparkSession, val path: String, chunkMs: Long = 3600000L,
                       filesPerChunkPerAppend: Int = 8,
                       rollupOnClose: Boolean = false) {
  // rollups are hourly; a chunk that does not contain WHOLE hourly
  // buckets (sub-hour or non-divisor chunkMs) would split one bucket
  // across chunk partitions — queryRollup drops the chunk column, so
  // consumers would see multiple conflicting partial rows per
  // (series, bucket). Refuse at construction, not at first read.
  require(!rollupOnClose || (chunkMs >= 3600000L && chunkMs % 3600000L == 0L),
    s"rollupOnClose requires chunkMs to be a whole multiple of one hour " +
      s"(got $chunkMs ms): hourly rollup buckets must not straddle chunks")
  /** Chunk grain in microseconds — public so cadence decisions made
    * OUTSIDE the store (the streaming sink's retire check) can align
    * with the real chunk boundaries instead of assuming 1h. */
  val chunkUs: Long = chunkMs * 1000
  private val livePath = s"$path/live"
  private val closedPath = s"$path/closed"
  private val retentionPath = s"$path/_retention"
  private val rawRetentionPath = s"$path/_raw_retention"
  private val rollupPath = s"$path/rollup"

  /** Per-(chunk, series) hourly rollup of a raw sample frame — the
    * [[TsOps.downsample]] aggregate shape, keyed by the source chunk
    * so the write partitions align with the store layout, with the
    * series' labels last. The constructor guarantees chunkMs is a
    * whole multiple of one hour, so every bucket lives entirely inside
    * one chunk and each (series, bucket) emits exactly one row. */
  private def rollup1h(rows: DataFrame): DataFrame = {
    val bucketUs = 3600000000L
    rows
      .groupBy(col("chunk"), col("series_id"),
        (expr(s"ts_us div $bucketUs") * 3600000L).as("bucket_ms"),
        col("event_type"), col("user_id"))
      .agg(
        count(lit(1)).as("n_points"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        TsOps.exactSum(col("value"), 2).as("sum_value"),
        // per-bucket first/last sample (the Thanos-downsampling
        // counter aggregates): struct order (ts, event_id, value) is
        // the engine's sample total order, so rate/increase/delta can
        // serve decode-free from rollups — first/last over a union of
        // whole buckets equals the raw window's first/last exactly
        min(struct(col("ts_us"), col("event_id"), col("value"))).as("first_point"),
        max(struct(col("ts_us"), col("event_id"), col("value"))).as("last_point"))
      .withColumn("avg_value", col("sum_value") / col("n_points"))
      .select(col("chunk"), col("series_id"), col("bucket_ms"), col("n_points"),
        col("min_value"), col("max_value"), col("sum_value"), col("first_point"),
        col("last_point"), col("avg_value"), col("event_type"), col("user_id"))
  }

  /** [[rollup1h]] of closed payload rows, decoded. The event_id
    * surrogate never decides first/last: sample timestamps are unique
    * per series. */
  private def rollupOfPayloads(payloads: DataFrame): DataFrame =
    rollup1h(samplesOf(payloads).withColumn("event_id", lit(0L)))

  /** Closed payload rows decoded to one row per sample: every column
    * but `payload` (series_id, labels, chunk) rides along, then ts_us
    * and value. */
  private def samplesOf(payloads: DataFrame): DataFrame = {
    val keys = payloads.columns.toSeq.filterNot(_ == "payload").map(col)
    payloads.select(keys :+ explode(Gorilla.decodeUdf(col("payload"))).as("p"): _*)
      .select(keys ++ Seq(col("p._1").as("ts_us"), col("p._2").as("value")): _*)
  }

  /** Matcher + range query over the AT-REST ROLLUPS (closed chunks
    * only): chunk-range partition pruning, the matchers filtering the
    * rollup rows' own labels inside the parquet scan, and no payload
    * decode at all — the serving path for dashboard/alert ranges where
    * per-sample resolution is not needed. Bucket bounds are inclusive
    * of any bucket overlapping [startUs, endUs]. Output: the rollup
    * columns (series_id, bucket_ms, n_points, min/max/sum_value,
    * first_point, last_point, avg_value) then the labels (event_type,
    * user_id). */
  def queryRollup(ms: Seq[Matcher], startUs: Long, endUs: Long): DataFrame = {
    assertNoPendingClosedSwap()
    // mixed-generation guard: a store whose chunks were closed BEFORE
    // rollupOnClose was enabled has closed payloads with no rollup
    // partition — serving the range would silently omit that history
    // (the same silent-partial-answer class the MinhashStore parameter
    // stamp exists to prevent). Both id sets are directory listings,
    // never a Spark job, so the check is O(chunks) metadata. It runs
    // first: a store whose every closed chunk predates its rollups has
    // no rollup tier at all, and backfillRollups() is its fix.
    val rolled = chunkIds(rollupPath)
    val missing = chunkIds(closedPath)
      .filter(c => c >= startUs / chunkUs && c <= endUs / chunkUs)
      .diff(rolled)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"ChunkStore at $path: closed chunks ${missing.toSeq.sorted.mkString(",")} " +
          "in the query range have no rollups (closed before rollupOnClose was " +
          "enabled) — run backfillRollups() once, or query raw via queryAll")
    require(exists(rollupPath),
      s"ChunkStore at $path has no rollups — they are written on chunk close " +
        "when the store is built with rollupOnClose=true; for raw-resolution " +
        "data use queryAll")
    if (rolled.isEmpty) // every closed chunk deleted: no rows
      return rollup1h(emptyOf("chunk" -> LongType, "series_id" -> StringType,
          "ts_us" -> LongType, "value" -> DoubleType, "event_id" -> LongType,
          "event_type" -> StringType, "user_id" -> LongType)).drop("chunk")
    inRange(readTier(rollupPath), startUs, endUs)
      .filter(Matcher.all(ms))
      .filter(col("bucket_ms") * 1000 >= (startUs / 3600000000L) * 3600000000L &&
        col("bucket_ms") * 1000 <= endUs)
      .drop("chunk")
  }

  /** Rows of a chunk-partitioned tier in chunks overlapping
    * [startUs, endUs] — a partition-column filter, so Catalyst prunes
    * the other chunk directories. */
  private def inRange(df: DataFrame, startUs: Long, endUs: Long): DataFrame =
    df.filter(col("chunk") >= startUs / chunkUs && col("chunk") <= endUs / chunkUs)

  /** In-range closed payload rows whose labels satisfy `ms`: (series_id,
    * event_type, user_id, payload, chunk). The matchers push into the
    * parquet scan. */
  private def matchedPayloads(ms: Seq[Matcher], startUs: Long, endUs: Long): DataFrame =
    inRange(readTier(closedPath), startUs, endUs).filter(Matcher.all(ms))

  /** All store METADATA probes (batch and closed-id listings, raw-dir
    * cleanup) go through the Hadoop FileSystem of `path`, never
    * java.io.File — a java.io probe silently answers "nothing there"
    * for s3a:///hdfs:// paths, which would disable the guards exactly
    * where the 100 TB framing needs them. */
  private def hfs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(p: String): Boolean =
    hfs.exists(new org.apache.hadoop.fs.Path(p))

  private def listNames(dir: String): Seq[String] = {
    val fs = hfs
    val hp = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(hp)) Seq.empty
    else fs.listStatus(hp).map(_.getPath.getName).toSeq
  }

  /** Chunk-grain upper bound of stored data — the exclusive end of
    * the newest chunk (live or closed), from directory listings only
    * (never a Spark job). The alerting read side uses it as the
    * default "now" so rule evaluation is DATA-driven, not wall-clock
    * driven (the closeChunksBelow design decision, applied to
    * serving). */
  def dataHorizonUs: Option[Long] = {
    val ids = chunkIds(closedPath) ++ liveChunkIdsListed()
    if (ids.isEmpty) None else Some((ids.max + 1) * chunkUs)
  }

  /** Chunk-partition count across live ∪ closed ∪ rollup-only — a
    * directory listing (the tsdb-status surface). */
  def chunkCount: Long =
    (chunkIds(closedPath) ++ liveChunkIdsListed() ++ chunkIds(rollupPath)).size.toLong

  /** Chunk-grain data bounds in MILLISECONDS (the Prometheus
    * tsdb-status shape): start of the oldest chunk, exclusive end of
    * the newest; (0, 0) when empty. Rollup-only chunks (tiered
    * retention) count — their history still serves. */
  def dataBoundsMs: (Long, Long) = {
    val ids = chunkIds(closedPath) ++ liveChunkIdsListed() ++ chunkIds(rollupPath)
    if (ids.isEmpty) (0L, 0L)
    else (ids.min * chunkUs / 1000, (ids.max + 1) * chunkUs / 1000)
  }

  /** Timestamp of the newest SAMPLE (live or closed) — one bounded
    * Spark job over the newest chunk only. The serving default
    * [[dataHorizonUs]] is chunk-grain: on coarse chunks (e.g. daily)
    * the newest sample can sit hours below the chunk ceiling, so an
    * instant-vector default of horizon + 5m lookback federates an
    * empty page. Endpoints that need "the data's now" use this
    * instead; cost is one chunk's scan (decode only if that chunk is
    * closed), acceptable at request rate. */
  def newestSampleTsUs: Option[Long] = {
    val closedIds = chunkIds(closedPath)
    val liveIds = liveChunkIdsListed()
    val ids = closedIds ++ liveIds
    if (ids.isEmpty) None
    else {
      val c = ids.max
      val rows =
        if (liveIds.contains(c) && !closedIds.contains(c))
          live().filter(col("chunk") === c)
        else readClosed(c)
      val m = rows.agg(max(col("ts_us"))).collect()(0)
      if (m.isNullAt(0)) dataHorizonUs else Some(m.getLong(0))
    }
  }

  /** The `batch=<id>` directory names under `live/`. */
  private def batchDirs(): Seq[String] = listNames(livePath).filter(_.startsWith("batch="))

  /** Live chunk ids from the partition DIRECTORY NAMES — a metadata
    * listing, never a Spark job. */
  private def liveChunkIdsListed(): Set[Long] =
    batchDirs().flatMap(b => chunkIds(s"$livePath/$b")).toSet

  /** Delete the RAW live directories of the given chunks from every
    * batch directory — the final step of compaction. */
  private def deleteLiveChunkDirs(chunks: Set[Long]): Unit = {
    if (chunks.isEmpty) return
    val fs = hfs
    for (b <- batchDirs(); c <- chunks)
      fs.delete(new org.apache.hadoop.fs.Path(s"$livePath/$b/chunk=$c"), true)
  }

  /** Append samples (from [[Series.samples]]), routed to their chunk.
    * Points with a non-positive timestamp are dropped — the
    * reference's ingest guard (db.rs:183-186 rejects ts=0 and
    * out-of-chunk points). Points addressed to an already-CLOSED
    * chunk are dropped too: rows landing in `live` after their chunk
    * was Gorilla-packed would be invisible to queryAll (which reads
    * the closed payload for those chunk ids) — the reference rejects
    * out-of-chunk appends at ingest for the same reason; streaming
    * callers bound this case with a close lag ≥ their watermark.
    * The rows land in a new batch directory whose id is one below the
    * smallest listed id and never above -1: streaming batch ids are
    * never negative, so the two cannot collide. */
  def append(samples: DataFrame): Unit =
    appendBatch(samples, (0L +: batchDirs().map(_.stripPrefix("batch=").toLong)).min - 1)

  /** Shared ingest guard + chunk routing (see [[append]] scaladoc).
    * Chunks below the retention horizon are dropped at ingest too: a
    * late append of already-retired history would otherwise resurface
    * in live and linger forever (the retired chunk is no longer in the
    * closed-id set, so only the horizon can exclude it). */
  private def guardedRouted(samples: DataFrame): DataFrame = {
    val closed = chunkIds(closedPath)
    val aboveHorizon = routedAboveHorizon(samples)
    if (closed.isEmpty) aboveHorizon
    else aboveHorizon.filter(!col("chunk").isInCollection(closed))
  }

  /** Chunk routing + the ingest-time horizon guards, WITHOUT the
    * closed-chunk drop — the shared first half of [[guardedRouted]]
    * (normal ingest, which must not write under a packed chunk) and
    * [[backfill]] (which merges into packed chunks deliberately).
    * Both horizons exclude here: fully-retired history AND raw-retired
    * history (a late raw row below the raw horizon would re-close its
    * chunk and clobber the historical rollup with a rollup of just
    * itself). */
  private def routedAboveHorizon(samples: DataFrame): DataFrame = {
    val routed = samples
      .filter(col("ts_us") > 0)
      .withColumn("chunk", expr(s"ts_us div $chunkUs"))
    val horizon = (retainedFrom().toSeq ++ rawRetainedFrom().toSeq)
      .reduceOption((a: Long, b: Long) => math.max(a, b))
    horizon match {
      case Some(limit) => routed.filter(col("chunk") >= limit)
      case None => routed
    }
  }

  /** First retained chunk id (exclusive retention horizon), persisted
    * as one-line store metadata so the guard survives restarts. */
  private def retainedFrom(): Option[Long] = readHorizon(retentionPath)

  /** First chunk id that still has RAW payloads (exclusive raw-tier
    * retention horizon — [[retireRaw]]); same one-line persistence. */
  private def rawRetainedFrom(): Option[Long] = readHorizon(rawRetentionPath)

  private def readHorizon(p: String): Option[Long] =
    if (!exists(p)) None
    else {
      val in = hfs.open(new org.apache.hadoop.fs.Path(p))
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }

  private def writeHorizon(p: String, limit: Long): Unit = {
    val out = hfs.create(new org.apache.hadoop.fs.Path(p), true)
    try out.write(limit.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The store's staged swaps ([[graft.StagedSwap]]), one per verb
    * family, each with its own marker and staging directory: live-tier
    * batch compaction; delete and backfill; restore. The drain's
    * compaction runs while an endpoint serves deletes and snapshots, so
    * the families never share staging. */
  private def swap(name: String) =
    new graft.StagedSwap(spark.sparkContext.hadoopConfiguration, path, name)
  private def batchCompactSwap = swap("batch_compact")
  /** Finish a [[compactBatches]] swap a crash interrupted. */
  private[graft] def healBatchCompaction(): Unit = batchCompactSwap.complete()
  private def deleteSwap = swap("delete")
  private def restoreSwap = swap("restore")

  /** Complete any interrupted closed-tier plan, delete then restore.
    * Every closed-tier writer runs this before it lists anything: a
    * verb that worked around another's pending swap would rewrite a
    * half-swapped tier, and the later heal would rename that swap's
    * staged copies over the result. */
  private def healClosedTier(): Unit = {
    assertLabeledClosedTier(path)
    deleteSwap.complete(); restoreSwap.complete()
  }

  /** A closed tier written by an earlier version keeps its labels in a
    * `closed_catalog/` beside payload rows that have none. Every
    * closed-tier read and write refuses such a store (a server fault,
    * like a file without Spark's row schema) rather than serve null
    * labels or mix the two formats. */
  private def assertLabeledClosedTier(root: String): Unit =
    if (exists(s"$root/closed_catalog"))
      throw new java.io.IOException(
        s"ChunkStore at $root: $root/closed_catalog holds the labels of chunks closed by an " +
          "earlier version of this store, whose payload rows carry none; this version " +
          "reads labels from the closed rows and cannot serve or change that tier")

  /** Closed-tier reads refuse on an earlier version's closed tier and
    * while an interrupted delete/restore swap is pending — partitions
    * may be mid-move; any closed-tier writer heals ([[healClosedTier]]). */
  private def assertNoPendingClosedSwap(): Unit = {
    assertLabeledClosedTier(path)
    require(!deleteSwap.pending,
      s"ChunkStore at $path: a series deletion was interrupted mid-swap — " +
        "re-run deleteSeries (any arguments) or touch the store with the same " +
        "verb to heal before reading the closed tier")
    require(!restoreSwap.pending,
      s"ChunkStore at $path: a snapshot restore was interrupted mid-swap — " +
        "re-run restoreSnapshot to heal before reading the closed tier")
  }

  /** Raw ranges below this refuse with a pointer to the rollup tier. */
  private def assertRawServable(startUs: Long): Unit =
    rawRetainedFrom().foreach { limit =>
      if (startUs / chunkUs < limit)
        throw new IllegalStateException(
          s"ChunkStore at $path: raw payloads before chunk $limit " +
            s"(ts < ${limit * chunkUs}us) were retired to the rollup tier (retireRaw) — " +
            "serve that range with queryRollup, or start the raw query at or after the horizon")
    }

  /** Retention enforcement — drop ALL data in chunks that end strictly
    * below `beforeUs` (Prometheus-style retention.time; a store that
    * only grows is not deployable at 100 TB/day). Deletion is
    * per-chunk PARTITION-DIRECTORY removal — a metadata operation,
    * never a data rewrite: the chunk is the retention grain by design,
    * the same property that makes pruning free. Closed chunks drop
    * payload + rollup partitions; raw live dirs below the horizon
    * drop too. The horizon persists (`_retention`, monotone max) so
    * the ingest guard keeps retired history out across restarts. A
    * pending closed-tier plan completes first ([[healClosedTier]]).
    * Returns the retired chunk ids. */
  def retire(beforeUs: Long): Set[Long] = {
    healClosedTier()
    val limit = beforeUs / chunkUs // chunks < limit end at or below beforeUs
    val newLimit = retainedFrom().fold(limit)(math.max(_, limit))
    val fs = hfs
    writeHorizon(retentionPath, newLimit)
    // raw-retired chunks are absent from the closed-id set but still
    // hold rollup partitions — full retirement must drop those too, so
    // the id set unions the rollup-tier listing
    val closedBelow = (chunkIds(closedPath) ++ chunkIds(rollupPath)).filter(_ < newLimit)
    closedBelow.foreach { c =>
      Seq(s"$closedPath/chunk=$c", s"$rollupPath/chunk=$c").foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        if (fs.exists(hp)) fs.delete(hp, true)
      }
    }
    val liveBelow = liveChunkIdsListed().filter(_ < newLimit)
    deleteLiveChunkDirs(liveBelow)
    // roots left without any chunk partition are removed entirely: an
    // empty parquet root has no footer to plan the next read from, and
    // a fully-retired store must read like a fresh one
    batchDirs().foreach { b =>
      if (!listNames(s"$livePath/$b").exists(_.startsWith("chunk=")))
        fs.delete(new org.apache.hadoop.fs.Path(s"$livePath/$b"), true)
    }
    Seq(closedPath -> "chunk=", rollupPath -> "chunk=", livePath -> "batch=").foreach {
      case (dir, child) =>
        if (exists(dir) && !listNames(dir).exists(_.startsWith(child)))
          fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
    closedBelow ++ liveBelow
  }

  /** TIERED retention (the Thanos/Prometheus long-retention model —
    * raw for days, downsampled for years): drop the RAW Gorilla
    * payloads of closed chunks ending strictly below `beforeUs` while
    * KEEPING their hourly rollups (labels included), so [[queryRollup]] and
    * the metadata APIs keep serving the whole history at 1/360th the
    * bytes. Raw reads ([[queryAll]]/[[queryClosed]]) that dip below
    * the horizon refuse LOUDLY with a pointer to the rollup tier —
    * the payload dirs are gone, and silently-empty would read as
    * no-data. Appends below the horizon drop at ingest (a late raw
    * row would re-close the chunk and clobber the historical rollup
    * with a rollup of just itself). Refuses when the range covers
    * live chunks (close first) or chunks without rollups (backfill
    * first) — dropping raw without a rollup would be data LOSS, not
    * tiering. Horizon persists (`_raw_retention`, monotone max). A
    * pending closed-tier plan completes first ([[healClosedTier]]).
    * Returns the raw-retired chunk ids. */
  def retireRaw(beforeUs: Long): Set[Long] = {
    healClosedTier()
    require(rollupOnClose || exists(rollupPath),
      "retireRaw needs the rollup tier — build the store with rollupOnClose=true " +
        "(or backfillRollups) so the history stays servable")
    val limit = beforeUs / chunkUs
    val newLimit = rawRetainedFrom().fold(limit)(math.max(_, limit))
    val closedIds = chunkIds(closedPath)
    val liveBelow = liveChunkIdsListed().diff(closedIds).filter(_ < newLimit)
    if (liveBelow.nonEmpty)
      throw new IllegalStateException(
        s"retireRaw range covers live (not yet closed) chunks " +
          s"${liveBelow.toSeq.sorted.mkString(",")} — close them first (closeChunksBelow)")
    val closedBelow = closedIds.filter(_ < newLimit)
    val noRollup = closedBelow.diff(chunkIds(rollupPath))
    if (noRollup.nonEmpty)
      throw new IllegalStateException(
        s"retireRaw would DROP chunks ${noRollup.toSeq.sorted.mkString(",")} outright — " +
          "they have no rollups (closed before rollupOnClose); run backfillRollups() first")
    val fs = hfs
    writeHorizon(rawRetentionPath, newLimit)
    closedBelow.foreach { c =>
      val hp = new org.apache.hadoop.fs.Path(s"$closedPath/chunk=$c")
      if (fs.exists(hp)) fs.delete(hp, true)
    }
    if (exists(closedPath) && !listNames(closedPath).exists(_.startsWith("chunk=")))
      fs.delete(new org.apache.hadoop.fs.Path(closedPath), true)
    closedBelow
  }

  /** Idempotent per-micro-batch append for streaming sinks: batch
    * `batchId`'s rows land under `live/batch=<id>/chunk=…` with
    * OVERWRITE scoped to the batch directory. foreachBatch is
    * at-least-once — after a crash between sink commit and offset
    * commit, Structured Streaming REPLAYS the batch (same batchId,
    * same rows for a deterministic source); the overwrite rewrites the
    * identical directory instead of double-appending, which is what
    * makes the checkpoint the WAL: replay converges to exactly-once.
    * One streaming query (one checkpoint) per store path — a fresh
    * checkpoint restarts batch ids at 0 and would overwrite history.
    * Negative ids belong to direct appends and compaction output.
    * The write is the one Spark job, with no shuffle: at most
    * `filesPerChunkPerAppend` tasks, each writing one file per chunk
    * (so a bulk append over many chunks runs in those few tasks). If
    * it left no `chunk=` directory (an empty or fully guarded batch),
    * the batch directory is removed. A crash before that removal leaves
    * a file-less batch directory, which reads skip and the next
    * [[compactBatches]] removes. */
  def appendBatch(samples: DataFrame, batchId: Long): Unit = {
    val dir = s"$livePath/batch=$batchId"
    guardedRouted(samples)
      .coalesce(math.min(spark.sparkContext.defaultParallelism, filesPerChunkPerAppend))
      .write.mode("overwrite").partitionBy("chunk")
      .parquet(dir)
    if (!listNames(dir).exists(_.startsWith("chunk=")))
      hfs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  /** Cluster [[compactBatches]]' long-lived output on (chunk,
    * salt-of-series): `chunk` alone would collapse a day into ONE task;
    * the salt spreads each chunk over up to `filesPerChunkPerAppend`
    * tasks and keeps a series in one file per chunk. Explicit
    * numPartitions stops AQE coalescing it back into one write task. */
  private def clustered(df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism, col("chunk"),
      pmod(hash(col("series_id")), lit(filesPerChunkPerAppend)))

  /** Every tier read: a parquet read of `base` (or of its partition
    * directories `dirs`, with `base` as the partition root) under the
    * schema [[tierSchema]] builds, so planning submits no Spark job. */
  private def readTier(base: String, dirs: Seq[String] = Nil): DataFrame = {
    val reader = spark.read.schema(tierSchema(base, if (dirs.isEmpty) Seq(base) else dirs))
    if (dirs.isEmpty) reader.parquet(base)
    else reader.option("basePath", base).parquet(dirs: _*)
  }

  /** The schema Spark would infer for a tier read with `mergeSchema`
    * off, built in process: the data columns from the Spark row
    * schema in the footer of one data file under `roots`, then the
    * partition keys on the way down from `base` to that file (`batch`,
    * `chunk`) as long. The walk is in name order and skips what is not
    * yet, or no longer, data: hidden names (`_temporary`, `_SUCCESS`,
    * `.crc`), directories without a data file (an in-flight micro-batch)
    * and anything a concurrent swap removes mid-walk. Read on every
    * call, like every other store state. */
  private def tierSchema(base: String, roots: Seq[String]): StructType = {
    import org.apache.hadoop.fs.Path
    val fs = hfs
    def keyOf(name: String) = if (name.contains("=")) Seq(name.takeWhile(_ != '=')) else Nil
    // (data file, partition keys above it), lazily, depth first
    def files(dir: Path, keys: Seq[String]): Iterator[(Path, Seq[String])] = {
      val entries =
        try fs.listStatus(dir).filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }.sortBy(_.getPath.getName)
        catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
      val (leaves, subdirs) = entries.partition(_.isFile)
      leaves.iterator.map(f => (f.getPath, keys)) ++
        subdirs.iterator.flatMap(d => files(d.getPath, keys ++ keyOf(d.getPath.getName)))
    }
    roots.iterator
      .flatMap(r => files(new Path(r), r.stripPrefix(base).split('/').toSeq.flatMap(keyOf)))
      .flatMap { case (f, keys) =>
        try Some(StructType(rowSchema(f) ++ keys.map(StructField(_, LongType))))
        catch { case _: java.io.FileNotFoundException => None } // removed since the listing
      }
      .nextOption()
      .getOrElse(throw new java.io.FileNotFoundException(
        s"ChunkStore at $path: no data file under ${roots.mkString(", ")} — a concurrent " +
          "swap removed it; retry the read"))
  }

  /** The Spark row schema a parquet file's footer carries (the key
    * Spark writes and its own inference prefers). A file without it
    * was not written by this store: that is a fault of the store, not
    * of the request. */
  private def rowSchema(file: org.apache.hadoop.fs.Path): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf)
        .withMetadataFilter(
          org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .build())
    val json =
      try reader.getFileMetaData.getKeyValueMetaData.get(ChunkStore.RowSchemaKey)
      finally reader.close()
    if (json == null)
      throw new java.io.IOException(
        s"ChunkStore at $path: $file has no Spark row schema (footer key " +
          s"${ChunkStore.RowSchemaKey}) — not a file this store wrote")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Live rows from `live/batch=<id>/chunk=<c>`; the batch id is
    * write bookkeeping, dropped here (chunk stays a partition column,
    * so pruning holds). A read racing [[compactBatches]] plans around
    * its swap: while the swap's marker is up it waits (the commit is a
    * few renames), and a plan made while batch directories vanished
    * under it, or that met a removed file, is made again. A marker
    * that outlasts [[ChunkStore.SwapSettleMs]] is a swap a crash
    * interrupted, and the read refuses. */
  def live(): DataFrame = settledLive(System.currentTimeMillis() + ChunkStore.SwapSettleMs)

  @annotation.tailrec
  private def settledLive(deadline: Long): DataFrame = {
    val swap = batchCompactSwap
    val listed = batchDirs()
    val planned =
      if (swap.pending) None
      else try Some(readTier(livePath).drop("batch")) catch {
        case _: java.io.FileNotFoundException if System.currentTimeMillis() < deadline => None
      }
    planned match {
      case Some(rows) if !swap.pending && listed.forall(batchDirs().toSet) => rows
      case _ =>
        require(System.currentTimeMillis() < deadline,
          s"ChunkStore at $path: a batch compaction was interrupted mid-swap — " +
            "batch directories may be missing rows; run compactBatches() again to heal")
        Thread.sleep(10)
        settledLive(deadline)
    }
  }

  /** Compact the live tier: merge every `batch=<id>` directory with id
    * strictly below `upToBatchId` — including direct appends and the
    * output of earlier compactions, which carry NEGATIVE ids — into
    * one consolidated `batch=-<upToBatchId>` directory, `clustered`.
    *
    * Why this is replay-safe where a blanket merge is not: foreachBatch
    * is at-least-once, but Structured Streaming runs batch N only after
    * batch N-1's offsets committed — the ONLY batch that can ever
    * replay is the current one. Merging strictly-below-current batch
    * directories therefore never collides with a replayed overwrite,
    * and the negative target id can never be issued to a real batch.
    * A replayed batch that re-triggers the same horizon finds a single
    * mergeable directory and no-ops.
    *
    * The consolidated copy stages whole, then one [[graft.StagedSwap]]
    * plan removes the sources and renames it into place; reads refuse
    * while the plan is pending, and the next call completes it and
    * returns. */
  def compactBatches(upToBatchId: Long): Unit = {
    val swap = batchCompactSwap
    if (swap.complete()) return
    val sources = batchDirs().filter(_.stripPrefix("batch=").toLong < upToBatchId).sorted
    if (sources.size <= 1) return // nothing to merge (or already compacted)
    val target = s"batch=-$upToBatchId"
    val staged = s"${swap.begin()}/$target"
    val rows = readTier(livePath, sources.map(s => s"$livePath/$s")).drop("batch")
    clustered(rows).write.mode("overwrite").partitionBy("chunk").parquet(staged)
    // a replayed horizon can list its own earlier output as a source;
    // the swap replaces it
    swap.commit(sources.filterNot(_ == target).map(b => graft.StagedSwap.Remove(s"live/$b")) :+
      graft.StagedSwap.Swap(target, s"live/$target"))
  }

  /** Store-wide series catalog (series_id, event_type, user_id): the
    * label columns of live ∪ closed ∪ rollup rows — the reference
    * indexer's id→labels mapping across every tier. The rollup tier
    * counts for the chunks whose payloads [[retireRaw]] dropped, so
    * their series still list. For the metadata APIs only (label names
    * and values, series listings, tsdb status): data reads carry their
    * labels already. Built on each call, so it shows what is on disk
    * whichever handle wrote it. */
  def catalog(): DataFrame = labelSets(identity)

  /** The catalog restricted to series with data in chunks overlapping
    * [startUs, endUs] — the Prometheus series/labels metadata APIs'
    * time bound. Every tier is chunk-partitioned, so the bound is
    * partition pruning on each side; chunk grain is the resolution
    * (a series is "active" if its CHUNK overlaps, as in Prometheus's
    * block-grain series listing). */
  def catalogInRange(startUs: Long, endUs: Long): DataFrame =
    labelSets(inRange(_, startUs, endUs))

  private def labelSets(scope: DataFrame => DataFrame): DataFrame = {
    assertLabeledClosedTier(path)
    val closedIds = chunkIds(closedPath)
    val rawRetired = chunkIds(rollupPath).diff(closedIds)
    // a fully compacted store has no raw files left to read
    val tiers = (if (liveChunkIdsListed().isEmpty) Nil else Seq(live())) ++
      (if (closedIds.isEmpty) Nil else Seq(readTier(closedPath))) ++
      (if (rawRetired.isEmpty) Nil
       else Seq(readTier(rollupPath).filter(col("chunk").isInCollection(rawRetired))))
    tiers.map(t => scope(t).select("series_id", "event_type", "user_id"))
      .reduceOption(_ unionByName _)
      .fold(emptyOf("series_id" -> StringType, "event_type" -> StringType,
        "user_id" -> LongType))(_.distinct())
  }

  /** An empty answer with the given schema. A store without rows has
    * no user_id type on disk; the read verbs' empty answers use long,
    * the corpus type. */
  private def emptyOf(fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** Output columns of the sample read verbs. */
  private val SampleCols = Seq("series_id", "ts_us", "value", "event_type", "user_id")

  /** Chunk ids under a chunk-partitioned directory, from the partition
    * DIRECTORY NAMES (a single metadata listing — never a parquet
    * scan), listed on each call so a chunk another handle wrote is seen
    * at once. The closed-tier reads test these ids, not the tier root:
    * a delete that empties every chunk leaves the root without a
    * partition (no footer to read a schema from), and removing the root
    * instead would race a close writing into it from the drain. */
  private def chunkIds(dir: String): Set[Long] =
    listNames(dir).filter(_.startsWith("chunk="))
      .map(_.stripPrefix("chunk=").toLong).toSet

  /** Matcher + range query over live chunks only. Output:
    * (series_id, ts_us, value, event_type, user_id), the labels read
    * from the live rows themselves. The chunk bounds filter is on the
    * partition column → partition pruning (the reference's
    * `is_with_range` scan skip); the ts filter pushes into parquet. A
    * store with no live chunk answers an empty frame. */
  def query(ms: Seq[Matcher], startUs: Long, endUs: Long): DataFrame =
    if (liveChunkIdsListed().isEmpty) emptySamples
    else liveMatched(ms, startUs, endUs, Set.empty).select(SampleCols.map(col): _*)

  private def emptySamples: DataFrame =
    emptyOf("series_id" -> StringType, "ts_us" -> LongType, "value" -> DoubleType,
      "event_type" -> StringType, "user_id" -> LongType)

  /** Live rows in range whose labels satisfy `ms`, outside the chunks
    * in `closedIds` (a closed chunk serves from its payloads; raw dirs
    * of it that outlived a crash are superseded). All live columns. */
  private def liveMatched(ms: Seq[Matcher], startUs: Long, endUs: Long,
                          closedIds: Set[Long]): DataFrame = {
    val rows = inRange(live(), startUs, endUs)
    val open = if (closedIds.isEmpty) rows else rows.filter(!col("chunk").isInCollection(closedIds))
    TsOps.rangeBound(open.filter(Matcher.all(ms)), startUs, endUs)
  }

  /** Close one chunk: Gorilla-pack its series into the closed store,
    * each payload row keeping its series' labels, so closed chunks
    * remain label-queryable without the raw rows. */
  def closeChunk(chunk: Long): Unit = closeChunks(Seq(chunk))

  /** Close a SET of chunks in one partitioned pack job (two on a
    * rollup store), not a per-chunk driver loop — a background swap
    * that has fallen behind (or a bench building history) closes a day
    * in one pass. `partitionOverwriteMode=dynamic` scopes the overwrite
    * to exactly the chunk partitions being (re)closed: idempotent
    * re-close, never wiping previously closed chunks (a static-mode
    * root overwrite+partitionBy would). */
  def closeChunks(chunks: Seq[Long]): Unit = {
    if (chunks.isEmpty) return
    assertLabeledClosedTier(path)
    val rows = live().filter(col("chunk").isInCollection(chunks))
    // rollups at rest (Prometheus recording rules / Thanos
    // downsampling): each closing chunk also writes its per-series
    // hourly min/max/count/exact-sum — dashboards and alert ranges
    // then serve from ~1 row per series-hour WITHOUT a Gorilla decode.
    // OPT-IN (rollupOnClose), like recording rules themselves: the
    // extra write job per close is the trade for decode-free range
    // serving. Written before the payload: the closed-id set (and
    // queryAll's live-branch exclusion) keys on the PAYLOAD
    // directories, so a crash between the two writes leaves a rollup
    // without its payload — unreachable garbage that the self-healing
    // re-close rewrites — while the raw rows still serve from live.
    if (rollupOnClose)
      rollup1h(rows)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("chunk").parquet(rollupPath)
    Gorilla.packBy(rows, "series_id", "event_type", "user_id", "chunk")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("chunk").parquet(closedPath)
    // compaction COMPLETES by dropping the raw rows: without this the
    // store keeps raw + compressed copies of all history forever. A
    // crash before the delete only wastes space (closed ids exclude
    // the raw rows from every query); closeChunksBelow heals it.
    deleteLiveChunkDirs(chunks.toSet)
  }

  /** Close every live chunk that ends strictly below `tsUs` and is not
    * yet closed — the reference's background chunk swap (db.rs:265-303)
    * driven by data progress. Chunk ids are bounded (one per elapsed
    * hour), so the driver-side id list is fine at any data scale. */
  def closeChunksBelow(tsUs: Long): Unit = {
    val limit = tsUs / chunkUs // chunks < limit are entirely below tsUs
    val already = chunkIds(closedPath)
    val liveIds = liveChunkIdsListed()
    // heal: raw dirs of chunks that finished closing but crashed
    // before their cleanup (their rows are query-invisible already)
    deleteLiveChunkDirs(liveIds.intersect(already))
    closeChunks(liveIds.filter(_ < limit).diff(already).toSeq.sorted)
  }

  /** Write the missing rollup partitions for chunks that were closed
    * before rollupOnClose was enabled: decode only those payloads (each
    * row keeps its chunk and labels) and dynamic-overwrite per chunk
    * partition — idempotent like closeChunks, so a crash mid-backfill
    * just re-runs. */
  def backfillRollups(): Unit = {
    assertLabeledClosedTier(path)
    val missing = chunkIds(closedPath).diff(chunkIds(rollupPath))
    if (missing.isEmpty) return
    rollupOfPayloads(readTier(closedPath).filter(col("chunk").isInCollection(missing)))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("chunk").parquet(rollupPath)
  }

  /** Read a closed chunk back as samples (decode + explode). */
  def readClosed(chunk: Long): DataFrame =
    Gorilla.unpack(readTier(closedPath).filter(col("chunk") === chunk))

  // ─────────────────── snapshots (admin backup verb) ───────────────────

  private def snapshotsRoot = s"$path/snapshots"
  private val SnapTiers = Seq("closed", "rollup")
  private val RetentionFiles = Seq("_retention", "_raw_retention")

  /** Parallel tree copy for the snapshot/restore verbs. The closed
    * tier at production scale is the BULK of the store, and a
    * sequential driver loop of FileUtil.copy is days of
    * single-threaded byte shoveling at 100 TB — Prometheus snapshots
    * hardlink blocks precisely to avoid the copy entirely. So:
    * every file under every (src, dst) pair becomes one task on a
    * bounded pool (copy wall time scales with cores / FS parallelism,
    * not chunk count), and on a local filesystem each task HARDLINKS
    * instead of copying (the closed tier is immutable parquet and all
    * mutation verbs swap whole files, so shared inodes are safe — the
    * Prometheus block-snapshot trick; falls back to a byte copy if the
    * link fails, e.g. cross-device). Directories materialize even when
    * empty so the staged-swap renames stay checked. Failures propagate
    * — a half-copied staging dir is invisible by construction (dot-temp
    * / staging, renamed only after success). */
  private def copyTreesParallel(fs: org.apache.hadoop.fs.FileSystem,
                                pairs: Seq[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)],
                                conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.hadoop.fs.Path
    val local = fs.getScheme == "file"
    val tasks = Seq.newBuilder[(Path, Path)]
    val dirs = scala.collection.mutable.LinkedHashSet.empty[Path]
    pairs.foreach { case (src0, dst) =>
      if (local) {
        // java.nio end to end on the local scheme: Hadoop's local
        // FileStatus loads permissions through heavyweight calls, and
        // one per file turned the enumeration itself into the
        // bottleneck (measured: the walk, not the copy, owned the wall)
        val sp = java.nio.file.Paths.get(src0.toUri.getPath match {
          case "" => src0.toString; case p => p })
        if (java.nio.file.Files.isRegularFile(sp)) {
          dirs += dst.getParent; tasks += ((src0, dst))
        } else if (java.nio.file.Files.isDirectory(sp)) {
          dirs += dst // materialize even when empty: staged-swap renames stay checked
          val walk = java.nio.file.Files.walk(sp)
          try walk.forEach { p =>
            if (java.nio.file.Files.isRegularFile(p)) {
              val rel = sp.relativize(p).toString
              // Hadoop's checksum shadow files (".name.crc") regenerate
              // on write and never existed for hardlinked data; skip
              // exactly that pattern — a blanket dot-file skip would
              // silently drop any legitimate dot-file from snapshots
              // while the remote-FS branch copies it (ADVICE r11)
              val fn = p.getFileName.toString
              if (!(fn.startsWith(".") && fn.endsWith(".crc"))) {
                val d = new Path(dst, rel)
                dirs += d.getParent
                tasks += ((new Path(p.toUri), d))
              }
            }
          } finally walk.close()
        }
      } else {
        // remote FS: one getFileStatus doubles as the existence check
        val stOpt = try Some(fs.getFileStatus(src0)) catch {
          case _: java.io.FileNotFoundException => None
        }
        stOpt.foreach { st0 =>
          if (st0.isFile) { dirs += dst.getParent; tasks += ((fs.makeQualified(src0), dst)) }
          else {
            val src = fs.makeQualified(src0)
            dirs += dst
            val it = fs.listFiles(src, true)
            while (it.hasNext) {
              val f = it.next()
              val rel = src.toUri.relativize(f.getPath.toUri).getPath
              val d = new Path(dst, rel)
              dirs += d.getParent
              tasks += ((f.getPath, d))
            }
          }
        }
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, Runtime.getRuntime.availableProcessors())))
    try {
      // directory creation first, deduped and parallel: Hadoop's local
      // mkdirs is a heavyweight call (permission handling), and one
      // sequential mkdirs per chunk partition was the measured
      // bottleneck — java.nio createDirectories on the local scheme is
      // a plain syscall
      val dirFts = dirs.toSeq.filter(_ != null).map { d =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            if (local)
              java.nio.file.Files.createDirectories(
                java.nio.file.Paths.get(d.toUri.getPath))
            else fs.mkdirs(d)
        })
      }
      dirFts.foreach(_.get())
      val fts = tasks.result().map { case (s, d) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val linked = local && {
              try {
                java.nio.file.Files.createLink(
                  java.nio.file.Paths.get(d.toUri.getPath),
                  java.nio.file.Paths.get(s.toUri.getPath))
                true
              } catch { case _: Exception => false }
            }
            if (!linked)
              org.apache.hadoop.fs.FileUtil.copy(fs, s, fs, d, false, conf)
          }
        })
      }
      fts.foreach(_.get()) // propagate the first failure
    } finally pool.shutdown()
  }

  /** Clone this store's ENTIRE tree to `destPath` and open a store
    * there — the staging/dev-store verb: a full-fidelity copy at
    * metadata cost on the local scheme (hardlinks — every tier's
    * files are immutable once written and every mutation verb
    * REPLACES files via staged swap rather than editing in place, so
    * links are as safe here as in the snapshot copy; byte-copy on
    * remote schemes). Covers live + closed + rollup + retention
    * metadata; `snapshots/` stays behind (a clone is a working copy,
    * not a backup of backups). Refuses mid-swap trees — a clone of a
    * half-swapped store would freeze the corruption — and an earlier
    * version's closed tier, as the reads do. */
  def cloneTo(destPath: String): ChunkStore = {
    assertNoPendingClosedSwap()
    require(!batchCompactSwap.pending,
      s"ChunkStore at $path: a compaction was interrupted mid-swap — heal before cloning")
    val fs = hfs
    val dest = new org.apache.hadoop.fs.Path(destPath)
    require(!fs.exists(dest) || fs.listStatus(dest).isEmpty,
      s"cloneTo destination $destPath is not empty")
    val children = listNames(path).filterNot(_ == "snapshots")
    copyTreesParallel(fs,
      children.map(c => (new org.apache.hadoop.fs.Path(s"$path/$c"),
        new org.apache.hadoop.fs.Path(s"$destPath/$c"))),
      spark.sparkContext.hadoopConfiguration)
    new ChunkStore(spark, destPath, chunkMs, filesPerChunkPerAppend, rollupOnClose)
  }

  /** Point-in-time SNAPSHOT of the closed tier (Prometheus's
    * `POST /api/v1/admin/tsdb/snapshot`, the backup half of the admin
    * family deleteSeries opened): the closed-chunk id set is pinned
    * FIRST, then exactly those partition directories of closed/ and
    * rollup/ (payloads and rollups, each row with its labels) copy into
    * `snapshots/<name>/` (staged under
    * a dot-temp dir, renamed into place — a crashed snapshot leaves
    * only an ignorable temp, never a half-visible name). The closed
    * tier is immutable parquet, so the copy is pure file I/O — no
    * decode, no Spark job; chunks closed AFTER the pin are simply not
    * part of this snapshot. A snapshot directory is itself a valid
    * closed-only store rooted at `snapshots/<name>` ([[openSnapshot]]),
    * and [[restoreSnapshot]] swaps it back wholesale. Returns the
    * snapshot name. Refuses while a closed-tier swap is pending, as
    * the reads do: the copy would miss every partition that sits only
    * in staging. */
  def snapshot(name: Option[String] = None): String = {
    assertNoPendingClosedSwap()
    // union with the rollup listing: a tiered store's raw-retired
    // chunks live only as rollup partitions, and a backup
    // that silently dropped them would lose the long-retention tier
    val ids = chunkIds(closedPath) ++ chunkIds(rollupPath)
    require(ids.nonEmpty,
      "nothing closed to snapshot — the snapshot verb covers the closed tier; run closeChunksBelow first")
    val snapName = name.getOrElse {
      val t = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmssX")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
      s"$t-${java.util.UUID.randomUUID().toString.take(8)}"
    }
    require(snapName.matches("[A-Za-z0-9._-]+"),
      s"snapshot name '$snapName' — use only [A-Za-z0-9._-]")
    val fs = hfs
    val dest = new org.apache.hadoop.fs.Path(s"$snapshotsRoot/$snapName")
    require(!fs.exists(dest), s"snapshot $snapName already exists")
    val tmp = new org.apache.hadoop.fs.Path(s"$snapshotsRoot/.tmp-$snapName")
    fs.delete(tmp, true)
    val conf = spark.sparkContext.hadoopConfiguration
    copyTreesParallel(fs,
      (for (tier <- SnapTiers; c <- ids.toSeq) yield
        (new org.apache.hadoop.fs.Path(s"$path/$tier/chunk=$c"),
          new org.apache.hadoop.fs.Path(s"$tmp/$tier/chunk=$c"))) ++
        RetentionFiles.map(nm => (new org.apache.hadoop.fs.Path(s"$path/$nm"),
          new org.apache.hadoop.fs.Path(s"$tmp/$nm"))),
      conf)
    val manifest =
      s"""{"name":"$snapName","chunks":[${ids.toSeq.sorted.mkString(",")}],""" +
        s""""chunk_ms":$chunkMs,"created_ms":${System.currentTimeMillis()}}"""
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "manifest.json"), true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"snapshot rename failed for $snapName")
    snapName
  }

  /** Snapshot names present under this store, sorted. */
  def listSnapshots(): Seq[String] =
    listNames(snapshotsRoot).filterNot(_.startsWith(".")).sorted

  /** Open a snapshot as a READ-ONLY closed-only store (same chunk
    * grain; rollup serving iff the snapshot carries rollups). A
    * snapshot an earlier version took refuses, as its store would. */
  def openSnapshot(name: String): ChunkStore = {
    require(exists(s"$snapshotsRoot/$name"), s"no snapshot named $name under $snapshotsRoot")
    assertLabeledClosedTier(s"$snapshotsRoot/$name")
    new ChunkStore(spark, s"$snapshotsRoot/$name", chunkMs = chunkUs / 1000,
      rollupOnClose = rollupOnClose)
  }

  /** Restore the closed tier WHOLESALE from a snapshot: every closed/
    * and rollup/ partition currently in the store is replaced by the
    * snapshot's set (chunks closed after the snapshot are dropped —
    * that is what restoring a backup means; live raw chunks are left
    * untouched), and the retention horizons reset to the snapshot's.
    * The copy stages whole, then one [[graft.StagedSwap]] plan swaps
    * whole tiers in and removes what the snapshot does not carry; a
    * pending closed-tier plan completes first. A snapshot an earlier
    * version took refuses: its payload rows carry no labels. */
  def restoreSnapshot(name: String): Unit = {
    val snapDir = s"$snapshotsRoot/$name"
    require(exists(snapDir), s"no snapshot named $name under $snapshotsRoot")
    assertLabeledClosedTier(snapDir)
    healClosedTier()
    val swap = restoreSwap
    val staging = swap.begin()
    val fs = hfs
    val entries = SnapTiers ++ RetentionFiles
    copyTreesParallel(fs,
      entries.map(e => (new org.apache.hadoop.fs.Path(s"$snapDir/$e"),
        new org.apache.hadoop.fs.Path(s"$staging/$e"))),
      spark.sparkContext.hadoopConfiguration)
    // what the snapshot does not carry goes without replacement: a
    // retention horizon left behind would point the serving guards at
    // tier states the restored data no longer has
    swap.commit(entries.map(e =>
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$staging/$e"))) graft.StagedSwap.Swap(e, e)
      else graft.StagedSwap.Remove(e)))
  }

  /** Matcher + range query over CLOSED chunks: prune by chunk range,
    * filter the payload rows' own labels inside the parquet scan
    * (never on decoded samples), decode only the payloads of matching
    * series. Output: (series_id, ts_us, value, event_type, user_id),
    * the labels carried from the payload rows through the decode. */
  def queryClosed(ms: Seq[Matcher], startUs: Long, endUs: Long): DataFrame = {
    assertRawServable(startUs)
    assertNoPendingClosedSwap()
    samplesOf(matchedPayloads(ms, startUs, endUs)).select(SampleCols.map(col): _*)
      .filter(col("ts_us") >= startUs && col("ts_us") <= endUs)
  }

  /** Matcher + range query returning ENCODED per-(series, chunk)
    * payloads — the STREAMED remote-read serving tier (the reference
    * proto declares `accepted_response_types`,
    * /root/reference/src/proto/remote.rs:228; this is the
    * Thanos-style chunked answer to it). Closed Gorilla payloads ship
    * EXACTLY as they sit at rest — zero decode, zero re-encode, the
    * whole point of streaming from a chunked store — and live raw
    * rows pack per (series, labels, chunk) on the executors with the
    * same codec a close would apply. CLOSED boundary chunks may carry
    * samples outside [startUs, endUs]: chunk grain is the wire
    * contract and the client trims after decode (the Prometheus
    * streamed-read rule — servers send whole chunks). Output:
    * (series_id, chunk, payload, event_type, user_id), the labels
    * from the live or payload rows, each tier planned only when the
    * range touches it ([[federated]]); an empty store answers an empty
    * frame. */
  def queryEncoded(ms: Seq[Matcher], startUs: Long, endUs: Long): DataFrame = {
    assertNoPendingClosedSwap()
    assertRawServable(startUs)
    val cols = Seq("series_id", "chunk", "payload", "event_type", "user_id").map(col)
    federated(startUs, endUs)(matchedPayloads(ms, startUs, endUs).select(cols: _*),
      closedIds => Gorilla.packBy(liveMatched(ms, startUs, endUs, closedIds),
        "series_id", "event_type", "user_id", "chunk").select(cols: _*),
      emptyOf("series_id" -> StringType, "chunk" -> LongType, "payload" -> BinaryType,
        "event_type" -> StringType, "user_id" -> LongType))
  }

  /** The tier choice of the federated reads, from the chunk-id
    * listings: the `closed` part is planned only when a closed chunk
    * overlaps [startUs, endUs], the `live` part (given the closed ids
    * it must leave out) only when a not-yet-closed live chunk does —
    * the reference's `is_with_range` chunk walk, at tier grain. A range
    * that overlaps neither plans the tier that exists, pruned to no
    * partition, so its empty answer keeps the store's own label types;
    * a store with neither answers `empty`. */
  private def federated(startUs: Long, endUs: Long)(closed: => DataFrame,
      live: Set[Long] => DataFrame, empty: => DataFrame): DataFrame = {
    val closedIds = chunkIds(closedPath)
    val liveIds = liveChunkIdsListed().diff(closedIds)
    def overlaps(ids: Set[Long]) = ids.exists(c => c >= startUs / chunkUs && c <= endUs / chunkUs)
    val parts = (if (overlaps(closedIds)) Seq(closed) else Nil) ++
      (if (overlaps(liveIds)) Seq(live(closedIds)) else Nil)
    parts.reduceOption(_ unionByName _).getOrElse(
      if (liveIds.nonEmpty) live(closedIds) else if (closedIds.nonEmpty) closed else empty)
  }

  /** Prometheus's admin deletion verb (POST /api/v1/admin/tsdb/
    * delete_series): drop every sample of the matched series inside
    * [startUs, endUs] from the CLOSED tier, rewriting the affected
    * chunks' payloads and rollups from the surviving samples. The
    * matchers select on the payload rows' own labels. Only matched
    * series' payloads decode/re-pack; untouched
    * series' payloads and rollup rows carry over byte-identical. A
    * chunk left with no samples loses its partition directories
    * entirely (dynamic overwrite cannot erase a partition that
    * produces no rows). Closed-tier only: a range touching
    * not-yet-closed chunks refuses with a typed error directing
    * closeChunksBelow — the head-block analog of Prometheus, where
    * live deletions are tombstones that only compaction
    * materializes. Idempotent (re-running the same delete rewrites
    * the same survivors). The rewrite rides [[restageClosed]], so a
    * crash leaves each partition wholly old or wholly new and an
    * interrupted delete heals on the next closed-tier verb, much like
    * Prometheus's delete_series + clean_tombstones pair. */
  def deleteSeries(ms: Seq[Matcher], startUs: Long, endUs: Long): Unit = {
    require(ms.nonEmpty,
      "delete_series needs at least one matcher — refusing to delete the whole store implicitly")
    // before any listing informs this run's chunk math (an early
    // empty-affected return must not skip the heal)
    healClosedTier()
    val lo = startUs / chunkUs
    val hi = endUs / chunkUs
    val closedIds = chunkIds(closedPath)
    val affected = closedIds.filter(c => c >= lo && c <= hi)
    val liveOnly = liveChunkIdsListed().filter(c => c >= lo && c <= hi).diff(closedIds)
    if (liveOnly.nonEmpty)
      throw new IllegalStateException(
        s"delete_series range touches live (not yet closed) chunks " +
          s"${liveOnly.toSeq.sorted.mkString(",")} — close them first " +
          "(closeChunksBelow); live deletion is the head-block case Prometheus tombstones")
    // raw-retired chunks live only as rollup partitions — this
    // verb rewrites from raw payloads, so the matched samples in that
    // range CANNOT be deleted here and silently skipping them would
    // leave the "deleted" series serving from the rollup tier (the
    // privacy-delete footgun). Refuse with the working alternatives.
    rawRetainedFrom().foreach { rawLimit =>
      if (lo < rawLimit)
        throw new IllegalStateException(
          s"delete_series range dips below the raw retention horizon (chunk $rawLimit): " +
            "those chunks hold only rollups, which this verb cannot rewrite — " +
            "retire(beforeUs) the rollup-only history, or start the delete at the horizon")
    }
    if (affected.isEmpty) return
    val payloads = readTier(closedPath).filter(col("chunk").isInCollection(affected))
    val doomed = coalesce(Matcher.all(ms), lit(false))
    // matched series: decode, drop the range, re-pack the survivors
    val surviving = samplesOf(payloads.filter(doomed))
      .filter(!(col("ts_us") >= startUs && col("ts_us") <= endUs))
    restageClosed(affected, payloads.filter(!doomed)
      .unionByName(Gorilla.packBy(surviving, "series_id", "event_type", "user_id", "chunk")))
  }

  /** The closed-tier rewrite [[deleteSeries]] and [[backfill]] share:
    * the affected chunks' new payload rows (series_id, labels, payload,
    * chunk), then — on a rollup store — their rollups rebuilt wholesale
    * from the staged payloads, both written to staging first and
    * committed as one [[graft.StagedSwap]] plan.
    *
    * Staging first means every read of the directories being replaced
    * completes before any of them is touched: overwriting them in place
    * behind an in-memory cache would recompute from a half-overwritten
    * source on cache eviction. The rollups derive from the staged
    * payloads re-read from disk, not from lineage over the replaced
    * directories. They rebuild wholesale rather than keep untouched
    * rows and recompute the rest: a pure function of the staged
    * payloads heals every crash state, including payloads swapped with
    * the rollups still old, at the cost of decoding the affected
    * chunks' other series too. The plan removes the partitions of
    * chunks left with no series. */
  private def restageClosed(affected: Set[Long], newPayloads: DataFrame): Unit = {
    val swap = deleteSwap
    val staging = swap.begin()
    newPayloads.write.partitionBy("chunk").parquet(s"$staging/closed")
    val withRollups = rollupOnClose && exists(rollupPath)
    // a delete that empties every affected chunk stages no partition
    // and leaves no schema to read back: its plan is removes only
    if (withRollups && chunkIds(s"$staging/closed").nonEmpty)
      rollupOfPayloads(readTier(s"$staging/closed"))
        .write.partitionBy("chunk").parquet(s"$staging/rollup")
    val fs = hfs
    swap.commit(for {
      tier <- "closed" +: (if (withRollups) Seq("rollup") else Nil)
      c <- affected.toSeq.sorted
      d = s"$tier/chunk=$c"
    } yield
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$staging/$d"))) graft.StagedSwap.Swap(d, d)
      else graft.StagedSwap.Remove(d))
  }

  /** Prometheus-style BACKFILL / out-of-order ingest (the capability
    * Prometheus grew as the OOO window + `promtool tsdb
    * create-blocks-from`; the reference's db.rs ingest guard simply
    * rejects out-of-chunk appends — this verb is the recovery path for
    * exactly those rejects). Samples routed to live or not-yet-seen
    * chunks take the NORMAL append path; samples routed to
    * already-CLOSED chunks merge into the at-rest tier by rewriting
    * only the receiving (chunk, series) payloads — untouched series'
    * payloads carry over byte-identical, a series new to its chunk
    * gets a payload row with the late rows' labels, and affected
    * chunks' rollups rebuild wholesale
    * ([[restageClosed]], the rewrite [[deleteSeries]] uses). In the
    * closed-chunk merge exact duplicate samples collapse, so re-running
    * the same backfill of late data is a no-op; rows routed to live
    * follow plain [[append]] semantics (at-least-once, deduplicated
    * only by the caller), same as any other ingest. A pending
    * closed-tier plan completes first. Horizon guards apply unchanged:
    * history below the retention or raw-retention horizon drops at
    * ingest (same rationale as [[append]] — it could only resurface or
    * clobber rollups).
    * Scale shape: the rewrite decodes only the (chunk, series) pairs
    * that actually receive late rows, the merge/distinct shuffles only
    * the affected chunks' samples, and the staged write is
    * partition-parallel per chunk — cost is proportional to the late
    * data's chunk footprint, never the store. */
  def backfill(samples: DataFrame): Unit = {
    healClosedTier()
    append(samples) // drops exactly the rows routed to closed chunks
    val routed = routedAboveHorizon(samples)
    val closedIds = chunkIds(closedPath)
    if (closedIds.isEmpty) return
    // persisted for the verb's duration: the affected-chunk collect,
    // the touched semi/anti joins and the union below each re-ran
    // the source scan + routing otherwise (5 passes; r12 optimization)
    val late = routed.filter(col("chunk").isInCollection(closedIds))
      .select("series_id", "event_type", "user_id", "chunk", "ts_us", "value")
      .persist()
    try {
      // chunk-grain metadata: the distinct chunk ids receiving late rows
      val affected = late.select("chunk").distinct()
        .collect().map(_.getLong(0)).toSet
      if (affected.isEmpty) return
      val touched = late.select("chunk", "series_id").distinct()
      val payloads = readTier(closedPath).filter(col("chunk").isInCollection(affected))
      // receiving series: decode, union the late rows, collapse exact
      // duplicates (idempotence; label tuples determine series_id), re-pack
      val merged = samplesOf(payloads.join(touched, Seq("chunk", "series_id"), "left_semi"))
        .unionByName(late).distinct()
      restageClosed(affected, payloads.join(touched, Seq("chunk", "series_id"), "left_anti")
        .unionByName(Gorilla.packBy(merged, "series_id", "event_type", "user_id", "chunk")))
    } finally late.unpersist(false)
  }

  /** Federated query: closed chunks (compressed) ∪ live chunks not
    * yet closed — the reference's merge across current + secondary
    * chunks, each tier planned only when the range touches one of its
    * chunks ([[federated]]). Output: (series_id, ts_us, value,
    * event_type, user_id); live and closed rows both carry their own
    * labels, so no catalog is read. An empty store answers an empty
    * frame. */
  def queryAll(ms: Seq[Matcher], startUs: Long, endUs: Long): DataFrame = {
    assertNoPendingClosedSwap() // before the listing — a mid-swap crash can
    // leave the whole closed dir in staging, which would misread as live-only
    assertRawServable(startUs)
    federated(startUs, endUs)(queryClosed(ms, startUs, endUs),
      liveMatched(ms, startUs, endUs, _).select(SampleCols.map(col): _*), emptySamples)
  }
}

object ChunkStore {
  /** The parquet footer key under which Spark stores a file's row schema
    * as JSON. */
  private val RowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** How long a live read waits for a batch-compaction swap to clear. */
  private val SwapSettleMs = 5000L
}
