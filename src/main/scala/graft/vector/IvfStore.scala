package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF index AT REST: the corpus written as parquet partitioned by its
  * IVF cell (`cell=<id>` directories) plus the centroid table. A
  * top-k probe then touches only the `nProbe` probed cells — Catalyst
  * partition pruning skips every other cell directory, so the scan
  * cost is nProbe/nCells of the corpus no matter how large the corpus
  * grows. This is the at-scale delivery of the IVF story: the cell id
  * is not just a join key, it is the physical layout.
  *
  * Probe plan (asserted in IvfStoreSpec):
  *   Scan parquet [PartitionFilters: cell IN (probed…)] → join(bcast
  *   probes) → cosine → per-query top-k.
  */
final class IvfStore(spark: SparkSession, path: String,
                     nCells: Int = 16, roundTo: Int = 6) {
  private val dataPath = s"$path/cells"
  private val centroidPath = s"$path/centroids"

  /** Build the index: assign cells, write cell-partitioned corpus and
    * the centroid table. `quantizer` swaps in a trained codebook
    * (e.g. [[VectorOps.kmeansCentroids]]); default is the
    * deterministic lowest-id stub. */
  def write(corpus: DataFrame, quantizer: Option[DataFrame] = None): Unit = {
    val cents = quantizer.getOrElse(VectorOps.ivfCentroids(corpus, nCells))
    cents.write.mode("overwrite").parquet(centroidPath)
    corpus
      .join(VectorOps.ivfAssign(corpus, cents, roundTo), "vec_id")
      .write.mode("overwrite").partitionBy("cell").parquet(dataPath)
  }

  /** Incremental ingest: assign a NEW vector batch to the EXISTING
    * centroids and append into the cell partitions — the index grows
    * without rebuilding or rescanning the corpus (the MinhashStore
    * discipline applied to ANN; only the batch is assigned/written).
    * The quantizer is FIXED at build time: appending never moves
    * centroids, so cell membership of already-indexed vectors — and
    * therefore their probe recall — is untouched; re-training the
    * codebook is a rebuild by policy, not a side effect of ingest.
    * Refuses to append before the index exists (there would be no
    * centroids to assign against — a silent fresh-train here would
    * create exactly the mixed-generation corruption the MinhashStore
    * guard exists for). */
  def append(newVectors: DataFrame): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(centroidPath)),
      s"IvfStore($path): no centroid table — build the index with write() " +
        "before appending (appending would otherwise train a fresh quantizer " +
        "whose cells are incompatible with the stored layout)")
    newVectors
      .join(VectorOps.ivfAssign(newVectors, centroids(), roundTo), "vec_id")
      .write.mode("append").partitionBy("cell").parquet(dataPath)
  }

  def centroids(): DataFrame =
    org.apache.spark.sql.functions.broadcast(spark.read.parquet(centroidPath))

  /** Per-cell occupancy of the STORED layout — the at-rest analogue of
    * [[VectorOps.cellSummary]], counting the cell partitions
    * themselves rather than re-assigning (no centroid math, just a
    * partition-local count). This is the drift dashboard for an index
    * whose quantizer is frozen at build time. */
  def cellOccupancy(): DataFrame =
    read().groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))

  /** Fair-share skew of the stored layout: the largest cell over the
    * ideal even share (total / nCells). 1.0 = perfectly balanced;
    * `s` means a worst-case probe scans ~`s×` its fair share of the
    * corpus, eroding the nProbe/nCells bound that makes IVF an index.
    * Appended data that drifts from the build distribution shows up
    * HERE — empty cells don't hide it because the denominator is the
    * configured nCells, not the observed non-empty count. */
  def occupancySkew(): Double = {
    val r = cellOccupancy()
      .agg(max(col("n_vectors")).cast("double"), sum(col("n_vectors")).cast("double"))
      .collect()(0)
    if (r.isNullAt(1) || r.getDouble(1) == 0) 1.0
    else r.getDouble(0) / (r.getDouble(1) / nCells)
  }

  /** Re-train the quantizer over the CURRENT stored corpus and rewrite
    * the cell layout — the policy answer to drift flagged by
    * [[occupancySkew]] (append keeps the build-time codebook by
    * design; only an explicit rebuild moves centroids). Defaults to
    * the BISECTING codebook ([[VectorOps.bisectingCentroids]]): plain
    * k-means seeds at most one centroid per natural cluster, so the
    * heavy drift clumps that trigger a rebuild survive it — bisecting
    * splits the heaviest cells directly, which is the balance the
    * rebuild exists to restore (measured in the __ivfdrift drill);
    * pass `quantizer` to supply your own. The new cells and centroids
    * stage whole and swap in under one [[graft.StagedSwap]] plan: the
    * two renames cannot be atomic together, and either mixed pair (new
    * cells + old centroids or the reverse) would silently mis-prune
    * probes, so reads refuse while the plan is pending and the next
    * rebuild or compact completes it and returns. */
  def rebuild(quantizer: Option[DataFrame] = None): Unit = {
    val swap = rebuildSwap
    if (swap.complete()) return // before the index check: a heal may restore the centroids
    requireIndex("rebuild")
    val staging = swap.begin()
    val cur = readRaw().drop("cell")
    val cents = quantizer.getOrElse(
      VectorOps.bisectingCentroids(cur, nCells, roundTo = roundTo))
    cents.write.parquet(s"$staging/centroids")
    // assign against the staged AT-REST centroids: the training plan
    // ran once into parquet; re-deriving it here would recompute the
    // whole k-means iteration inside the assignment job
    val centsAtRest = org.apache.spark.sql.functions.broadcast(
      spark.read.parquet(s"$staging/centroids"))
    cur.join(VectorOps.ivfAssign(cur, centsAtRest, roundTo), "vec_id")
      .write.partitionBy("cell").parquet(s"$staging/cells")
    swap.commit(Seq(graft.StagedSwap.Swap("cells", "cells"),
      graft.StagedSwap.Swap("centroids", "centroids")))
  }

  /** Rewrite each cell partition down to one file without moving any
    * vector: repeated [[append]] batches leave files-per-batch in
    * every cell directory (the parquet ingest tax); this is the
    * file-count compaction, where [[rebuild]] is the distribution
    * repair. Same swap as [[rebuild]], of the cells alone (assignments
    * are reused verbatim, centroids untouched). */
  def compact(): Unit = {
    val swap = rebuildSwap
    if (swap.complete()) return // before the index check: a heal may restore the centroids
    requireIndex("compact")
    val staging = swap.begin()
    readRaw()
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$staging/cells")
    swap.commit(Seq(graft.StagedSwap.Swap("cells", "cells")))
  }

  private def requireIndex(verb: String): Unit =
    require(hadoopFs.exists(new org.apache.hadoop.fs.Path(centroidPath)),
      s"IvfStore($path): nothing to $verb — build the index with write() first")

  private def hadoopFs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rebuildSwap =
    new graft.StagedSwap(spark.sparkContext.hadoopConfiguration, path, "rebuild")

  def read(): DataFrame = {
    // refuse a half-swapped index (crash between rebuild's two
    // renames): the cells and centroids could be from different
    // generations, which would silently mis-prune every probe
    require(!rebuildSwap.pending,
      s"IvfStore($path): a rebuild was interrupted mid-swap — cells and " +
        "centroids may be mixed generations; run rebuild() again to heal")
    readRaw()
  }

  // no marker guard: rebuild() itself must be able to read the
  // (intact) vector payload to heal an interrupted swap
  private def readRaw(): DataFrame =
    spark.read.parquet(dataPath).withColumn("cell", col("cell").cast("long"))

  /** ANN top-k for `queries` (vec_id, v): rank centroids per query,
    * then scan ONLY the probed cell partitions and rerank exactly. */
  def probeTopK(queries: DataFrame, k: Int = 10, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = VectorOps.ivfProbes(queries, centroids(), nProbe, roundTo)
    // partition-pruning filter: the probed cell set is small (≤ queries
    // × nProbe ids), collected and pushed as an IN-list on the
    // partition column so non-probed directories are never listed
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val scored = read()
      .filter(col("cell").isInCollection(probedCells))
      .join(org.apache.spark.sql.functions.broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        round(graft.functions.CosineSimilarity(col("v"), col("qv")), roundTo))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank").cast("long").as("rank"))
  }
}
