package graft

import graft.vector.{IvfStore, VectorOps}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IvfStoreSpec extends SparkSpec {
  import spark.implicits._

  test("cell-partitioned index: probe prunes partitions and matches in-memory IVF") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val dir = Files.createTempDirectory("graft_ivf").toString
    val store = new IvfStore(spark, dir)
    store.write(e)

    // every cell is a partition directory
    val cellDirs = new java.io.File(s"$dir/cells").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellDirs > 1 && cellDirs <= 16)

    val queries = e.filter($"vec_id" < 5)
    val got = store.probeTopK(queries, k = 10, nProbe = 4)
    // collect() (not count()) so THIS dataset's queryExecution runs —
    // count() builds a separate execution and leaves these metrics empty
    got.collect()

    // partition pruning visible in the probe plan. NOT the bare
    // substring: FileSourceScan prints `PartitionFilters: []` even
    // when nothing prunes, so assert the bracket CONTENT carries the
    // cell predicate...
    val plan = got.queryExecution.executedPlan.toString
    val pf = """PartitionFilters: \[([^\]]+)\]""".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pf.exists(_.contains("cell")), plan.take(800))
    // ...and prove it behaviorally: the probe scan must read strictly
    // fewer parquet files than the full cell store holds
    val totalFiles = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.getName.startsWith("cell="))
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    val scannedFiles = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      // AQE wraps materialized stages in QueryStageExec LEAF nodes, so
      // a plain collect/collectLeaves never reaches the scan — unwrap
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      scans(got.queryExecution.executedPlan)
        .filter(_.metadata.get("Location").exists(_.contains("cells")))
        .map(_.metrics("numFiles").value).sum
    }
    assert(scannedFiles > 0 && scannedFiles < totalFiles,
      s"scanned $scannedFiles of $totalFiles files")

    // identical answer to the in-memory IVF operator (same quantizer,
    // same probes, same rerank)
    val mem = VectorOps.ivfTopK(e, $"vec_id" < 5, k = 10)
    val a = got.select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val b = mem.select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(a == b)
  }

  test("append: a new batch joins the index under the FIXED quantizer; no-index refused") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val first = e.filter($"vec_id" % 2 === 0)
    val second = e.filter($"vec_id" % 2 =!= 0)
    val dir = Files.createTempDirectory("graft_ivf_app").toString
    val store = new IvfStore(spark, dir)

    // appending before the index exists must refuse, not fresh-train
    val err = intercept[IllegalArgumentException] { store.append(second) }
    assert(err.getMessage.contains("centroid"), err.getMessage)

    store.write(first)
    store.append(second)
    // the merged index answers exactly like an in-memory IVF built on
    // the full corpus WITH the first batch's quantizer — appends must
    // not move cells
    val queries = e.filter($"vec_id" < 5)
    val got = store.probeTopK(queries, k = 10, nProbe = 4)
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val cents = VectorOps.ivfCentroids(first, 16)
    val mem = VectorOps.ivfTopK(e, $"vec_id" < 5, k = 10, quantizer = Some(cents))
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == mem)
    // every appended vector is really in the cell layout
    assert(store.read().count() == e.count())
  }

  test("drifted appends flag occupancy skew; rebuild restores the scan bound") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val dir = Files.createTempDirectory("graft_ivf_drift").toString
    val store = new IvfStore(spark, dir)
    // trained codebook → balanced layout ON THE BUILD DISTRIBUTION
    store.write(e, Some(VectorOps.kmeansCentroids(e, 16)))
    val skew0 = store.occupancySkew()

    // drift: 200 appended vectors sharing one strong direction the
    // build distribution doesn't emphasize (4× a base vector plus a
    // real row as noise) — under the FROZEN quantizer they concentrate
    // into few cells, which is exactly the silent scan-bound erosion
    // the metric must surface
    val base = e.orderBy($"vec_id").limit(1).select($"v".as("bv"))
    val drifted = e.orderBy($"vec_id").limit(200)
      .crossJoin(base)
      .select(($"vec_id" + 100000L).as("vec_id"),
        zip_with($"bv", $"v", (b, n) => b * 4.0 + n).as("v"))
    store.append(drifted)
    val skewDrift = store.occupancySkew()
    assert(skewDrift > skew0 && skewDrift > 2.0,
      s"drift not flagged: skew $skew0 -> $skewDrift")

    // rebuild re-trains over the stored corpus: the drifted region
    // earns its own centroids and the fair-share bound comes back
    store.rebuild()
    val skewRebuilt = store.occupancySkew()
    assert(skewRebuilt < skewDrift,
      s"rebuild did not reduce skew: $skewDrift -> $skewRebuilt")
    // ...and no vector was lost or duplicated by the staged swap
    assert(store.read().count() == 700)
    // correctness preserved: probing EVERY cell of the rebuilt index
    // is exact brute force over the merged corpus
    val all = e.unionByName(drifted.select($"vec_id", $"v".cast("array<double>").as("v")))
    val queries = e.filter($"vec_id" < 3)
    val got = store.probeTopK(queries, k = 10, nProbe = 16)
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val ref = VectorOps.cosineTopK(all, queries, k = 10)
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == ref)
  }

  test("compact: files per cell drop to one, probe results unchanged") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val dir = Files.createTempDirectory("graft_ivf_cpt").toString
    val store = new IvfStore(spark, dir)
    store.write(e.filter($"vec_id" % 3 === 0))
    store.append(e.filter($"vec_id" % 3 === 1))
    store.append(e.filter($"vec_id" % 3 === 2))
    def cellFiles(): Seq[Int] =
      new java.io.File(s"$dir/cells").listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(cellFiles().max > 1, s"expected accumulation, got ${cellFiles()}")
    val queries = e.filter($"vec_id" < 5)
    val before = store.probeTopK(queries, k = 10, nProbe = 4)
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    store.compact()
    assert(cellFiles().max == 1, s"not compacted: ${cellFiles()}")
    assert(store.read().count() == e.count())
    val after = store.probeTopK(queries, k = 10, nProbe = 4)
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(after == before)
  }

  test("interrupted rebuild refuses loudly and rebuild() heals") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val dir = Files.createTempDirectory("graft_ivf_crash").toString
    val store = new IvfStore(spark, dir)
    store.write(e)
    // simulate a crash between rebuild's two swaps: the cells have
    // landed, the centroids are still staged, the plan is pending —
    // generations may be mixed, so every read must refuse
    val swap = new StagedSwap(spark.sparkContext.hadoopConfiguration, dir, "rebuild")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dir, "centroids"), new java.io.File(s"${swap.begin()}/centroids"))
    swap.mark(Seq(StagedSwap.Swap("cells", "cells"), StagedSwap.Swap("centroids", "centroids")))
    val err = intercept[IllegalArgumentException] {
      store.probeTopK(e.filter($"vec_id" < 2), 5, 4).collect()
    }
    assert(err.getMessage.contains("rebuild"), err.getMessage)
    // the advertised recovery: run rebuild() again
    store.rebuild()
    assert(store.occupancySkew() >= 1.0) // read path works again
    assert(store.read().count() == e.count())
  }
}
