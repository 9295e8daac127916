package graftbench

import org.apache.spark.sql.SparkSession

import graft.promql.PromQL
import graft.sources.{RemoteRead, RemoteWrite}
import graft.tsdb.{ChunkStore, Gorilla, Matcher}

/** Direct calls into the layers' public functions, each timed as a
  * span. Every call that reads a store opens a fresh [[ChunkStore]]
  * handle: a long-lived second handle would serve a stale per-instance
  * catalog memo. */
final class Replay(spark: SparkSession, tracer: Tracer) {
  private def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

  def decodeUs(payloads: Seq[Array[Byte]]): Seq[Double] = payloads.map { p =>
    val t0 = System.nanoTime()
    tracer.span("replay.RemoteWrite.decode", tracer.newRequest())(_ => RemoteWrite.decode(p))
    (System.nanoTime() - t0) / 1e3
  }

  /** RemoteRead.serve on a fresh handle: (ms, response bytes). */
  def readServe(store: String, payload: Array[Byte]): (Double, Int) = {
    val t0 = System.nanoTime()
    val out = tracer.span("replay.RemoteRead.serve", tracer.newRequest())(_ =>
      RemoteRead.serve(new ChunkStore(spark, store), payload))
    (ms(t0), out.length)
  }

  /** Catalog built cold then served warm from one fresh handle. */
  def catalog(sink: LayerSink, store: String): Unit = {
    val req = tracer.newRequest()
    tracer.span("replay.ChunkStore.catalog", req) { parent =>
      val st = new ChunkStore(spark, store)
      var t0 = System.nanoTime()
      tracer.span("replay.ChunkStore.catalog.cold", req, parent)(_ => st.catalog().count())
      sink.put("tsdb.catalog_cold_ms", ms(t0))
      t0 = System.nanoTime()
      tracer.span("replay.ChunkStore.catalog.warm", req, parent)(_ => st.catalog().count())
      sink.put("tsdb.catalog_warm_ms", ms(t0))
      st.catalog().unpersist(true)
    }
  }

  def queryAll(store: String, ms0: Seq[Matcher], startUs: Long, endUs: Long): Double = {
    val t0 = System.nanoTime()
    tracer.span("replay.ChunkStore.queryAll", tracer.newRequest())(_ =>
      new ChunkStore(spark, store).queryAll(ms0, startUs, endUs).count())
    ms(t0)
  }

  /** PromQL: (parse µs, plan ms, exec ms, result rows) of one range query. */
  def promqlRange(store: String, q: String, startUs: Long, endUs: Long, stepUs: Long)
      : (Double, Double, Double, Long) = {
    val req = tracer.newRequest()
    tracer.span("replay.PromQL.range", req) { parent =>
      var t0 = System.nanoTime()
      tracer.span("replay.PromQL.parse", req, parent)(_ => PromQL.parse(q))
      val parseUs = (System.nanoTime() - t0) / 1e3
      t0 = System.nanoTime()
      val st = new ChunkStore(spark, store)
      val df = tracer.span("replay.PromQL.evalStoreRange", req, parent)(_ =>
        PromQL.evalStoreRange(st, q, startUs, endUs, stepUs))
      val planMs = ms(t0)
      t0 = System.nanoTime()
      val rows = tracer.span("replay.PromQL.collect", req, parent)(_ => df.collect().length.toLong)
      (parseUs, planMs, ms(t0), rows)
    }
  }

  /** Gorilla codec cost over whole series: ns per point each way, bytes per point. */
  def gorilla(sink: LayerSink, series: Seq[Seq[(Long, Double)]]): Unit = {
    val points = series.map(_.size).sum.toDouble
    series.foreach(s => Gorilla.decode(Gorilla.encode(s))) // warm pass, untimed
    val req = tracer.newRequest()
    var t0 = System.nanoTime()
    val enc = tracer.span("replay.Gorilla.encode", req)(_ => series.map(s => Gorilla.encode(s)))
    sink.put("tsdb.gorilla_encode_ns_per_point", (System.nanoTime() - t0) / points)
    t0 = System.nanoTime()
    val dec = tracer.span("replay.Gorilla.decode", req)(_ => enc.map(Gorilla.decode))
    sink.put("tsdb.gorilla_decode_ns_per_point", (System.nanoTime() - t0) / points)
    sink.put("tsdb.gorilla_bytes_per_point", enc.map(_.length).sum / points)
    require(dec.map(_.size).sum == points.toLong, "Gorilla roundtrip lost points")
  }

  /** The write-side store calls on scratch stores: streaming batch
    * appends and their compaction, the direct locked append (one job
    * per request, the other write mode), and closing the chunks. */
  def writePath(sink: LayerSink, scratch: java.io.File, batches: Seq[Seq[Array[Byte]]]): Unit = {
    import spark.implicits._
    val batchStore = new ChunkStore(spark, new java.io.File(scratch, "batch").getAbsolutePath)
    val appendMs = batches.zipWithIndex.map { case (ps, i) =>
      val t0 = System.nanoTime()
      tracer.span("replay.ChunkStore.appendBatch", tracer.newRequest())(_ =>
        batchStore.appendBatch(RemoteWrite.toEventSamples(ps.toDF("payload")), i.toLong))
      ms(t0)
    }
    sink.median("tsdb.append_batch_ms", appendMs)
    var t0 = System.nanoTime()
    tracer.span("replay.ChunkStore.compactBatches", tracer.newRequest())(_ =>
      batchStore.compactBatches(batches.size.toLong))
    sink.put("tsdb.compact_batches_ms", ms(t0))
    t0 = System.nanoTime()
    tracer.span("replay.ChunkStore.closeChunksBelow", tracer.newRequest())(_ =>
      batchStore.closeChunksBelow(Long.MaxValue / 4))
    sink.put("tsdb.close_ms", ms(t0))
    val direct = new ChunkStore(spark, new java.io.File(scratch, "direct").getAbsolutePath)
    val directMs = batches.flatten.take(8).map { p =>
      val t1 = System.nanoTime()
      tracer.span("replay.ChunkStore.append", tracer.newRequest())(_ =>
        direct.append(RemoteWrite.toEventSamples(Seq(p).toDF("payload"))))
      ms(t1)
    }
    sink.median("tsdb.append_direct_ms", directMs.drop(1)) // the first pays JIT
  }
}
