package graft

import org.apache.spark.sql.functions.col

class GraftFacadeSpec extends SparkSpec {
  import spark.implicits._

  test("facade registers views and SQL functions end-to-end") {
    val g = Graft(spark, sfDir)
    // plain SQL over the registered views
    val n = spark.sql("SELECT count(*) FROM lineitem").as[Long].head()
    assert(n > 0)
    // native function in SQL over real embeddings
    val cos = spark.sql(
      """SELECT cosine_sim(CAST(a.embedding AS ARRAY<DOUBLE>), CAST(b.embedding AS ARRAY<DOUBLE>)) AS c
         FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id = 0
         LIMIT 1""").as[Double].head()
    assert(math.abs(cos - 1.0) < 1e-12)
    // gorilla codec via SQL, lossless roundtrip
    g.samples.createOrReplaceTempView("samples")
    val back = spark.sql(
      """SELECT explode(gorilla_decode(gorilla_encode(
           sort_array(collect_list(struct(ts_us, value)))))) AS p
         FROM samples GROUP BY series_id""")
      .select("p._1", "p._2").as[(Long, Double)].collect().sorted.toSeq
    val orig = g.samples.select("ts_us", "value").as[(Long, Double)].collect().sorted.toSeq
    assert(back == orig)
    // native token counter via SQL == the regex token array's size
    val tok = spark.sql(
      """SELECT sum(CASE WHEN token_run_count(lower(text)) =
                         size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))
                    THEN 0 ELSE 1 END) AS bad
         FROM documents""").as[Long].head()
    assert(tok == 0)
  }

  test("serveHttp: the facade front door answers a wire write+read") {
    val g = Graft(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_facade_http").toString
    val store = g.chunkStore(dir)
    val endpoint = g.serveHttp(store, port = 0)
    try {
      val payload = graft.sources.RemoteWrite.encode(Seq(
        (Map("event_type" -> "click", "user_id" -> "3"),
          Seq((1704067200000L, 1.5), (1704067260000L, 2.5)))))
      val conn = java.net.URI.create(
        s"http://127.0.0.1:${endpoint.boundPort}/api/v1/write").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write(payload); conn.getOutputStream.close()
      assert(conn.getResponseCode == 200)
      conn.disconnect()
      // the write is durable in the spool; the drain makes it readable
      endpoint.drain.processAllAvailable()
      assert(store.queryAll(Nil, 1704067200000000L, 1704070800000000L)
        .select("value").as[Double].collect().sorted.toSeq == Seq(1.5, 2.5))
    } finally endpoint.stop()
  }

  test("prepareCorpus: one-call quality->dedup->split->redact pipeline") {
    val g = new Graft(spark, sfDir)
    val prepped = g.prepareCorpus()
    val n = prepped.count()
    val total = g.documents.count()
    assert(n > 0 && n <= total)
    // every surviving doc has a split and redacted text
    assert(prepped.filter(col("split").isNull || col("clean_text").isNull).count() == 0)
    // near-dup victims are gone: kept docs must be a subset of dedupedDocuments
    val keptIds = prepped.select("doc_id").as[Long].collect().toSet
    val dedupIds = g.dedupedDocuments().select("doc_id").as[Long].collect().toSet
    assert(keptIds.subsetOf(dedupIds))
    // all three splits appear on a 500-doc corpus
    assert(prepped.select("split").distinct().count() >= 2)
  }

  test("writeCorpus: split-partitioned training layout, parallel salted writers") {
    val g = new Graft(spark, sfDir)
    val out = java.nio.file.Files.createTempDirectory("graft_corpus_out").toString
    val n = g.writeCorpus(out)
    assert(n > 0)
    val back = spark.read.parquet(out)
    assert(back.count() == n)
    // split is a partition directory (pruned reads per split) and the
    // reread survives with clean text + metadata intact
    val splitDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("split=")).map(_.getName).sorted.toSeq
    assert(splitDirs.nonEmpty && splitDirs.forall(d =>
      Seq("split=train", "split=val", "split=test").contains(d)))
    // salted write: the dominant split must span >1 file (never the
    // one-task-per-partition collapse), but stay bounded
    val trainFiles = new java.io.File(s"$out/split=train").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(trainFiles > 1 && trainFiles <= 16, s"train files: $trainFiles")
    assert(back.filter(col("clean_text").isNull).count() == 0)
  }

  test("writeNearDupIndex: one-call incremental dedup index; probe flags a known dup") {
    val g = new Graft(spark, sfDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq("sigs", "bands").foreach { s =>
      spark.sql(s"DROP TABLE IF EXISTS graft_mh_$s")
      fs.delete(new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/graft_mh_$s"), true)
    }
    val store = g.writeNearDupIndex("graft_mh")
    // replay two indexed docs under fresh ids + one novel doc
    val batch = g.documents.filter(col("doc_id").isin(1L, 2L))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .union(Seq((2000000L, "wholly novel text unlike the corpus zqxj"))
        .toDF("doc_id", "text"))
    val hits = store.probe(batch)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(hits.contains((1000001L, 1L)) && hits.contains((1000002L, 2L)), s"got $hits")
    assert(!hits.exists(_._1 == 2000000L))
  }

  test("writeIvfIndex: one-call ANN index at rest, probe answers match in-memory") {
    val g = new Graft(spark, sfDir)
    val out = java.nio.file.Files.createTempDirectory("graft_ivf_out").toString
    val store = g.writeIvfIndex(out)
    val e = g.embeddings
    val got = store.probeTopK(e.filter(col("vec_id") < 3), k = 5)
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val mem = graft.vector.VectorOps.ivfTopK(e, col("vec_id") < 3, k = 5)
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == mem && got.nonEmpty)
  }
}
