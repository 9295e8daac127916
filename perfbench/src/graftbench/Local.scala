package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark JVM's own Spark session: history building, the
  * analytics engine, and the traced direct replays. Scratch space stays
  * under the run's work directory. */
object Local {
  def session(work: java.io.File, probes: Boolean): SparkSession = {
    val tmp = new java.io.File(work, "spark-tmp"); tmp.mkdirs()
    val b = SparkSession.builder()
      .master(s"local[${Jvm.cpus}]")
      .config("spark.sql.shuffle.partitions", Jvm.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
    if (probes) b.config("spark.extraListeners", "graftbench.EngineProbe")
      .config("spark.sql.queryExecutionListeners", "graftbench.EngineQeProbe")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Seeded stand-ins for the tables the analytics queries read, with the
  * column names and types of the engine's test data (`orders`,
  * `lineitem`, `events`, `documents`, `embeddings`) at about 1/1000 of
  * TPC-H scale. */
object Tables {
  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def f(name: String, t: DataType) = StructField(name, t)

  /** Write every table as `<dir>/<name>.parquet`; returns the row count. */
  def write(spark: SparkSession, seed: Long, dir: String): Long = {
    val r = new java.util.Random(Stats.mix64(seed ^ 0x7AB1E5L))
    def round2(d: Double) = math.rint(d * 100) / 100
    def day(y0: Int, spanDays: Int) = {
      val base = java.time.LocalDate.of(y0, 1, 1).plusDays(r.nextInt(spanDays))
      java.time.LocalDateTime.of(base, java.time.LocalTime.MIDNIGHT)
    }
    val tables: Seq[(String, StructType, Seq[Row])] = Seq(
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
        (0 until 1500).map(i => Row(i.toLong, r.nextInt(150).toLong,
          Seq("F", "O", "P")(r.nextInt(3)), round2(1000 + r.nextDouble() * 400000),
          day(1995, 2400), Priorities(r.nextInt(Priorities.length))))),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
        (0 until 6000).map { i =>
          val qty = (1 + r.nextInt(50)).toDouble
          Row(r.nextInt(1500).toLong, r.nextInt(200).toLong, r.nextInt(10).toLong, 1 + i % 7, qty,
            round2(qty * (900 + r.nextInt(1200))), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            Seq("N", "A", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)), day(1995, 2500))
        }),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), {
        val start = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
        val offsets = Array.fill(1000)((r.nextDouble() * 30 * 86400e6).toLong).sorted
        offsets.indices.map(i => Row(i.toLong, start.plusNanos(offsets(i) * 1000), r.nextInt(15).toLong,
          Gen.EventTypes(r.nextInt(Gen.EventTypes.length)), round2(r.nextDouble() * 300 + 0.01),
          s"""{"k": ${r.nextInt(100)}}"""))
      }),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), {
        val texts = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until 500).map { i =>
          val text =
            if (i > 10 && r.nextInt(10) == 0) { // near-duplicate of an earlier doc
              val words = texts(r.nextInt(texts.size)).split(" ")
              (words.updated(r.nextInt(words.length), "dup")).mkString(" ")
            } else Array.fill(8 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
          texts += text
          Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}", text.length.toLong)
        }
      }),
      ("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))), {
        val centers = Array.fill(10, 64)(r.nextGaussian())
        (0 until 500).map { i =>
          val label = r.nextInt(10)
          val v = Array.tabulate(64)(d => centers(label)(d) + 0.6 * r.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
        }
      }))
    // one small write job per table, run side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Jvm.cpus)
    try tables.map { case (name, schema, rows) =>
      pool.submit(() => {
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
        rows.size.toLong
      })
    }.map(_.get).sum
    finally pool.shutdown()
  }
}
