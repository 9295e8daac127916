package graft

import graft.search.Hybrid
import org.apache.spark.sql.functions._

class HybridSpec extends SparkSpec {
  import spark.implicits._

  test("bm25TopK: scores match the hand formula; self excluded; order total") {
    val docs = Seq(
      (0L, "apple banana"),        // query
      (1L, "apple apple cherry"),
      (2L, "banana"),
      (3L, "cherry durian"))       // shares no query term
      .toDF("doc_id", "text")
    val r = Hybrid.bm25TopK(docs, col("doc_id") < 1, k = 10)
      .select("q_id", "doc_id", "bm25", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    // n=4, total_len=8, avgdl=2; df(apple)=2, df(banana)=2
    def s(tf: Long, df: Long, dl: Long): Double = {
      val idf = math.log((4.0 - df.toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)
      val tn = (tf.toDouble * 2.2) /
        (tf.toDouble + 1.2 * (0.25 + 0.75 * dl.toDouble / 2.0))
      math.round(idf * tn * 1e6) / 1e6.toDouble
    }
    val d1 = s(2, 2, 3) // apple in doc1
    val d2 = s(1, 2, 1) // banana in doc2
    assert(r.length == 2, r.toSeq)
    val expect = Seq((0L, 1L, d1), (0L, 2L, d2))
      .sortBy { case (_, id, v) => (-v, id) }
      .zipWithIndex.map { case ((q, id, v), i) => (q, id, v, i + 1L) }
    assert(r.toSeq == expect, s"got ${r.toSeq}, want $expect")
  }

  test("bm25TopK: a doc_id under two sources scores as one doc (source never splits tf or df)") {
    // doc 1 arrives from two sources, both rows carrying "apple"; keyed
    // by source it would count twice toward df(apple) and fan its
    // postings out twice
    val withSource = Seq(
      (0L, "web", "apple banana"),
      (1L, "web", "apple cherry"),
      (1L, "books", "apple durian"),
      (2L, "web", "banana"),
      (3L, "books", "cherry"))
      .toDF("doc_id", "source", "text")
    def top(docs: org.apache.spark.sql.DataFrame) =
      Hybrid.bm25TopK(docs, col("doc_id") < 1, k = 10)
        .select("q_id", "doc_id", "bm25", "rank")
        .as[(Long, Long, Double, Long)].collect().sortBy(_._4).toSeq
    val got = top(withSource)
    assert(got.map(_._2) == Seq(1L, 2L) || got.map(_._2) == Seq(2L, 1L), got)
    assert(got == top(withSource.drop("source")), got)
  }

  test("rrfFuse: reciprocal ranks add across channels, missing side contributes zero") {
    val bm = Seq((0L, 1L, 1L), (0L, 2L, 2L)).toDF("q_id", "doc_id", "rank")
    val cos = Seq((0L, 2L, 1L), (0L, 3L, 2L)).toDF("q_id", "vec_id", "rank")
    val r = Hybrid.rrfFuse(bm, cos, k = 10)
      .select("q_id", "doc_id", "rrf", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    def t(rank: Long) = math.round(1.0 / (60.0 + rank.toDouble) * 1e6) / 1e6.toDouble
    assert(r.toSeq == Seq(
      (0L, 2L, t(2) + t(1), 1L),   // both channels
      (0L, 1L, t(1), 2L),          // bm25 only
      (0L, 3L, t(2), 3L)), r.toSeq) // cosine only
  }

  test("mmrDiversify: first pick is pure relevance, later picks trade relevance for diversity") {
    // query 0 at origin-ish; candidates: two near-identical high-rel
    // vectors (1, 2) and one orthogonal lower-rel vector (3). Pure
    // relevance ranks (1, 2, 3); MMR must pick 1 then JUMP to 3
    // because 2 is a near-copy of 1.
    val e = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.9, 0.1, 0.0)),
      (2L, Seq(0.9, 0.11, 0.0)),
      (3L, Seq(0.5, 0.0, 0.8)))
      .toDF("vec_id", "v")
    val r = graft.search.Hybrid
      .mmrDiversify(e, e.filter(col("vec_id") === 0), m = 3, k = 3, lambda = 0.5)
      .select("q_id", "vec_id", "mmr", "pick")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4).toSeq
    assert(r.map(_._2) == Seq(1L, 3L, 2L), r)
    assert(r.map(_._4) == Seq(1L, 2L, 3L))
    // pick 1 score = 0.5 * rel1 (raw IEEE); rel1 = round(cos(q, v1), 6)
    val rel1 = math.round(0.9 / math.sqrt(0.81 + 0.01) * 1e6) / 1e6.toDouble
    assert(r.head._3 == 0.5 * rel1 - 0.5 * 0.0, r.head)
    // greedy scores never increase
    assert(r.map(_._3) == r.map(_._3).sorted.reverse)
  }

  test("hybrid end-to-end on the corpus: k rows per query, ranks contiguous, fused docs exist") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val fused = Hybrid.rrfFuse(
      Hybrid.bm25TopK(docs, col("doc_id") < 3, 20),
      graft.vector.VectorOps.cosineTopK(e, e.filter(col("vec_id") < 3), 20), 10)
      .select("q_id", "doc_id", "rrf", "rank")
      .as[(Long, Long, Double, Long)].collect()
    assert(fused.length == 30, s"${fused.length}")
    fused.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to 10L), s"q=$q ranks")
      assert(rows.forall(_._2 != q), s"q=$q returned itself")
      assert(rows.forall(_._3 > 0), s"q=$q rrf must be positive")
    }
  }
}
