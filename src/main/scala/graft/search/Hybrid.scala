package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.text.TextOps

/** HYBRID RETRIEVAL: BM25 keyword search fused with embedding cosine
  * search by reciprocal-rank fusion (Cormack et al., SIGIR'09) — the
  * two-channel retrieval stack behind RAG pipelines and hard-negative
  * mining for embedding training.
  *
  * Scale shape: BM25 runs as a POSTING-LIST join — the query term set
  * (tiny) joins the per-(doc, term) frequency table on term, exactly
  * the inverted-index probe a search engine does; document length,
  * document frequency and corpus stats all aggregate at doc/vocab
  * grain with map-side partials, and the per-query result bounds to
  * top-k through [[graft.plans.TopKPerKey]] bounded heaps. The fusion
  * then operates on two k-row-per-query lists — corpus-size-free.
  * The cosine channel is whatever ANN path fits the corpus
  * ([[graft.vector.VectorOps.cosineTopK]] as the exact baseline here;
  * the IVF/LSH paths at scale — fusion only sees (q_id, doc_id,
  * rank)).
  *
  * Determinism: BM25 per-term contributions compute in one fixed IEEE
  * expression over exact integer counts (+ the one avgdl double),
  * round to 6dp DECIMAL and sum exactly; every rank is totally
  * ordered by (score desc, doc_id asc); RRF terms round to 6dp before
  * the exact decimal sum. */
object Hybrid {

  /** BM25 top-`k` documents per query doc (query terms = the query
    * doc's DISTINCT tokens — set semantics, the usual bag-of-words
    * simplification). Output (q_id, doc_id, bm25, rank), self
    * excluded. */
  def bm25TopK(docs: DataFrame, queryPred: Column, k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75, roundTo: Int = 6): DataFrame = {
    // the postings frame IS the shared unigram-count cache (r13): the
    // persisted frame already serves the session's other unigram
    // consumers — postings, doc-length and doc-frequency below all
    // read that one cache instead of a second private tokenize+persist.
    // With a `source` column the cache is keyed (doc_id, source, term),
    // so fold it to bm25's (doc_id, term) tf grain: a doc_id under two
    // sources counts once toward df and once per term in the postings
    val tf = TextOps.unigramCounts(docs)
      .groupBy(col("doc_id"), col("term")).agg(sum(col("c")).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = broadcast(dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("double").as("total_len")))
    val qterms = docs.filter(queryPred)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
    val avgdl = col("total_len") / col("n_docs").cast("double")
    val idf = log((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
      / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfNorm = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    val scored = broadcast(qterms).join(tf, "term")
      .filter(col("doc_id") =!= col("q_id"))
      .join(dfr, "term").join(dl, "doc_id").crossJoin(stats)
      .select(col("q_id"), col("doc_id"),
        round(idf * tfNorm, roundTo).cast(DecimalType(18, 6)).as("s6"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("s6")).as("bm25d"))
    graft.plans.TopKPerKey(scored, Seq("q_id"),
        Seq("bm25d" -> graft.plans.TopKPerKey.Desc,
            "doc_id" -> graft.plans.TopKPerKey.Asc), k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("bm25d").desc, col("doc_id").asc)).cast("long"))
      .select(col("q_id"), col("doc_id"),
        col("bm25d").cast("double").as("bm25"), col("rank"))
  }

  /** Maximal Marginal Relevance diversification (Carbonell &
    * Goldstein, SIGIR'98 — the rerank that keeps a retrieval list
    * from returning five copies of the same passage, standard in RAG
    * context assembly): from each query's cosine top-`m` candidates,
    * greedily pick `k` by mmr(d) = λ·rel(d) − (1−λ)·max_{s∈picked}
    * sim(d, s). The first pick is pure relevance (the max-sim term is
    * 0 over an empty set).
    *
    * Scale shape: corpus-scale work is exactly the ANN candidate pass
    * (any path — exact baseline here, IVF/LSH at scale) plus ONE more
    * corpus scan that attaches vectors to the broadcast candidate-id
    * set; the candidate-pair similarity frame is (queries × m²) rows
    * by construction. The greedy loop itself runs PER QUERY GROUP in
    * one typed cogroup — candidates and pair-sims shuffle ONCE on
    * q_id and each query's O(k·m) selection runs locally. This is the
    * deliberate per-group-imperative exception to the
    * declarative-first rule: a k-round DataFrame loop serializes
    * every query on the planet through k GLOBAL barrier jobs
    * (measured 3-6s on 8 queries from barrier+planning overhead
    * alone), while the cogroup parallelizes across queries with zero
    * barriers — at millions of RAG queries the difference is the
    * operator.
    *
    * Determinism: rel and sim are the 6dp-rounded cosines; each
    * round's score is the RAW IEEE combination λ·rel − (1−λ)·ms —
    * deliberately unrounded: the real value is an exact ≤7-decimal
    * quantity (decimal constants × 6dp inputs), exactly where Spark's
    * string-repr round() and DuckDB's binary round() disagree on
    * ties, while the unrounded double is bit-identical across engines
    * because the inputs and expression shape are (the JVM loop and
    * the SQL oracle perform the same two multiplies and subtract).
    * Picks tie-break (mmr desc, vec_id asc), iteration-order-free. */
  def mmrDiversify(corpus: DataFrame, queries: DataFrame, m: Int = 20, k: Int = 5,
                   lambda: Double = 0.7, roundTo: Int = 6,
                   maxRows: Long = 1000000L, force: Boolean = false): DataFrame = {
    import graft.vector.VectorOps
    val spark = corpus.sparkSession
    import spark.implicits._
    val cand = VectorOps.cosineTopK(corpus, queries, m, roundTo, maxRows, force)
      .select(col("q_id"), col("vec_id"), col("cos").as("rel"))
      // deliberately UNPAIRED persist (queries × m rows; candidate-id
      // broadcast + cogroup read it lazily — no unpersist point);
      // session-shared via CacheManager subtree match
      .persist()
    val cwv = corpus
      .join(broadcast(cand.select(col("q_id"), col("vec_id"))), "vec_id")
      .select(col("q_id"), col("vec_id"), col("v"))
    val sim = cwv.select(col("q_id"), col("vec_id").as("a"), col("v").as("va"))
      .join(cwv.select(col("q_id"), col("vec_id").as("b"), col("v").as("vb")), "q_id")
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        round(graft.functions.CosineSimilarity(col("va"), col("vb")), roundTo).as("s"))
    val comp = 1.0 - lambda // the SAME double the oracle literal prints
    cand.as[(Long, Long, Double)].groupByKey(_._1)
      .cogroup(sim.as[(Long, Long, Long, Double)].groupByKey(_._1)) { (q, cs, ss) =>
        val cands = cs.map(t => (t._2, t._3)).toArray
        val simAt = ss.map(t => (t._2, t._3) -> t._4).toMap
        val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
        var pick = 1
        while (pick <= k && sel.size < cands.length) {
          var found = false; var bestId = 0L; var bestMmr = 0.0
          cands.foreach { case (id, rel) =>
            if (!sel.contains(id)) {
              val ms = if (sel.isEmpty) 0.0
                       else sel.iterator.map(s => simAt((id, s))).max
              val sc = lambda * rel - comp * ms
              if (!found || sc > bestMmr || (sc == bestMmr && id < bestId)) {
                found = true; bestId = id; bestMmr = sc
              }
            }
          }
          out += ((q, bestId, bestMmr, pick.toLong)); sel += bestId; pick += 1
        }
        out.iterator
      }
      .toDF("q_id", "vec_id", "mmr", "pick")
  }

  /** Reciprocal-rank fusion of two ranked lists (keyword + vector):
    * rrf = 1/(rrfK + rank_bm25) + 1/(rrfK + rank_cos), a doc missing
    * from one list contributes nothing on that side. Operates on
    * k-row-per-query inputs — corpus-size-free. Output (q_id, doc_id,
    * rrf, rank) top-`k` per query. */
  def rrfFuse(bm25: DataFrame, cos: DataFrame, k: Int = 10,
              rrfK: Int = 60, roundTo: Int = 6): DataFrame = {
    val bSide = bm25.select(col("q_id"), col("doc_id"), col("rank").as("rb"))
    val cSide = cos.select(col("q_id"), col("vec_id").as("doc_id"),
      col("rank").as("rc"))
    def term(r: Column): Column = coalesce(
      round(lit(1.0) / (lit(rrfK).cast("double") + r.cast("double")), roundTo)
        .cast(DecimalType(18, 6)),
      lit(0).cast(DecimalType(18, 6)))
    bSide.join(cSide, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        (term(col("rb")) + term(col("rc"))).as("rrf6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("rrf6").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("doc_id"),
        col("rrf6").cast("double").as("rrf"), col("rank"))
  }
}
