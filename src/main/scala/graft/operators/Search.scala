package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{VectorFunctions, Wire}
import graft.functions.Num.rnd

/** Full-text ranked retrieval (Okapi BM25) and sparse+dense hybrid
  * fusion (reciprocal-rank fusion) — the search surface the reference
  * exposes as keyword lookup (app.py table search endpoints; tbl_search
  * covers the exact-substring form) generalized to the ranked
  * retrieval a training-data / RAG pipeline actually needs.
  *
  * Scale notes (100 TB):
  *  - The inverted index (postings = (doc, term, tf)) derives from one
  *    explode + one (doc_id, term) hash aggregate — map-side combined,
  *    one shuffle of tokens. Doc lengths and term document-frequencies
  *    both derive FROM the postings frame (no second corpus scan in
  *    the dataflow graph). In production the postings frame is the
  *    thing you persist via LakeSink bucketed by term; the query-time
  *    path below it is unchanged.
  *  - Query terms are a literal k-row frame, broadcast: the join
  *    `postings ⋈ broadcast(terms)` prunes the corpus-sized postings
  *    to matching rows before any further shuffle — the classic
  *    term-at-a-time retrieval shape.
  *  - Corpus stats (N, avgdl) are a 1-row aggregate, broadcast via
  *    crossJoin; df(term) is ≤|query terms| rows, broadcast.
  *  - Final ranking goes through TopKPerKey (bounded per-key heaps,
  *    ≤k rows/key/partition pre-shuffle) — no per-query sort of the
  *    full candidate list.
  *  - Scores are ranked on the ROUNDED value (4 digits) with doc_id
  *    tiebreak in both engines, so last-ulp libm drift in ln() can
  *    never flip a rank between Spark and the oracle.
  */
object Search {

  /** Fixed benchmark query set: literal (query_id, term) pairs over the
    * synthetic corpus vocabulary. OR semantics — a document scores on
    * every query term it contains (standard BM25). */
  private val QueryTerms: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "merge", 1L -> "window",
    2L -> "hash",  2L -> "join",  2L -> "customer",
    3L -> "filter", 3L -> "scan", 3L -> "stream")

  /** The distinct query-term vocabulary — the literal IN list the
    * persisted-index serve pushes into the term-clustered postings
    * scan (SearchIndex). */
  private[graft] val QueryTermList: Seq[String] =
    QueryTerms.map(_._2).distinct

  /** The benchmark query set as a frame (for serve paths that re-key
    * the term column, e.g. the hashed-postings index). */
  private[graft] def queryTermsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    QueryTerms.toDF("query_id", "term")
  }

  private val RrfK = 60 // standard reciprocal-rank-fusion damping

  /** (doc_id, term, tf) inverted index on `wire`'s term keys.
    * Tokenization = lowercase split on non-alphanumeric, mirrored
    * exactly by the oracle's string_split_regex. Postings are
    * PER-DOC-LOCAL (no cross-doc state), which is what makes the
    * persisted index append-only: postings(A ∪ B) = postings(A) ∪
    * postings(B) exactly (SearchIndexSpec proves it through the served
    * scores). Under `Wire.Hashed` tokens are hashed BEFORE the
    * aggregate, so an intra-doc xxhash64 collision sums into one
    * (doc_id, term) row — the one-row-per-(doc, term) invariant
    * bm25FromTerms' df count relies on holds on either wire — and the
    * aggregate's shuffle rides 8-byte keys. */
  private[graft] def postings(docs: DataFrame,
                              wire: Wire = Wire.Text): DataFrame =
    wire.keyed(docs.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
      .filter(length(col("term")) > 0), "term")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 top-k per query, ranked on the rounded score. Shared by
    * rag_bm25 (k=10) and the sparse leg of rag_hybrid_rrf (k=20). */
  private[operators] def bm25TopK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val post  = postings(Tables.documents(spark, dir))
    // per-doc length and corpus stats, both derived from the postings
    // frame (dl = Σ tf over the doc's terms = token count)
    val dl    = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
                       sum(col("dl")).cast("double").as("sum_dl"))
    bm25From(spark, post, dl, stats, k)
  }

  /** Frame-parameterized BM25 core: `scoredPost` feeds the scored
    * branch (the persisted-index serve passes a TERM-PRUNED view of
    * the clustered postings table so parquet min/max skipping drops
    * files outside the query vocabulary — pruning it never changes
    * scores because only query-term rows survive the terms join
    * anyway); `dl`/`stats` are the doc-length and corpus-stat frames
    * (derived in-query inline, read back from the index when served). */
  private[graft] def bm25From(spark: SparkSession, scoredPost: DataFrame,
                                  dl: DataFrame, stats: DataFrame,
                                  k: Int): DataFrame = {
    import spark.implicits._
    bm25FromTerms(spark, scoredPost, dl, stats, k,
      QueryTerms.toDF("query_id", "term"))
  }

  /** [[bm25From]] with a caller-supplied (query_id, term) frame — the
    * term column's CONTENT is opaque to the scoring tree (it only ever
    * rides equi-joins and never reaches the output), which is what lets
    * the hashed-postings index serve pass xxhash64 keys through the
    * identical core (SearchIndex.bm25Served). */
  private[graft] def bm25FromTerms(spark: SparkSession, scoredPost: DataFrame,
                                   dl: DataFrame, stats: DataFrame,
                                   k: Int, terms: DataFrame): DataFrame = {
    import spark.implicits._
    // document frequency of the query terms only (postings are unique
    // per (doc, term), so count(*) = #docs containing the term)
    val dft = scoredPost
      .join(broadcast(terms.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df_t"))

    // a zero-doc stats row (an index over an empty corpus — reachable
    // through the streaming serve path) has no average length; NULL
    // degrades every score to NULL instead of ANSI-crashing the serve
    val avgdl = col("sum_dl") / nullif(col("n_docs"), lit(0.0))
    // Okapi BM25, k1=1.2 b=0.75; literals written identically in the
    // oracle SQL so both engines execute the same IEEE expression tree
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df_t") + lit(0.5)) / (col("df_t") + lit(0.5)))
    val tfw = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
       lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))

    val scored = scoredPost.join(broadcast(terms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .join(broadcast(dft), Seq("term"))
      .select(col("query_id"), col("doc_id"), (idf * tfw).as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(rnd(sum(col("contrib")), 4).as("score_bm25"))

    val top = graft.plans.TopKPerKey(scored, "query_id", "score_bm25", k,
      tiebreak = Some("doc_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_bm25").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_bm25"))
  }

  /** rag_bm25: Okapi BM25 top-10 per query over the documents corpus. */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25TopK(spark, dir, 10).orderBy(col("query_id"), col("rank"))

  /** Dense leg for the hybrid: cosine top-k per query vector (query
    * ids = the same 1..3 as the term queries; the embedding of doc i
    * is the dense view of the same item). Ranked on the rounded
    * cosine, self excluded — the ann_topk contract. */
  private[graft] def denseTopK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = e.select(col("vec_id").as("doc_id"), col("embedding").as("nv"))
      .crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
              rnd(VectorFunctions.cosine(col("qv"), col("nv")), 4).as("cos_sim"))
    val top = graft.plans.TopKPerKey(scored, "query_id", "cos_sim", k,
      tiebreak = Some("doc_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"))
  }

  /** Indexed dense leg — the 100 TB retrieval shape: candidates come
    * from the PERSISTED IVF-PQ index (AnnIndex.ivfPqCached — built
    * once per corpus fingerprint, served from the codes table: the
    * query probes its nprobe=3 nearest cells from the literal coarse
    * centroids and ADC scores byte codes via the broadcast LUT; the
    * corpus-sized work at query time is ONE scan of the codes table —
    * no training, no encode, no raw-vector touch), then ONLY the ≤80
    * shortlisted vectors are fetched for an exact cosine rerank (the
    * rag_rerank contract:
    * the bounded shortlist broadcasts against the embeddings scan, the
    * corpus never shuffles and is never cross-joined). Contrast
    * denseTopK, which scores EVERY embedding against each query — fine
    * as the oracle baseline, a full-corpus scan per query batch at
    * scale. SearchIndexedSpec locks the no-BroadcastNestedLoopJoin
    * plan and the recall floor vs the brute-force leg. */
  private[graft] def indexedDenseTopK(spark: SparkSession, dir: String,
                                      k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (cbooks, coarse, codes) =
      graft.similarity.AnnIndex.ivfPqCached(spark, dir)
    // Serve ONLY the declared query ids: ivfPqServe derives its query
    // set from the frame it is handed (vec_id < 5), so handing it the
    // pre-filtered 3-query frame skips query 4's probe, LUT, and ADC
    // work — and shrinks the probed-cell IN pushed into the clustered
    // codes scan — instead of computing a fourth query's shortlist and
    // discarding it post-serve (guide §1.2: don't compute what you
    // throw away). Row-identical: each query's candidates bind to its
    // OWN probed cells via the cluster equality, so dropping another
    // query's cells never changes this query's scores.
    val shortlist = graft.similarity.Knn
      .ivfPqServe(e.filter(col("vec_id").isin(1L, 2L, 3L)), 80,
        nprobe = 3, cbooks, coarse, codes)
      .select(col("query_id").as("sl_query"), col("neighbor_id").as("sl_nb"))
    val q = e.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = e.join(broadcast(shortlist), col("vec_id") === col("sl_nb"))
      .join(broadcast(q), col("sl_query") === col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
              rnd(VectorFunctions.cosine(col("qv"), col("embedding")), 4)
                .as("cos_sim"))
    val top = graft.plans.TopKPerKey(scored, "query_id", "cos_sim", k,
      tiebreak = Some("doc_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"))
  }

  /** rag_hybrid_rrf: reciprocal-rank fusion of the BM25 top-20 (sparse)
    * and cosine top-20 (dense) lists per query — score(d) =
    * Σ_lists 1/(60 + rank_list(d)), the standard RRF combiner. The
    * fused frame is ≤40 rows/query by construction, so the final
    * window ranks a bounded frame regardless of corpus size; absent
    * ranks surface as 0 (not NULL) to keep the schema hash-stable. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    rrfFuse(denseTopK(spark, dir, 20), bm25TopK(spark, dir, 20))

  /** rag_hybrid_rrf_indexed: the hybrid entry with its dense leg served
    * from the IVF-PQ index (indexedDenseTopK) instead of the
    * brute-force scan — the production default at 100 TB. Fusion,
    * damping, and output contract are IDENTICAL to rag_hybrid_rrf;
    * only the dense candidate generator changes. Approximate (IVF cell
    * misses + PQ quantization in the shortlist) → rows-only;
    * SearchIndexedSpec pins recall vs the brute-force hybrid. */
  def hybridRrfIndexed(spark: SparkSession, dir: String): DataFrame =
    rrfFuse(indexedDenseTopK(spark, dir, 20),
            SearchIndex.bm25IndexedTopK(spark, dir, 20))

  /** Shared RRF combiner over two bounded rank lists. */
  private def rrfFuse(denseIn: DataFrame, sparseIn: DataFrame): DataFrame = {
    val sparse = sparseIn
      .select(col("query_id"), col("doc_id"), col("rank").as("r_sparse"))
    val dense = denseIn
      .select(col("query_id"), col("doc_id"), col("rank").as("r_dense"))
    val fused = dense.join(sparse, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        rnd(coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_sparse")), lit(0.0)), 6)
          .as("rrf_score"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"),
        coalesce(col("r_sparse"), lit(0L)).as("r_sparse"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
              col("rrf_score"), col("r_dense"), col("r_sparse"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** rag_mmr: Maximal-Marginal-Relevance diversified reranking
    * (Carbonell & Goldstein 1998) — the standard fix for RAG result
    * lists that return five near-copies of the same passage: greedily
    * pick argmax λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s), so
    * each pick balances query relevance against redundancy with what
    * is already chosen.
    *
    * Scale shape: the corpus-sized work is the SAME bounded-heap
    * cosine top-20 as every retrieval leg (TopKPerKey, embeddings
    * never shuffle beyond the per-key heaps); the inherently
    * sequential greedy loop then runs per query over its ≤20
    * candidates inside mapGroups — O(k²·dim) arithmetic on a bounded
    * group, distributed across queries. Rows-only by declared design
    * (the greedy loop is not SQL); SearchStatsSpec plants a
    * near-duplicate pair and pins that MMR demotes it while plain
    * cosine ranking does not. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame =
    mmrOn(spark,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      k = 10, lambda = 0.7)

  private[graft] def mmrOn(spark: SparkSession, e: DataFrame,
                           k: Int, lambda: Double): DataFrame = {
    val q = e.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = e.select(col("vec_id").as("doc_id"), col("embedding").as("nv"))
      .crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
              rnd(VectorFunctions.cosine(col("qv"), col("nv")), 4).as("sim_q"),
              col("nv"))
    val top = graft.plans.TopKPerKey(scored, "query_id", "sim_q", 20,
        tiebreak = Some("doc_id"))
    mmrGreedy(spark, top, k, lambda)
  }

  /** rag_mmr_indexed: MMR with its candidate generator served from the
    * IVF-PQ index — the ≤20 candidates per query come from
    * indexedDenseTopK (cell-pruned ADC shortlist + exact rerank); the
    * candidate vectors for the redundancy term are fetched by
    * broadcasting the BOUNDED candidate list against the embeddings
    * scan (the corpus never cross-joins). The greedy diversification
    * is byte-identical to rag_mmr's. Approximate → rows-only. */
  def mmrIndexed(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cand = indexedDenseTopK(spark, dir, 20)
      .select(col("query_id").as("c_query"), col("doc_id").as("c_doc"))
    val q = e.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val top = e.join(broadcast(cand), col("vec_id") === col("c_doc"))
      .join(broadcast(q), col("c_query") === col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
              rnd(VectorFunctions.cosine(col("qv"), col("embedding")), 4)
                .as("sim_q"),
              col("embedding").as("nv"))
    mmrGreedy(spark, top, k = 10, lambda = 0.7)
  }

  /** The sequential greedy MMR loop over a BOUNDED per-query candidate
    * frame (query_id, doc_id, sim_q, nv) — shared by the brute-force
    * and indexed entries; runs inside mapGroups, O(k²·dim) arithmetic
    * per query. */
  private def mmrGreedy(spark: SparkSession, candFrame: DataFrame,
                        k: Int, lambda: Double): DataFrame = {
    import spark.implicits._
    val top = candFrame
      .select(col("query_id"), col("doc_id"), col("sim_q"), col("nv"))
      .as[(Long, Long, Double, Seq[Float])]
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    top.groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Seq[Float])]) =>
        // deterministic candidate order: sim desc, doc_id asc
        val cands = it.toVector.sortBy(c => (-c._3, c._2))
        val selected = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Double)] // (qid, rank, doc, score)
        val chosen = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Seq[Float])]
        var rank = 1L
        val remaining = scala.collection.mutable.LinkedHashSet(cands: _*)
        while (rank <= k && remaining.nonEmpty) {
          val best = remaining.minBy { c =>
            val red = if (chosen.isEmpty) 0.0
              else chosen.iterator.map(s => cos(c._4, s._2)).max
            val score = lambda * c._3 - (1 - lambda) * red
            (-score, c._2) // max score, ties to lowest doc_id
          }
          val red = if (chosen.isEmpty) 0.0
            else chosen.iterator.map(s => cos(best._4, s._2)).max
          val score = lambda * best._3 - (1 - lambda) * red
          selected += ((qid, rank, best._2,
            math.floor(score * 10000 + 0.5) / 10000))
          chosen += ((best._2, best._4))
          remaining -= best
          rank += 1
        }
        selected.iterator
      }
      .toDF("query_id", "rank", "doc_id", "mmr_score")
      .orderBy(col("query_id"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rag_bm25"               -> (bm25 _),
    "rag_bm25_indexed"       -> ((s, d) => SearchIndex.bm25Indexed(s, d)),
    "rag_bm25_indexed_hashed" -> ((s, d) => SearchIndex.bm25Indexed(s, d, Wire.Hashed)),
    "rag_hybrid_rrf"         -> (hybridRrf _),
    "rag_hybrid_rrf_indexed" -> (hybridRrfIndexed _),
    "rag_mmr"                -> (mmrRerank _),
    "rag_mmr_indexed"        -> (mmrIndexed _))

  private val BaseCtes =
    """WITH q(query_id, term) AS (VALUES
           (1,'spark'), (1,'merge'), (1,'window'),
           (2,'hash'),  (2,'join'),  (2,'customer'),
           (3,'filter'), (3,'scan'), (3,'stream')),
         tok AS (SELECT doc_id,
                        unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
                 FROM documents),
         postings AS (SELECT doc_id, term, count(*) AS tf
                      FROM tok WHERE term <> '' GROUP BY doc_id, term),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY doc_id),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                          CAST(sum(dl) AS DOUBLE) AS sum_dl FROM dl),
         dft AS (SELECT term, count(*) AS df_t FROM postings
                 WHERE term IN (SELECT DISTINCT term FROM q)
                 GROUP BY term),
         contrib AS (
           SELECT qq.query_id, p.doc_id,
                  ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5)) *
                  ((CAST(p.tf AS DOUBLE) * 2.2) /
                   (CAST(p.tf AS DOUBLE) +
                    1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE)
                                  / (s.sum_dl / nullif(s.n_docs, 0))))) AS c
           FROM postings p
           JOIN q qq ON qq.term = p.term
           JOIN dl l ON l.doc_id = p.doc_id
           JOIN dft d ON d.term = p.term
           CROSS JOIN stats s),
         bm25 AS (SELECT query_id, doc_id,
                         floor(sum(c) * 10000 + 0.5) / 10000 AS score_bm25
                  FROM contrib GROUP BY query_id, doc_id),
         bm25r AS (SELECT query_id, doc_id, score_bm25,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY score_bm25 DESC, doc_id) AS rank
                   FROM bm25)"""

  val oracles: Map[String, String] = Map(
    "rag_bm25" -> (BaseCtes +
      """
         SELECT CAST(query_id AS BIGINT) AS query_id,
                CAST(rank AS BIGINT) AS rank, doc_id, score_bm25
         FROM bm25r WHERE rank <= 10
         ORDER BY query_id, rank"""),
    // the indexed serves are score-identical to the inline form (same
    // postings content, same expression tree; the hashed index's term
    // keys only ride equi-joins — identical rows absent an xxhash64
    // vocabulary collision, nil at test SF) — same oracle
    "rag_bm25_indexed" -> (BaseCtes +
      """
         SELECT CAST(query_id AS BIGINT) AS query_id,
                CAST(rank AS BIGINT) AS rank, doc_id, score_bm25
         FROM bm25r WHERE rank <= 10
         ORDER BY query_id, rank"""),
    "rag_bm25_indexed_hashed" -> (BaseCtes +
      """
         SELECT CAST(query_id AS BIGINT) AS query_id,
                CAST(rank AS BIGINT) AS rank, doc_id, score_bm25
         FROM bm25r WHERE rank <= 10
         ORDER BY query_id, rank"""),
    "rag_hybrid_rrf" -> (BaseCtes +
      """,
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         dq AS (SELECT vec_id AS query_id, v AS qv FROM e
                WHERE vec_id IN (1, 2, 3)),
         dscored AS (
           SELECT dq.query_id, e.vec_id AS doc_id,
                  floor((list_dot_product(dq.qv, e.v) /
                         (sqrt(list_dot_product(dq.qv, dq.qv)) *
                          sqrt(list_dot_product(e.v, e.v)))) * 10000 + 0.5)
                    / 10000 AS cos_sim
           FROM dq JOIN e ON e.vec_id <> dq.query_id),
         dr AS (SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, doc_id) AS r_dense
                FROM dscored),
         sparse AS (SELECT query_id, doc_id, rank AS r_sparse
                    FROM bm25r WHERE rank <= 20),
         dense AS (SELECT query_id, doc_id, r_dense FROM dr
                   WHERE r_dense <= 20),
         fused AS (
           SELECT coalesce(d.query_id, s.query_id) AS query_id,
                  coalesce(d.doc_id, s.doc_id) AS doc_id,
                  floor((coalesce(CAST(1 AS DOUBLE) / (60 + d.r_dense), 0.0) +
                         coalesce(CAST(1 AS DOUBLE) / (60 + s.r_sparse), 0.0))
                        * 1000000 + 0.5) / 1000000 AS rrf_score,
                  coalesce(d.r_dense, 0) AS r_dense,
                  coalesce(s.r_sparse, 0) AS r_sparse
           FROM dense d
           FULL OUTER JOIN sparse s
             ON s.query_id = d.query_id AND s.doc_id = d.doc_id),
         fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf_score DESC, doc_id) AS rank
                FROM fused)
         SELECT CAST(query_id AS BIGINT) AS query_id,
                CAST(rank AS BIGINT) AS rank, doc_id, rrf_score,
                CAST(r_dense AS BIGINT) AS r_dense,
                CAST(r_sparse AS BIGINT) AS r_sparse
         FROM fr WHERE rank <= 10
         ORDER BY query_id, rank"""))
}
