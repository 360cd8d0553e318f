package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Num.rnd
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * Two paths per SURVEY §2.8: exact brute-force cosine top-k (the
  * correctness baseline, oracle-checked) and random-hyperplane LSH
  * bucketing (the scale path, approximate → rows-only). All vector math
  * runs through the native codegen'd DotProduct expression.
  *
  * Scale notes: brute force broadcasts the (small) query set against the
  * corpus — a map-side cross product; only the per-query top-k survives
  * the window. The LSH path buckets the corpus map-only (16 fixed
  * hyperplanes → 16-bit signature), so candidate generation touches only
  * same-bucket rows — each bucket's cross join is bounded.
  */
object Knn {

  /** The standing query set (vec_id < 5) — ONE definition shared by
    * every search path and its LUT/shortlist/rerank stages, so widening
    * the query set cannot silently desynchronize a two-stage pipeline
    * (a shortlist for queries a later stage does not know about would
    * be dropped without error). */
  private def isQuery: Column = col("vec_id") < 5

  /** Brute-force cosine top-10 for query vectors (vec_id < 5). */
  def topK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cand = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    cand.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_raw", VectorFunctions.cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"),
              rnd(col("cos_raw"), 4).as("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Bounded-heap final ranking shared by every cosine search path:
    * TopKPerKey (map-side partial heaps, ≤k rows/key/partition on the
    * wire — see plans/TopKPerKey.scala) picks the per-query top-k; the
    * rank column is then a window over the k×|queries| SURVIVORS, a
    * bounded frame regardless of corpus/cell size. The alternative —
    * `row_number().over(partitionBy(query_id))` on the raw candidate
    * set — funnels a whole cell's candidates (~N/K rows at 100 TB)
    * into one task's sort. */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val top = graft.plans.TopKPerKey(scored, "query_id", "cos_raw", k,
      tiebreak = Some("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("neighbor_id"),
              rnd(col("cos_raw"), 4).as("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Brute-force top-10 routed through the custom TopKPerKey operator
    * (graft.plans) instead of the window formulation: per-key bounded
    * heaps, no per-key sort — the shape that survives hot keys at
    * 100 TB. Output contract (and oracle) identical to ann_topk. */
  def topKOperator(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cand = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
    val scored = cand.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              VectorFunctions.cosine(col("qv"), col("nv")).as("cos_raw"))
    rankTopK(scored, 10)
  }

  /** RAG retrieval end-to-end: ANN top-5 per query vector (through the
    * custom TopKPerKey operator — bounded per-key heaps with the
    * map-side partial pass) joined back to `documents` for the metadata
    * and snippet a retrieval consumer actually reads. The retrieved set
    * is bounded (k × |queries|), so the fetch broadcasts IT against the
    * doc table — documents never shuffle, one scan regardless of corpus
    * size (and at 100 TB the broadcast keys are exactly what a runtime
    * bloom filter / point-lookup index would prune the scan with; see
    * RuntimeFilterSpec). Embedding ids and doc ids share the key space
    * by construction of the corpus. */
  def retrieve(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cand = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
    val scored = cand.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              VectorFunctions.cosine(col("qv"), col("nv")).as("cos_raw"))
    val top = graft.plans.TopKPerKey(scored, "query_id", "cos_raw", 5,
      tiebreak = Some("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    val hits = top.withColumn("rank", row_number().over(w).cast("long"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
              substring(col("text"), 1, 40).as("snippet"))
      .join(broadcast(hits), col("doc_id") === col("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("lang"),
              col("source"), col("snippet"), rnd(col("cos_raw"), 4).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Two-stage retrieval — the production ANN serving shape: a cheap
    * approximate SHORTLIST (PQ/ADC, 25 candidates per query scored
    * from byte codes without touching raw vectors) followed by an
    * exact cosine RERANK of only those candidates. Rerank cost is
    * O(25·|queries|) full-precision dot products regardless of corpus
    * size; recall is the shortlist's, precision-of-ordering is exact —
    * selecting by true cosine from the shortlist is the best any
    * 5-subset of it can do (RerankSpec asserts the dominance over
    * raw ADC ordering and score-exactness vs brute force).
    *
    * Scale: the bounded shortlist BROADCASTS against the embeddings
    * scan for the vector fetch (the corpus never shuffles), the query
    * vectors broadcast likewise, and the final ranking is the
    * bounded-heap TopKPerKey pass. Approximate (shortlist misses) →
    * rows-only. */
  def rerank(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val shortlist = pqTopK(spark, e, 25)
      .select(col("query_id").as("sl_query"), col("neighbor_id").as("sl_nb"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = e
      .join(broadcast(shortlist), col("vec_id") === col("sl_nb"))
      .join(broadcast(q), col("sl_query") === col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              VectorFunctions.cosine(col("qv"), col("embedding")).as("cos_raw"))
    rankTopK(scored, 5)
  }

  /** Random-hyperplane LSH: 16-bit signatures (one band of 16 planes
    * from the shared graft.functions.expressions.HyperplaneFamily —
    * deterministic across runs/sessions and shared with
    * dedup.Dedup.embedCosineLsh so blockers agree), top intra-bucket
    * pairs. The signature is one codegen'd HyperplaneBands kernel, not
    * 16 plane-literal dot columns. Approximate → rows-only check. */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val bucketed = e.withColumn("bucket",
      element_at(VectorFunctions.hyperplaneBands(col("embedding"), 1, 16), 1))
    val l = bucketed.select(col("bucket"), col("vec_id").as("id_a"),
                            col("embedding").as("va"))
    val r = bucketed.select(col("bucket"), col("vec_id").as("id_b"),
                            col("embedding").as("vb"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("bucket"), col("id_a"), col("id_b"),
              rnd(VectorFunctions.cosine(col("va"), col("vb")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
      .limit(100)
  }

  /** Nearest-centroid assignment for every corpus vector. The expanded
    * corpus × codebook product is reduced by `max_by` over a
    * `groupBy(vec_id)` — a hash aggregate with MAP-SIDE PARTIAL
    * COMBINE, so the shuffle carries one (best-so-far) row per vector
    * per partition, never the expanded product; a rank-1
    * `row_number().over(partitionBy(vec_id))` window would shuffle and
    * sort the full product. Ties on cent_sim break to the lowest
    * cent_id (max_by on a (sim, -cent_id) struct — lexicographic). */
  private def assignToCentroids(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("cent_sim", VectorFunctions.cosine(col("embedding"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cent_id"),
               struct(col("cent_sim"), -col("cent_id"))).as("cent_id"),
        first(col("embedding")).as("embedding"))

  /** IVF-style ANN: assign every vector to its nearest coarse centroid
    * (deterministic subsample as the codebook), then search only within
    * the query's cell. Approximate (cell-boundary misses) → rows-only;
    * IvfAssignmentSpec proves the max_by assignment ≡ the rank-1-window
    * formulation. Scale: the codebook broadcasts; assignment is
    * map-side-combined (see assignToCentroids) and — because both the
    * query side and the candidate side consume it — materialized ONCE
    * via a LAZY localCheckpoint (Catalyst doesn't reuse exchanges
    * across aliased branches; without the shared materialization the
    * whole corpus×codebook pipeline would run twice). Not cache():
    * cache registers the plan in the session CacheManager, where a
    * later identical query — e.g. a bench re-run — would silently
    * measure cached scans instead of the pipeline. The lazy checkpoint
    * runs no job at plan build, materializes on first action, is
    * shared by both branches of THIS query, and is private to this
    * DataFrame. The search join then touches one cell per query
    * instead of the corpus, and the final ranking is the bounded-heap
    * TopKPerKey pass (rankTopK) — a cell holds ~N/K vectors at 100 TB,
    * far too many for a single task's window sort. */
  def ivf(spark: SparkSession, dir: String): DataFrame =
    rankTopK(ivfScored(spark, dir), 5)

  /** The scored in-cell candidate set behind `ivf` (shared with
    * IvfAssignmentSpec's ranking-parity test). */
  private[graft] def ivfScored(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val assigned = assignToCentroids(e, cents).localCheckpoint(false)
    val q = assigned.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
              col("cent_id").as("q_cent"))
    val cand = assigned.select(col("cent_id"), col("vec_id").as("neighbor_id"),
                               col("embedding").as("nv"))
    cand.join(broadcast(q), col("cent_id") === col("q_cent") &&
                            col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              VectorFunctions.cosine(col("qv"), col("nv")).as("cos_raw"))
  }

  /** Window-ranked formulation of the final top-k — kept only as the
    * parity reference for IvfAssignmentSpec (it sorts a whole cell's
    * candidates in one task; rankTopK is the production shape). */
  private[graft] def rankViaWindow(scored: DataFrame, k: Int): DataFrame = {
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(byQuery).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
              rnd(col("cos_raw"), 4).as("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF with multi-cell probing: each query searches its `nprobe`
    * nearest cells instead of one, the standard recall knob (cell
    * boundaries are where nprobe=1 misses live). The query-side cell
    * selection routes through the custom TopKPerKey operator — bounded
    * per-key heaps over the query×codebook scores — and the corpus
    * assignment is the same lazily-checkpointed max_by pass as `ivf`.
    * Approximate → rows-only; IvfAssignmentSpec asserts probing
    * monotonicity (recall vs exact top-k never drops when nprobe
    * grows, because the candidate set only widens). */
  def ivfProbes(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val assigned = assignToCentroids(e, cents).localCheckpoint(false)
    val qScores = e.filter(isQuery)
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
              col("cent_id").as("q_cent"),
              VectorFunctions.cosine(col("embedding"), col("cv")).as("cent_sim"))
    val probes = graft.plans.TopKPerKey(qScores, "query_id", "cent_sim",
      nprobe, tiebreak = Some("q_cent"))
    val cand = assigned.select(col("cent_id"), col("vec_id").as("neighbor_id"),
                               col("embedding").as("nv"))
    val scored = cand.join(broadcast(probes), col("cent_id") === col("q_cent") &&
                                              col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              VectorFunctions.cosine(col("qv"), col("nv")).as("cos_raw"))
    rankTopK(scored, 5)
  }

  /** Product-quantization ANN (PQ-lite with asymmetric distance
    * computation) — the memory-compression scale path: each 64-dim
    * float vector (256 bytes) is encoded as M=4 one-byte codes, so at
    * 100 TB the search structure is ~64× smaller than the raw
    * embeddings and candidates are scored WITHOUT ever touching their
    * vectors again.
    *
    * Codebook: per subspace (16 dims), K=16 codewords taken as slices
    * of a deterministic id-sampled subset (honest PQ-lite — k-means
    * training is out of scope and documented as such; the operator
    * contract is the encode/ADC plumbing). The trained codebook is a
    * BOUNDED MODEL PARAMETER (M×K subvectors, ~1 KB independent of
    * corpus size), so it is collected once and inlined as literals —
    * which makes the encode a pure map: each (vector, subspace) row
    * picks its codeword via a codegen'd argmax (array_max over K
    * (score, -cw) structs). No join, no aggregate, no shuffle — at
    * 100 TB the encode is a scan. The groupBy+max_by alternative plans
    * a SortAggregate over the N×M×K expanded product.
    *
    * Query time (ADC): each query precomputes its M×K lookup table of
    * subspace dot products (tiny, broadcast); a candidate's approximate
    * score is the sum of M LUT entries selected by its codes — a join
    * on (m, code) + a map-side-combined hash sum, then the custom
    * TopKPerKey bounded-heap operator. Approximates dot(q, x̂) where x̂
    * is the reconstruction; a planted exact duplicate of q attains the
    * maximum possible ADC score (per-subspace argmax == per-subspace
    * max), which PqSpec asserts. Approximate by design → rows-only. */
  def pqTopK(spark: SparkSession, e: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val M = 4; val subDim = 16; val K = 16
    // "Training": the codebook is a bounded model parameter — M×K
    // subvectors, ~1 KB regardless of corpus size — so it is fit once
    // and collected to the driver like any trained model, then inlined
    // as literals. This is NOT a driver-side data loop: the collect is
    // O(K) on an id-sampled sort-limit, and everything downstream is a
    // pure map over the corpus.
    val sampled: Array[Seq[Float]] = e.filter(col("vec_id") % 29 === 0)
      .orderBy(col("vec_id")).limit(K)
      .select(col("embedding")).as[Seq[Float]].collect()
    require(sampled.nonEmpty, "PQ codebook sample is empty")
    pqSearch(e, k, (0 until M).map { m =>
      sampled.toIndexedSeq.map(v =>
        v.slice(m * subDim, (m + 1) * subDim).map(_.toDouble).toArray)
    })
  }

  /** PQ search against an explicit per-subspace codebook —
    * cbooks(m)(cw) is the cw-th codeword of subspace m (see pqTopK for
    * the sampled codebook, pqTrained for the k-means one; both inline
    * the bounded model as literals). When `cells` is given
    * ((vec_id, cluster) from a coarse quantizer), candidates score
    * ONLY inside the query's cell — the IVF-PQ composition: the ADC
    * join picks up a cluster equality, so the candidate set shrinks
    * from the corpus to ~N/K_coarse before any scoring work. */
  private def pqSearch(e: DataFrame, k: Int,
      cbooks: IndexedSeq[IndexedSeq[Array[Double]]],
      cells: Option[DataFrame] = None,
      probes: Option[DataFrame] = None): DataFrame = {
    val codes0 = pqEncode(e, cbooks)
    val codes = cells.map(cf => codes0.join(cf, Seq("vec_id")))
      .getOrElse(codes0)
    // Query-side cell scope: either the query's own cell (1 row) or —
    // multi-probe — its nprobe nearest cells (see adcRank for the
    // no-double-count argument).
    val qCells = cells.map { cf =>
      probes.getOrElse(
        cf.select(col("vec_id").as("query_id"),
                  col("cluster").as("q_cluster")))
    }
    adcRank(codes, e, k, cbooks, qCells)
  }

  /** Corpus encode: one row per (vector, subspace); the best codeword
    * is a codegen'd argmax — array_max over K (score, -cw) structs
    * built from literal codewords. No join, no aggregate, NO SHUFFLE:
    * at 100 TB the encode is a scan (contrast: a groupBy(vec_id, m)
    * max_by plans a SortAggregate over the N×M×K expanded product).
    * In production this output IS the persisted index payload
    * (AnnIndex.ivfPqCached writes it once per corpus). */
  private[graft] def pqEncode(e: DataFrame,
      cbooks: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    val M = cbooks.length
    val subDim = cbooks.head.head.length
    val codebook: IndexedSeq[IndexedSeq[Column]] =
      cbooks.map(_.map(v => typedlit(v.toSeq)))
    def sub(v: Column, m: Int): Column = slice(v, m * subDim + 1, subDim)
    def bestCode(sv: Column, m: Int): Column =
      -array_max(array(codebook(m).zipWithIndex.map { case (cv, i) =>
        struct(VectorFunctions.dot(sv, cv).as("d"),
               lit(-(i + 1)).as("negcw"))
      }: _*)).getField("negcw")
    e.select(col("vec_id"), explode(array((0 until M).map { m =>
        struct(lit(m).as("m"),
               bestCode(sub(col("embedding"), m), m).as("code"))
      }: _*)).as("mc"))
      .select(col("vec_id"), col("mc.m").as("m"), col("mc.code").as("code"))
  }

  /** Query-time ADC over an already-encoded candidate frame `codes`
    * ((vec_id, m, code) plus `cluster` iff `qCells` is given) — the
    * serving half of every PQ path, shared by the inline entries and
    * the persisted-index path: each query precomputes its M×K LUT of
    * subspace dot products (tiny, broadcast), a candidate's score is
    * the hash-summed LUT entries selected by its codes, and the final
    * ranking is the TopKPerKey bounded heap. With multi-probe qCells
    * the LUT replicates per probed cell, but the join's cluster
    * equality lets a candidate match ONLY the replica of its own cell,
    * so scores are never double-counted. */
  private[graft] def adcRank(codes: DataFrame,
      e: DataFrame, k: Int,
      cbooks: IndexedSeq[IndexedSeq[Array[Double]]],
      qCells: Option[DataFrame]): DataFrame = {
    val M = cbooks.length
    val subDim = cbooks.head.head.length
    val codebook: IndexedSeq[IndexedSeq[Column]] =
      cbooks.map(_.map(v => typedlit(v.toSeq)))
    def sub(v: Column, m: Int): Column = slice(v, m * subDim + 1, subDim)
    // Query LUT: every (subspace, codeword) dot product per query —
    // M×K tiny rows per query, broadcast.
    val lut0 = e.filter(isQuery)
      .select(col("vec_id").as("query_id"),
        explode(array((for { m <- 0 until M; i <- cbooks.head.indices } yield
          struct(lit(m).as("m"), lit(i + 1).as("cw"),
                 VectorFunctions.dot(sub(col("embedding"), m), codebook(m)(i))
                   .as("contrib"))): _*)).as("x"))
      .select(col("query_id"), col("x.m").as("m"), col("x.cw").as("cw"),
              col("x.contrib").as("contrib"))
    val lut = qCells.map(qc => lut0.join(qc, Seq("query_id")))
      .getOrElse(lut0)
    val scored = codes.join(broadcast(lut),
        codes("m") === lut("m") && col("code") === col("cw") &&
        col("vec_id") =!= col("query_id") &&
        (if (qCells.isDefined) col("cluster") === col("q_cluster")
         else lit(true)))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("contrib")).as("adc_raw"))
    val top = graft.plans.TopKPerKey(scored, "query_id", "adc_raw", k,
      tiebreak = Some("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_raw").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("neighbor_id"),
              rnd(col("adc_raw"), 4).as("adc_score"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ SERVING against a persisted index (AnnIndex.ivfPqCached):
    * the corpus-side work is a scan of the (vec_id, cluster, m, code)
    * codes table — no training, no encode, no raw-vector touch; the
    * query side probes its nprobe nearest cells from the literal
    * coarse centroids and ADC-ranks through the broadcast LUT. This is
    * the query-time cost profile a production ANN deployment actually
    * has (the index is built offline, once per corpus). */
  private[graft] def ivfPqServe(e: DataFrame, k: Int,
      nprobe: Int, cbooks: IndexedSeq[IndexedSeq[Array[Double]]],
      coarse: IndexedSeq[Array[Double]], codes: DataFrame): DataFrame = {
    val probes = probeClusters(e.filter(isQuery), coarse, nprobe)
    // The probed cell set is a bounded model-sized value (≤ |queries| ×
    // nprobe ids), so it is collected and pushed as a LITERAL IN filter
    // on the codes scan: the codes table is range-clustered on
    // `cluster` (AnnIndex), so parquet min/max skipping drops every
    // file outside the probed cells — at 100 TB the serve reads
    // ~nprobe/K_coarse of the index instead of all of it. (The join's
    // cluster equality alone cannot prune the scan — it is a join
    // condition, not a pushable predicate.)
    val probedCells = probes.select(col("q_cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    val prunedCodes =
      codes.filter(col("cluster").isin(probedCells.map(Integer.valueOf): _*))
    adcRank(prunedCodes, e, k, cbooks, Some(probes))
  }

  /** PQ/ADC top-10 over the embeddings table (see pqTopK). */
  def pq(spark: SparkSession, dir: String): DataFrame =
    pqTopK(spark,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), 10)

  /** PQ over TRAINED per-subspace codebooks — closing pqTopK's
    * documented "codebook is an honest sample" gap the same way
    * ann_ivf_trained does for IVF: each of the M=4 subspaces runs its
    * own Lloyd's k-means (similarity.KMeans, K=16, ≤3 rounds) over the
    * SLICED training sample.
    * Trained centroids quantize their subspace with lower distortion
    * than raw sample slices, so ADC scores track true dot products
    * more closely — PqSpec extends the planted-duplicate maximum
    * invariant to this path. The search is the same literal-codebook
    * pure-map encode + broadcast-LUT ADC as pqTopK. */
  def pqTrained(spark: SparkSession, dir: String): DataFrame = {
    val M = 4; val subDim = 16; val K = 16
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    pqTrainedOn(e, M, subDim, K, 10)
  }

  /** Frame-level trained-PQ core (shared with PqSpec's planted run).
    * ONE training sample (KMeans.sample: one Spark job, every row under
    * the cap, an md5 sample past it) feeds the M subspace fits, which
    * run in memory one after another on its slices; the search
    * (encode + ADC) runs over the full frame. */
  private[graft] def pqTrainedOn(e: DataFrame, M: Int,
      subDim: Int, K: Int, k: Int): DataFrame = {
    val train = KMeans.sample(e)
    val cbooks = (0 until M).map { m =>
      KMeans.fit(train.slice(m * subDim, (m + 1) * subDim), K, 3)._1
    }
    pqSearch(e, k, cbooks)
  }

  /** Residual (two-level / multi-codebook) quantization — the
    * refinement ladder over PQ: level 1 picks the nearest full-dim
    * codeword, level 2 encodes the RESIDUAL x − c1 with a second
    * codebook, so the reconstruction is c1 + c2 and the error is
    * monotonically ≤ the one-level error (codebook 2 contains the zero
    * vector, so "refine by nothing" is always available — RqSpec
    * asserts the monotone-improvement contract on real embeddings).
    *
    * Both codebooks are BOUNDED MODEL PARAMETERS (K=16 vectors each,
    * ~4 KB total independent of corpus size): fit on a deterministic
    * id-strided sample, collected once, inlined as literals. The
    * level-2 assignment never materializes the residual array —
    * argmin‖(x−c1)−c2‖² expands to argmax(dot(x,c2) − dot(c1,c2) −
    * ‖c2‖²/2) where dot(c1,c2) is a LITERAL K1×K2 table looked up by
    * code1 — so the whole encode is a pure map (two codegen'd argmax
    * chains per row, no join/agg/shuffle; at 100 TB it is a scan).
    *
    * Query time mirrors PQ's ADC: score(q, x̂) = dot(q,c1) + dot(q,c2)
    * = two LUT entries, joined on (level, code) and hash-summed, then
    * the TopKPerKey bounded heap. Approximate by design → rows-only. */
  private[graft] def fitRq(e: DataFrame)
      : (IndexedSeq[Array[Float]], IndexedSeq[Array[Float]]) = {
    import e.sparkSession.implicits._
    val K1 = 16; val K2 = 16
    def sub(a: Array[Float], b: Array[Float]): Array[Float] =
      a.zip(b).map { case (x, y) => x - y }
    def dotA(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val c1 = e.filter(col("vec_id") % 29 === 0).orderBy(col("vec_id"))
      .limit(K1).select(col("embedding")).as[Seq[Float]].collect()
      .map(_.toArray)
    require(c1.nonEmpty, "RQ level-1 codebook sample is empty")
    // Level-2 training sample on a different stride; its residuals
    // against the nearest level-1 codeword become the codewords of
    // codebook 2. O(K1·K2·dim) driver flops on ~4 KB of model data —
    // model fitting, not a data loop.
    val resids = e.filter(col("vec_id") % 31 === 0)
      .orderBy(col("vec_id").desc).limit(K2 - 1)
      .select(col("embedding")).as[Seq[Float]].collect().map(_.toArray)
      .map(x => sub(x, c1.minBy(c => dotA(sub(x, c), sub(x, c)))))
    val zero = Array.fill(c1.head.length)(0.0f)
    (c1.toIndexedSeq, (zero +: resids).toIndexedSeq)
  }

  /** Map-only two-level encode: (vec_id, code1, code2, err1, err2) with
    * codes 1-based into the literal codebooks and errN = ‖x − x̂N‖²
    * after N levels (the errs exist for the spec's monotonicity check;
    * ADC consumers drop them). */
  private[graft] def rqEncode(e: DataFrame, c1: IndexedSeq[Array[Float]],
                              c2: IndexedSeq[Array[Float]]): DataFrame = {
    def sqn(v: Array[Float]): Double = v.map(x => x.toDouble * x).sum
    def cwLit(cb: IndexedSeq[Array[Float]]): IndexedSeq[Column] =
      cb.map(v => typedlit(v.toSeq))
    val cross: Seq[Seq[Double]] =
      c1.map(a => c2.map(b => a.zip(b).map { case (x, y) =>
        x.toDouble * y }.sum).toSeq).toSeq
    val crossLit = typedlit(cross)
    val v = col("embedding")
    def argmax(scores: IndexedSeq[Column]): Column =
      -array_max(array(scores.zipWithIndex.map { case (s, i) =>
        struct(s.as("s"), lit(-(i + 1)).as("negi"))
      }: _*)).getField("negi")
    val code1 = argmax(c1.indices.map { j =>
      VectorFunctions.dot(v, cwLit(c1)(j)) - lit(sqn(c1(j)) / 2)
    })
    // argmin‖(x−c1)−c2_i‖² without materializing the residual: the
    // dot(c1, c2_i) correction is a literal table lookup by code1.
    def code2(code1Col: Column): Column = argmax(c2.indices.map { i =>
      VectorFunctions.dot(v, cwLit(c2)(i)) -
        element_at(element_at(crossLit, code1Col), i + 1) -
        lit(sqn(c2(i)) / 2)
    })
    val sq1Lit = typedlit(c1.map(sqn).toSeq)
    val sq2Lit = typedlit(c2.map(sqn).toSeq)
    val xx = VectorFunctions.dot(v, v)
    e.select(col("vec_id"), v, xx.as("xx"), code1.as("code1"))
      .select(col("vec_id"), v, col("xx"), col("code1"),
              code2(col("code1")).as("code2"))
      .select(col("vec_id"), col("code1"), col("code2"),
        (col("xx") -
          lit(2.0) * VectorFunctions.dot(v, element_at(
            typedlit(c1.map(_.toSeq)), col("code1"))) +
          element_at(sq1Lit, col("code1"))).as("err1"),
        col("xx"), v)
      .select(col("vec_id"), col("code1"), col("code2"), col("err1"),
        (col("err1") -
          lit(2.0) * VectorFunctions.dot(v, element_at(
            typedlit(c2.map(_.toSeq)), col("code2"))) +
          lit(2.0) * element_at(element_at(crossLit, col("code1")),
                                col("code2")) +
          element_at(sq2Lit, col("code2"))).as("err2"))
  }

  /** RQ/ADC top-k: candidates carry only their two byte codes; a
    * query's score against a candidate is two broadcast-LUT lookups
    * hash-summed, then the TopKPerKey bounded heap. */
  def rqTopK(e: DataFrame, k: Int): DataFrame = {
    val (c1, c2) = fitRq(e)
    rqSearch(e, k, c1, c2)
  }

  /** RQ search against explicit level-1/level-2 codebooks (see rqTopK
    * for the sampled fit, rqTrained for the k-means one). */
  private def rqSearch(e: DataFrame, k: Int,
      c1: IndexedSeq[Array[Float]], c2: IndexedSeq[Array[Float]]): DataFrame = {
    val candCodes = rqEncode(e, c1, c2)
      .select(col("vec_id"), explode(array(
        struct(lit(1).as("level"), col("code1").as("code")),
        struct(lit(2).as("level"), col("code2").as("code")))).as("lc"))
      .select(col("vec_id"), col("lc.level").as("level"),
              col("lc.code").as("code"))
    val lut = e.filter(isQuery)
      .select(col("vec_id").as("query_id"),
        explode(array((for {
          (cb, level) <- Seq((c1, 1), (c2, 2))
          i <- cb.indices
        } yield struct(lit(level).as("level"), lit(i + 1).as("cw"),
          VectorFunctions.dot(col("embedding"), typedlit(cb(i).toSeq))
            .as("contrib"))): _*)).as("x"))
      .select(col("query_id"), col("x.level").as("l_level"),
              col("x.cw").as("cw"), col("x.contrib").as("contrib"))
    val scored = candCodes.join(broadcast(lut),
        col("level") === col("l_level") && col("code") === col("cw") &&
        col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("contrib")).as("rq_raw"))
    val top = graft.plans.TopKPerKey(scored, "query_id", "rq_raw", k,
      tiebreak = Some("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rq_raw").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("neighbor_id"),
              rnd(col("rq_raw"), 4).as("rq_score"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** RQ over TRAINED codebooks — the §7 refinement of rq's honest
    * samples, mirroring ann_pq_trained: level 1 is a Lloyd's fit over
    * the raw embeddings; level 2 trains on the ACTUAL corpus residuals
    * (x − c1[assign(x)]) — the level-2 trainer sees the residual of
    * every training vector (the full corpus up to KMeans.TrainCap; a
    * deterministic sample past it — the Faiss train() contract), not a
    * 15-row sample. Codeword 1 of the trained level-2 book is pinned to
    * the zero vector, so "refine by nothing" stays available and the
    * per-vector monotone guarantee err2 ≤ err1 survives training
    * (RqSpec asserts it, plus that training beats the sampled residual
    * codebook on corpus distortion). Search is the same two-LUT ADC as
    * rq. */
  def rqTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (c1, c2) = fitRqTrained(e)
    rqSearch(e, 10, c1, c2)
  }

  /** Trained RQ codebooks (shared with RqSpec). Both levels train on
    * ONE training sample (KMeans.sample — the Faiss train() contract:
    * every vector up to the cap, a deterministic md5 sample past it);
    * the level-2 residuals x − c1[assign(x)] are computed in memory
    * from it, in double, as a zip_with against the literal level-1
    * centroids would. The search (encode + two-LUT ADC) runs over the
    * full frame. */
  private[graft] def fitRqTrained(e: DataFrame)
      : (IndexedSeq[Array[Float]], IndexedSeq[Array[Float]]) = {
    // 2 Lloyd rounds per level: the distortion win over the sampled
    // codebook comes almost entirely from seeing every residual, and
    // the two fits are sequential (level 2 needs level 1's assignment)
    val K1 = 16; val K2 = 16
    val train = KMeans.sample(e)
    val c1d = KMeans.fit(train, K1, 2)._1
    val (cluster, _) = KMeans.nearest(train.vecs, c1d)
    val resid = train.copy(vecs = train.vecs.zip(cluster).map {
      case (v, 0) => v // null or empty: contributes nothing
      case (v, c) => Array.tabulate(v.length)(p => v(p) - c1d(c - 1)(p))
    })
    val c2d = KMeans.fit(resid, K2, 2)._1
    val zero = Array.fill(c1d.head.length)(0.0f)
    (c1d.map(_.map(_.toFloat)).toIndexedSeq,
     (zero +: c2d.take(K2 - 1).map(_.map(_.toFloat))).toIndexedSeq)
  }

  /** RQ/ADC top-10 over the embeddings table (see rqTopK). */
  def rq(spark: SparkSession, dir: String): DataFrame =
    rqTopK(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), 10)

  /** IVF-PQ — the composition production ANN indexes actually ship
    * (Faiss IndexIVFPQ, non-residual variant): a TRAINED coarse
    * k-means quantizer partitions the corpus into cells, and within
    * the query's cell candidates are scored from PQ codes via the
    * broadcast ADC LUT — compressed storage AND a candidate set
    * bounded at ~N/K_coarse, where flat PQ still touches every code.
    * Both models are bounded literals, so the cell assignment and the
    * PQ encode are PURE MAPS (scan-only at 100 TB; the cell equality
    * rides the existing ADC join — no extra shuffle). Approximate
    * (cell-boundary misses + quantization) → rows-only; PqSpec extends
    * the planted-duplicate maximum invariant to this path (an exact
    * duplicate lands in the query's cell by argmin determinism and
    * must win its ADC). */
  def ivfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPqOn(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), 10)

  /** IVF-PQ + exact REFINE — Faiss's IndexRefineFlat pattern, the
    * production default when raw vectors are retrievable: the PERSISTED
    * IVF-PQ index (AnnIndex.ivfPqCached, same cache the indexed-RAG
    * entries serve from) proposes C=50 candidates per query via
    * cell-pruned ADC — quantized scores, no raw-vector touch — then
    * ONLY those |Q|×C candidate ids join back to the raw embedding
    * table for exact cosine and the usual bounded-heap top-k. Recall
    * lost to quantization is recovered at a candidate-bounded cost:
    * the refine join is an equi join on vec_id over C rows per query,
    * so at 100 TB the raw-vector side is driven by a tiny build side
    * (broadcast/DPP), never a full-corpus rescore. Approximate (the
    * proposal stage can still miss a neighbor in an unprobed cell) →
    * rows-only; KnnRefineSpec proves recall@10 ≥ the unrefined serve's
    * on the same index and that surviving scores are the exact
    * cosines. */
  def ivfPqRefined(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val (cbooks, coarse, codes) = AnnIndex.ivfPqCached(spark, dir)
    val cands = ivfPqServe(e, 50, 3, cbooks, coarse, codes)
      .select(col("query_id"), col("neighbor_id"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
    val scored = cands
      .join(n, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos_raw", VectorFunctions.cosine(col("qv"), col("nv")))
      .select(col("query_id"), col("neighbor_id"), col("cos_raw"))
    rankTopK(scored, 10)
  }

  private[graft] def ivfPqOn(e: DataFrame, k: Int,
                             nprobe: Int = 1): DataFrame = {
    val (cbooks, coarse) = ivfPqFit(e)
    val cells = KMeans.assign(e, coarse).select(col("vec_id"), col("cluster"))
    val probes = if (nprobe <= 1) None
      else Some(probeClusters(e.filter(isQuery), coarse, nprobe))
    pqSearch(e, k, cbooks, cells = Some(cells), probes = probes)
  }

  /** The IVF-PQ model fit (coarse quantizer + M sub-codebooks) shared
    * by the inline entry and the persisted-index builder: the M+1 Lloyd
    * fits run in memory, one after another, over ONE training sample
    * (KMeans.sample — the Faiss train() contract); encoding and cell
    * assignment (ivfPqAdd) run over the full corpus as pure maps. The
    * dimension is read from the sample, so the stack is
    * dimension-generic: every consumer (pqEncode, adcRank, ivfPqAdd)
    * derives subDim from the codebooks. 64-dim test embeddings →
    * subDim 16; 768-dim production embeddings → subDim 192, same
    * plans. */
  private[graft] def ivfPqFit(e: DataFrame)
      : (IndexedSeq[IndexedSeq[Array[Double]]], IndexedSeq[Array[Double]]) = {
    val M = 4; val K = 16; val CoarseK = 8
    val train = KMeans.sample(e)
    val dim = train.vecs.find(_ != null).getOrElse(
      throw new IllegalArgumentException(
        "ivfPqFit: cannot train on an empty embeddings corpus")).length
    require(dim % M == 0, s"embedding dim $dim not divisible by M=$M")
    val subDim = dim / M
    val coarse = KMeans.fit(train, CoarseK, 3)._1
    val cbooks = (0 until M).map { m =>
      KMeans.fit(train.slice(m * subDim, (m + 1) * subDim), K, 3)._1
    }
    (cbooks, coarse)
  }

  /** Top-nprobe nearest coarse cells per query — the ivfProbes recall
    * knob carried into the IVF-PQ composition. Centroids are literals,
    * so this is a PURE MAP over the (tiny) query set: score all K
    * cells in-row, sort the K-element struct array, keep nprobe. Same
    * argmin⇔argmax identity and tie-break as KMeans.assignLiteral, so
    * nprobe=1 reproduces the assignment exactly. */
  private[graft] def probeClusters(q: DataFrame,
      cents: IndexedSeq[Array[Double]], nprobe: Int): DataFrame = {
    val scored = KMeans.scoreStructs(cents)
    q.select(col("vec_id").as("query_id"),
        explode(slice(reverse(array_sort(scored)), 1, nprobe)).as("p"))
      .select(col("query_id"), (-col("p.negi")).as("q_cluster"))
  }

  /** Scalar-quantization ANN (the Faiss SQ8 index shape): every
    * DIMENSION quantizes independently to 8 bits on a uniform
    * [min_d, max_d] grid — dim bytes/vector with no codebook training
    * at all, the standard memory/recall midpoint between raw floats
    * and PQ. The per-dim min/max grid is a bounded model parameter
    * (2×dim doubles from ONE map-side-combined posexplode aggregate,
    * collected once — the k-means-codebook contract); the encode is a
    * PURE MAP (two zip_withs against the literal grid arrays — no
    * join, no aggregate, NO SHUFFLE, same scan-only contract as the PQ
    * encode); scoring reconstructs lo_d + code_d·step_d in-row and
    * dots the full-precision query against it (asymmetric distance)
    * through the codegen'd DotProduct, ranked via TopKPerKey.
    * Approximate (quantization error) → rows-only; SqSpec pins the
    * planted-duplicate ADC maximum, code integrality/range, and the
    * per-dim reconstruction bound |recon − x| ≤ step/2. */
  def sq8(spark: SparkSession, dir: String): DataFrame =
    sq8TopK(spark,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), 10)

  private[graft] def sq8TopK(spark: SparkSession, e: DataFrame, k: Int)
      : DataFrame = {
    import spark.implicits._
    // Per-dim [lo, hi]: O(dim) output rows, O(dim) collect — a bounded
    // model parameter like the PQ/IVF codebooks, NOT a data loop.
    val stats = e.select(posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .orderBy(col("d"))
      .as[(Int, Float, Float)].collect()
    require(stats.nonEmpty, "SQ8 grid fit saw an empty corpus")
    val lo = stats.map(_._2.toDouble).toSeq
    val step = stats.map { case (_, l, h) =>
      val s = (h.toDouble - l.toDouble) / 255.0
      if (s == 0.0) 1.0 else s   // constant dim: any code reconstructs lo
    }.toSeq
    val loLit = typedlit(lo)
    val stepLit = typedlit(step)
    val codes = e.select(col("vec_id"),
      zip_with(
        zip_with(col("embedding"), loLit, (x, l) => x - l),
        stepLit, (t, s) =>
          least(greatest(round(t / s), lit(0.0)), lit(255.0)))
        .cast("array<smallint>").as("codes"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val recon = codes.withColumn("recon",
      zip_with(
        zip_with(col("codes"), stepLit, (c, s) => c * s),
        loLit, (r, l) => r + l))
    val scored = recon.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              VectorFunctions.dot(col("recon"), col("qv")).as("adc_raw"))
    val top = graft.plans.TopKPerKey(scored, "query_id", "adc_raw", k,
      tiebreak = Some("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_raw").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("neighbor_id"),
              rnd(col("adc_raw"), 4).as("adc_score"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** k-means cluster profile: fit k=8 centroids with ≤5 Lloyd rounds
    * (KMeans.fit — trained, closing the "codebooks are honest samples"
    * gap of ivf/pq/rq), then one map-only assignment pass and a
    * partial-combined rollup. Floating-point convergence is
    * engine-specific → rows-only; KMeansSpec pins the Lloyd contract
    * (inertia monotone non-increasing, assignment = exact argmin,
    * map-only assignment plan, planted-duplicate co-clustering). */
  def kmeansProfile(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // fit on the bounded training sample; the assignment + rollup
    // below cover the corpus
    val (cents, _) = KMeans.fit(KMeans.sample(e), 8, 5)
    KMeans.assign(e, cents)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
           rnd(avg(col("sqdist")), 3).as("avg_sqdist"))
      .orderBy(col("cluster"))
  }

  /** IVF search over a TRAINED codebook (k-means, 3 Lloyd rounds)
    * instead of ivf's id-strided sample. Because the trained codebook
    * is literal, the corpus-side cell assignment is a PURE MAP (no
    * broadcast join, no max_by shuffle — compare assignToCentroids),
    * so the branch consumed by both the query and candidate sides
    * recomputes only a scan+map and needs no checkpoint. Approximate
    * (cell-boundary misses) → rows-only; KMeansSpec asserts the
    * trained codebook's inertia ≤ the sampled init's (the Lloyd
    * guarantee that makes "trained" better than "sampled"). */
  def ivfTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // fit on the bounded training sample; the corpus-side assignment
    // below is a pure map
    val (cents, _) = KMeans.fit(KMeans.sample(e), 16, 3)
    val assigned = KMeans.assign(e, cents)
      .select(col("cluster"), col("vec_id"), col("embedding"))
    val q = assigned.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
              col("cluster").as("q_cluster"))
    val cand = assigned.select(col("cluster"), col("vec_id").as("neighbor_id"),
                               col("embedding").as("nv"))
    val scored = cand.join(broadcast(q), col("cluster") === col("q_cluster") &&
                                         col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              VectorFunctions.cosine(col("qv"), col("nv")).as("cos_raw"))
    rankTopK(scored, 5)
  }

  /** Rank-1-window formulation of the centroid assignment — kept only
    * as the parity reference for IvfAssignmentSpec (it shuffles the
    * expanded corpus×codebook product; assignToCentroids is the
    * production shape). */
  private[graft] def assignToCentroidsViaWindow(e: DataFrame,
                                                cents: DataFrame): DataFrame = {
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_sim").desc, col("cent_id"))
    e.crossJoin(broadcast(cents))
      .withColumn("cent_sim", VectorFunctions.cosine(col("embedding"), col("cv")))
      .withColumn("rk", row_number().over(byVec))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cent_id"))
  }

  private[graft] def assignmentPair(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    (assignToCentroids(e, cents).select(col("vec_id"), col("cent_id")),
     assignToCentroidsViaWindow(e, cents))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_topk"          -> (topK _),
    "ann_topk_operator" -> (topKOperator _),
    "ann_lsh"           -> (lshBuckets _),
    "ann_ivf"           -> (ivf _),
    "ann_pq"            -> (pq _),
    "ann_sq8"           -> (sq8 _),
    "ann_ivf_pq"        -> (ivfPq _),
    "ann_ivf_pq_refined" -> (ivfPqRefined _),
    "ann_rq"            -> (rq _),
    "ann_kmeans"        -> (kmeansProfile _),
    "ann_ivf_trained"   -> (ivfTrained _),
    "ann_ivf_probes"    -> ((s, d) => ivfProbes(s, d, nprobe = 2)),
    "ann_pq_trained"    -> (pqTrained _),
    "ann_rq_trained"    -> (rqTrained _),
    "rag_retrieve"      -> (retrieve _),
    "rag_rerank"        -> (rerank _),
    "ann_drift_monitor" -> (AnnIndex.driftMonitor _))

  private val topkOracle: String =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  list_dot_product(q.qv, e.v) /
                  (sqrt(list_dot_product(q.qv, q.qv)) *
                   sqrt(list_dot_product(e.v, e.v))) AS cos_raw
           FROM q JOIN e ON e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos_raw,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_raw DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, neighbor_id,
                floor((cos_raw) * 10000 + 0.5) / 10000 AS cos_sim,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10
         ORDER BY query_id, rank"""

  val oracles: Map[String, String] = Map(
    "ann_topk"          -> topkOracle,
    // identical semantics, custom-operator execution path
    "ann_topk_operator" -> topkOracle,
    "rag_retrieve" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  list_dot_product(q.qv, e.v) /
                  (sqrt(list_dot_product(q.qv, q.qv)) *
                   sqrt(list_dot_product(e.v, e.v))) AS cos_raw
           FROM q JOIN e ON e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos_raw,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_raw DESC, neighbor_id) AS rank
           FROM scored)
         SELECT r.query_id, CAST(r.rank AS BIGINT) AS rank, r.neighbor_id,
                d.lang, d.source, substr(d.text, 1, 40) AS snippet,
                floor((r.cos_raw) * 10000 + 0.5) / 10000 AS cos_sim
         FROM ranked r JOIN documents d ON d.doc_id = r.neighbor_id
         WHERE r.rank <= 5
         ORDER BY r.query_id, r.rank""")
}
