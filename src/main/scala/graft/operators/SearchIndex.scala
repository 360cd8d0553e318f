package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.tools.CorpusCache

/** Persisted BM25 postings index — the sparse-retrieval mirror of
  * similarity.AnnIndex (the dense one): build the inverted index once
  * per corpus fingerprint, serve every query batch from the persisted
  * tables, never re-tokenize the corpus at query time.
  *
  *  - BUILD (once per corpus fingerprint): tokenize + aggregate the
  *    (doc_id, term, tf) postings (Search.postings — ONE explode + one
  *    map-side-combined shuffle), persist: `postings/` range-clustered
  *    on `term` via LakeSink (per-file term min/max lets a query's
  *    literal IN prune files outside its vocabulary), `doclen/`
  *    (doc_id, dl) clustered on doc_id, and the 1-row `stats/`
  *    (n_docs, sum_dl) written LAST — its _SUCCESS is the
  *    build-complete marker, so a mid-build crash leaves an unbuilt
  *    cache, never a torn index (the AnnIndex convention).
  *  - SERVE (every query batch): Search.bm25From over a TERM-PRUNED
  *    read of the postings table + the read-back doclen/stats. The
  *    corpus-sized work is a file-skipped scan of postings plus a
  *    2-column doclen join; no tokenization, no corpus re-aggregation.
  *  - ADD (daily increment): postings and doc lengths are PER-DOC-LOCAL
  *    (no cross-doc state), so the index is append-only —
  *    postings(A ∪ B) = postings(A) ∪ postings(B) exactly, doclen
  *    likewise, and the global stats are additive. No rebuild, no
  *    drift: unlike the ANN index (whose centroids staleness needs the
  *    drift monitor), BM25's "model" IS the data, so append ≡ rebuild
  *    is an identity, not an approximation. SearchIndexSpec proves it
  *    through the served scores.
  *
  * Cache key = the corpus file's (mtime, length) fingerprint
  * (CorpusCache), so testdata regeneration invalidates the index. */
object SearchIndex {

  /** Build-or-load: returns (postings, doclen, stats) lazy frames. */
  def bm25Cached(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    cachedIndex(spark, dir, "bm25", "STRING")(
      Search.postings(Tables.documents(spark, dir)))

  /** The doclen and stats tables' schemas as their writer produces them
    * (parquet reads every column back nullable); [[cachedIndex]] declares
    * the postings one. Reading with them, a warm open infers no schema
    * and runs no Spark job. */
  private val DoclenSchema = StructType.fromDDL("doc_id BIGINT, dl BIGINT")
  private val StatsSchema = StructType.fromDDL("n_docs DOUBLE, sum_dl DOUBLE")

  /** Build-or-load of one wire form's index under cache tag `kind`;
    * `postings` (term type `termType`) is evaluated only on a build. */
  private def cachedIndex(spark: SparkSession, dir: String, kind: String,
                          termType: String)(postings: => DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val postSchema = StructType.fromDDL(s"doc_id BIGINT, term $termType, tf BIGINT")
    val cache = CorpusCache.dirFor(dir, "documents", kind)
    val postPath = new java.io.File(cache, "postings").getPath
    val dlPath   = new java.io.File(cache, "doclen").getPath
    val stPath   = new java.io.File(cache, "stats").getPath
    def read(schema: StructType, path: String) =
      spark.read.schema(schema).parquet(path)
    if (!CorpusCache.isBuilt(new java.io.File(cache, "stats"))) {
      graft.sinks.LakeSink.writeClustered(postings, postPath, nFiles = 4,
        col("term"))
      val dl = read(postSchema, postPath)
        .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      graft.sinks.LakeSink.writeClustered(dl, dlPath, nFiles = 2,
        col("doc_id"))
      // stats LAST: its _SUCCESS is the build-complete marker
      read(DoclenSchema, dlPath)
        .agg(count(lit(1)).cast("double").as("n_docs"),
             sum(col("dl")).cast("double").as("sum_dl"))
        .coalesce(1).write.mode("overwrite").parquet(stPath)
    }
    (read(postSchema, postPath), read(DoclenSchema, dlPath),
     read(StatsSchema, stPath))
  }

  /** Incremental ADD — tokenize ONLY the new batch into its postings
    * and doc-length deltas (both per-doc-local, so appending them to
    * the persisted tables reproduces a full rebuild exactly); the
    * caller appends via LakeSink and recomputes the 1-row stats from
    * the appended doclen (additive). */
  def addBatch(newDocs: DataFrame): (DataFrame, DataFrame) = {
    val post = Search.postings(newDocs)
    (post, post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
  }

  /** The `rag_bm25_indexed` entry: BM25 top-10 served from the
    * persisted index, with the literal query vocabulary pushed into
    * the term-clustered postings scan (parquet min/max file skipping —
    * the ivfPqServe probed-cell contract, lexical edition). Scores are
    * byte-identical to the inline rag_bm25 (same postings content,
    * same expression tree), so the SAME DuckDB oracle checks the
    * indexed serving path. */
  def bm25Indexed(spark: SparkSession, dir: String): DataFrame =
    bm25IndexedTopK(spark, dir, 10).orderBy(col("query_id"), col("rank"))

  /** Index-served BM25 top-k — also the SPARSE leg of
    * rag_hybrid_rrf_indexed, so the fully-indexed hybrid serves BOTH
    * legs from persisted tables (dense: IVF-PQ codes; sparse: the
    * postings index) and touches neither raw text nor raw vectors at
    * query time. */
  private[operators] def bm25IndexedTopK(spark: SparkSession, dir: String,
                                         k: Int): DataFrame = {
    val (post, dl, stats) = bm25Cached(spark, dir)
    val pruned = post.filter(
      col("term").isin(Search.QueryTermList.map(t => t: Any): _*))
    Search.bm25From(spark, pruned, dl, stats, k)
  }

  /** Hashed-wire twin of [[bm25Cached]] (the §6.5 pattern applied to
    * the STANDING index): postings persist (doc_id, term=xxhash64(term)
    * long, tf) — 8 bytes per posting key instead of the term string, a
    * direct index-size cut on top of the build shuffle's, with the
    * term-range file clustering intact (hash-range min/max skips files
    * for an exact-match IN probe just as well — the probe is literal
    * equality, never a lexical range). Separate cache tag, so both
    * wire forms can coexist per corpus fingerprint. */
  def bm25CachedHashed(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    // Re-aggregate AFTER hashing: an intra-doc xxhash64 collision
    // would otherwise leave two posting rows with the same
    // (doc_id, term) — double-counting that doc in bm25FromTerms' df
    // and splitting its tf across rows. The extra shuffle rides
    // 8-byte keys over the already-aggregated postings, a tiny cost
    // for keeping the one-row-per-(doc, term) invariant exact.
    cachedIndex(spark, dir, "bm25h", "BIGINT")(
      Search.postings(Tables.documents(spark, dir))
        .withColumn("term", xxhash64(col("term")))
        .groupBy(col("doc_id"), col("term")).agg(sum(col("tf")).as("tf")))

  /** The `rag_bm25_indexed_hashed` entry: the same serve as
    * [[bm25Indexed]] against the hashed index — the query vocabulary
    * is hashed ONCE into 8-byte literals (a bounded model parameter,
    * one |vocab|-row driver job, same contract as the probed-cell
    * list) and pushed into the hash-clustered postings scan; the
    * scoring tree is IDENTICAL (bm25FromTerms — the term column only
    * rides equi-joins and never reaches the output). A collision
    * aliases one corpus term onto a query term, inflating its df/tf —
    * expected colliding pairs ~n²/2⁶⁵ over the corpus VOCABULARY
    * (~10⁷ terms on real text → ~10⁻⁶), nil at any test SF → carries
    * rag_bm25_indexed's FULL oracle. */
  def bm25IndexedHashed(spark: SparkSession, dir: String): DataFrame = {
    val (post, dl, stats) = bm25CachedHashed(spark, dir)
    val pruned = post.filter(col("term").isin(hashedQueryVocab(spark): _*))
    Search.bm25FromTerms(spark, pruned, dl, stats, 10,
      hashedQueryTerms(spark))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The query vocabulary as 8-byte literals for the hashed-index IN
    * pushdown — one |vocab|-row driver job, a bounded model parameter
    * (the probed-cell-list contract). Shared with the stream-maintained
    * hashed index (IndexMaintainStream.bm25Serve). */
  private[graft] def hashedQueryVocab(spark: SparkSession): Seq[Long] = {
    import spark.implicits._
    Search.QueryTermList.toDF("term")
      .select(xxhash64(col("term"))).as[Long].collect().toSeq
  }

  /** The (query_id, term) frame re-keyed to xxhash64 for the hashed
    * serve's scoring joins. */
  private[graft] def hashedQueryTerms(spark: SparkSession): DataFrame =
    Search.queryTermsDF(spark).withColumn("term", xxhash64(col("term")))
}
