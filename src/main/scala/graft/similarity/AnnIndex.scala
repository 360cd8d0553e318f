package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.tools.CorpusCache

/** Persisted IVF-PQ index — the offline-build / online-serve split a
  * production ANN deployment actually runs (Faiss builds IndexIVFPQ
  * once and mmaps it; the Spark-lake equivalent is a codes table +
  * a tiny codebook table, rebuilt only when the corpus changes):
  *
  *  - BUILD (once per corpus fingerprint): train the coarse quantizer
  *    + M sub-codebooks (Knn.ivfPqFit — M+1 in-memory Lloyd fits over
  *    one training sample),
  *    encode every vector to (cluster, M byte codes) in one pure-map
  *    scan, and persist: `codes/` range-clustered on `cluster` via
  *    LakeSink (per-file min/max lets a cell-pruned read skip files)
  *    and `model/` holding the ~5 KB of centroids as rows.
  *  - SERVE (every query batch): read the codes table — never the raw
  *    embeddings — probe nprobe cells from the literal coarse
  *    centroids, ADC-rank through the broadcast LUT (Knn.ivfPqServe).
  *
  * The cache key is the corpus file's (mtime, length) fingerprint
  * (CorpusCache), so testdata regeneration invalidates the index.
  * AnnIndexSpec proves served output ≡ the inline-trained ivfPqOn and
  * that the second call is a pure cache hit. */
object AnnIndex {

  /** Resolve the LIVE (model, codes) dirs inside a cache: the CURRENT
    * pointer file names the active version subdir (`vN/`, written by
    * [[retrainIfDrifted]]); an absent pointer means the original
    * flat layout (version 0). Readers resolve the pointer ONCE, so a
    * serve planned against version N keeps reading N's files even if a
    * retrain swaps the pointer mid-flight — the previous version's
    * files stay on disk for exactly that reason. */
  private def livePaths(cache: java.io.File): (java.io.File, java.io.File) = {
    val v = currentVersion(cache)
    val base = if (v == 0) cache else new java.io.File(cache, s"v$v")
    (new java.io.File(base, "model"), new java.io.File(base, "codes"))
  }

  private def currentVersion(cache: java.io.File): Int = {
    val cur = new java.io.File(cache, "CURRENT")
    if (cur.exists())
      new String(java.nio.file.Files.readAllBytes(cur.toPath)).trim.toInt
    else 0
  }

  /** The model table's schema as [[buildInto]] writes it (one row per
    * centroid: m = -1 for the coarse quantizer, else the subspace);
    * reading with it, a warm open infers no schema. */
  private[graft] val ModelSchema = StructType.fromDDL("m INT, cw INT, vec ARRAY<DOUBLE>")

  /** Train + encode `e` and persist into (modelDir, codesDir). Codes
    * first: the model dir's _SUCCESS is the build-complete marker, so
    * it must be the LAST thing written (a crash between the two writes
    * leaves an unbuilt version, not a torn index). */
  private def buildInto(spark: SparkSession, e: DataFrame,
                        modelDir: java.io.File,
                        codesDir: java.io.File): Unit = {
    import spark.implicits._
    val (cbooks, coarse) = Knn.ivfPqFit(e)
    val codes = ivfPqAdd(e, cbooks, coarse)
    graft.sinks.LakeSink.writeClustered(codes, codesDir.getPath, nFiles = 4,
      col("cluster"))
    val modelRows =
      coarse.zipWithIndex.map { case (v, i) =>
        (-1, i + 1, v.toSeq) } ++
      (for { m <- cbooks.indices; cw <- cbooks(m).indices }
        yield (m, cw + 1, cbooks(m)(cw).toSeq))
    modelRows.toDF("m", "cw", "vec").coalesce(1)
      .write.mode("overwrite").parquet(modelDir.getPath)
  }

  /** Load the ~5 KB model (bounded parameter — the codebook-collect
    * contract); codes stay a lazy frame. */
  private def loadFrom(spark: SparkSession, modelDir: java.io.File,
                       codesDir: java.io.File)
      : (IndexedSeq[IndexedSeq[Array[Double]]], IndexedSeq[Array[Double]],
         DataFrame) = {
    import spark.implicits._
    val rows = spark.read.schema(ModelSchema).parquet(modelDir.getPath)
      .as[(Int, Int, Seq[Double])].collect()
    val coarse = rows.filter(_._1 == -1).sortBy(_._2)
      .map(_._3.toArray).toIndexedSeq
    val cbooks = rows.filter(_._1 >= 0).groupBy(_._1).toIndexedSeq
      .sortBy(_._1)
      .map { case (_, cws) => cws.sortBy(_._2).map(_._3.toArray).toIndexedSeq }
    (cbooks, coarse, spark.read.schema(CodesSchema).parquet(codesDir.getPath))
  }

  /** Build-or-load the index for `dir`'s embeddings table. Returns
    * (sub-codebooks, coarse centroids, codes frame); the codes frame
    * is (vec_id, cluster, m, code) read lazily from the cache. */
  def ivfPqCached(spark: SparkSession, dir: String)
      : (IndexedSeq[IndexedSeq[Array[Double]]], IndexedSeq[Array[Double]],
         DataFrame) = {
    val cache = CorpusCache.dirFor(dir, "embeddings", "ivfpq")
    val (modelDir, codesDir) = livePaths(cache)
    if (!CorpusCache.isBuilt(modelDir)) {
      val e = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      buildInto(spark, e, modelDir, codesDir)
    }
    loadFrom(spark, modelDir, codesDir)
  }

  /** Index-DRIFT monitor — operationalizes the retrain trigger the add
    * path defers to ("retrain only on measured drift"): per coarse
    * cell, the build-time occupancy read from the persisted codes
    * table (the index itself is the baseline — no extra stats table to
    * version) vs the CURRENT corpus's assignment under the same frozen
    * centroids, scored with the standard PSI drift term per cell plus
    * the live mean quantization distance (the inertia the cell now
    * pays under the stale centroids). Production rule: retrain when
    * Σ psi_term crosses ~0.2 (the etl_psi_drift convention) or the
    * quantization distance trends up.
    *
    * Scale: the baseline is a column-pruned scan of the codes table
    * (one m-slice → one count per cell), the current side is a
    * pure-map literal-centroid assign + one partial-agg count — both
    * sides reduce to ≤K_coarse rows before the join. */
  def driftMonitor(spark: SparkSession, dir: String): DataFrame = {
    val (_, coarse, codes) = ivfPqCached(spark, dir)
    val base = codes.filter(col("m") === 0)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_base"))
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    driftFrom(base, e, coarse)
  }

  /** Frame-level core: `base` is (cluster, n_base); the spec plants a
    * shifted corpus through it to prove drift is detected. */
  private[graft] def driftFrom(base: DataFrame, e: DataFrame,
                               coarse: IndexedSeq[Array[Double]]): DataFrame = {
    import graft.functions.Num.rnd
    val now = KMeans.assign(e, coarse)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_now"),
           avg(col("sqdist")).as("msd"))
    val joined = base.join(now, Seq("cluster"), "full_outer")
      .select(col("cluster"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_now"), lit(0L)).as("n_now"),
        coalesce(col("msd"), lit(0.0)).as("msd"))
    // totals via a window over the ≤K_coarse-row cell frame (NOT the
    // corpus): single-partition is fine on a model-sized frame and
    // avoids an eager second pass over the aggregation
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val tb = greatest(sum(col("n_base")).over(all), lit(1L))
    val tn = greatest(sum(col("n_now")).over(all), lit(1L))
    // PSI with the usual epsilon floor so empty cells stay finite
    val eps = lit(1e-6)
    val fb = greatest(col("n_base") / tb.cast("double"), eps)
    val fn = greatest(col("n_now") / tn.cast("double"), eps)
    joined.select(col("cluster"), col("n_base"), col("n_now"),
        rnd(fb, 6).as("frac_base"), rnd(fn, 6).as("frac_now"),
        rnd((fn - fb) * log(fn / fb), 6).as("psi_term"),
        rnd(col("msd"), 4).as("mean_sqdist_now"))
      .orderBy(col("cluster"))
  }

  /** The codes table's schema as [[ivfPqAdd]] produces it. */
  private[graft] val CodesSchema =
    StructType.fromDDL("vec_id BIGINT, cluster INT, m INT, code INT")

  /** Incremental ADD — the Faiss `add()` path: encode a NEW vector
    * batch against the FIXED trained model (coarse + sub-codebooks)
    * with no retrain — two pure map passes (cell assign + PQ encode)
    * and a narrow join on vec_id, so a daily embedding increment costs
    * O(|batch|) regardless of corpus size. In production the result
    * appends to the persisted codes table on the same cluster
    * range-clustering (LakeSink append), and the model retrains only
    * on measured drift. The build's own full-corpus encode IS this
    * function (ivfPqCached calls it), so add-encoding ≡ what a full
    * re-encode with the same model gives — AnnIndexSpec additionally
    * proves served-output identity between append and re-encode. */
  def ivfPqAdd(newVecs: DataFrame,
               cbooks: IndexedSeq[IndexedSeq[Array[Double]]],
               coarse: IndexedSeq[Array[Double]]): DataFrame = {
    val cells = KMeans.assign(newVecs, coarse)
      .select(col("vec_id"), col("cluster"))
    Knn.pqEncode(newVecs, cbooks).join(cells, Seq("vec_id"))
      .select(col("vec_id"), col("cluster"), col("m"), col("code"))
  }

  /** Close the drift→retrain loop: when the monitor's total PSI crosses
    * `threshold` (the etl_psi_drift convention, 0.2), retrain the model
    * ON THE CURRENT CORPUS and rebuild the codes into the NEXT version
    * subdir (`v<N+1>/`), then flip the CURRENT pointer with one atomic
    * file move. Serves are never torn:
    *
    *  - a serve that resolved the pointer BEFORE the flip keeps reading
    *    the previous version's files, which stay on disk through the
    *    next retrain cycle (versions older than N-1 are pruned — by
    *    then no plan can still hold them);
    *  - a serve after the flip sees the new model AND the new codes
    *    together (they live in one version dir, and the dir is complete
    *    before the pointer moves — model written last, its _SUCCESS the
    *    build-complete marker);
    *  - a crash anywhere before the pointer move leaves the live index
    *    untouched (a partial v<N+1> is invisible and rebuilt next time).
    *
    * Returns true iff a retrain happened. AnnIndexSpec drives planted
    * drift past the threshold and proves the old-version serve stays
    * consistent across the swap while the next load serves the new
    * model (post-retrain PSI back under threshold). */
  def retrainIfDrifted(spark: SparkSession, dir: String,
                       threshold: Double = 0.2): Boolean = {
    ivfPqCached(spark, dir) // ensure an index exists to measure against
    retrainCore(spark, CorpusCache.dirFor(dir, "embeddings", "ivfpq"),
      graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")),
      threshold)
  }

  /** Cache-level core (the spec plants a drifted corpus through `e`). */
  private[graft] def retrainCore(spark: SparkSession, cache: java.io.File,
                                 e: DataFrame, threshold: Double): Boolean = {
    val (modelDir, codesDir) = livePaths(cache)
    val (_, coarse, codes) = loadFrom(spark, modelDir, codesDir)
    val base = codes.filter(col("m") === 0)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_base"))
    val psi = driftFrom(base, e, coarse)
      .agg(sum(col("psi_term")).as("psi")).first().getDouble(0)
    if (psi <= threshold) return false
    val cur = currentVersion(cache)
    val next = new java.io.File(cache, s"v${cur + 1}")
    buildInto(spark, e,
      new java.io.File(next, "model"), new java.io.File(next, "codes"))
    // atomic pointer flip: write-then-move, never truncate-in-place
    val tmp = new java.io.File(cache, ".CURRENT_tmp")
    java.nio.file.Files.write(tmp.toPath,
      String.valueOf(cur + 1).getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(cache, "CURRENT").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // prune versions older than the PREVIOUS one (in-flight serves can
    // still hold cur; nothing can still hold cur-1 and older)
    (0 until cur).foreach { v =>
      val dead: Seq[java.io.File] =
        if (v == 0) Seq(new java.io.File(cache, "model"),
                        new java.io.File(cache, "codes"))
        else Seq(new java.io.File(cache, s"v$v"))
      dead.foreach(deleteRecursively)
    }
    true
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(); ()
  }
}
