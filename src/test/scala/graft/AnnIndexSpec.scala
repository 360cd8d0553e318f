package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF-PQ index (similarity/AnnIndex.scala): build once
  * per corpus fingerprint, serve from the codes table. The contract is
  * the dedup persisted-labels one — served output IDENTICAL to the
  * inline-trained form, second call a pure cache hit. */
class AnnIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("served IVF-PQ equals the inline-trained form, and reloads hit the cache") {
    val e = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
    val (cbooks, coarse, codes) = similarity.AnnIndex.ivfPqCached(spark, Sf)
    val served = rows(similarity.Knn
      .ivfPqServe(e, 10, nprobe = 3, cbooks, coarse, codes))
    // identical training (same deterministic Lloyd fits) → identical
    // codebooks → byte-identical search results
    val inline = rows(similarity.Knn.ivfPqOn(e, 10, nprobe = 3))
    assert(served === inline)

    // second call must load, not rebuild: the model payload on disk
    // stays byte-identical (mtime check) and the result reproduces
    val cache = tools.CorpusCache.dirFor(Sf, "embeddings", "ivfpq")
    val modelSuccess = new java.io.File(s"$cache/model/_SUCCESS")
    assert(modelSuccess.exists())
    val mtime = modelSuccess.lastModified()
    val (cb2, co2, codes2) = similarity.AnnIndex.ivfPqCached(spark, Sf)
    assert(modelSuccess.lastModified() === mtime, "cache was rebuilt")
    assert(rows(similarity.Knn
      .ivfPqServe(e, 10, nprobe = 3, cb2, co2, codes2)) === served)
  }

  test("a warm open reads the declared schemas: one Spark job, the model collect") {
    import similarity.{AnnIndex, Knn}
    AnnIndex.ivfPqCached(spark, Sf) // build, or reuse a built cache
    val cache = tools.CorpusCache.dirFor(Sf, "embeddings", "ivfpq")
    var opened: (IndexedSeq[IndexedSeq[Array[Double]]], IndexedSeq[Array[Double]],
                 org.apache.spark.sql.DataFrame) = null
    // no schema inference job for either table; the ~5 KB model is
    // still read through Spark, which is one job
    assert(JobCount.jobsIn(spark, "ivfpq-warm-open") {
      opened = AnnIndex.ivfPqCached(spark, Sf)
    } === 1)
    val (cbooks, coarse, codes) = opened
    // the declared schemas are the ones parquet inference returns
    assert(AnnIndex.ModelSchema === spark.read.parquet(s"$cache/model").schema)
    assert(codes.schema === spark.read.parquet(s"$cache/codes").schema)
    // and the served rows are the inline-trained form's
    val e = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
    assert(rows(Knn.ivfPqServe(e, 10, nprobe = 3, cbooks, coarse, codes)) ===
      rows(Knn.ivfPqOn(e, 10, nprobe = 3)))
  }

  test("serving pushes the probed-cell filter into the codes scan") {
    val e = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
    val (cbooks, coarse, codes) = similarity.AnnIndex.ivfPqCached(spark, Sf)
    val plan = similarity.Knn
      .ivfPqServe(e, 10, nprobe = 2, cbooks, coarse, codes)
      .queryExecution.executedPlan.toString
    // the literal IN filter must reach the parquet scan (file/row-group
    // skipping on the range-clustered cluster column) — a join-only
    // cluster equality cannot prune the scan
    assert(plan.contains("PushedFilters: [In(cluster"), plan.take(3000))
  }

  test("incremental add: append ≡ re-encode, and serving from it is identical") {
    val all = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
    val (cbooks, coarse, codes) = similarity.AnnIndex.ivfPqCached(spark, Sf)
    // split the corpus; encode each half through the FIXED model and
    // union — must equal re-encoding everything with that model (the
    // append path can never drift from a rebuild that reuses the model)
    val corpus = all.filter(col("vec_id") % 5 =!= 0)
    val batch = all.filter(col("vec_id") % 5 === 0)
    val appended = similarity.AnnIndex.ivfPqAdd(corpus, cbooks, coarse)
      .union(similarity.AnnIndex.ivfPqAdd(batch, cbooks, coarse))
    val reencoded = similarity.AnnIndex.ivfPqAdd(all, cbooks, coarse)
    val key = Seq("vec_id", "m")
    assert(appended.orderBy(key.map(col): _*).collect().toSeq ===
           reencoded.orderBy(key.map(col): _*).collect().toSeq)
    // and SERVING from the appended union is byte-identical to serving
    // from the persisted codes table (same model ⇒ same ADC ranking)
    assert(rows(similarity.Knn
      .ivfPqServe(all, 10, nprobe = 3, cbooks, coarse, appended)) ===
      rows(similarity.Knn
        .ivfPqServe(all, 10, nprobe = 3, cbooks, coarse, codes)))
  }

  test("drift monitor: zero drift on the build corpus, detects a planted shift") {
    val e = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
    val out = similarity.AnnIndex.driftMonitor(spark, Sf).collect()
    // static corpus under its own index: every cell's now == base
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_base") === r.getAs[Long]("n_now"))
      assert(math.abs(r.getAs[Double]("psi_term")) < 1e-9)
    }
    // planted covariate shift (constant translation): all vectors move
    // toward one direction, occupancy collapses into the nearest cells
    // — must cross the retrain threshold. (A negation would NOT: the
    // synthetic corpus is ~symmetric, so cells permute but the
    // occupancy histogram barely moves — PSI correctly stays low.)
    val (_, coarse, codes) = similarity.AnnIndex.ivfPqCached(spark, Sf)
    val base = codes.filter(col("m") === 0)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_base"))
    val shifted = e.withColumn("embedding",
      transform(col("embedding"), x => x + lit(5.0)))
    val psi = similarity.AnnIndex.driftFrom(base, shifted, coarse)
      .agg(sum(col("psi_term"))).head.getDouble(0)
    assert(psi > 0.2, s"planted shift not detected: psi=$psi")
  }

  test("retrain loop: planted drift rebuilds + atomically swaps; old serve stays consistent") {
    // isolated corpus dir → isolated cache (CorpusCache keys on the dir)
    val dir = java.nio.file.Files.createTempDirectory("retrain").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf/embeddings.parquet"),
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val cache = tools.CorpusCache.dirFor(dir, "embeddings", "ivfpq")

    // v0 build; no drift on the build corpus → no retrain, no pointer
    val (cb0, co0, codes0) = similarity.AnnIndex.ivfPqCached(spark, dir)
    assert(!similarity.AnnIndex.retrainIfDrifted(spark, dir))
    assert(!new java.io.File(cache, "CURRENT").exists())
    val servedOld = rows(similarity.Knn
      .ivfPqServe(e, 10, nprobe = 3, cb0, co0, codes0))

    // planted covariate shift past the threshold → retrain fires
    val shifted = e.withColumn("embedding",
      transform(col("embedding"), x => x + lit(5.0)))
    assert(similarity.AnnIndex.retrainCore(spark, cache, shifted, 0.2))
    assert(new java.io.File(cache, "v1/model/_SUCCESS").exists())

    // a concurrent serve holding the OLD version is untorn: v0's files
    // survive the swap and reproduce the exact pre-retrain result
    assert(rows(similarity.Knn
      .ivfPqServe(e, 10, nprobe = 3, cb0, co0, codes0)) === servedOld)

    // the next load resolves the pointer → the NEW model; drift against
    // the shifted corpus is now back under threshold
    val (_, co1, codes1) = similarity.AnnIndex.ivfPqCached(spark, dir)
    assert(co1 !== co0, "retrain must produce a new coarse quantizer")
    assert(codes1.inputFiles.head.contains("v1"),
      "serve must read the v1 codes")
    assert(!similarity.AnnIndex.retrainCore(spark, cache, shifted, 0.2))

    // a second cycle prunes v0 (two generations old) but keeps v1 for
    // serves that resolved the pointer before this swap
    val shifted2 = e.withColumn("embedding",
      transform(col("embedding"), x => x * lit(-3.0) + lit(9.0)))
    assert(similarity.AnnIndex.retrainCore(spark, cache, shifted2, 0.2))
    assert(new java.io.File(cache, "v2/model/_SUCCESS").exists())
    assert(new java.io.File(cache, "v1/model/_SUCCESS").exists())
    assert(!new java.io.File(cache, "model").exists(), "v0 pruned")
  }

  test("codes table is the full corpus encoding, range-clustered by cell") {
    val (_, coarse, codes) = similarity.AnnIndex.ivfPqCached(spark, Sf)
    val n = Tables.embeddings(spark, Sf).count()
    assert(codes.count() === n * 4, "M=4 code rows per vector")
    assert(codes.select("vec_id").distinct().count() === n)
    val maxCluster = codes.agg(max(col("cluster"))).head.getInt(0)
    assert(maxCluster <= coarse.length)
  }
}
