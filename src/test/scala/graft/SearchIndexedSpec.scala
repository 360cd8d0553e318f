package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The indexed retrieval legs (operators/Search.scala:
  * indexedDenseTopK → rag_hybrid_rrf_indexed / rag_mmr_indexed) —
  * closing round-6's one real scale finding: the hybrid entry's dense
  * leg full-scanned the embeddings per query while the repo already
  * shipped the IVF-PQ scale path. These pin (a) the plan property that
  * makes the indexed leg 100 TB-viable (the corpus is never
  * cross-joined), (b) a recall floor vs the brute-force leg, and
  * (c) output-contract parity between the two hybrid forms. */
class SearchIndexedSpec extends AnyFunSuite {
  import TestSpark._

  test("indexed dense leg never cross-joins the corpus (plan lock)") {
    val plan = operators.Search.indexedDenseTopK(spark, Sf, 20)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the brute-force leg IS the nested-loop shape — the contrast that
    // proves the lock above is meaningful, not vacuous
    val brute = operators.Search.denseTopK(spark, Sf, 20)
      .queryExecution.executedPlan.toString
    assert(brute.contains("BroadcastNestedLoopJoin"))
  }

  test("indexed dense leg recall@20 vs brute force clears the floor") {
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, a) => q -> a.map(_._2).toSet }
    val brute = sets(operators.Search.denseTopK(spark, Sf, 20))
    val idx = sets(operators.Search.indexedDenseTopK(spark, Sf, 20))
    assert(idx.keySet === brute.keySet)
    val hits = brute.map { case (q, b) => (b & idx(q)).size }.sum
    val total = brute.values.map(_.size).sum
    // measured ~45-60% on the shipped generations (nprobe=3, shortlist
    // 80); chance level for a 20-of-cell shortlist is <2%. Floor at 25%
    // leaves ~2x margin against k-means/testdata drift while still
    // failing loudly if the index path stops finding true neighbors.
    assert(hits * 4 >= total,
      s"recall@20 = $hits/$total fell below the 25% floor")
  }

  test("indexed hybrid keeps the rag_hybrid_rrf output contract") {
    val out = operators.Search.queries("rag_hybrid_rrf_indexed")(spark, Sf)
      .collect()
    assert(out.nonEmpty)
    val perQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(perQuery.keySet === Set(1L, 2L, 3L))
    perQuery.values.foreach { rows =>
      assert(rows.length <= 10)
      assert(rows.map(_.getAs[Long]("rank")).sorted
        .sameElements(1L to rows.length))
      rows.foreach { r =>
        // rrf_score must be exactly the damped sum of its two ranks
        // (0 = absent from that leg), i.e. fusion is rank-consistent
        val rd = r.getAs[Long]("r_dense"); val rs = r.getAs[Long]("r_sparse")
        val expect = (if (rd > 0) 1.0 / (60 + rd) else 0.0) +
                     (if (rs > 0) 1.0 / (60 + rs) else 0.0)
        assert(math.abs(r.getAs[Double]("rrf_score") -
          math.floor(expect * 1e6 + 0.5) / 1e6) < 1e-12)
        assert(rd > 0 || rs > 0, "a fused row must come from some leg")
      }
    }
  }

  test("rag_mmr_indexed: first pick per query is the exact-sim argmax of its candidates") {
    val mmr = operators.Search.queries("rag_mmr_indexed")(spark, Sf).collect()
    assert(mmr.nonEmpty)
    val firstPick = mmr.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("doc_id")).toMap
    // greedy MMR's first selection carries no redundancy penalty, so it
    // must equal the candidate generator's rank-1 doc
    val top1 = operators.Search.indexedDenseTopK(spark, Sf, 20)
      .filter(col("rank") === 1L).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("doc_id")).toMap
    assert(firstPick === top1)
    mmr.groupBy(_.getAs[Long]("query_id")).values
      .foreach(rows => assert(rows.length <= 10))
  }

  test("ivfPqServe: a planted exact duplicate of a query attains the served ADC maximum") {
    // r14 (verdict item 9): the indexed serves are no-oracle entries, so
    // the serve path itself gets a planted hard invariant — an exact
    // copy of query 1's vector lands in query 1's own coarse cell
    // (argmin determinism), every probe set includes that cell, and the
    // duplicate's per-subspace codes attain the per-subspace LUT maxima,
    // so NO scored candidate may out-score it. A serve rewrite that
    // drops the query's own cell (the r13 probed-cell narrowing made
    // that the live risk) fails this loudly. k = corpus size keeps
    // every scored candidate of query 1, so the check holds the
    // duplicate against all of them, not only the ones that survive a
    // top-k cut where equal PQ codes tie.
    import graft.similarity.{AnnIndex, Knn}
    val e = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
    val dup = e.filter(col("vec_id") === 1L)
      .select(lit(100001L).as("vec_id"), col("embedding"))
    val planted = e.unionByName(dup)
    val (cbooks, coarse) = Knn.ivfPqFit(planted)
    val codes = AnnIndex.ivfPqAdd(planted, cbooks, coarse)
    val scored = Knn.ivfPqServe(planted, k = planted.count().toInt,
      nprobe = 3, cbooks, coarse, codes)
      .filter(col("query_id") === 1L).collect()
    assert(scored.length > 10, "k = corpus size must keep every candidate")
    val dupRow = scored.find(_.getAs[Long]("neighbor_id") == 100001L)
    assert(dupRow.isDefined,
      "planted exact duplicate missing from its own query's candidates")
    val maxScore = scored.map(_.getAs[Double]("adc_score")).max
    assert(dupRow.get.getAs[Double]("adc_score") === maxScore,
      "planted duplicate must attain the ADC maximum over all scored candidates")
  }

  test("serving the pre-filtered query frame ≡ serving all queries then filtering (row identity)") {
    // the r13 optimization's exact claim, pinned: each query's
    // candidates bind to its OWN probed cells via the cluster equality,
    // so narrowing the served query set (and with it the pushed
    // probed-cell IN) never changes a surviving query's rows
    import graft.similarity.{AnnIndex, Knn}
    val e = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
    val (cbooks, coarse, codes) = AnnIndex.ivfPqCached(spark, Sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("query_id").isin(1L, 2L, 3L)).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
                   r.getAs[Double]("adc_score"), r.getAs[Long]("rank"))).toSet
    val narrowed = rows(Knn.ivfPqServe(
      e.filter(col("vec_id").isin(1L, 2L, 3L)), 80, 3, cbooks, coarse, codes))
    val full = rows(Knn.ivfPqServe(e, 80, 3, cbooks, coarse, codes))
    assert(narrowed === full)
  }

  test("probeClusters at nprobe=1 reproduces the k-means assignment exactly") {
    // the multi-probe selector shares assignLiteral's argmax identity
    // and tie-break, so its first probe IS the assignment — the
    // property that makes nprobe a pure recall widener (nprobe=1
    // changes nothing, larger nprobe only adds cells)
    import graft.similarity.{KMeans, Knn}
    val e = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
    val cents = KMeans.fit(KMeans.sample(e), 8, 3)._1
    val q = e.filter(col("vec_id") < 5)
    val probe1 = Knn.probeClusters(q, cents, 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Int]("q_cluster")).toMap
    val assigned = KMeans.assign(q, cents).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(probe1 === assigned)
    // wider probes strictly widen: probe set at n=3 contains the n=1 cell
    val probe3 = Knn.probeClusters(q, cents, 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("q_cluster")))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    probe1.foreach { case (qid, c) => assert(probe3(qid).contains(c)) }
    probe3.values.foreach(s => assert(s.size === 3))
  }
}
