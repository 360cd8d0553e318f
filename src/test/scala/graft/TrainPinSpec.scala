package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.similarity.KMeans

/** Contract of the shared bounded training pin (r14: every inline
  * Lloyd trainer — ivfPqFit, pqTrainedOn, fitRqTrained, ivfTrained,
  * kmeansProfile, semanticPairs — fits on KMeans.trainPin(e) instead
  * of re-scanning its input once per fit per round):
  *  - UNDER the cap the pin is the input, row for row — so every
  *    trained entry's output is unchanged by construction at any SF
  *    whose corpus fits the cap (all bench/verify SFs do);
  *  - OVER the cap it is a deterministic md5-ordered sample of
  *    exactly cap rows — the Faiss train() contract ivfPqFit already
  *    shipped, now shared;
  *  - the pin is materialized (localCheckpoint), so the M concurrent
  *    fits it feeds read one copy instead of re-executing the input
  *    plan.
  */
class TrainPinSpec extends AnyFunSuite {
  import TestSpark._

  private def emb() =
    Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))

  test("under the cap the pin is the input, row for row") {
    val e = emb()
    val pinned = KMeans.trainPin(e) // corpus 500 rows << default cap
    val a = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = pinned.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (id, v) => assert(v === b(id), s"vec $id differs") }
  }

  test("under the cap the frame passes through UNTOUCHED (no checkpoint, same plan)") {
    // the r14 A/B measured an eager under-cap pin net-negative at
    // bench SFs — the contract is pass-through below the cap
    val e = emb()
    val pinned = KMeans.trainPin(e)
    assert(pinned.queryExecution.logical eq e.queryExecution.logical,
      "under-cap trainPin must return the input frame itself")
  }

  test("over the cap the pin truncates lineage (checkpointed scan, not the input plan)") {
    val e = emb()
    val pinned = KMeans.trainPin(e, cap = 50)
    val plan = pinned.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("Scan ExistingRDD"),
      s"expected a checkpoint-RDD scan, got:\n$plan")
  }

  test("over the cap: exactly cap rows, a subset of the input, deterministic") {
    val e = emb() // 500 rows at sf0.001
    val cap = 50
    val ids = e.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val s1 = KMeans.trainPin(e, cap).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    val s2 = KMeans.trainPin(e, cap).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(s1.length === cap)
    assert(s1.toSet.subsetOf(ids))
    assert(s1.toSet === s2.toSet, "md5-ordered sample must be deterministic")
  }

  test("trained consumers still produce their contract rows through the pin") {
    // ann_pq_trained's core on the real fixture: 4 subspace fits now
    // slice ONE pin; the search output contract (top-10 per query,
    // ranked 1..10) is unchanged.
    val out = similarity.Knn.pqTrainedOn(emb(),
      M = 4, subDim = 16, K = 16, k = 10).collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length === 10, s"query $q returned ${rows.length} rows")
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to 10L))
    }
  }
}
