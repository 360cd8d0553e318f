package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** IVF-PQ + exact refine (Knn.ivfPqRefined) — the refine stage must
  * recover quantization loss, never add it:
  *  - recall@10 vs brute-force ≥ the unrefined serve's recall on the
  *    SAME persisted index and probe count;
  *  - every surviving (query, neighbor) score is the EXACT cosine
  *    (matches the brute path's score wherever both rank the pair);
  *  - candidate-bounded: the refine never returns a neighbor the
  *    proposal stage did not surface. */
class KnnRefineSpec extends AnyFunSuite {
  import TestSpark._

  private def asPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val brute = similarity.Knn.queries("ann_topk")(spark, TestSpark.Sf)
  private lazy val refined =
    similarity.Knn.queries("ann_ivf_pq_refined")(spark, TestSpark.Sf)

  test("refine recall@10 >= unrefined ADC recall on the same index") {
    val (cbooks, coarse, codes) =
      similarity.AnnIndex.ivfPqCached(spark, TestSpark.Sf)
    val e = Tables.embeddings(spark, TestSpark.Sf)
      .select(col("vec_id"), col("embedding"))
    val unrefined =
      similarity.Knn.ivfPqServe(e, 10, 3, cbooks, coarse, codes)
    val truth = asPairs(brute)
    val rRef = asPairs(refined).intersect(truth).size.toDouble / truth.size
    val rAdc = asPairs(unrefined).intersect(truth).size.toDouble / truth.size
    assert(rRef >= rAdc, s"refined recall $rRef < unrefined $rAdc")
    assert(rRef >= 0.25, s"refined recall floor: $rRef")
  }

  test("surviving scores are exact cosines (agree with the brute path)") {
    val b = brute.select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    val joint = refined.join(b, Seq("query_id", "neighbor_id"))
    val mismatches = joint
      .filter(abs(refined("cos_sim") - b("cos_sim")) > 1e-9).count()
    assert(joint.count() > 0)
    assert(mismatches === 0L)
  }

  test("refine is candidate-bounded: no neighbor outside the proposal set") {
    val (cbooks, coarse, codes) =
      similarity.AnnIndex.ivfPqCached(spark, TestSpark.Sf)
    val e = Tables.embeddings(spark, TestSpark.Sf)
      .select(col("vec_id"), col("embedding"))
    val proposals =
      asPairs(similarity.Knn.ivfPqServe(e, 50, 3, cbooks, coarse, codes))
    assert(asPairs(refined).subsetOf(proposals))
  }
}
