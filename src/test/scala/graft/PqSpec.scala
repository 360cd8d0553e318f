package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PQ/ADC invariants that hold regardless of codebook quality: a planted
  * exact duplicate of a query vector encodes to that query's per-subspace
  * argmax codewords, so its ADC score is the maximum any candidate can
  * attain (per-subspace max sums to the global max). */
class PqSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val planted = {
    val e = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
    val dup = e.filter(col("vec_id") === 3L)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    similarity.Knn.pqTopK(spark, e.union(dup), 10).collect()
  }

  test("planted duplicate attains the maximum ADC score for its query") {
    val q3 = planted.filter(_.getAs[Long]("query_id") == 3L)
    assert(q3.nonEmpty)
    val dupScore = q3.find(_.getAs[Long]("neighbor_id") == 9999L)
      .map(_.getAs[Double]("adc_score"))
    val maxScore = q3.map(_.getAs[Double]("adc_score")).max
    assert(dupScore.contains(maxScore),
      s"duplicate scored $dupScore, max was $maxScore")
  }

  test("ranks are contiguous 1..n per query and bounded by k") {
    planted.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks == (1L to ranks.size.toLong))
      assert(ranks.size <= 10)
    }
  }

  test("trained codebook keeps the planted-duplicate maximum invariant") {
    val e = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
    val dup = e.filter(col("vec_id") === 3L)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val rows = similarity.Knn
      .pqTrainedOn(e.union(dup), M = 4, subDim = 16, K = 16, k = 10)
      .collect()
    val q3 = rows.filter(_.getAs[Long]("query_id") == 3L)
    assert(q3.nonEmpty)
    val dupScore = q3.find(_.getAs[Long]("neighbor_id") == 9999L)
      .map(_.getAs[Double]("adc_score"))
    val maxScore = q3.map(_.getAs[Double]("adc_score")).max
    assert(dupScore.contains(maxScore),
      s"duplicate scored $dupScore, max was $maxScore")
  }

  test("IVF-PQ keeps the planted-duplicate maximum invariant in-cell") {
    // an exact duplicate lands in the query's coarse cell (argmin is
    // deterministic on identical vectors), so it must appear among the
    // cell-restricted candidates AND win the ADC
    val e = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
    val dup = e.filter(col("vec_id") === 3L)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val rows = similarity.Knn.ivfPqOn(e.union(dup), 10).collect()
    val q3 = rows.filter(_.getAs[Long]("query_id") == 3L)
    assert(q3.nonEmpty)
    val dupScore = q3.find(_.getAs[Long]("neighbor_id") == 9999L)
      .map(_.getAs[Double]("adc_score"))
    val maxScore = q3.map(_.getAs[Double]("adc_score")).max
    assert(dupScore.contains(maxScore),
      s"duplicate scored $dupScore, max was $maxScore")
  }

  test("ADC ordering agrees with scores within each query") {
    planted.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Long]("rank"))
        .map(_.getAs[Double]("adc_score")).toSeq
      assert(byRank == byRank.sorted.reverse)
    }
  }
}
