package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Residual-quantization invariants that hold regardless of codebook
  * quality:
  *  - monotone refinement: codebook 2 contains the zero vector, so the
  *    two-level reconstruction error can never exceed the one-level
  *    error, for every vector;
  *  - a vector that IS a level-1 codeword reconstructs exactly at
  *    level 1 (err1 ≈ 0), and level 2 cannot then make it worse;
  *  - the ADC output is a well-formed ranked top-k per query.
  */
class RqSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val e =
    Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))

  private lazy val encoded = {
    val (c1, c2) = similarity.Knn.fitRq(e)
    similarity.Knn.rqEncode(e, c1, c2).collect()
  }

  test("two-level reconstruction error is monotonically <= one-level") {
    assert(encoded.nonEmpty)
    encoded.foreach { r =>
      val e1 = r.getAs[Double]("err1"); val e2 = r.getAs[Double]("err2")
      assert(e2 <= e1 + 1e-6,
        s"vec ${r.getAs[Long]("vec_id")}: err2 $e2 > err1 $e1")
    }
    // and the residual stage actually refines SOMEONE, or it's dead code
    assert(encoded.exists(r =>
      r.getAs[Double]("err2") < r.getAs[Double]("err1") - 1e-9))
  }

  test("a vector that is itself a level-1 codeword has err1 ~ 0") {
    // fitRq's level-1 codebook = first 16 vectors of the %29 stride
    val cbIds = (0L to 499L).filter(_ % 29 == 0).take(16).toSet
    val own = encoded.filter(r => cbIds.contains(r.getAs[Long]("vec_id")))
    assert(own.nonEmpty)
    own.foreach { r =>
      assert(r.getAs[Double]("err1") <= 1e-6)
      assert(r.getAs[Double]("err2") <= 1e-6)
    }
  }

  test("trained codebooks keep monotone refinement and beat the sampled fit") {
    val (tc1, tc2) = similarity.Knn.fitRqTrained(e)
    val trained = similarity.Knn.rqEncode(e, tc1, tc2).collect()
    assert(trained.nonEmpty)
    trained.foreach { r =>
      assert(r.getAs[Double]("err2") <= r.getAs[Double]("err1") + 1e-6,
        s"vec ${r.getAs[Long]("vec_id")}: trained err2 > err1")
    }
    // training on actual corpus residuals must reduce total two-level
    // distortion vs the 15-row sampled residual codebook (k-means
    // minimizes exactly this objective over the whole corpus)
    val sampledErr2 = encoded.map(_.getAs[Double]("err2")).sum
    val trainedErr2 = trained.map(_.getAs[Double]("err2")).sum
    assert(trainedErr2 < sampledErr2,
      s"trained distortion $trainedErr2 >= sampled $sampledErr2")
  }

  test("RQ/ADC top-k is well-formed: contiguous ranks, descending scores") {
    val rows = similarity.Knn.rqTopK(e, 10).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, qr) =>
      val ranks = qr.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks == (1L to ranks.size.toLong))
      assert(ranks.size <= 10)
      val byRank = qr.sortBy(_.getAs[Long]("rank"))
        .map(_.getAs[Double]("rq_score")).toSeq
      assert(byRank == byRank.sorted.reverse)
    }
  }
}
