package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.similarity.KMeans

/** Contract of the shared bounded training sample (every inline Lloyd
  * trainer — ivfPqFit, pqTrainedOn, fitRqTrained, ivfTrained,
  * kmeansProfile, semanticPairs — fits in memory on KMeans.sample(e)):
  *  - UNDER the cap the sample is the input, row for row — so every
  *    trained entry trains on its whole corpus at any SF that fits the
  *    cap (all bench/verify SFs do);
  *  - OVER the cap it is the deterministic md5-first `cap` rows — the
  *    Faiss train() contract;
  *  - either way it is collected in one Spark job whose plan has no
  *    Exchange operator, and the driver receives at most cap + 1 rows:
  *    over several partitions the limit merges their heaps through its
  *    own single-partition shuffle, on an executor.
  */
class TrainPinSpec extends AnyFunSuite {
  import TestSpark._

  private def emb() =
    Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))

  private def assertOneJobNoExchange(cap: Int): Unit = {
    val e = emb()
    val plan = KMeans.sampleFrame(e, cap).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), s"the sample shuffled:\n$plan")
    assert(JobCount.jobsIn(spark, s"sample-$cap")(KMeans.sample(e, cap)) === 1)
  }

  test("under the cap the sample is the input, row for row") {
    val e = emb()
    val s = KMeans.sample(e) // corpus 500 rows << default cap
    assert(!s.capped)
    val a = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = s.ids.zip(s.vecs.map(_.toSeq)).toMap
    assert(s.ids.length === a.size)
    assert(a.keySet === b.keySet)
    a.foreach { case (id, v) => assert(v === b(id), s"vec $id differs") }
  }

  test("under the cap the sample is one Spark job with no exchange") {
    assertOneJobNoExchange(KMeans.TrainCap)
  }

  test("over the cap the sample is one Spark job with no exchange") {
    assertOneJobNoExchange(50)
  }

  test("over the cap: exactly cap rows, a subset of the input, deterministic") {
    val e = emb() // 500 rows at sf0.001
    val cap = 50
    val ids = e.select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    val s1 = KMeans.sample(e, cap)
    val s2 = KMeans.sample(e, cap)
    assert(s1.capped)
    assert(s1.ids.length === cap)
    assert(s1.ids.toSet.subsetOf(ids.toSet))
    assert(s1.ids.toSeq === s2.ids.toSeq, "md5-ordered sample must be deterministic")
    // the md5-first cap ids, computed on the driver without Spark
    def md5(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = ids.sortBy(id => (md5(id), id)).take(cap)
    assert(s1.ids.toSeq === expected)
  }

  test("over an 8-partition frame the driver receives one heap, not one per partition") {
    // 8 partitions without an Exchange of its own, so the one job
    // counted is the sample's
    val e = spark.createDataFrame(
      spark.sparkContext.parallelize(emb().collect().toSeq, 8), emb().schema)
    val cap = 10
    val dim = emb().head().getSeq[Float](1).length
    var s: KMeans.Sample = null
    assert(JobCount.jobsIn(spark, "sample-p8")(KMeans.sample(e, cap)) === 1)
    val bytes = JobCount.resultBytesIn(spark, "sample-p8-bytes") {
      s = KMeans.sample(e, cap)
    }
    // cap + 1 rows of dim doubles: at least their payload, and under
    // twice it — one heap per partition would be 8 × (cap + 1) rows
    val heap = (cap + 1).toLong * dim * 8
    assert(bytes >= heap, s"$bytes result bytes, one heap is $heap")
    assert(bytes < 2 * heap, s"$bytes result bytes, one heap is $heap")
    assert(s.ids.toSeq === KMeans.sample(emb(), cap).ids.toSeq)
  }

  test("trained consumers still produce their contract rows through the sample") {
    // ann_pq_trained's core on the real fixture: 4 subspace fits slice
    // ONE sample; the search output contract (top-10 per query, ranked
    // 1..10) is unchanged.
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
