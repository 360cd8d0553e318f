package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.similarity.KMeans

/** Lloyd-contract checks for the k-means trainer and its consumers
  * (ann_kmeans / ann_ivf_trained / dedup_semantic are rows-only — the
  * semantics are pinned here instead of by a SQL oracle). */
class KMeansSpec extends AnyFunSuite {
  import TestSpark._

  private def emb() =
    Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))

  test("Lloyd inertia is monotone non-increasing and training improves on the init") {
    val (_, inertias) = KMeans.fit(emb(), k = 8, maxIter = 6)
    assert(inertias.nonEmpty)
    inertias.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-9, s"inertia rose: $a -> $b")
      case _         =>
    }
    // the first measurement IS the strided-sample init the ivf/pq/rq
    // codebooks used before training existed — training must beat it
    assert(inertias.last < inertias.head,
      s"training did not improve on the sampled init: $inertias")
  }

  test("assignment matches a driver-side exact argmin over the centroids") {
    val e = emb()
    val (cents, _) = KMeans.fit(e, k = 8, maxIter = 3)
    val rows = KMeans.assign(e, cents)
      .select(col("vec_id"), col("embedding").cast("array<double>"),
              col("cluster"))
      .collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      // same score form, same left-to-right accumulation as the codegen
      // kernel → bit-identical doubles
      val scores = cents.map { c =>
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * c(i); i += 1 }
        2.0 * d - c.map(x => x * x).sum
      }
      val best = scores.zipWithIndex.maxBy { case (s, i) => (s, -i) }._2 + 1
      assert(r.getAs[Int]("cluster") === best,
        s"vec ${r.getLong(0)}: got cluster ${r.getAs[Int]("cluster")}, argmin is $best")
    }
  }

  test("assignment is a pure map — no exchange in its plan") {
    val (cents, _) = KMeans.fit(emb(), k = 4, maxIter = 1)
    val plan = KMeans.assign(emb(), cents).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment shuffled:\n$plan")
  }

  test("literal-argmax and broadcast max_by assignment regimes are row-identical") {
    val e = emb()
    val (cents, _) = KMeans.fit(e, k = 8, maxIter = 2)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster"), col("sqdist"))
        .collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val lit = collect(KMeans.assignLiteral(e, cents))
    val bc = collect(KMeans.assignBroadcast(e, cents))
    assert(lit.keySet === bc.keySet && lit.nonEmpty)
    lit.foreach { case (id, (cl, sd)) =>
      assert(bc(id)._1 === cl, s"vec $id cluster differs")
      assert(math.abs(bc(id)._2 - sd) < 1e-9, s"vec $id sqdist differs")
    }
    // the dispatch picks the broadcast regime past the literal bound
    val bigK = IndexedSeq.fill(KMeans.LiteralArgmaxMaxK + 1)(cents.head)
    val plan = KMeans.assign(e, bigK).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan.take(1500))
  }

  test("dedup_semantic co-clusters and emits planted exact duplicates") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian())
    val base = (0 until 12).map(i => (i.toLong, vec()))
    // exact duplicates: identical rows produce identical argmax scores,
    // so co-clustering is structural, not probabilistic
    val dups = base.map { case (id, v) => (id + 100L, v.clone()) }
    val noise = (0 until 60).map(i => (1000L + i, vec()))
    val e = (base ++ dups ++ noise).toDF("vec_id", "embedding")
    val pairs = dedup.Dedup.semanticPairs(e, k = 4, iters = 2, thr = 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val planted = (0 until 12).map(i => (i.toLong, i + 100L)).toSet
    assert(planted.subsetOf(pairs),
      s"missing planted dups: ${planted -- pairs}")
    // 64-dim random gaussians sit near cos 0 — nothing else passes 0.9
    assert(pairs === planted, s"false positives: ${pairs -- planted}")
  }

  test("empty clusters keep their previous centroid (k > distinct points)") {
    import spark.implicits._
    // 3 distinct points, k=5: at most 3 clusters can ever own a point
    val pts = Seq(
      (0L, Array(0.0, 0.0)), (17L, Array(10.0, 0.0)), (34L, Array(0.0, 10.0)),
      (51L, Array(10.1, 0.0)), (68L, Array(0.0, 10.1)))
    val e = pts.toDF("vec_id", "embedding")
    val (cents, inertias) = KMeans.fit(e, k = 5, maxIter = 4)
    assert(cents.length === 5)
    assert(cents.forall(c => c.forall(x => !x.isNaN)), "NaN centroid from an empty cluster")
    inertias.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-9)
      case _         =>
    }
  }
}
