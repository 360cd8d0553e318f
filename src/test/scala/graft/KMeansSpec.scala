package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.KMeans

/** Lloyd-contract checks for the k-means trainer and its consumers
  * (ann_kmeans / ann_ivf_trained / dedup_semantic are rows-only — the
  * semantics are pinned here instead of by a SQL oracle). */
class KMeansSpec extends AnyFunSuite {
  import TestSpark._

  private def emb() =
    Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))

  /** The distributed Lloyd fit KMeans ran before its rounds moved in
    * memory, kept as the reference: each round assigns with the literal
    * centroids, posexplodes the components and aggregates
    * groupBy(cluster, pos). Returns each round's starting centroids
    * (and the final ones), each round's assignment and inertia. */
  private def referenceFit(e: DataFrame, k: Int, maxIter: Int)
      : (Seq[IndexedSeq[Array[Double]]], Seq[Map[Long, Int]], Seq[Double]) = {
    import spark.implicits._
    val init = e.filter(col("vec_id") % 17 === 0).orderBy(col("vec_id"))
      .limit(k).select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].collect().map(_.toArray)
    val dim = init.head.length
    var cents: IndexedSeq[Array[Double]] = init.toIndexedSeq
    val starts = scala.collection.mutable.ArrayBuffer(cents)
    val assigns = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Int]]
    val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]
    var iter = 0
    var fixedPoint = false
    while (iter < maxIter && !fixedPoint) {
      val assigned = KMeans.assign(e, cents)
      assigns += assigned.select(col("vec_id"), col("cluster")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val stats = assigned
        .select(col("cluster"), col("sqdist"), posexplode(col("embedding")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"),
             sum(col("sqdist")).as("sd"))
        .collect()
      inertias += stats.iterator.map(_.getAs[Double]("sd")).sum / dim
      val next = Array.tabulate(cents.length)(i => cents(i))
      stats.groupBy(_.getAs[Int]("cluster")).foreach { case (c, rows) =>
        val arr = new Array[Double](dim)
        rows.foreach { r =>
          arr(r.getAs[Int]("pos")) = r.getAs[Double]("s") / r.getAs[Long]("n")
        }
        next(c - 1) = arr
      }
      fixedPoint = cents.indices.forall(i => cents(i).sameElements(next(i)))
      cents = next.toIndexedSeq
      starts += cents
      iter += 1
    }
    (starts.toSeq, assigns.toSeq, inertias.toSeq)
  }

  Seq("sf0.001 embeddings" -> (() => emb()),
      "a repartition(4) copy" -> (() => emb().repartition(4))).foreach {
    case (what, frame) =>
      test(s"the in-memory fit matches the distributed reference on $what") {
        val e = frame()
        val s = KMeans.sample(e)
        val (starts, assigns, refInertias) = referenceFit(e, k = 8, maxIter = 6)
        val (_, inertias) = KMeans.fit(s, k = 8, maxIter = 6)
        assert(inertias.length === refInertias.length)
        inertias.zip(refInertias).foreach { case (a, b) =>
          assert(math.abs(a - b) <= 1e-9 * math.abs(b), s"inertia $a vs $b")
        }
        assigns.indices.foreach { r =>
          // round r starts from the reference's centroids on both sides
          val (cluster, _) = KMeans.nearest(s.vecs, starts(r))
          assert(s.ids.zip(cluster).toMap === assigns(r), s"round ${r + 1}")
          // and the in-memory fit's centroids after r + 1 rounds agree
          val cents = KMeans.fit(s, k = 8, maxIter = r + 1)._1
          cents.zip(starts(r + 1)).foreach { case (a, b) =>
            a.zip(b).foreach { case (x, y) =>
              assert(math.abs(x - y) <= 1e-9, s"round ${r + 1}: $x vs $y")
            }
          }
        }
      }
  }

  test("building each trained entry runs at most one Spark job") {
    // the training sample's collect; distributed Lloyd rounds would
    // add two jobs per round per fit
    Seq("ann_kmeans", "ann_ivf_trained", "ann_pq_trained", "ann_rq_trained",
        "ann_ivf_pq", "dedup_semantic").foreach { name =>
      val jobs = JobCount.jobsIn(spark, s"$name-build") {
        SparkEntry.queries(name)(spark, Sf)
      }
      assert(jobs <= 1, s"$name ran $jobs jobs while building its DataFrame")
    }
  }

  test("Lloyd inertia is monotone non-increasing and training improves on the init") {
    val (_, inertias) = KMeans.fit(KMeans.sample(emb()), k = 8, maxIter = 6)
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
    val (cents, _) = KMeans.fit(KMeans.sample(e), k = 8, maxIter = 3)
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
    val (cents, _) = KMeans.fit(KMeans.sample(emb()), k = 4, maxIter = 1)
    val plan = KMeans.assign(emb(), cents).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment shuffled:\n$plan")
  }

  test("literal-argmax and broadcast max_by assignment regimes are row-identical") {
    val e = emb()
    val (cents, _) = KMeans.fit(KMeans.sample(e), k = 8, maxIter = 2)
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
    val (cents, inertias) = KMeans.fit(KMeans.sample(e), k = 5, maxIter = 4)
    assert(cents.length === 5)
    assert(cents.forall(c => c.forall(x => !x.isNaN)), "NaN centroid from an empty cluster")
    inertias.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-9)
      case _         =>
    }
  }
}
