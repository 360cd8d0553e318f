package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Lloyd's k-means over an embedding column — the codebook trainer for
  * the IVF/PQ/RQ family (which previously used id-strided samples as
  * honest stand-ins) and the cluster step of semantic dedup
  * (dedup.Dedup.semantic).
  *
  * Training follows the Faiss train() contract: codebook quality needs
  * thousands of representatives, not the corpus, so every trainer fits
  * on [[sample]] — at most [[TrainCap]] rows, collected to the driver
  * in ONE Spark job — and [[fit]] runs every Lloyd round in memory over
  * it. The fit is model fitting on a bounded array (≤ TrainCap × dim
  * doubles, ~307 MB at 768 dims), not a data loop: a distributed
  * round would pay a plan, a shuffle stage, a collect and a fresh
  * codegen (its centroids are literals) to aggregate the same ≤ cap
  * rows. Its scores, tie-break and accumulation order are the ones
  * [[assignLiteral]] runs, so an in-memory assignment equals the
  * codegen'd one bit for bit.
  *
  * Corpus-side ASSIGNMENT stays in Spark and is a PURE MAP: the
  * centroids are a bounded model parameter (k×dim doubles), inlined as
  * literals — one codegen'd argmax chain per row (k native dot
  * products), no join, no broadcast, no shuffle; at 100 TB a scan. The
  * literal-argmax formulation bounds k (codegen method size); it is the
  * right shape for codebook-scale k (≤ ~64). Beyond that (e.g.
  * SemDeDup's 100k clusters) assignment switches to the broadcast
  * codebook + max_by shape of Knn.assignToCentroids — one exchange.
  */
object KMeans {

  /** Past this k the literal-argmax expression chain stops being the
    * right shape (codegen method size, plan bloat) and assignment
    * switches to the broadcast-centroids max_by regime. */
  private[graft] val LiteralArgmaxMaxK = 64

  /** Training-sample cap (Faiss-style: train on a bounded
    * representative sample, encode everything). */
  private[graft] val TrainCap = 50000

  private def sqn(c: Array[Double]): Double = c.map(x => x * x).sum

  /** One struct(2·x·cᵢ − ‖cᵢ‖², −(i+1)) per literal centroid over the
    * `embedding` column: argmax ⇔ argmin‖x − cᵢ‖² (x·x is constant per
    * row), and equal scores break to the lowest cluster id through the
    * −(i+1) field. Shared by the assignment and Knn.probeClusters. */
  private[similarity] def scoreStructs(cents: IndexedSeq[Array[Double]]): Column =
    array(cents.zipWithIndex.map { case (c, i) =>
      struct(
        (lit(2.0) * VectorFunctions.dot(col("embedding"), typedlit(c.toSeq))
          - lit(sqn(c))).as("s"),
        lit(-(i + 1)).as("negi"))
    }: _*)

  /** Assignment dispatch: appends `cluster` (1-based) and `sqdist`
    * (‖x − c_cluster‖², clamped at 0 against FP drift) to a
    * (vec_id, embedding) frame. Codebook-scale k inlines centroids as
    * literals (pure map, zero shuffles); past [[LiteralArgmaxMaxK]]
    * (e.g. SemDeDup-scale cluster counts) it switches to the broadcast
    * + max_by shape — KMeansSpec pins the two regimes row-identical. */
  private[graft] def assign(e: DataFrame,
                            cents: IndexedSeq[Array[Double]]): DataFrame =
    if (cents.length <= LiteralArgmaxMaxK) assignLiteral(e, cents)
    else assignBroadcast(e, cents)

  /** Literal-centroid regime: the argmax of [[scoreStructs]]. Pure map
    * — at 100 TB a scan. */
  private[graft] def assignLiteral(e: DataFrame,
                                   cents: IndexedSeq[Array[Double]]): DataFrame = {
    val v = col("embedding")
    e.withColumn("b", array_max(scoreStructs(cents)))
      .withColumn("cluster", -col("b.negi"))
      .withColumn("sqdist",
        greatest(VectorFunctions.dot(v, v) - col("b.s"), lit(0.0)))
      .drop("b")
  }

  /** Large-k regime: centroids broadcast as a tiny frame, the expanded
    * vector × centroid product is reduced by max_by over groupBy(vec_id)
    * — a hash aggregate with map-side partial combine, so the shuffle
    * carries one best-so-far row per vector per partition, never the
    * expanded product (the Knn.assignToCentroids shape). Same score
    * formula and tie-break as the literal regime. */
  private[graft] def assignBroadcast(e: DataFrame,
                                     cents: IndexedSeq[Array[Double]]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val cdf = cents.zipWithIndex
      .map { case (c, i) => (i + 1, c.toSeq, sqn(c)) }
      .toDF("c_id", "cv", "c_sqn")
    e.crossJoin(broadcast(cdf))
      .withColumn("s",
        lit(2.0) * VectorFunctions.dot(col("embedding"), col("cv")) - col("c_sqn"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
           max_by(struct(col("c_id"), col("s")),
                  struct(col("s"), -col("c_id"))).as("b"))
      .select(col("vec_id"), col("embedding"),
              col("b.c_id").as("cluster"),
              greatest(VectorFunctions.dot(col("embedding"), col("embedding")) -
                         col("b.s"), lit(0.0)).as("sqdist"))
  }

  /** Σ xᵢ·cᵢ over the common prefix, accumulated left to right in
    * double — DotProduct's loop, so scores built on it equal the
    * codegen'd ones bit for bit. */
  private def dot(x: Array[Double], c: Array[Double]): Double = {
    val n = math.min(x.length, c.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * c(i); i += 1 }
    s
  }

  /** A training sample: `vecs(i)` is row `ids(i)`'s embedding as
    * doubles (null for a null embedding), rows in md5(vec_id) order.
    * `capped` says the frame held more than the cap, so the sample is
    * not all of it. */
  private[graft] final case class Sample(ids: Array[Long],
                                         vecs: Array[Array[Double]],
                                         capped: Boolean) {
    /** Every vector's [from, until) components (a PQ subspace). */
    def slice(from: Int, until: Int): Sample =
      copy(vecs = vecs.map(v => if (v == null) null else v.slice(from, until)))
  }

  /** The bounded training sample of a (vec_id, embedding) frame, in ONE
    * Spark job: the first `cap` rows in md5(vec_id), vec_id order, so
    * under the cap it is every row and past it a deterministic,
    * content-independent sample. The one row past the cap sets
    * `capped` at no extra job.
    *
    * Collected through `.rdd`, i.e. the limit's execute path: each
    * partition keeps its top cap + 1 and one single-partition exchange
    * merges those heaps on an executor, so the driver receives at most
    * cap + 1 rows. (`Dataset.collect` would take the limit's
    * executeCollect path, which merges every partition's heap on the
    * driver: partitions × (cap + 1) rows.) */
  private[graft] def sample(e: DataFrame, cap: Int = TrainCap): Sample = {
    val rows = sampleFrame(e, cap)
    import rows.sparkSession.implicits._
    val read = rows.as[(Long, Array[Double])].rdd.collect()
    val kept = read.take(cap)
    Sample(kept.map(_._1), kept.map(_._2), capped = read.length > cap)
  }

  /** The frame [[sample]] collects: `orderBy(...).limit(cap + 1)` plans
    * as TakeOrderedAndProject, with bounded per-partition heaps. The
    * embedding is read as `array<double>` (float → double widening is
    * exact). */
  private[graft] def sampleFrame(e: DataFrame, cap: Int): DataFrame =
    e.select(col("vec_id").cast("long").as("vec_id"),
             col("embedding").cast("array<double>").as("embedding"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(cap + 1)

  /** Each vector's cluster (1-based) and ‖x − c‖² (clamped at 0) under
    * [[assignLiteral]]'s score, left-to-right dots and tie-break to the
    * lowest id; a null or empty vector gets cluster 0. */
  private[graft] def nearest(vecs: Array[Array[Double]], cents: IndexedSeq[Array[Double]])
      : (Array[Int], Array[Double]) = {
    val sq = cents.map(sqn)
    val cluster = new Array[Int](vecs.length)
    val sqdist = new Array[Double](vecs.length)
    var i = 0
    while (i < vecs.length) {
      val v = vecs(i)
      if (v != null && v.length > 0) {
        var best = 0
        var bestS = 2.0 * dot(v, cents(0)) - sq(0)
        var j = 1
        while (j < cents.length) {
          val s = 2.0 * dot(v, cents(j)) - sq(j)
          if (s > bestS) { best = j; bestS = s }
          j += 1
        }
        cluster(i) = best + 1
        sqdist(i) = math.max(dot(v, v) - bestS, 0.0)
      }
      i += 1
    }
    (cluster, sqdist)
  }

  /** Lloyd iterations over a training sample, from a deterministic
    * id-strided init (vec_id % 17 == 0, by vec_id, first k). Returns
    * the final centroids and the inertia (Σ min-sqdist) measured at the
    * START of each round — non-increasing by the Lloyd argument, which
    * KMeansSpec asserts. Each centroid is its members' mean per
    * position; a null embedding contributes nothing; an empty cluster
    * keeps its previous centroid; the fit stops early at a fixed
    * point. */
  def fit(s: Sample, k: Int, maxIter: Int)
      : (IndexedSeq[Array[Double]], Seq[Double]) = {
    require(k >= 1 && maxIter >= 1, s"need k>=1, maxIter>=1; got $k, $maxIter")
    val init = s.ids.indices.filter(i => s.ids(i) % 17 == 0)
      .sortBy(i => s.ids(i)).take(k)
    require(init.nonEmpty, "k-means init sample is empty")
    var cents: IndexedSeq[Array[Double]] = init.map { i =>
      require(s.vecs(i) != null, s"k-means init row ${s.ids(i)} has a null embedding")
      s.vecs(i)
    }
    val dim = cents.head.length
    val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]
    var iter = 0
    var fixedPoint = false
    while (iter < maxIter && !fixedPoint) {
      val (cluster, sqdist) = nearest(s.vecs, cents)
      val sums = Array.ofDim[Double](cents.length, dim)
      val n = new Array[Long](cents.length)
      var inertia = 0.0
      var i = 0
      while (i < s.vecs.length) {
        val c = cluster(i) - 1
        if (c >= 0) {
          val v = s.vecs(i)
          val acc = sums(c)
          var p = 0
          while (p < v.length) { acc(p) += v(p); p += 1 }
          n(c) += 1
          inertia += sqdist(i)
        }
        i += 1
      }
      inertias += inertia
      val next = cents.indices.map { c =>
        if (n(c) == 0) cents(c) else sums(c).map(_ / n(c))
      }
      fixedPoint = cents.indices.forall(c => cents(c).sameElements(next(c)))
      cents = next
      iter += 1
    }
    (cents, inertias.toSeq)
  }
}
