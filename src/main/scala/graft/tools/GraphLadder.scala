package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale ladder for the iterative/self-join graph kernels — the one
  * operator family whose §2 entries run on a 25-node dimension graph,
  * so the sf0.1 bench exercises the fact-join EDGE BUILD, not the
  * kernels (VERDICT r10 item 5). This synthesizes a power-law graph at
  * a parameterized edge count and times each kernel in isolation:
  *
  *  - edges: src = e mod N uniform; dst = ⌊N·u³⌋ with u the
  *    xxhash64(e)-derived uniform — a Zipf-ish in-degree tail
  *    (P(dst = 0) ≈ N^(−2/3) of mass lands on the top hub), the shape
  *    that breaks naive triangle counting ("the curse of the last
  *    reducer") and skews the PageRank/LPA vote shuffles. No RNG:
  *    the graph is a pure function of (edges, hash), reproducible
  *    across runs and rungs.
  *  - kernels: PageRank.run (3 fixed power iterations),
  *    LabelProp.run (3 synchronous rounds, per-round lazy
  *    localCheckpoint — the 48g behavior the verdict flags),
  *    Triangles.triangleList (oriented wedge join) and the degree
  *    histogram. Each is forced through queryExecution.toRdd.count()
  *    (the Bench discipline) and pinned blocks are unpersisted after
  *    each kernel so rungs don't squeeze each other.
  *
  * Usage: {{{ runMain graft.tools.GraphLadder <edges> [cpus] [kernels] [runs] }}}
  * `kernels` is a comma list (default all); `runs` repeats each kernel
  * and reports the MEDIAN (adjudication discipline — single 10M-edge
  * readings were observed 2× apart run-to-run).
  * Prints one JSON line per kernel plus a summary line.
  */
object GraphLadder {
  def main(args: Array[String]): Unit = {
    val e = if (args.length > 0) args(0).toLong else 1000000L
    val cpus = if (args.length > 1) args(1).toInt else 32
    val kernels: Set[String] =
      if (args.length > 2 && args(2).nonEmpty && args(2) != "all")
        args(2).split(",").map(_.trim).toSet
      else Set("pagerank", "label_prop", "degree_hist", "triangles")
    val runs = if (args.length > 3) args(3).toInt else 1
    val spark = graft.GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val n = math.max(100L, e / 10) // 10 edges/node on average

    // u ∈ [0,1) from xxhash64 — deterministic, no RNG
    val u = (abs(xxhash64(col("id"))) % 1000000000L).cast("double") / 1e9
    val edges: DataFrame = spark.range(e).select(
        (col("id") % n).as("src"),
        floor(lit(n.toDouble) * pow(u, 3)).cast("long").as("dst"),
        lit(1.0).as("w"))
      .filter(col("src") =!= col("dst"))
    val nodes = spark.range(n).select(col("id").as("node"))

    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    def time(name: String)(df: => DataFrame): Double = {
      if (!kernels.contains(name)) return -1.0
      val secs = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!preexisting.contains(id)) rdd.unpersist(blocking = false) }
        dt
      }.sorted.apply(runs / 2)
      println(f"""{"tool":"graph_ladder","kernel":"$name","edges":$e,""" +
        f""""nodes":$n,"runs":$runs,"median_secs":$secs%.2f}""")
      secs
    }

    val pr = time("pagerank") {
      graft.graph.PageRank.run(edges, nodes, n, iters = 3)
        .agg(sum(col("r")).as("mass"), count(lit(1)).as("n"))
    }
    val lp = time("label_prop") {
      graft.graph.LabelProp.run(edges, iters = 3)
        .agg(countDistinct(col("label")).as("communities"),
             count(lit(1)).as("n"))
    }
    val dh = time("degree_hist") {
      graft.graph.Triangles.degrees(edges)
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    }
    val tr = time("triangles") {
      graft.graph.Triangles.triangleList(edges).agg(count(lit(1)).as("tri"))
    }
    // convergence-loop regime (per-round checkpointed ranks): the
    // pin-vs-recompute `trans` A/B that the fixed-iteration entry's
    // scaladoc predicts flips sign here — measured, not assumed.
    // Reported as secs + iterations-to-tol (1e-9 on a ~1M-node graph).
    Seq(("pagerank_conv", true), ("pagerank_conv_nopin", false)).foreach {
      case (name, pin) =>
        if (kernels.contains(name)) {
          val secs = (1 to runs).map { _ =>
            val t0 = System.nanoTime()
            val (ranks, iters) = graft.graph.PageRank.runToConvergence(
              edges, nodes, n, tol = 1e-9, maxIters = 40, pinTrans = pin)
            ranks.agg(sum(col("r")).as("mass")).collect()
            val dt = (System.nanoTime() - t0) / 1e9
            println(f"""{"tool":"graph_ladder","kernel":"$name","run_iters":$iters,"secs":$dt%.2f}""")
            spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
              if (!preexisting.contains(id)) rdd.unpersist(blocking = false) }
            dt
          }.sorted.apply(runs / 2)
          println(f"""{"tool":"graph_ladder","kernel":"$name","edges":$e,""" +
            f""""nodes":$n,"runs":$runs,"median_secs":$secs%.2f}""")
        }
    }
    println(f"""{"tool":"graph_ladder","kernel":"ALL","edges":$e,"nodes":$n,""" +
      f""""runs":$runs,"pagerank":$pr%.2f,"label_prop":$lp%.2f,""" +
      f""""degree_hist":$dh%.2f,"triangles":$tr%.2f}""")
    spark.stop()
  }
}
