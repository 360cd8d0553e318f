package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark protocol (defensible by construction):
  *  - queries run in sorted-name order, so rounds are order-comparable
  *    even as entries are added;
  *  - each query runs `SPARK_GRAFT_BENCH_RUNS` times (default 3) and the
  *    MEDIAN is reported, so one noisy-neighbor run can't poison a
  *    round-over-round comparison; the FIRST run's time is reported
  *    separately (`first` map) — queries that pin lazy localCheckpoints
  *    pay materialization every run here (per-run unpersist is what
  *    isolates queries), so the first/median split makes checkpoint
  *    cost visible without conflating it with steady-state;
  *  - timing materializes `queryExecution.toRdd.count()` — every output
  *    row of the real physical plan; `df.count()` would let Catalyst
  *    prune the projections being measured;
  *  - queries are isolated: after each query the harness unpersists any
  *    persistent RDD blocks the run ADDED (the lazy localCheckpoints
  *    several operators pin) — blocks that existed before the run (e.g.
  *    data a future harness shares across queries) are left alone.
  *    Without the cleanup, blocks accumulate across the 100+ query
  *    session and squeeze the execution memory of whichever query runs
  *    later — a 1.2 s query was observed at 17 s purely from
  *    stale-block GC pressure.
  *  - failures are LOUD: a query that throws is reported as "err" in
  *    the JSON (with the exception in an `errors` map) and the process
  *    exits nonzero — a regression must never bench as a speedup.
  *  - per query, stderr gets one `[bench] codegen` line: the classes
  *    compiled and the compile ms of the first run and of the later
  *    runs together. Later runs compile only what fell out of Spark's
  *    generated-code cache or what changes from call to call;
  *  - the JSON line is also written to a file in the working
  *    directory, so a consumer that truncates long stdout lines still
  *    has the complete per-query recording: `BENCH_FULL.json` for a
  *    full-registry run, `BENCH_ONLY.json` for an isolated
  *    `SPARK_GRAFT_BENCH_ONLY` run, which leaves `BENCH_FULL.json`
  *    alone.
  */
object Bench {
  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => " "
      case c             => c.toString
    }

  /** Classes compiled and compile nanoseconds so far in this JVM
    * (Spark's codegen metrics; a class served from the generated-code
    * cache is not compiled again). */
  private def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.local(GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    // Environment fingerprint on STDERR only (the stdout JSON contract
    // is untouched): round 13's driver session showed a 23-query,
    // 4-25x degradation at local[32] that no code path explains and
    // that neither a 2 GB heap floor nor 8x CPU oversubscription
    // reproduces at this SF (r14 diagnosis, OPTIMIZATION_r14.md). If
    // it recurs, this line tells the next diagnosis what JVM heap and
    // how many EFFECTIVE processors (cgroup-aware on JDK 17) the bench
    // actually had, plus the host load it started under.
    System.err.println(s"[bench] env: heapMaxMb=${Runtime.getRuntime.maxMemory / (1024 * 1024)}" +
      s" availProcs=${Runtime.getRuntime.availableProcessors}" +
      s" master=${spark.sparkContext.master}" +
      s" loadAvg=${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}")
    // ...and every spark.* conf the session runs under that is not a
    // default (factory confs, spark-submit/--conf and -D injections),
    // minus the per-run identifiers
    val perRun = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
      "spark.driver.host", "spark.driver.port", "spark.executor.id")
    System.err.println("[bench] conf: " + spark.conf.getAll.toSeq
      .filter { case (k, _) => k.startsWith("spark.") && !perRun(k) }
      .sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    // Warm the JVM/codegen/parquet-reader paths once so the first timed
    // query doesn't carry session bring-up cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1).collect()
    Tables.events(spark, sfDir).limit(1).collect()
    // optional comma-separated allowlist for local iteration
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val results: Seq[(String, Either[String, (Double, Double)])] = names.map { name =>
      val fn = SparkEntry.queries(name)
      var err: Option[String] = None
      val compiles = Array.fill(runs)((0L, 0L))
      val times = (0 until runs).map { run =>
        val c0 = codegen()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch { case e: Throwable =>
          err = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
            .replace('\n', ' ').take(300))
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val c1 = codegen()
        compiles(run) = (c1._1 - c0._1, c1._2 - c0._2)
        // free only the blocks THIS run pinned (checkpoints), never
        // state that existed before it
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) =>
            if (!preexisting.contains(id)) rdd.unpersist(blocking = false) }
        dt
      }
      val later = compiles.drop(1)
      System.err.println(f"[bench] codegen $name: first ${compiles(0)._1} classes " +
        f"${compiles(0)._2 / 1e6}%.1f ms, later ${later.map(_._1).sum} classes " +
        f"${later.map(_._2).sum / 1e6}%.1f ms")
      val sortedTimes = times.sorted
      name -> err.toLeft((sortedTimes(times.size / 2), times.head))
    }
    val qs = results.map {
      case (k, Right((med, _))) => s"\"$k\":$med"
      case (k, Left(_))         => s"\"$k\":\"err\""
    }.mkString("{", ",", "}")
    val firsts = results.collect { case (k, Right((_, f))) =>
      s"\"$k\":$f" }.mkString("{", ",", "}")
    val errors = results.collect { case (k, Left(m)) =>
      s"\"$k\":\"${jsonEscape(m)}\"" }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right((med, _))) => med }.sum
    val nErr = results.count(_._2.isLeft)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"first":$firsts,"errors":$errors,"n_errors":$nErr,"sf":"$sfDir","runs_per_query":$runs,"stat":"median"}"""
    println(json)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(if (only.isEmpty) "BENCH_FULL.json" else "BENCH_ONLY.json"),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    if (nErr > 0) {
      System.err.println(s"[bench] $nErr queries FAILED — see errors map")
      sys.exit(1)
    }
  }
}
