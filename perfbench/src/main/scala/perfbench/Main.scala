package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.json4s.jackson.Serialization.write

import graft.{GraftSession, SparkEntry}

/** graft's benchmark harness: one workload, one seed, one JVM at
  * local[cores], one closed-loop client.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --spec workloads.json --expected expected.json
  *                  --cores C --scratch DIR --traces DIR [--commit SHA] [--budget S]
  *                  [--record OUT]
  *
  * The run sets up (session, untimed warm-up that also checks every
  * output), measures a timed phase with tracing off, and with --trace 1
  * a traced pass and an untraced one, in the same entry order. The last stdout line is
  * one JSON object with every metric (bare numbers; the units are
  * BENCHMARK.json's), the run fingerprint and the check tally. With
  * --record it only runs the checking warm-up and writes each entry's row
  * count and digest to OUT. `--workload survey --record OUT` instead
  * times every candidate entry of workloads.json's "survey" once warm,
  * traced, and writes its per-layer figures to OUT. */
object Main {
  private implicit val formats: Formats = DefaultFormats

  private def uptimeS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val recordTo = args.get("record")
    val budgetS = args.get("budget").fold(Double.MaxValue)(_.toDouble)
    val spec = parse(new String(Files.readAllBytes(Paths.get(args("spec"))), UTF_8))
    val expected: Map[String, Expected] =
      if (recordTo.isDefined) Map.empty
      else (parse(new String(Files.readAllBytes(Paths.get(args("expected"))), UTF_8)) \ "entries")
        .extract[Map[String, JValue]].map { case (k, v) =>
          k -> Expected((v \ "rows").extract[Long], (v \ "digest").extractOpt[String].filter(_.nonEmpty)) }
    val w = spec \ workload
    val bench: Workload = workload match {
      case "registry_mix" =>
        new EntryWorkload((w \ "report").extract[List[String]], (w \ "prep").extract[List[String]],
          (w \ "report_repeats").extract[Int])
      case "survey" =>
        val prefixes = (w \ "report_prefixes").extract[List[String]]
        new EntryWorkload(SparkEntry.queries.keys.filter(k => prefixes.exists(k.startsWith)).toSeq.sorted,
          (w \ "prep").extract[List[String]], 1)
      case "stream_ingest" =>
        new StreamWorkload((w \ "epoch_docs").extract[Int], (w \ "epochs").extract[Int],
          (w \ "warmup_epochs").extract[Int], (w \ "max_deltas").extract[Int],
          (w \ "dup_rate").extract[Double], new File(args("scratch"), "stream"))
      case other => sys.error(s"unknown workload $other")
    }

    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, args("data"), seed, expected, recordTo.isDefined)
    System.err.println(s"[perfbench] session up after $uptimeS s")
    bench.setup(ctx)
    val setupS = uptimeS

    recordTo.foreach { out =>
      val result =
        if (workload == "survey") survey(ctx, bench)
        else Map("entries" -> ctx.recorded.map { case (k, e) =>
          k -> Map("rows" -> e.rows, "digest" -> e.digest.getOrElse("")) }.toMap)
      Files.write(Paths.get(out), (write(result) + "\n").getBytes(UTF_8))
      spark.stop()
      sys.exit(if (ctx.failed == 0) 0 else 1)
    }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val untraced = bench.phase(ctx, seconds, Int.MaxValue)
    metrics("setup_s") = setupS
    metrics("wall_s") = Stats.quantile(untraced.passSeconds, 0.5)
    metrics("latency_p50_s") = Stats.quantile(untraced.p50Latencies, 0.5)
    metrics("latency_p90_s") = Stats.quantile(untraced.latencies, 0.9)
    metrics("latency_samples") = untraced.latencies.size.toDouble
    metrics("latency_p50_samples") = untraced.p50Latencies.size.toDouble
    untraced.extra.foreach { case (k, v) if !k.contains('.') => metrics(k) = Stats.quantile(v, 0.5); case _ => }

    if (traced) {
      val rec = new JobRecorder
      spark.sparkContext.addSparkListener(rec)
      val errors = ErrorCounter.attach()
      val heap = new HeapPeak
      heap.start()
      val first = ctx.tracer.mark
      val t = bench.phase(ctx, 0.0, 1)
      if (bench.readsTables) (1 to 3).foreach { _ =>
        TableLoaders.loaders.foreach { case (name, open) =>
          ctx.tracer.span("open", name)(_ => open(spark, ctx.dataDir)) }
      }
      rec.drain()
      spark.sparkContext.removeSparkListener(rec)
      ErrorCounter.detach(errors)
      val spans = ctx.tracer.since(first)
      val layers = Layers.compute(spans, rec, t.ops, t.passSeconds.size)
      layers("checkpoint.pinned_rdds") = t.extra.get("checkpoint.pinned_rdds").map(_.head).getOrElse(0.0)
      Seq("stream.state_files", "stream.compactions", "sinks.write_mb").foreach { k =>
        layers(k) = t.extra.get(k).map(Stats.quantile(_, 0.5)).getOrElse(0.0) }
      layers("stream.docs_per_s") = t.extra.get("docs_per_s").map(Stats.quantile(_, 0.5)).getOrElse(0.0)
      layers("sinks.bytes_per_doc") = t.extra.get("bytes_per_doc").map(Stats.quantile(_, 0.5)).getOrElse(0.0)
      layers("jvm.heap_peak_mb") = heap.stopMb()
      layers("log.error_lines") = errors.count.get.toDouble
      // One more untraced pass: it and the last untraced pass bracket the
      // traced one (all three in the same entry order), so a drift in pass
      // time (warm-up, host load) cancels out of the overhead. The gap
      // between the two brackets is the noise to read the overhead against.
      // (skipped, leaving one bracket, when it would not end by --budget)
      val after =
        if (uptimeS + t.passSeconds.sum < budgetS) bench.phase(ctx, 0.0, 1)
        else Phase.empty
      val brackets = untraced.passSeconds.lastOption.toSeq ++ after.passSeconds
      layers("trace.overhead_s") = Stats.quantile(t.passSeconds, 0.5) - brackets.sum / math.max(brackets.size, 1)
      layers("trace.bracket_gap_s") = if (brackets.size == 2) brackets(1) - brackets(0) else 0.0
      metrics ++= layers
      writeSpans(new File(args("traces"), s"spans_${workload}_$seed.jsonl"), spans, rec)
    }
    metrics("error_rate") = ctx.failed.toDouble / math.max(ctx.attempted, 1L)

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.") && !Set("spark.app.id", "spark.app.name", "spark.app.startTime", "spark.driver.host",
        "spark.driver.port", "spark.app.submitTime", "spark.executor.id").contains(k) }
    val fingerprint = ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "commit" -> args.getOrElse("commit", "unknown"),
      "nproc" -> cores, "available_processors" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> s"${sys.props("java.vendor")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "session" -> (s"GraftSession.local($cores): ${spark.sparkContext.master}, shuffle partitions " +
        spark.conf.get("spark.sql.shuffle.partitions")),
      "spark_conf" -> ListMap(conf.toSeq.sortBy(_._1): _*),
      "spark_system_properties" -> sys.props.toMap.filter(_._1.startsWith("spark.")),
      "extra_opts" -> sys.env.getOrElse("SPARK_GRAFT_EXTRA_OPTS", ""),
      "load_average" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
    val out = ListMap(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> ListMap(metrics.toSeq: _*),
      "problems" -> ctx.problems.toSeq,
      "fingerprint" -> fingerprint)
    spark.stop()
    println(write(out))
    sys.exit(if (ctx.failed == 0) 0 else 1)
  }

  /** Each survey entry's warm latency and per-layer figures from one
    * traced call, so workload entry lists can be chosen, and their choice
    * re-checked, from measurements. */
  private def survey(ctx: Ctx, bench: Workload): Map[String, Any] = {
    val rec = new JobRecorder
    ctx.spark.sparkContext.addSparkListener(rec)
    val first = ctx.tracer.mark
    val t = bench.phase(ctx, 0.0, 1)
    rec.drain()
    val spans = ctx.tracer.since(first)
    Map("entries" -> t.ops.map(op =>
      op.name -> (ListMap("latency_s" -> op.seconds) ++ Layers.compute(spans, rec, Seq(op), 1))).toMap)
  }

  /** The traced pass's spans, one JSON object a line, each Spark job
    * as a child span of the harness span it was submitted in. */
  private def writeSpans(f: File, spans: Seq[Span], rec: JobRecorder): Unit = {
    val jobs = rec.synchronized(rec.jobs.values.toVector)
    val leaves = spans.filterNot(s => spans.exists(_.parent == s.id))
    val lines = spans.map(s => write(ListMap("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds))) ++
      jobs.flatMap { j =>
        leaves.find(_.contains(j.submitMs)).map(p => write(ListMap("job" -> j.id, "parent" -> p.id,
          "kind" -> "job", "start_ms" -> j.submitMs, "end_ms" -> j.endMs,
          "stages" -> j.stageIds.size)))
      }
    f.getParentFile.mkdirs()
    Files.write(f.toPath, lines.asJava, UTF_8)
  }
}
