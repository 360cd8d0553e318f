package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the factory's generated-code cache size, so the suite's many
      // entries do not recompile each other's classes (the cache is
      // per JVM and sized by whichever session generates code first)
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"
}

/** Every declared operator materializes at sf0.001, plus spot checks on
  * values the synthetic data pins down. */
class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name materializes with a nonempty schema") {
      val df = fn(spark, Sf)
      assert(df.schema.fields.nonEmpty)
      df.count() // forces full execution
    }
  }

  test("rpt_summary counts match table sizes") {
    val row = operators.Reports.summary(spark, Sf).collect().head
    assert(row.getAs[Long]("total_orders") === 1500L)
    assert(row.getAs[Long]("total_lineitems") === 6000L)
    assert(row.getAs[Long]("total_events") === 1000L)
  }

  test("rpt_funnel stages sum to total") {
    val row = operators.Timelines.funnel(spark, Sf).collect().head
    val total = row.getAs[Long]("total_orders")
    val parts = row.getAs[Long]("open_orders") +
      row.getAs[Long]("partial_orders") + row.getAs[Long]("final_orders")
    assert(total === parts) // statuses are exactly O/P/F
  }

  test("etl_dedup_latest keeps one row per customer") {
    val df = operators.Etl.dedupLatest(spark, Sf)
    assert(df.count() === df.select("o_custkey").distinct().count())
  }

  test("evt_sessionize session counts are positive and bounded by events") {
    val rows = operators.Events.sessionize(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Long]("n_sessions"); val e = r.getAs[Long]("n_events")
      assert(s >= 1L && s <= e)
    }
  }

  test("rpt_approx_percentiles stays within 2% of the exact percentiles") {
    val exact = operators.Reports.percentiles(spark, Sf).collect()
      .map(r => r.getAs[String]("o_orderstatus") ->
        (r.getAs[Double]("p50_price"), r.getAs[Double]("p90_price"))).toMap
    val approx = operators.Reports.approxPercentiles(spark, Sf).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val (p50e, p90e) = exact(r.getAs[String]("o_orderstatus"))
      // accuracy=10000 → rank error ≤ n/10000; 2% value tolerance is
      // generous headroom over that on this distribution
      assert(math.abs(r.getAs[Double]("p50_approx") - p50e) <= 0.02 * p50e)
      assert(math.abs(r.getAs[Double]("p90_approx") - p90e) <= 0.02 * p90e)
    }
  }

  test("ann_topk returns exactly 10 ranked neighbors per query") {
    val rows = similarity.Knn.topK(spark, Sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size === 5)
    byQ.values.foreach { g =>
      assert(g.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to 10L))
      val sims = g.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ann_ivf scores agree with brute force on shared pairs") {
    val bf = similarity.Knn.topK(spark, Sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
                 r.getAs[Double]("cos_sim")).toMap
    val ivf = similarity.Knn.ivf(spark, Sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
                 r.getAs[Double]("cos_sim")).toMap
    val shared = bf.keySet.intersect(ivf.keySet)
    assert(shared.nonEmpty)
    shared.foreach(k => assert(bf(k) === ivf(k)))
  }

  test("dedup_exact_docs finds no duplicates in the synthetic corpus") {
    val df = dedup.Dedup.exactDocs(spark, Sf)
    assert(df.filter(org.apache.spark.sql.functions.col("n_copies") > 1).count() === 0)
  }

  test("sql_runner rejects non-SELECT statements") {
    intercept[IllegalArgumentException] {
      operators.TableOps.runSql(spark, Sf, "DROP TABLE v_orders")
    }
  }

  test("rpt_filtered_composed pushes all three filter kinds to the scan") {
    // formatted mode prints the full (untruncated) PushedFilters list;
    // Catalyst rewrites to_date(ts) <= d into ts < d+1day, hence LessThan
    val plan = operators.Filters.filteredRatesComposed(spark, Sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = plan.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.nonEmpty, s"no pushed filters in:\n$plan")
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate"), pushed)
    assert(pushed.contains("LessThan(o_orderdate"), pushed)
    assert(pushed.contains("EqualTo(o_orderstatus,F)"), pushed)
    assert(pushed.contains("In(o_orderpriority"), pushed)
  }

  test("rpt_approx_distinct stays within the requested error bound") {
    operators.Filters.approxDistinct(spark, Sf).collect().foreach { r =>
      val exact = r.getAs[Long]("exact_orders").toDouble
      val approx = r.getAs[Long]("approx_orders").toDouble
      assert(math.abs(approx - exact) / exact < 0.1)
    }
  }

  test("etl_quarantine fires every rule on the planted violations") {
    val rows = operators.Etl.quarantine(spark, Sf).collect()
    assert(rows.nonEmpty, "planted violations must produce quarantine rows")
    val byRule = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    Seq("bad_quantity", "bad_price", "bad_discount", "bad_returnflag",
        "null_shipdate").foreach { r =>
      assert(byRule.getOrElse(r, 0) > 0, s"rule $r never fired")
    }
    // planting corrupts exactly one field per stride row → one
    // violation per quarantined record, only on stride residues 0..4
    rows.foreach { r =>
      val k = (r.getLong(0) * 5 + r.getLong(1)) % 199
      assert(k >= 0 && k <= 4, s"row off the planted stride: $r")
    }
    val n = Tables.lineitem(spark, Sf).count()
    assert(rows.length < n / 20,
      "quarantine volume must track the ~2.5% planted stride density")
  }

  test("etl_scd2 history chains: versions contiguous, exactly one current") {
    val rows = operators.Etl.scd2(spark, Sf).collect()
    rows.groupBy(_.getAs[Long]("custkey")).foreach { case (_, vs) =>
      val versions = vs.map(_.getAs[Long]("version")).sorted.toSeq
      assert(versions == (1L to versions.size.toLong))
      assert(vs.count(_.getAs[Boolean]("is_current")) === 1)
      // each non-current row's valid_to equals the next version's valid_from
      val byV = vs.sortBy(_.getAs[Long]("version"))
      byV.sliding(2).filter(_.length == 2).foreach { pair =>
        assert(pair(0).getAs[String]("valid_to") ===
               pair(1).getAs[String]("valid_from"))
      }
    }
  }

  test("etl_cdc_apply op tallies partition the change stream") {
    val total = Tables.orders(spark, Sf).count()
    val rows = operators.Etl.cdcApply(spark, Sf).collect()
    val sum = rows.map(r => r.getAs[Long]("n_inserts") +
      r.getAs[Long]("n_updates") + r.getAs[Long]("n_deletes")).sum
    assert(sum === total)
    rows.foreach { r =>
      assert((r.getAs[String]("state") == "deleted") ==
             (r.getAs[String]("last_op") == "D"))
    }
  }

  test("q18_big_orders returns only above-threshold orders") {
    val rows = operators.Tpch.q18BigOrders(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    rows.foreach(r => assert(r.getAs[Double]("total_qty") > 300.0))
  }

  test("evt_sliding_hourly window multiplicity is exactly size/slide") {
    val nEvents = Tables.events(spark, Sf).count()
    val windowed = operators.Events.slidingHourly(spark, Sf)
      .agg(org.apache.spark.sql.functions.sum("n_events")).collect().head.getLong(0)
    assert(windowed === nEvents * 4) // 1 h windows every 15 min
  }

  test("rpt_mad_outliers flags a strict minority with nonnegative MAD") {
    operators.Reports.madOutliers(spark, Sf).collect().foreach { r =>
      assert(r.getAs[Double]("mad_price") >= 0.0)
      assert(r.getAs[Long]("n_outliers") < r.getAs[Long]("n_orders") / 2)
    }
  }

  test("sample_temperature boosts low-resource languages") {
    val rows = operators.Sampling.temperatureMixture(spark, Sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
                 r.getAs[Double]("keep_rate")))
    rows.foreach { case (_, _, rate) => assert(rate > 0.0 && rate <= 1.0) }
    // keep rate must be non-increasing in class size (p^(α-1) is decreasing)
    rows.sortBy(_._2).sliding(2).foreach {
      case Array((_, na, ra), (_, nb, rb)) if na < nb => assert(ra >= rb)
      case _ =>
    }
  }

  test("text_boilerplate_lines drops frequent-pool lines, keeps the rest") {
    val rows = operators.TextOps.boilerplateLines(spark, Sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_lines") === 4L)
      // frequent-pool line (df≈N/59>6) is always dropped; the rare
      // shared line (df≤2) and the two unique lines never are
      assert(r.getAs[Long]("n_boiler") === 1L)
      assert(r.getAs[Double]("boiler_frac") === 0.25)
    }
  }

  test("rpt_benford digit shares sum to one") {
    val rows = operators.Reports.benford(spark, Sf).collect()
    assert(rows.length <= 9)
    val mass = rows.map(_.getAs[Double]("observed")).sum
    assert(math.abs(mass - 1.0) < 0.01)
    rows.foreach(r => assert(('1' to '9').map(_.toString)
      .contains(r.getAs[String]("digit"))))
  }

  test("tbl_diff produces all four verdicts and tracks the planted drift") {
    val rows = operators.TableOps.snapshotDiff(spark, Sf).collect()
      .map(r => r.getAs[String]("status") ->
        (r.getAs[Long]("n_keys"), r.getAs[Double]("value_drift"))).toMap
    assert(rows.keySet === Set("added", "removed", "changed", "unchanged"))
    // every changed key was perturbed by exactly +1.0
    val (nChanged, drift) = rows("changed")
    assert(drift === nChanged.toDouble)
    assert(rows("unchanged")._2 === 0.0)
  }

  test("evt_user_paths is a descending bounded top-k of 3-step paths") {
    val rows = operators.Events.userPaths(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 15)
    val ns = rows.map(_.getAs[Long]("n")).toSeq
    assert(ns == ns.sortBy(-_))
    rows.foreach(r => assert(r.getAs[String]("path").count(_ == '>') === 2))
  }

  test("graph_label_prop labels every nation with a member community") {
    val out = graph.LabelProp.nationCommunities(spark, Sf).collect()
    assert(out.length === 25)
    val communities = out.map(_.getAs[Long]("community")).toSet
    assert(communities.nonEmpty && communities.size <= 25)
  }

  test("etl_psi_drift: per-side shares each sum to ~1 and PSI is small on a random split") {
    val rows = operators.Etl.psiDrift(spark, Sf).collect()
    assert(math.abs(rows.map(_.getAs[Double]("p_cur")).sum - 1.0) < 0.01)
    assert(math.abs(rows.map(_.getAs[Double]("p_base")).sum - 1.0) < 0.01)
    // the md5 lineage split is distribution-neutral: total PSI must sit
    // far below the 0.1 "investigate" line
    assert(rows.map(_.getAs[Double]("psi_term")).sum < 0.1)
  }

  test("evt_segment_overlap estimates bound sanely") {
    operators.Events.segmentOverlap(spark, Sf).collect().foreach { r =>
      val (a, b) = (r.getAs[Double]("est_a"), r.getAs[Double]("est_b"))
      val (u, i) = (r.getAs[Double]("est_union"), r.getAs[Double]("est_intersect"))
      assert(u >= math.max(a, b) * 0.5, s"union $u vs max($a,$b)") // sketch noise slack
      assert(i <= u + 1e-9)
      val j = r.getAs[Double]("jaccard_est")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("split_group_aware never lets a source straddle splits") {
    val docs = Tables.documents(spark, Sf)
    val rows = operators.Sampling.splitGroupAware(spark, Sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    // per-split distinct sources sum to the global distinct count iff
    // the split partitions the source set (no leakage across splits)
    assert(rows.map(_.getAs[Long]("n_sources")).sum ===
           docs.select("source").distinct().count())
  }

  test("sample_weighted skews toward heavy documents and is reproducible") {
    val docs = Tables.documents(spark, Sf)
    val corpusMean = docs
      .agg(org.apache.spark.sql.functions.avg("n_chars"))
      .collect().head.getDouble(0)
    val a = operators.Sampling.weightedSample(spark, Sf).collect()
    val b = operators.Sampling.weightedSample(spark, Sf).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    assert(a.length === 100)
    val sampleMean = a.map(_.getAs[Long]("n_chars")).sum.toDouble / a.length
    assert(sampleMean > corpusMean, s"sample $sampleMean vs corpus $corpusMean")
  }

  test("rpt_gini stays in [0,1) and is zero on a uniform distribution limit") {
    val r = operators.Reports.giniRevenue(spark, Sf).collect().head
    val g = r.getAs[Double]("gini")
    assert(g >= 0.0 && g < 1.0, s"gini $g out of range")
    // revenue is spread over many customers — concentration must be
    // far from the single-customer extreme
    assert(g < 0.9)
  }

  test("multimodal_features is deterministic and aligned with payload size") {
    val a = multimodal.BinaryPipeline.features(spark, Sf).orderBy("doc_id").collect()
    val b = multimodal.BinaryPipeline.features(spark, Sf).orderBy("doc_id").collect()
    assert(a.toSeq === b.toSeq)
    // Y4M container arithmetic: n_bytes is the header + per-frame
    // ("FRAME\n" + planes) mass the decoder actually consumed, and the
    // synthesized geometry pins plane size to the colorspace
    a.foreach { r =>
      val frames = r.getAs[Long]("n_frames")
      assert(frames > 0L)
      assert(r.getAs[Long]("duration_ms") === frames * 40L)
      assert(r.getAs[Long]("n_bytes") > frames * 6L)
    }
  }
}
