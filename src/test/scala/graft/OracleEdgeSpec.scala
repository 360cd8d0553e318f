package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Domain-edge sweep for the division/log-bearing oracle pairs (the
  * Kaplan–Meier d == n_risk class from round 7, generalized): on
  * degenerate data every guarded expression must yield NULL — the one
  * value both engines produce identically — never an engine-dependent
  * IEEE 0/0 (Spark NaN vs DuckDB error/NULL), and never crash. Each
  * operator's oracle mirrors the guard with nullif, so the pair stays
  * hash-identical at any SF, including one that produces the edge. */
class OracleEdgeSpec extends AnyFunSuite {
  import TestSpark._

  test("gini: zero total revenue and empty frames are NULL, equality is 0") {
    import spark.implicits._
    // all-zero revenue: n·s = 0 — undefined concentration, not NaN
    val zero = operators.Reports.giniFrom(
      Seq((1L, 0.0), (2L, 0.0)).toDF("o_custkey", "rev")).head
    assert(zero.getAs[Long]("n_customers") === 2L)
    assert(zero.isNullAt(zero.fieldIndex("gini")))
    // empty frame: the aggregate still emits its one row, all-NULL stats
    val empty = operators.Reports.giniFrom(
      Seq.empty[(Long, Double)].toDF("o_custkey", "rev")).head
    assert(empty.getAs[Long]("n_customers") === 0L)
    assert(empty.isNullAt(empty.fieldIndex("gini")))
    // perfectly equal (nonzero) revenue is NOT an edge: gini = 0 exactly
    val equal = operators.Reports.giniFrom(
      Seq((1L, 50.0), (2L, 50.0), (3L, 50.0)).toDF("o_custkey", "rev")).head
    assert(equal.getAs[Double]("gini") === 0.0)
  }

  test("auc: a single-class frame is NULL, perfect separation is 1.0") {
    import spark.implicits._
    def auc(rows: Seq[(Double, Long)]): Row =
      operators.TextOps.aucFrom(rows.toDF("prob", "label")).head
    val allPos = auc(Seq((0.9, 1L), (0.4, 1L), (0.2, 1L)))
    assert(allPos.getAs[Long]("n_pos") === 3L &&
           allPos.getAs[Long]("n_neg") === 0L)
    assert(allPos.isNullAt(allPos.fieldIndex("auc")))
    val allNeg = auc(Seq((0.9, 0L), (0.4, 0L)))
    assert(allNeg.isNullAt(allNeg.fieldIndex("auc")))
    val empty = auc(Seq.empty)
    assert(empty.isNullAt(empty.fieldIndex("auc")))
    // sanity away from the edge: separable scores rank perfectly
    assert(auc(Seq((0.9, 1L), (0.8, 1L), (0.2, 0L), (0.1, 0L)))
      .getAs[Double]("auc") === 1.0)
  }

  test("zipf fit: tiny/flat vocabularies degrade to NULL, never NaN") {
    import spark.implicits._
    def fit(texts: Seq[String]): Row =
      operators.TextOps.zipfFitOn(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")).head
    // single-term vocabulary: no x spread, det = 0 → slope/r² undefined
    val one = fit(Seq("aaa aaa aaa aaa"))
    assert(one.getAs[Long]("n_terms") === 1L)
    Seq("zipf_slope", "intercept", "r2")
      .foreach(c => assert(one.isNullAt(one.fieldIndex(c)), c))
    // empty corpus: n = 0
    val none = fit(Seq(""))
    assert(none.getAs[Long]("n_terms") === 0L)
    assert(none.isNullAt(none.fieldIndex("zipf_slope")))
    // all-singleton counts: x varies but y is constant — the fit line
    // is exactly flat (slope 0, intercept ln 1 = 0) and r² undefined
    val flat = fit(Seq("alpha beta gamma delta epsilon"))
    assert(flat.getAs[Long]("n_terms") === 5L)
    assert(flat.getAs[Double]("zipf_slope") === 0.0)
    assert(flat.getAs[Double]("intercept") === 0.0)
    assert(flat.isNullAt(flat.fieldIndex("r2")))
  }

  test("anova: single group, singleton groups, zero within-variance are NULL") {
    import spark.implicits._
    def run(rows: Seq[(String, Double)]) =
      operators.Stats.anovaOn(rows.toDF("o_orderpriority", "o_totalprice")).head
    // one group: between dof = 0 — nothing to compare across
    val one = run((0 until 5).map(i => ("P1", 1000.0 * (i + 1))))
    assert(one.getAs[Long]("k_groups") === 1L)
    assert(one.isNullAt(one.fieldIndex("f_stat")))
    // one row per group: within dof = 0 — no residual variance estimate
    val singletons = run(Seq(("P1", 1000.0), ("P2", 2000.0)))
    assert(singletons.getAs[Long]("n_rows") === 2L)
    assert(singletons.isNullAt(singletons.fieldIndex("f_stat")))
    // constant within every group, distinct means: SSW exactly 0
    val flat = run(Seq(("P1", 1000.0), ("P1", 1000.0),
                       ("P2", 3000.0), ("P2", 3000.0)))
    assert(flat.isNullAt(flat.fieldIndex("f_stat")))
    // sanity away from the edges: genuine within-variance → defined F
    val ok = run(Seq(("P1", 1000.0), ("P1", 2000.0),
                     ("P2", 5000.0), ("P2", 7000.0)))
    assert(!ok.isNullAt(ok.fieldIndex("f_stat")))
  }

  test("ab test: an empty arm or a degenerate pooled rate is NULL") {
    import spark.implicits._
    def run(rows: Seq[(Long, Long)]) =
      operators.Stats.abTestOn(rows.toDF("user_id", "conv")).head
    // every user lands in arm A: arm B has no rate, z has no contrast
    val oneArm = run(Seq((0L, 1L), (2L, 0L), (4L, 1L)))
    assert(oneArm.getAs[Long]("n_b") === 0L)
    Seq("rate_b", "z_score", "significant").foreach(c =>
      assert(oneArm.isNullAt(oneArm.fieldIndex(c)), c))
    // nobody converts: pooled p = 0 — zero variance to test against
    val noConv = run(Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L)))
    assert(noConv.getAs[Double]("rate_a") === 0.0)
    assert(noConv.isNullAt(noConv.fieldIndex("z_score")))
    // everyone converts: pooled p = 1 — the same edge from above
    val allConv = run(Seq((0L, 1L), (1L, 1L), (2L, 1L), (3L, 1L)))
    assert(allConv.isNullAt(allConv.fieldIndex("z_score")))
    // sanity away from the edge: separated rates → defined z
    val ok = run(Seq((0L, 1L), (2L, 1L), (4L, 0L),
                     (1L, 0L), (3L, 0L), (5L, 0L)))
    assert(!ok.isNullAt(ok.fieldIndex("z_score")))
  }

  test("pearson corr: a constant measure yields NULL against every partner") {
    import spark.implicits._
    // z constant: its variance term is exactly 0 — r vs a constant is
    // undefined; the x~y pair stays fully defined in the same output
    val rows = operators.Integrity.corrMeasuresOn(
      Seq((1.0, 2.0, 5.0), (2.0, 4.0, 5.0), (3.0, 6.0, 5.0))
        .toDF("x", "y", "z")).collect()
      .map(r => r.getAs[String]("pair") -> r).toMap
    val xy = rows("quantity~extendedprice")
    assert(xy.getAs[Double]("pearson_r") === 1.0) // y = 2x exactly
    Seq("quantity~discount", "extendedprice~discount").foreach { p =>
      assert(rows(p).isNullAt(rows(p).fieldIndex("pearson_r")), p)
    }
    // empty frame: moment sums NULL-propagate into all three pairs
    val empty = operators.Integrity.corrMeasuresOn(
      Seq.empty[(Double, Double, Double)].toDF("x", "y", "z")).collect()
    assert(empty.length === 3)
    empty.foreach(r => assert(r.isNullAt(r.fieldIndex("pearson_r"))))
  }

  test("trend forecast: single-month and flat-revenue groups degrade to NULL") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val orders = (
      // single month: det = nΣx²−(Σx)² = 0 — no slope through one point
      Seq(("1-SINGLE", d("1995-01-10"), 500000.0)) ++
      // three months of IDENTICAL revenue: slope exactly 0, R² undefined
      Seq("1995-01-05", "1995-02-05", "1995-03-05")
        .map(s => ("2-FLAT", d(s), 2000000.0)) ++
      // clean line rev = month index + 1 (in millions): every stat defined
      Seq(("1995-01-05", 1000000.0), ("1995-02-05", 2000000.0),
          ("1995-03-05", 3000000.0))
        .map { case (s, r) => ("3-LINE", d(s), r) }
    ).toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val out = operators.Trend.trendForecastOn(orders)
      .collect().map(r => r.getAs[String]("o_orderpriority") -> r).toMap
    val single = out("1-SINGLE")
    assert(single.getAs[Long]("n_months") === 1L)
    Seq("slope_musd", "intercept_musd", "r2", "forecast_next_musd")
      .foreach(c => assert(single.isNullAt(single.fieldIndex(c)), c))
    val flat = out("2-FLAT")
    assert(flat.getAs[Double]("slope_musd") === 0.0)
    assert(flat.getAs[Double]("intercept_musd") === 2.0)
    assert(flat.isNullAt(flat.fieldIndex("r2")), "flat y: R² undefined")
    assert(flat.getAs[Double]("forecast_next_musd") === 2.0)
    val line = out("3-LINE")
    assert(line.getAs[Double]("slope_musd") === 1.0)
    assert(line.getAs[Double]("r2") === 1.0)
    assert(line.getAs[Double]("forecast_next_musd") === 4.0)
  }

  test("ks test: an empty population yields NULL distance, not IEEE x/0") {
    import spark.implicits._
    // every order lands in population A: no B distribution to compare
    val oneSided = operators.Stats.ksTestOn(
      Seq((0L, true), (1L, true), (2L, true)).toDF("bin", "isA")).head
    assert(oneSided.getAs[Long]("n_a") === 3L)
    assert(oneSided.getAs[Long]("n_b") === 0L)
    Seq("ks_d", "critical_05", "significant")
      .foreach(c => assert(oneSided.isNullAt(oneSided.fieldIndex(c)), c))
    // sanity away from the edge: disjoint supports separate completely
    val disjoint = operators.Stats.ksTestOn(
      ((0 until 20).map(i => (i.toLong % 2, true)) ++
       (0 until 20).map(i => (10L + i % 2, false))).toDF("bin", "isA")).head
    assert(disjoint.getAs[Double]("ks_d") === 1.0)
    assert(disjoint.getAs[Boolean]("significant"))
  }

  test("lift curve: a positive-free corpus yields NULL lift/gain, zero rates") {
    import spark.implicits._
    val negOnly = operators.TextOps.liftCurveFrom(
      Seq((0.95, 0L), (0.55, 0L), (0.15, 0L), (0.05, 0L))
        .toDF("prob", "label")).collect()
    assert(negOnly.nonEmpty)
    negOnly.foreach { r =>
      assert(r.getAs[Double]("pos_rate") === 0.0)
      assert(r.isNullAt(r.fieldIndex("lift")), "lift undefined with 0 positives")
      assert(r.isNullAt(r.fieldIndex("cum_gain")))
    }
    // sanity away from the edge: a perfectly ranked corpus lifts the top
    // bin by 1/base-rate and captures all gain there
    val ranked = operators.TextOps.liftCurveFrom(
      (Seq((0.95, 1L), (0.91, 1L)) ++
       (0 until 8).map(i => (0.05 + i * 0.01, 0L))).toDF("prob", "label"))
      .collect()
    assert(ranked.head.getAs[Double]("lift") === 5.0)  // 1.0 / (2/10)
    assert(ranked.head.getAs[Double]("cum_gain") === 1.0)
  }

  test("funnel conversion: a signup-free event stream yields NULL rate") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = Seq((1L, "purchase", ts0), (2L, "click", ts0))
      .toDF("user_id", "event_type", "ts")
    val r = operators.Events.funnelConversionOn(ev).head
    assert(r.getAs[Long]("n_signed_up") === 0L)
    assert(r.isNullAt(r.fieldIndex("conv_pct")),
      "no signups: conversion has no base population")
  }

  test("compress ratio: an empty document is NULL, not an ANSI crash") {
    import spark.implicits._
    val out = operators.TextOps.compressRatioOn(
      Seq((1L, ""), (2L, "hello world hello world"))
        .toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_bytes") === 0L)
    assert(out(1L).isNullAt(out(1L).fieldIndex("ratio")))
    assert(out(1L).isNullAt(out(1L).fieldIndex("degenerate")))
    assert(!out(2L).isNullAt(out(2L).fieldIndex("ratio")))
  }

  test("psi drift: an entirely empty split stays finite via smoothing") {
    import spark.implicits._
    import java.security.MessageDigest
    def nibble(id: Long): Int = Integer.parseInt(
      MessageDigest.getInstance("MD5").digest(id.toString.getBytes)
        .map("%02x".format(_)).mkString.substring(0, 1), 16)
    // every order lands in the CURRENT split (md5 nibble 0): the
    // baseline side is completely absent — add-half smoothing must
    // keep every psi_term finite and non-null, with no guard needed
    val curKeys = (0L until 400L).filter(nibble(_) == 0).take(6)
    assert(curKeys.size === 6, "fixture needs 6 nibble-0 keys")
    val orders = curKeys.zipWithIndex
      .map { case (k, i) => (k, 50000.0 * i + 1000.0) }
      .toDF("o_orderkey", "o_totalprice")
    val rows = operators.Etl.psiDriftOn(orders).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_base") === 0L)
      val t = r.getAs[Double]("psi_term")
      assert(!r.isNullAt(r.fieldIndex("psi_term")) && !t.isNaN &&
             !t.isInfinite, s"psi_term $t must be finite")
    }
  }

  test("anomalies: zero-variance types contribute nothing; real outliers still flag") {
    import spark.implicits._
    val ev = (
      // constant type: σ = 0 exactly → filtered before the division
      (0 until 20).map(i => (i.toLong, "flat", 7.5)) ++
      // single-event type: stddev_pop = 0 (not NULL) for n = 1
      Seq((100L, "lonely", 3.0)) ++
      // varying type with one planted extreme value
      (0 until 29).map(i => (200L + i, "vary", 0.0)) :+ (500L, "vary", 100.0)
    ).toDF("event_id", "event_type", "value")
    val out = operators.Events.anomaliesOn(ev).collect()
    assert(out.map(_.getAs[String]("event_type")).toSet === Set("vary"))
    assert(out.map(_.getAs[Long]("event_id")).toSeq === Seq(500L))
    assert(out.head.getAs[Double]("z") > 3.0)
  }

  test("text_quality, text_langid: a document with no word token scores NULL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("notoken").toString
    Seq((1L, "!!! ...", "en", "web", 7L), (2L, "the spark of a stream", "en", "web", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val lang = operators.TextOps.langid(spark, dir).orderBy("doc_id").collect()
    assert(lang.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(lang(0).isNullAt(1) && lang(0).isNullAt(2))
    // NULL >= NULL is not true: the oracle's CASE falls to 'tech' too
    assert(lang(0).getString(3) === "tech")
    assert(lang(1).toSeq.tail === Seq(0.6, 0.4, "en"))
    val quality = operators.TextOps.quality(spark, dir).orderBy("doc_id").collect()
    assert(quality(0).getLong(1) === 0L)
    assert(quality(0).isNullAt(2) && quality(0).isNullAt(3))
    assert(quality(1).toSeq.tail === Seq(5L, 3.4, 0.6))
  }
}
