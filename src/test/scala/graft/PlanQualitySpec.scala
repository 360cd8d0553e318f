package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards for the scale-critical rewrites: these
  * lock in WHERE the work happens (partial aggs below joins, single
  * materialization of shared subplans), not just what the query
  * returns — the properties that decide whether a plan survives a
  * 100 TB input. */
class PlanQualitySpec extends AnyFunSuite {
  import TestSpark._

  test("ann_ivf materializes the centroid assignment once (lazy checkpoint)") {
    // the assignment (corpus × codebook) is lazily checkpointed; both
    // the query side and the candidate side must read the SAME
    // checkpoint RDD — if either branch re-derives the assignment from
    // the parquet scan, the expensive pipeline is running twice again.
    // (Not cache(): that would register in the CacheManager and leak
    // reuse into later identical queries, e.g. bench re-runs.)
    val df = similarity.Knn.ivf(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"), plan.take(3000))
    val rddScans = "Scan ExistingRDD".r.findAllIn(plan).length
    assert(rddScans >= 2, plan.take(3000))
    df.count() // materializes through the checkpoint without error
  }

  test("LM-backed text ops materialize their shared counts/score frame once") {
    // counts (unigram_logprob, sample_importance) and the per-doc score
    // frame (perplexity buckets) each feed two plan branches; both
    // branches must read the SAME lazily-checkpointed RDD, or the
    // explode+aggregate pipeline silently runs twice (the ann_ivf
    // defect class from round 2).
    for (q <- Seq("text_unigram_logprob", "sample_importance",
                  "text_perplexity_buckets")) {
      val plan = SparkEntry.queries(q)(spark, Sf)
        .queryExecution.executedPlan.toString
      val rddScans = "Scan ExistingRDD".r.findAllIn(plan).length
      assert(rddScans >= 2, s"$q: expected both branches on the checkpoint\n" +
        plan.take(2000))
    }
  }

  test("evt_failed_login_burst pushes the error-type filter into the scan") {
    // the burst detector filters to ONE event type before anything
    // shuffles — at 100 TB the scan-level pushdown is the difference
    // between reading one type's row groups and reading the firehose
    val plan = operators.Events.failedLoginBurst(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), " +
      "EqualTo(event_type,error)"), plan.take(3000))
  }

  test("evt_audit_activity derives success/total from the category rollup") {
    // the success split and grand total must aggregate the pinned
    // O(categories) frame, not re-scan events: exactly TWO event scans
    // (category rollup + user rollup) and the three rollup branches on
    // the checkpoint RDD
    val df = operators.Events.auditActivity(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    // visible scans: ONE (the user rollup); the category rollup's scan
    // lives inside the checkpointed lineage and runs once at pin time
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 visible event scan, got $scans\n" +
      plan.take(3000))
    val rddScans = "Scan ExistingRDD".r.findAllIn(plan).length
    assert(rddScans >= 3, s"expected 3 branches on the pinned rollup\n" +
      plan.take(3000))
    df.count() // materializes through the checkpoint without error
  }

  test("evt_sliding_hourly expands windows map-side, below the partial agg") {
    // the 4-row window expansion (Expand) must sit UNDER the partial
    // HashAggregate and its Exchange: the shuffle then carries only
    // per-(window, partition) partials — if Expand ever lands above the
    // Exchange, the shuffle grows 4× with the events
    val plan = operators.Events.slidingHourly(spark, Sf)
      .queryExecution.executedPlan.toString
    val iExpand = plan.indexOf("Expand")
    val iExchange = plan.indexOf("Exchange")
    assert(iExpand >= 0 && iExchange >= 0, plan.take(2000))
    // toString prints top-down, so "below" = larger index
    assert(iExpand > iExchange, plan.take(2000))
  }

  test("etl_scd2's lead and row_number share one window Exchange+Sort") {
    val prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = operators.Etl.scd2(spark, Sf).queryExecution.executedPlan.toString
      val windows = "\\bWindow\\b".r.findAllIn(plan).length
      assert(windows == 1, s"expected ONE Window op\n${plan.take(2000)}")
      // exactly 2 exchanges: the window key + the presentation orderBy
      val exchanges = "Exchange hashpartitioning|Exchange rangepartitioning"
        .r.findAllIn(plan).length
      assert(exchanges == 2, s"expected 2 exchanges\n${plan.take(2000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("vw_employee_workload pre-aggregates the fact side below the roster join") {
    val prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = operators.TableOps.employeeWorkload(spark, Sf)
        .queryExecution.executedPlan
      val join = p.collectFirst {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.getOrElse(fail("no join in plan"))
      // an aggregate must sit BELOW the join: the shuffle then carries
      // per-supplier partial aggregates, not full fact rows
      val aggBelowJoin = join.children.exists(_.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined)
      assert(aggBelowJoin, p.toString.take(2000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("tbl_sorted plans as TakeOrderedAndProject (no full global sort)") {
    val plan = operators.TableOps.sortedDefault(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("text_dup_ngram_frac never collect_lists a bucket") {
    // the doc-frequency formulation must stay a pure count + join —
    // a collect_list bucket skeleton would reintroduce the hot-shingle
    // memory risk the guard work removed (and plan ObjectHashAggregate)
    val plan = operators.TextOps.dupNgramFrac(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(!plan.contains("collect_list"), plan.take(3000))
  }

  test("rag_rerank broadcasts the shortlist and ranks through TopKPerKey") {
    // the corpus scan must be the streamed side of broadcast joins
    // (embeddings never shuffle) and the final ranking must be the
    // bounded-heap operator, not a per-query window over candidates
    val plan = similarity.Knn.rerank(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("TopKPerKeyPartial"), plan.take(3000))
  }

  test("tbl_profile plans one single-distinct leg per column, no Expand") {
    // the round-11 rewrite: N exact distincts as N union legs, each a
    // single-distinct aggregate over a ONE-COLUMN pruned scan — the
    // one-scan Expand form multiplied scan output by N into the first
    // aggregate (the former documented 100 TB caveat). ProfileSpec
    // additionally locks the per-leg ReadSchema; here: leg count and
    // the Expand ban.
    val plan = operators.TableOps.profile(spark, Sf)
      .queryExecution.executedPlan.toString
    val nCols = Tables.orders(spark, Sf).schema.size
    val scans = "Scan parquet".r.findAllIn(plan).length
    val legs = "Union".r.findAllIn(plan).length
    assert(!plan.contains("Expand"), plan.take(2000))
    // EXACTLY one pruned scan per profiled column — more would mean a
    // duplicated leg, fewer a collapsed multi-distinct (Expand) form
    assert(scans === nCols,
      s"expected $nCols per-column scans, got $scans\n${plan.take(2000)}")
    assert(legs >= 1,
      s"expected a union of per-column legs\n${plan.take(2000)}")
  }

  test("ann_pq encodes map-only: no sort/object aggregate, one shuffled agg") {
    // the literal-codebook rewrite keeps the encode inside codegen: a
    // groupBy+max_by formulation would plan a SortAggregate over the
    // N×M×K expanded product. Only the ADC sum (HashAggregate) and the
    // top-k machinery may shuffle.
    val plan = similarity.Knn.pq(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), plan.take(3000))
    assert(!plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(plan.contains("TopKPerKeyPartial"), plan.take(3000))
  }

  test("text_repetition: the presentation sort is the only exchange") {
    val prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the gram counts are a per-row expression, so the metric is a
      // map-only projection of the scan; only the doc_id ordering
      // shuffles
      val plan = operators.TextOps.repetition(spark, Sf)
        .queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length <= 1, plan.toString.take(3000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("cleanDocs plans map-only: no exchange, no join, no window") {
    val prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = operators.TextOps.cleanDocs(Tables.documents(spark, Sf))
        .queryExecution.executedPlan
      assert(plan.collectFirst {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, plan.toString.take(3000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("text_pii_scrub is a pure scan→scan map (no join/agg, only the presentation sort)") {
    val prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = operators.TextOps.piiScrub(spark, Sf).queryExecution.executedPlan
      assert(plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty, plan.toString.take(2000))
      assert(plan.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isEmpty, plan.toString.take(2000))
      // the only exchange allowed is the deterministic output ordering
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length <= 1, plan.toString.take(2000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("text_heavy_hitters: sketch is partial-merged; exact pass counts candidates only") {
    val plan = operators.TextOps.heavyHitters(spark, Sf)
      .queryExecution.executedPlan.toString
    // pass 1: the Misra–Gries buffer must combine map-side (one sketch
    // per partition crosses the wire, not the term stream)
    assert(plan.contains("partial_freqitemssketch"), plan.take(3000))
    // pass 2: the candidate filter is the join condition — it must sit
    // below the term aggregation, so only ≤ k−1 distinct terms shuffle
    val joinIdx = plan.indexOf("array_contains")
    val aggIdx = plan.indexOf("partial_count")
    assert(joinIdx >= 0 && aggIdx >= 0, plan.take(3000))
  }

  test("text_compress_ratio is map-only (no exchange except the presentation sort)") {
    val plan = operators.TextOps.compressRatio(spark, Sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, plan.take(2000)) // only the final orderBy range
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("rag_retrieve broadcasts the bounded hit set; documents never shuffle") {
    val plan = similarity.Knn.retrieve(spark, Sf)
      .queryExecution.executedPlan.toString
    // the doc fetch is a broadcast join with the retrieval result as
    // the build side — the documents scan feeds a BroadcastHashJoin
    // directly, with no hash-partition exchange of doc rows
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("TopKPerKey"), plan.take(3000))
  }

  test("sample_domain_cap runs through TopKPerKey with a map-side partial pass") {
    val plan = operators.Sampling.domainCap(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyPartial"), plan.take(3000))
    assert(plan.contains("TopKPerKey"), plan.take(3000))
  }

  test("incremental near-dup entries never plan a nested-loop pair join") {
    // the batch-vs-corpus contract: candidates form ONLY through the
    // shingle-postings join (lexical) / label-block equi-join
    // (semantic) — if either ever degrades to a nested-loop or
    // cartesian pair product, the daily increment scans the corpus
    // per batch doc and the entry is dead at 100 TB
    for (q <- Seq("dedup_ngram_incremental", "dedup_embed_incremental")) {
      val plan = SparkEntry.queries(q)(spark, Sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q\n" + plan.take(2000))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q\n" + plan.take(2000))
    }
  }

  test("substring-span entries: equi joins only, gram/doc keyed") {
    // the span family's scale contract: duplicated-gram detection and
    // the position join-back are gram-keyed equi joins (linear in gram
    // occurrences), and the scrub's range condition rides the doc_id
    // equi key as a residual — never a nested-loop or cartesian pair
    // product, which would scan the corpus per doc
    for (q <- Seq("dedup_substring_spans", "dedup_substring_scrub",
                  "dedup_substring_incremental")) {
      val plan = SparkEntry.queries(q)(spark, Sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q\n" + plan.take(2000))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q\n" + plan.take(2000))
    }
  }

  test("ivf_pq_refined rescore is candidate-driven: no full-corpus rescore") {
    // the refine stage joins the bounded candidate set against the raw
    // vectors on vec_id — an equi join; a nested-loop here would mean
    // the exact rescore touches every corpus vector and the entry
    // degrades to brute force with extra steps
    val plan = SparkEntry.queries("ann_ivf_pq_refined")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("evt_psi_windows aggregates map-side: one partial pass, PSI in-row") {
    // all B bucket counts are conditional sums in ONE windowed
    // aggregate — a (window × bucket) grouping would shuffle B rows
    // per window AND need a second aggregate for the totals
    val plan = operators.Events.psiWindows(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial"), plan.take(3000))
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs <= 4, s"expected one partial+final pair (+sort-side), got $aggs\n"
      + plan.take(3000))
  }

  test("dedup_embed_lsh band width scales with the corpus size") {
    // 500 vectors at sf0.001×10 ⇒ ⌈log₂ 50⌉ = 6 planes per band at the
    // test SF; the banded explode must therefore produce 16 hashes per
    // vector with values in [0, 2^6) — i.e. granularity follows N
    val df = dedup.Dedup.embedCosineLsh(spark, Sf)
    assert(df.columns.toSeq === Seq("id_a", "id_b", "cos_sim"))
    df.count() // materializes with the scaled width (no exception)
  }
}
