package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** The generalized 8-byte hashed wire (the dedup_substring_spans_hashed
  * precedent, §6.4-ladder-proven 1.2–2.1× end-to-end): each string-keyed
  * gram/line shuffle gains an xxhash64 twin whose OUTPUT is pinned
  * identical to the string form on the sf corpus, and whose PLAN is
  * pinned to exchange only long keys — the token/line string is built
  * map-side and never rides a shuffle. The string forms keep their full
  * oracles and stay the entries' defaults; the twins are the measured
  * production swap-ins (SURVEY §6.4 A/B rungs). */
class HashedWireSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Pin: identical rows, and every exchange in the hashed plan
    * partitions on a LONG attribute named `key` (plan strings print
    * long attrs as name#idL), never on a string-typed one. */
  private def pinPair(strName: String, hashName: String,
                      key: String): Unit = {
    val strForm = SparkEntry.queries(strName)(spark, Sf)
    val hashed = SparkEntry.queries(hashName)(spark, Sf)
    val expected = rows(strForm)
    assert(expected.nonEmpty, s"$strName: fixture corpus must produce rows")
    assert(rows(hashed) === expected, s"$hashName differs from $strName")

    val phys = hashed.queryExecution.executedPlan.toString
    val longKey = s"hashpartitioning\\($key#\\d+L".r
    val strKey = s"hashpartitioning\\($key#\\d+[,)]".r
    assert(longKey.findFirstIn(phys).isDefined,
      s"$hashName must shuffle on the 8-byte $key\n$phys")
    assert(strKey.findFirstIn(phys).isEmpty,
      s"$hashName must never shuffle the $key STRING\n$phys")

    // and the string form really is string-keyed (the A of the A/B)
    val sphys = strForm.queryExecution.executedPlan.toString
    assert(strKey.findFirstIn(sphys).isDefined,
      s"$strName lost its string shuffle key — A/B no longer meaningful\n$sphys")
  }

  test("text_dup_ngram_frac: hashed twin ≡ string form, long-only shuffle") {
    pinPair("text_dup_ngram_frac", "text_dup_ngram_frac_hashed", "shingle")
  }

  test("text_boilerplate_lines: hashed twin ≡ string form, long-only shuffle") {
    pinPair("text_boilerplate_lines", "text_boilerplate_lines_hashed",
      "line_key")
  }

  test("dedup_contamination: hashed twin ≡ string form, long-only shuffle") {
    pinPair("dedup_contamination", "dedup_contamination_hashed", "shingle")
  }

  test("dedup_ngram_incremental: hashed twin ≡ string form, long-only shuffle") {
    pinPair("dedup_ngram_incremental", "dedup_ngram_incremental_hashed",
      "shingle")
  }

  test("rag_bm25_indexed: hashed index serves identical rows on 8-byte keys") {
    val strForm = SparkEntry.queries("rag_bm25_indexed")(spark, Sf)
    val hashed = SparkEntry.queries("rag_bm25_indexed_hashed")(spark, Sf)
    val expected = rows(strForm)
    assert(expected.nonEmpty)
    assert(rows(hashed) === expected)

    // the standing index stores longs, never the term string
    val (post, _, _) =
      operators.SearchIndex.bm25Cached(spark, Sf, functions.Wire.Hashed)
    assert(post.schema("term").dataType.typeName === "long")

    // the serve pushes the hashed query vocabulary into the scan as a
    // literal IN over the 8-byte key (the probed-cell contract)
    val phys = hashed.queryExecution.executedPlan.toString
    assert(phys.contains("PushedFilters: [In(term"), phys)
  }

  test("hashed twins share their string form's oracle SQL verbatim") {
    val o = SparkEntry.oracleSql
    Seq("text_dup_ngram_frac", "text_boilerplate_lines",
        "dedup_contamination", "dedup_ngram_incremental",
        "dedup_substring_spans", "rag_bm25_indexed").foreach { base =>
      assert(o(s"${base}_hashed") === o(base),
        s"$base: twin must carry the identical full oracle")
    }
  }
}
