package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the two sketch-backed round-3 additions: the
  * Misra–Gries frequent-items aggregate (graft_freq_items) and the
  * deflate-length quality kernel (graft_deflate_len). */
class SketchSpec extends AnyFunSuite {
  import TestSpark._

  test("freq_items: wrong arity raises a descriptive error, not an index crash") {
    import spark.implicits._
    graft.functions.Registry.register(spark)
    val e = intercept[Exception] {
      Seq("a").toDF("item")
        .agg(call_function("graft_freq_items", col("item"))).collect()
    }
    assert(e.getMessage.contains("2 arguments"), e.getMessage)
  }

  test("freq_items: superset guarantee holds under any partitioning") {
    import spark.implicits._
    graft.functions.Registry.register(spark)
    // Zipf-ish stream: item i appears ~30000/i times; fixed seed.
    val rnd = new Random(42)
    val stream = (1 to 40).flatMap(i => Seq.fill(30000 / i)(s"item_$i"))
    val shuffled = rnd.shuffle(stream)
    val n = shuffled.size
    val k = 10
    val exactHot = shuffled.groupBy(identity)
      .collect { case (item, occ) if occ.size.toLong * k > n => item }.toSet
    assert(exactHot.nonEmpty && exactHot.size < 40)
    for (parts <- Seq(1, 7, 32)) {
      val cands = shuffled.toDF("item").repartition(parts)
        .agg(call_function("graft_freq_items", col("item"), lit(k)))
        .collect().head.getSeq[String](0).toSet
      assert(cands.size <= k - 1, s"parts=$parts: sketch overflowed")
      assert(exactHot.subsetOf(cands),
        s"parts=$parts: missing ${exactHot -- cands}")
    }
  }

  test("freq_items: nulls are skipped; empty input yields an empty array") {
    import spark.implicits._
    graft.functions.Registry.register(spark)
    val withNulls = Seq(Some("a"), None, Some("a"), Some("b"), None)
      .toDF("item")
      .agg(call_function("graft_freq_items", col("item"), lit(5)))
      .collect().head.getSeq[String](0).toSet
    assert(withNulls === Set("a", "b"))
    val empty = Seq.empty[String].toDF("item")
      .agg(call_function("graft_freq_items", col("item"), lit(5)))
      .collect().head.getSeq[String](0)
    assert(empty.isEmpty)
  }

  test("text_heavy_hitters: sketch pass agrees with the exact groupBy") {
    val viaSketch = operators.TextOps.heavyHitters(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // The straight formulation the DuckDB oracle uses.
    import graft.functions.TextFunctions.reTokens
    val terms = Tables.documents(spark, Sf).select(
        col("doc_id"),
        concat(col("text"),
               when(col("doc_id") % 4 === 0, repeat(lit(" zzzhot"), 25))
                 .otherwise(lit(""))).as("txt"))
      .select(explode(reTokens(col("txt"))).as("term"))
    val total = terms.count()
    val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .filter(col("n") * 20 > total)
      .orderBy(col("n").desc, col("term"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaSketch === exact)
    // The seeded hot token is found; the uniform noise is not.
    assert(viaSketch.map(_._1).contains("zzzhot"))
  }

  test("deflate_len: repetitive text compresses far below prose; " +
       "codegen and interpreted agree; deterministic") {
    import spark.implicits._
    graft.functions.Registry.register(spark)
    val repetitive = "spam ham " * 200
    val prose = new Random(7).alphanumeric.take(1600).mkString
    val df = Seq(("rep", repetitive), ("rnd", prose)).toDF("id", "text")
      .select(col("id"), octet_length(col("text")).cast("long").as("raw"),
              call_function("graft_deflate_len", col("text")).as("z"))
    val got = df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (repRaw, repZ) = got("rep")
    val (rndRaw, rndZ) = got("rnd")
    assert(repZ.toDouble / repRaw < 0.05, s"repetitive ratio $repZ/$repRaw")
    assert(rndZ.toDouble / rndRaw > 0.5, s"random ratio $rndZ/$rndRaw")
    // Interpreted path (expression.eval via a filtered literal) matches.
    val viaEval = graft.functions.expressions.DeflateUtil
      .deflatedLength(repetitive.getBytes("UTF-8"))
    assert(viaEval === repZ)
    // Re-running yields identical bytes counts (Deflater reset is clean).
    assert(df.collect().map(_.getLong(2)).toSeq ===
           Seq(repZ, rndZ) || df.collect().map(_.getLong(2)).toSet === Set(repZ, rndZ))
  }

  test("text_compress_ratio: seeded degenerate docs are flagged, others not") {
    val rows = operators.TextOps.compressRatio(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val degenerate = r.getBoolean(4)
      assert(degenerate === (r.getLong(0) % 8 == 0),
        s"doc ${r.getLong(0)} ratio=${r.getDouble(3)}")
    }
  }
}
