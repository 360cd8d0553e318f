package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.functions.Num.rnd

/** Unit semantics for the shared column builders. */
class FunctionsSpec extends AnyFunSuite {
  import TestSpark._

  test("SimHashSignature aggregate matches the 64-sum-agg formulation") {
    import spark.implicits._
    graft.functions.Registry.register(spark)
    val tok = Tables.documents(spark, Sf).limit(100)
      .select(col("doc_id"), explode(reTokens(col("text"))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val viaAgg = tok.groupBy(col("doc_id"))
      .agg(call_function("graft_simhash", col("h")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bitAggs = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$b")
    }
    val viaSums = tok.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b =>
          when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg.nonEmpty)
    assert(viaAgg === viaSums)
  }

  test("shingles builds distinct word 3-grams") {
    import spark.implicits._
    val df = Seq("a b c d", "x y", "a b c a b c a b c").toDF("text")
    val got = df.select(shingles(wsTokens(col("text")), 3).as("s"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq("a b c", "b c a", "c a b"))
  }

  test("reTokens lowercases and strips punctuation") {
    import spark.implicits._
    val got = Seq("Hello, World! 42").toDF("text")
      .select(reTokens(col("text"))).collect().head.getSeq[String](0)
    assert(got === Seq("hello", "world", "42"))
  }

  test("cosine similarity on known vectors") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)),
                 (Seq(1.0, 2.0), Seq(2.0, 4.0)),
                 (Seq(1.0, 0.0), Seq(-1.0, 0.0))).toDF("a", "b")
    val got = df.select(rnd(cosine(col("a"), col("b")), 4)).collect()
      .map(_.getDouble(0)).toSeq
    assert(got === Seq(0.0, 1.0, -1.0))
  }

  test("rnd matches half-up at boundary values both ways") {
    import spark.implicits._
    val got = Seq(4.725, 4.7249, -1.005, 2.675).toDF("x")
      .select(rnd(col("x"), 2)).collect().map(_.getDouble(0)).toSeq
    // floor(x*100+0.5)/100 on the actual binary doubles:
    assert(got === Seq(
      math.floor(4.725 * 100 + 0.5) / 100,
      math.floor(4.7249 * 100 + 0.5) / 100,
      math.floor(-1.005 * 100 + 0.5) / 100,
      math.floor(2.675 * 100 + 0.5) / 100))
  }

  test("MinHashSignature aggregate equals explicit per-hash minima") {
    import spark.implicits._
    import graft.functions.expressions.MinHashFamily
    functions.Registry.register(spark)
    val hashes = Seq(5L, 99L, 1234567L, 42L, 2147483646L)
    val df = hashes.toDF("h")
    val got = df.agg(call_function("graft_minhash_sig", col("h")))
      .collect().head.getSeq[Long](0)
    val expected = (0 until MinHashFamily.NumHashes).map { i =>
      hashes.map(h => MinHashFamily.hash(i, h)).min
    }
    assert(got === expected)
  }

  test("fixMojibake repairs CP1252 smart punctuation") {
    import spark.implicits._
    val got = Seq("itâ€™s â€œquotedâ€ here")
      .toDF("text")
      .select(fixMojibake(org.apache.spark.sql.functions.col("text")))
      .collect().head.getString(0)
    assert(got === "it's \"quoted\" here")
  }

  test("vocabHits counts only vocabulary words") {
    import spark.implicits._
    val got = Seq("the cat and the hat").toDF("text")
      .select(vocabHits(wsTokens(col("text")), Seq("the", "and")))
      .collect().head.getInt(0)
    assert(got === 3)
  }
}
