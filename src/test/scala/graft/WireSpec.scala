package graft

import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Wire

/** `Wire` owns the string-or-hash key decision. Its driver-side literals
  * must be the keys Spark's own `xxhash64` column computes, or a hashed
  * IN list would prune away the rows it should keep; `Wire.of` must read
  * an established root's key type back to its wire; and the hashed BM25
  * serve must build with no more jobs than the string one. */
class WireSpec extends AnyFunSuite {
  import TestSpark._

  test("Hashed literals equal Spark's xxhash64 column over the same strings") {
    import spark.implicits._
    val words = operators.Search.QueryTermList ++ Seq("", "naïve日本語")
    val byColumn = words.toDF("w").select(col("w"), xxhash64(col("w")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      assert(Wire.Hashed.literal(w) === byColumn(w), s"'$w'")
    }
    assert(Wire.Text.literal("spark") === "spark")
  }

  test("Wire.of maps the key types back to their wires and rejects others") {
    assert(Wire.of(StringType) === Wire.Text)
    assert(Wire.of(LongType) === Wire.Hashed)
    Seq(Wire.Text, Wire.Hashed).foreach(w => assert(Wire.of(w.dataType) === w))
    Seq(IntegerType, DoubleType).foreach { t =>
      intercept[IllegalArgumentException](Wire.of(t))
    }
  }

  test("building rag_bm25_indexed_hashed on a built cache runs as many " +
       "Spark jobs as rag_bm25_indexed") {
    val entries = Seq("rag_bm25_indexed", "rag_bm25_indexed_hashed")
    entries.foreach(n => SparkEntry.queries(n)(spark, Sf)) // build caches
    val Seq(text, hashed) = entries.map { n =>
      JobCount.jobsIn(spark, s"build-$n")(SparkEntry.queries(n)(spark, Sf))
    }
    assert(hashed === text)
  }
}
