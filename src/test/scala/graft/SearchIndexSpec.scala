package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Wire

/** The persisted BM25 postings index (operators/SearchIndex.scala):
  * build once per corpus fingerprint, serve from the clustered tables.
  * Contract = the AnnIndex one — served output IDENTICAL to the inline
  * form, reload a pure cache hit — plus the lexical index's stronger
  * property: append ≡ rebuild EXACTLY (postings are per-doc-local). */
class SearchIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("indexed BM25 equals the inline form, and reloads hit the cache") {
    val served = rows(operators.SearchIndex.bm25Indexed(spark, Sf))
    val inline = rows(operators.Search.bm25(spark, Sf))
    assert(served.nonEmpty)
    assert(served === inline)

    val cache = tools.CorpusCache.dirFor(Sf, "documents", "bm25")
    val marker = new java.io.File(s"$cache/stats/_SUCCESS")
    assert(marker.exists())
    val mtime = marker.lastModified()
    assert(rows(operators.SearchIndex.bm25Indexed(spark, Sf)) === served)
    assert(marker.lastModified() === mtime, "cache was rebuilt")
  }

  test("serving pushes the query vocabulary into the postings scan") {
    val plan = operators.SearchIndex.bm25Indexed(spark, Sf)
      .queryExecution.executedPlan.toString
    // the literal IN must reach the term-clustered parquet scan so
    // min/max file skipping drops postings outside the vocabulary
    assert(plan.contains("PushedFilters: [In(term"), plan.take(3000))
  }

  test("append ≡ rebuild: served scores from the appended index are identical") {
    val docs = Tables.documents(spark, Sf)
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    // appended index: per-split postings/doclen unioned, stats additive
    val (pc, dc) = operators.SearchIndex.addBatch(corpus)
    val (pb, db) = operators.SearchIndex.addBatch(batch)
    val post = pc.union(pb)
    val dl = dc.union(db)
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
                       sum(col("dl")).cast("double").as("sum_dl"))
    val appended = rows(operators.Search
      .bm25From(spark, post, dl, stats, 10)
      .orderBy(col("query_id"), col("rank")))
    val rebuilt = rows(operators.Search.bm25(spark, Sf))
    assert(appended === rebuilt)
  }

  test("a warm index open reads the declared schemas and runs no Spark job") {
    import operators.SearchIndex._
    Seq(("bm25", "string", Wire.Text), ("bm25h", "long", Wire.Hashed))
      .foreach { case (kind, termType, wire) =>
        bm25Cached(spark, Sf, wire) // build, or reuse a built cache
        val cache = tools.CorpusCache.dirFor(Sf, "documents", kind)
        var frames: (DataFrame, DataFrame, DataFrame) = null
        assert(JobCount.jobsIn(spark, s"$kind-warm-open") {
          frames = bm25Cached(spark, Sf, wire)
        } === 0, kind)
        val (post, dl, stats) = frames
        // the declared schemas are the ones parquet inference returns
        Seq(post -> "postings", dl -> "doclen", stats -> "stats").foreach {
          case (df, table) =>
            assert(df.schema === spark.read.parquet(s"$cache/$table").schema,
              s"$kind $table")
        }
        assert(post.schema("term").dataType.typeName === termType)
      }
    // the served entries still equal the inline form (string, hashed)
    val inline = rows(operators.Search.bm25(spark, Sf))
    assert(rows(bm25Indexed(spark, Sf)) === inline)
    assert(rows(bm25Indexed(spark, Sf, Wire.Hashed)) === inline)
  }
}
