package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Num.rnd
import graft.functions.TextFunctions.reTokens
import graft.operators.TextOps

/** The Gopher repetition gate (graft_gram_counts + Column arithmetic)
  * against the posexplode/window formulation it replaced, kept here as
  * the reference: crafted documents cover both reject branches, the
  * 0.18 / 0.30 thresholds from either side and the sub-3-token edges,
  * which the generated corpora never reach (none of their gated
  * documents is repetitive). */
class RepetitionGateSpec extends AnyFunSuite {
  import TestSpark._

  /** The window formulation: one posexplode, a doc-partitioned lead
    * window for the gram widths, then per-gram and per-doc aggregates. */
  private def windowReference(docs: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = docs
      .select(col("doc_id"), posexplode(reTokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("w2", lead(col("w"), 1).over(byDoc))
      .withColumn("w3", lead(col("w"), 2).over(byDoc))
      .select(col("doc_id"), explode(array(
        struct(lit(2).as("width"), concat_ws(" ", col("w"), col("w2")).as("gram"),
               col("w2").isNotNull.as("ok")),
        struct(lit(3).as("width"),
               concat_ws(" ", col("w"), col("w2"), col("w3")).as("gram"),
               col("w3").isNotNull.as("ok")))).as("g"))
      .filter(col("g.ok"))
      .select(col("doc_id"), col("g.width").as("width"), col("g.gram").as("gram"))
    grams
      .groupBy(col("doc_id"), col("width"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("width"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n"),
           count(lit(1)).as("n_distinct"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("width") === 2, col("n"))).as("n_bigrams"),
        rnd(max(when(col("width") === 2, col("top_c") / col("n").cast("double"))), 4)
          .as("top_bigram_frac"),
        rnd(max(when(col("width") === 3,
              lit(1.0) - col("n_distinct") / col("n").cast("double"))), 4)
          .as("dup_trigram_frac"))
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
              col("top_bigram_frac"), col("dup_trigram_frac"),
              (coalesce(col("top_bigram_frac"), lit(0.0)) > 0.18 ||
               coalesce(col("dup_trigram_frac"), lit(0.0)) > 0.30)
                .as("repetitive"))
  }

  /** The cleanDocs it replaced: gate, then a left join to the window
    * metrics. */
  private def cleanReference(docs: DataFrame): DataFrame = {
    val gated = TextOps.gateDocs(docs)
    gated.join(windowReference(gated.select(col("doc_id"), col("text"))),
        Seq("doc_id"), "left")
      .filter(!(coalesce(col("top_bigram_frac"), lit(0.0)) > 0.18 ||
                coalesce(col("dup_trigram_frac"), lit(0.0)) > 0.30))
  }

  private val stop = Seq("the", "of", "and", "a")
  private def fill(tag: String, n: Int): Seq[String] =
    (0 until n).map(i => s"${tag}f$i")

  /** `c` blocks "quux rrrr <filler>" padded with unique fillers (4 of
    * them stopwords) to `n` tokens: top_bigram_frac = c / (n − 1), no
    * duplicate trigram. */
  private def bigramDoc(tag: String, c: Int, n: Int): String = {
    val blocks = fill(tag, c).flatMap(f => Seq("quux", "rrrr", f))
    (blocks ++ stop ++ fill(tag + "t", n - blocks.length - stop.length))
      .mkString(" ")
  }

  /** A 20-token run of distinct words said twice, then `u` unique
    * fillers (4 of them stopwords): 18 duplicate trigrams among n − 2,
    * top bigram count 2. */
  private def trigramDoc(tag: String, u: Int): String = {
    val run = (0 until 20).map(i => s"${tag}s$i")
    (run ++ run ++ stop ++ fill(tag, u - stop.length)).mkString(" ")
  }

  private val craftedDocs = Seq(
    1L -> "!!! ...",                                  // 0 tokens
    2L -> "alpha",                                    // 1 token
    3L -> "alpha beta",                               // 2 tokens
    4L -> "alpha beta gamma",                         // 3 tokens
    5L -> "echo echo echo",                           // 3 tokens, one bigram twice
    6L -> (Seq.fill(20)("click here") :+ "the of").mkString(" "), // bigram spam
    7L -> trigramDoc("tspam", 4),                     // trigram spam
    8L -> bigramDoc("b0", 18, 101),                   // 18/100 = 0.18: kept
    9L -> bigramDoc("b1", 18, 100),                   // 18/99 ≈ 0.1818: rejected
    10L -> bigramDoc("b2", 18, 102),                  // 18/101 ≈ 0.1782: kept
    11L -> trigramDoc("t0", 22),                      // 18/60 = 0.30: kept
    12L -> trigramDoc("t1", 21),                      // 18/59 ≈ 0.3051: rejected
    13L -> trigramDoc("t2", 23),                      // 18/61 ≈ 0.2951: kept
    14L -> (fill("plain", 36) ++ stop).mkString(" ")  // no repetition
  )

  /** An RDD, not a local relation, so the expressions run in tasks
    * rather than being folded by the optimizer. */
  private def frame(docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(docs, 2).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
  }

  private lazy val crafted = frame(craftedDocs)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("graft_gram_counts metrics ≡ the window formulation, bit for bit, " +
       "generated and interpreted") {
    val want = rows(windowReference(crafted))
    // CODEGEN_ONLY with no fallback fails on a codegen error instead of
    // silently interpreting
    Seq(Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
            "spark.sql.codegen.fallback" -> "false"),
        Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
            "spark.sql.codegen.wholeStage" -> "false")).foreach { conf =>
      withConf(conf: _*) {
        assert(rows(TextOps.repetitionMetrics(crafted)) === want, conf)
      }
    }
    val docs = Tables.documents(spark, Sf)
    assert(rows(TextOps.repetitionMetrics(docs)) === rows(windowReference(docs)))
  }

  test("edge semantics: no row under 2 tokens, no trigram fraction " +
       "under 3") {
    val m = TextOps.repetitionMetrics(crafted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!m.contains(1L) && !m.contains(2L))
    assert(m(3L).getLong(1) === 1L && m(3L).getDouble(2) === 1.0 &&
           m(3L).isNullAt(3))
    assert(m(4L).getDouble(2) === 0.5 && m(4L).getDouble(3) === 0.0)
    assert(m(5L).getDouble(2) === 1.0 && m(5L).getDouble(3) === 0.0)
  }

  test("reject branch: both gates fire, thresholds are strict") {
    val m = TextOps.repetitionMetrics(crafted).collect()
      .map(r => r.getLong(0) -> r).toMap
    def frac(id: Long, i: Int) = m(id).getDouble(i)
    def repetitive(id: Long) = m(id).getBoolean(4)
    assert(frac(8L, 2) === 0.18 && !repetitive(8L))
    assert(frac(9L, 2) === 0.1818 && repetitive(9L))
    assert(frac(10L, 2) === 0.1782 && !repetitive(10L))
    assert(frac(11L, 3) === 0.3 && !repetitive(11L))
    assert(frac(12L, 3) === 0.3051 && repetitive(12L))
    assert(frac(13L, 3) === 0.2951 && !repetitive(13L))
    // the trigram docs are rejected by the trigram branch alone
    Seq(7L, 12L).foreach(id => assert(frac(id, 2) <= 0.18 && frac(id, 3) > 0.30))
    assert(frac(6L, 2) > 0.18 && repetitive(6L))
  }

  test("cleanDocs ≡ gate + left join to the window metrics, and rejects " +
       "the repetitive gated documents") {
    val got = TextOps.cleanDocs(crafted)
    assert(rows(got) ===
      rows(cleanReference(crafted).select(got.columns.map(col).toSeq: _*)))
    val gated = TextOps.gateDocs(crafted).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val kept = got.select("doc_id").collect().map(_.getLong(0)).toSet
    // both reject branches and both boundary sides reach the gate
    assert(Set(6L, 7L, 8L, 9L, 10L, 11L, 12L, 13L, 14L).subsetOf(gated),
      s"crafted documents must pass the quality gate: $gated")
    assert(gated -- kept === Set(6L, 7L, 9L, 12L))
    val docs = Tables.documents(spark, Sf)
    val clean = TextOps.cleanDocs(docs)
    assert(rows(clean) ===
      rows(cleanReference(docs).select(clean.columns.map(col).toSeq: _*)))
  }
}
