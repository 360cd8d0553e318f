package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FRESH-CONTENT scaling-audit generator (round 7, closing the
  * round-6 verdict's methodology caveat). The round-5 generator
  * tools.ScaleUp (SURVEY §6.1, source at 0791305) replicated
  * documents/embeddings VERBATIM, so its ~sf1 corpus was a
  * mass-duplicate stress where distinct-content cardinality stays
  * constant and every pair generator's output grows ~quadratically in
  * clone count. A TRUE larger SF instead grows the
  * number of DISTINCT documents/vectors (more vocabulary, more LSH
  * buckets, more clusters — different shuffle/window behavior), with
  * duplicate mass growing only LINEARLY (each replica carries the
  * original corpus's own dups, not cross-replica clones).
  *
  * Fresh content is derived deterministically, no RNG:
  *  - documents: every token is prefixed with the replica tag
  *    (`r<i>w<token>`), so replica vocabularies are DISJOINT — a
  *    cross-replica pair shares no shingle/term, exactly like
  *    genuinely new documents. Intra-replica structure (the corpus's
  *    own dup/near-dup groups, Zipf shape, lengths) is preserved
  *    token-for-token. Replica 0 keeps the original text verbatim.
  *  - embeddings: each replica-i vector adds a deterministic per-dim
  *    drift sin(7i + d)/8 — distinct vectors with preserved scale;
  *    replica 0 stays verbatim. (A corpus-level shift per replica is
  *    the natural structure of a source/domain-partitioned corpus.)
  *  - keyed tables replicate with one stride per key domain
  *    (FK-consistent), fixed-size dimensions (region, nation) copy
  *    as-is.
  *
  * Usage: runMain graft.tools.ScaleUpFresh [srcDir dstDir replicas]
  */
object ScaleUpFresh {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/.scratch/sf1f"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local(graft.GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    write(spark, src, dst, replicas)
    println(s"[scaleup-fresh] wrote ${replicas}x $src -> $dst")
    spark.stop()
  }

  /** Write the `replicas`× corpus of `src` to `dst`. Tables are read
    * as their files store them, not through graft.Tables: `events.ts`
    * keeps its type (a TIMESTAMP(NANOS) one reads as int64 under the
    * `nanosAsLong` conf GraftSession.configure sets). */
  def write(spark: SparkSession, src: String, dst: String, replicas: Int): Unit = {
    def rd(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def wr(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    def stride(table: String, key: String): Long = {
      val mx = rd(table).agg(max(col(key))).head.getLong(0)
      math.pow(10, math.ceil(math.log10((mx + 2).toDouble))).toLong
    }
    val custS  = stride("customer", "c_custkey")
    val suppS  = stride("supplier", "s_suppkey")
    val partS  = stride("part", "p_partkey")
    val orderS = stride("orders", "o_orderkey")
    val eventS = stride("events", "event_id")
    val userS  = stride("events", "user_id")
    val docS   = stride("documents", "doc_id")
    val vecS   = stride("embeddings", "vec_id")

    def replicate(df: DataFrame, mutate: (DataFrame, Int) => DataFrame,
                  keys: (String, Long)*): DataFrame =
      (0 until replicas).map { i =>
        mutate(keys.foldLeft(df) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(i * s))
        }, i)
      }.reduce(_ unionByName _)
    val asIs: (DataFrame, Int) => DataFrame = (d, _) => d

    // entity names re-derive from the offset key (the generator's own
    // Name#%09d convention), so replica entities are genuinely NEW
    // entities — identical names across replicas would recreate the
    // clone pathology inside name-blocked matching (etl_entity_match's
    // blocks would grow ~quadratically, which is the clone regime)
    def rekeyName(nameCol: String, prefix: String, keyCol: String)
        (d: DataFrame, i: Int): DataFrame =
      if (i == 0) d
      else d.withColumn(nameCol,
        concat(lit(prefix), lpad(col(keyCol).cast("string"), 9, "0")))

    Seq("region", "nation").foreach(t => wr(rd(t), t))
    wr(replicate(rd("customer"), rekeyName("c_name", "Customer#", "c_custkey"),
         "c_custkey" -> custS), "customer")
    wr(replicate(rd("supplier"), rekeyName("s_name", "Supplier#", "s_suppkey"),
         "s_suppkey" -> suppS), "supplier")
    wr(replicate(rd("part"), asIs, "p_partkey" -> partS), "part")
    wr(replicate(rd("orders"), asIs,
         "o_orderkey" -> orderS, "o_custkey" -> custS), "orders")
    wr(replicate(rd("lineitem"), asIs, "l_orderkey" -> orderS,
         "l_partkey" -> partS, "l_suppkey" -> suppS), "lineitem")
    wr(replicate(rd("events"), asIs,
         "event_id" -> eventS, "user_id" -> userS), "events")
    // disjoint-vocabulary text replicas (replica 0 verbatim)
    wr(replicate(rd("documents"), (d, i) =>
         if (i == 0) d
         else d.withColumn("text",
             regexp_replace(col("text"), "([A-Za-z0-9]+)", s"r${i}w$$1"))
           .withColumn("n_chars", length(col("text"))), // keep derived col honest
         "doc_id" -> docS), "documents")
    // per-replica deterministic vector drift (replica 0 verbatim)
    wr(replicate(rd("embeddings"), (d, i) =>
         if (i == 0) d
         else d.withColumn("embedding",
           transform(col("embedding"), (x, j) =>
             (x + sin(lit(7.0 * i) + j.cast("double")) / lit(8.0))
               .cast("float"))),
         "vec_id" -> vecS), "embeddings")
  }
}
