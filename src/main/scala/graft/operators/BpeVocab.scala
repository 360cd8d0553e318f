package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.reTokens

/** BPE vocabulary learning (Sennrich et al. 2016, the subword-tokenizer
  * training step every LLM data pipeline runs before token accounting
  * means anything).
  *
  * The classic algorithm is sequential — merge the most frequent
  * adjacent symbol pair, retokenize, repeat — and runs on the WORD
  * FREQUENCY DICTIONARY, not the corpus: a merge's effect on the corpus
  * is fully determined by (word, count). So the corpus is touched once,
  * by one word-count aggregate, and the dictionary (vocabulary-sized,
  * millions of times smaller than the corpus at 100 TB) is collected to
  * the driver as a bounded model fit — the contract the k-means and PQ
  * codebooks already use. All k merges then run there with Sennrich's
  * incremental pair index: pair → weighted count, pair → the words
  * containing it, and the pairs ranked in a sorted set, so each argmax
  * is a lookup and each merge rewrites only the words that contain the
  * chosen pair. A dictionary too large for the driver is what
  * `learnOnSample` is for; `spark.driver.maxResultSize` makes such a
  * collect fail loudly rather than run the driver out of memory.
  *
  * Semantics: overlapping pairs count (`aaa` holds (a,a) twice), a merge
  * is applied greedily left to right, ties on pair count break on
  * (left, right) in Spark's string order (the symbols are ASCII, so
  * `String.compareTo` is that order), and learning stops early when no
  * pair is left. Words carry a terminal "</w>" symbol (word-boundary
  * information survives in the merges, as in the paper). The merge
  * sequence is reproducible across runs and partitionings; BpeVocabSpec
  * holds it to a recount-every-merge reference and to the merge tables
  * the earlier one-Spark-job-per-merge form learned.
  *
  * Measured: a k = 30,000 [[learnMerges]] fit over a seeded Zipf
  * dictionary of 100,000 distinct words (788,638 symbols; BpeVocabSpec's
  * `zipfDictionary`) takes 5.9–6.9 s of driver time, one thread, four
  * runs in one JVM on a 4-vCPU Xeon VM with JDK 17 — 4,300–5,100
  * merges/s. The word-count aggregate and its collect are the only
  * Spark jobs.
  */
object BpeVocab {

  case class WordSyms(count: Long, syms: Seq[String])
  case class Merge(rank: Int, left: String, right: String, pair_count: Long)

  /** Learn `k` merges from a corpus of documents: one word-count
    * aggregate, collected, then [[learnMerges]] on the driver.
    * @return (merges table, final symbolized dictionary: the word
    *         counts with the merges applied in creation order) */
  def learn(docs: DataFrame, k: Int): (Seq[Merge], Dataset[WordSyms]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the ONE corpus-sized pass: word frequencies
    val wordCounts = docs
      .select(explode(reTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("count"))
      .as[(String, Long)]
    val merges = learnMerges(wordCounts.collect().toSeq, k)
    val dict = wordCounts.map { case (w, c) =>
      WordSyms(c, merges.foldLeft(symbols(w))((s, m) => mergePair(s, m.left, m.right)))
    }
    (merges, dict)
  }

  /** The first `k` merges of a (word, count) dictionary, by Sennrich's
    * incremental pair index (see the object doc). */
  private[graft] def learnMerges(words: Seq[(String, Long)], k: Int): Seq[Merge] = {
    type Pair = (String, String)
    val syms = words.map { case (w, _) => symbols(w) }.toArray
    val counts = words.map(_._2).toArray
    val pairCount = mutable.HashMap.empty[Pair, Long]
    // a word may stay listed under a pair it no longer holds; merging
    // such a word changes nothing
    val pairWords = mutable.HashMap.empty[Pair, mutable.Set[Int]]
    // every pair of positive count, in argmax order
    val ranked = mutable.TreeSet.empty[(Long, Pair)](
      Ordering.Tuple2(Ordering.Long.reverse, Ordering[Pair]))
    val delta = mutable.HashMap.empty[Pair, Long]
    def tally(w: Int, sign: Int): Unit = {
      val s = syms(w)
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        delta(p) = delta.getOrElse(p, 0L) + sign * counts(w)
        if (sign > 0) pairWords.getOrElseUpdate(p, mutable.Set.empty) += w
        i += 1
      }
    }
    def commit(): Unit = {
      delta.foreach { case (p, d) =>
        if (d != 0) {
          val old = pairCount.getOrElse(p, 0L)
          if (old > 0) ranked -= ((old, p))
          if (old + d > 0) { pairCount(p) = old + d; ranked += ((old + d, p)) }
          else { pairCount -= p; pairWords -= p }
        }
      }
      delta.clear()
    }
    syms.indices.foreach(tally(_, 1))
    commit()
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    while (rank <= k && ranked.nonEmpty) {
      val (c, p @ (l, r)) = ranked.head
      merges += Merge(rank, l, r, c)
      // the merged words never hold (l, r) again, so its set is not
      // written while it is read, and its count commits to zero
      pairWords(p).foreach { w =>
        val merged = mergePair(syms(w), l, r)
        if (merged ne syms(w)) { tally(w, -1); syms(w) = merged; tally(w, 1) }
      }
      commit()
      rank += 1
    }
    merges.result()
  }

  /** A word's symbols before any merge: its characters, then "</w>". */
  private def symbols(word: String): Vector[String] =
    word.map(_.toString).toVector :+ "</w>"

  /** Merge every (l, r) occurrence, greedily left to right; `s` itself
    * when none occurs. */
  private def mergePair(s: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var hit = false
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
        out += (l + r); i += 2; hit = true
      } else { out += s(i); i += 1 }
    }
    if (hit) out.result() else s
  }

  /** Learn on a deterministic md5-coin SAMPLE of the corpus. The coin is
    * the sampling family's standard first md5(doc_id) nibble —
    * content-addressed, engine-independent, stable across runs — so the
    * sampled vocabulary is as reproducible as the full one.
    *
    * What sampling buys: the corpus-sized word-count pass, and the
    * dictionary collected to the driver, shrink by about 16/keep16 —
    * the data-dependent terms, which at 100 TB are the whole cost, and
    * the bound on what [[learn]] can hold in driver memory. What it
    * costs, MEASURED (at K=256 with the earlier per-merge-job learner,
    * whose merges this one reproduces exactly; SURVEY §6.6, source at
    * 0791305): the merge sequence is NOT identical — near-tie argmax
    * flips reorder merges early (longest common prefix ~1%), but the
    * learned vocabulary SET converges with corpus size (pair-set
    * agreement 38% on 5k docs → 76% on 50k at keep16=1, 79% at
    * keep16=4) — a comparable-quality vocabulary, not a bit-identical
    * one. BpeVocabSpec pins sample-vs-full top-K agreement ≥ 0.75 on a
    * deterministic Zipf corpus. */
  def learnOnSample(docs: DataFrame, k: Int, keep16: Int = 1)
      : (Seq[Merge], Dataset[WordSyms]) = {
    require(keep16 >= 1 && keep16 <= 16, s"keep16 out of range: $keep16")
    val coin = conv(substring(md5(col("doc_id").cast("string")), 1, 1),
                    16, 10).cast("int")
    learn(docs.where(coin < lit(keep16)), k)
  }

  /** Query entry: the learned merge table over the documents corpus.
    * Rows-only by design — K sequential argmax merges are not one SQL
    * statement; BpeVocabSpec pins the full merge sequence on a
    * known-answer corpus instead. Rows come out in rank order with no
    * sort: `learn` builds the merges on the driver in rank order, and
    * the local table scan keeps it. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (merges, _) = learn(Tables.documents(spark, dir), k = 16)
    merges.toDF().select(
      col("rank").cast("long").as("rank"),
      col("left"), col("right"), col("pair_count"))
  }

  /** BPE INFERENCE for one word: repeatedly merge all occurrences of
    * the adjacent pair with the LOWEST merge rank present, until no
    * learned pair remains (the standard tokenizer-application
    * algorithm). On words seen in training this reproduces the learned
    * dictionary exactly — applying merges in creation order and by
    * rank priority commute, which BpeVocabSpec asserts word-for-word
    * against `learn`'s final dictionary. */
  private[graft] def encodeWord(
      word: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var syms = symbols(word)
    var present = syms.zip(syms.tail).filter(ranks.contains)
    while (present.nonEmpty) {
      val (l, r) = present.minBy(ranks)
      syms = mergePair(syms, l, r)
      present = syms.zip(syms.tail).filter(ranks.contains)
    }
    syms
  }

  /** Apply a trained merge table to a corpus — the pass that actually
    * runs at 100 TB (training happens once, on a sample or a prior
    * run; application touches every byte). The model is a BROADCAST
    * BOUNDED PARAMETER (the rank map — KBs even for a 50k-merge
    * production vocabulary), so encoding is map-only: no join, no
    * shuffle, parallelism = scan parallelism. Each task memoizes
    * word→token-count in a size-bounded local cache — natural text is
    * Zipfian, so the hit rate approaches the type/token ratio and the
    * per-word merge loop runs roughly once per DISTINCT word per task,
    * not once per occurrence. */
  def encodeOn(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val bc = spark.sparkContext.broadcast(ranks)
    docs.select(col("doc_id"), reTokens(col("text")).as("words"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val cache = new java.util.HashMap[String, Int](1 << 12)
        it.map { case (id, words) =>
          var nTok = 0L
          words.foreach { w =>
            var n = cache.get(w)
            if (n == 0) { // 0 = absent (real counts are >= 1: "</w>")
              n = encodeWord(w, bc.value).length
              if (cache.size < (1 << 16)) cache.put(w, n)
            }
            nTok += n
          }
          (id, words.length.toLong, nTok)
        }
      }
      .toDF("doc_id", "n_words", "n_bpe_tokens")
      .withColumn("tokens_per_word",
        graft.functions.Num.rnd(
          col("n_bpe_tokens") / greatest(col("n_words"), lit(1L)), 4))
      .orderBy(col("doc_id"))
  }

  /** Query entry: learn a 16-merge vocabulary on the corpus, then
    * tokenize the corpus with it — per-doc word/BPE-token accounting,
    * the number every packing/budget/mixture step downstream consumes.
    * (The in-query learn mirrors the ann_*_trained contract; production
    * ships the merge table as a literal.) Rows-only — the per-word
    * merge loop is not SQL; BpeVocabSpec pins encode↔learn parity and
    * hand-computed token counts instead. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (merges, _) = learn(docs, k = 16)
    encodeOn(docs, merges)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_vocab" -> (bpeVocab _),
    "text_bpe_encode" -> (bpeEncode _))

  val oracles: Map[String, String] = Map.empty
}
