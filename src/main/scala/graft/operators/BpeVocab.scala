package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.reTokens

/** Distributed BPE vocabulary learning (Sennrich et al. 2016, the
  * subword-tokenizer training step every LLM data pipeline runs before
  * token accounting means anything).
  *
  * The classic algorithm is sequential — merge the most frequent
  * adjacent symbol pair, retokenize, repeat — and naive distribution
  * retokenizes the CORPUS each round. The scalable formulation (the one
  * the original implementation uses in-memory) runs on the WORD
  * FREQUENCY DICTIONARY instead: a merge's effect on the corpus is
  * fully determined by (word, count), so after ONE corpus-sized
  * word-count pass every iteration is vocabulary-sized — at 100 TB the
  * corpus is touched once, and the K merge rounds iterate over a frame
  * millions of times smaller. Per round: a pair-count aggregate
  * (map-side combined, weighted by word count), a 1-row argmax
  * `collect` (the chosen merge — a bounded model parameter, same
  * contract as the k-means/PQ codebooks), and a vocabulary-sized map
  * applying the merge. Lineage is truncated per round with an eager
  * localCheckpoint, exactly like ConnectedComponents' iterative regime.
  *
  * Determinism: ties on pair count break lexicographically, so the
  * merge sequence is reproducible across runs, partitionings, and
  * engines. Words carry a terminal "</w>" symbol (word-boundary
  * information survives in the merges, as in the paper).
  *
  * Measured round-count bound (round 10, tools.BpeLadder — SURVEY §6.5,
  * source at 0791305 — on the 500k-doc crossover corpus, local[32]):
  * K=256 merges in 43.2 s, K=1024 in 125.4 s — **~6–8 merge
  * rounds/second**, sublinear in K because the
  * per-round pair table shrinks as symbols merge; the cost is driver
  * job-scheduling round-trips (the dictionary itself was 3,100 words —
  * data is not the variable). At the measured rate a 30k-merge
  * production vocabulary is ~60–80 min of inherently-sequential driver
  * rounds — the DECLARED production limit of this operator. Batching
  * multiple merges per round is deliberately NOT done: two merges
  * chosen from one count table are only sequence-equivalent when no
  * pair created by the first (count ≤ c₁ but possibly > c₂) would have
  * out-ranked the second, which cannot be verified without the very
  * recount being skipped — a batched variant would silently learn a
  * DIFFERENT vocabulary. Sennrich-faithful sequences at lower latency
  * come from training on a corpus SAMPLE (statistically standard —
  * vocab quality saturates orders of magnitude below corpus size), not
  * from reordering merges — that path is `learnOnSample`, with its
  * sample-vs-full vocabulary agreement MEASURED in SURVEY §6.6 (the
  * vocabulary SET converges with corpus size; the merge ORDER does
  * not, so it is a comparable vocabulary, not an identical one).
  */
object BpeVocab {

  case class WordSyms(count: Long, syms: Seq[String])
  case class Merge(rank: Int, left: String, right: String, pair_count: Long)

  /** Learn `k` merges from a corpus of documents.
    * @return (merges table, final symbolized dictionary) */
  def learn(docs: DataFrame, k: Int): (Seq[Merge], Dataset[WordSyms]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the ONE corpus-sized pass: word frequencies
    val wordCounts = docs
      .select(explode(reTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("count"))
    // symbolize: chars + terminal </w>
    var dict: Dataset[WordSyms] = wordCounts.select(col("count"), col("word"))
      .as[(Long, String)]
      .map { case (c, w) => WordSyms(c, w.map(_.toString) :+ "</w>") }
      .localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    // lineage is truncated every CkptEvery rounds, not every round: an
    // eager localCheckpoint is a full vocab materialization, while a
    // ≤CkptEvery-deep chain of map()s recomputes in-task for pennies —
    // the balance point of ConnectedComponents' iterative regime
    val CkptEvery = 4
    var base = dict // the last checkpointed frame (owns cached blocks)
    var depth = 0   // map() links since `base`
    while (rank <= k && !exhausted) {
      // weighted adjacent-pair counts over the dictionary (vocab-sized)
      // as a codegen'd DataFrame hash aggregate (the typed
      // groupByKey.reduceGroups form it replaces ran through encoders
      // with no whole-stage codegen; same exchange, same rows — r13 opt
      // round, guide §4). The argmax stays orderBy+limit(1): it plans
      // as TakeOrderedAndProject directly over the aggregate — one job
      // — where a second global min_by aggregate was measured to add a
      // SinglePartition exchange job per merge round (42 → 58 jobs).
      val best = dict.flatMap { ws =>
          ws.syms.iterator.sliding(2).withPartial(false)
            .map(p => (p.head, p(1), ws.count))
        }
        .toDF("left", "right", "cnt")
        .groupBy(col("left"), col("right")).agg(sum(col("cnt")).as("c"))
        // argmax with lexicographic tie-break → deterministic merges
        .orderBy(col("c").desc, col("left"), col("right"))
        .limit(1).collect() // 1 row: the chosen merge (bounded model param)
      if (best.isEmpty) exhausted = true
      else {
        val row = best.head
        val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += Merge(rank, l, r, c)
        // apply the merge — map-only over the vocabulary
        val next = dict.map { ws =>
          val out = Seq.newBuilder[String]
          var i = 0
          val s = ws.syms
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += s(i); i += 1 }
          }
          WordSyms(ws.count, out.result())
        }
        if (depth + 1 >= CkptEvery) {
          val nb = next.localCheckpoint(true)
          base.unpersist(blocking = false)
          base = nb; dict = nb; depth = 0
        } else { dict = next; depth += 1 }
        rank += 1
      }
    }
    (merges.result(), dict)
  }

  /** The declared production path for large corpora: learn on a
    * deterministic md5-coin SAMPLE. The coin is the sampling family's
    * standard first md5(doc_id) nibble — content-addressed,
    * engine-independent, stable across runs — so the sampled
    * vocabulary is as reproducible as the full one.
    *
    * What sampling buys, MEASURED (tools.BpeSampleAgreement at 0791305,
    * K=256, SURVEY §6.6): the corpus-sized word-count pass and the per-round
    * dictionary shrink by 16/keep16 — the data-dependent terms, which
    * at 100 TB are the whole cost — while the K sequential argmax
    * rounds remain (wall 1.4–1.9× at this toy scale because rounds
    * are scheduler-bound, not data-bound). What it costs: the merge
    * sequence is NOT identical — near-tie argmax flips reorder merges
    * early (longest common prefix ~1%), but the learned vocabulary
    * SET converges with corpus size (pair-set agreement 38% on 5k
    * docs → 76% on 50k at keep16=1, 79% at keep16=4) — a
    * comparable-quality vocabulary, not a bit-identical one. This is
    * still the faithful trade: merge BATCHING learns a structurally
    * different vocabulary by construction (see learn's scaladoc),
    * whereas sampling inherits Sennrich's own statistical assumption.
    * BpeVocabSpec pins sample-vs-full top-K agreement ≥ 0.75 on a
    * deterministic Zipf corpus. */
  def learnOnSample(docs: DataFrame, k: Int, keep16: Int = 1)
      : (Seq[Merge], Dataset[WordSyms]) = {
    require(keep16 >= 1 && keep16 <= 16, s"keep16 out of range: $keep16")
    val coin = conv(substring(md5(col("doc_id").cast("string")), 1, 1),
                    16, 10).cast("int")
    learn(docs.where(coin < lit(keep16)), k)
  }

  /** Query entry: the learned merge table over the documents corpus.
    * Rows-only by design — K chained argmax rounds are not one SQL
    * statement; BpeVocabSpec pins the full merge sequence on a
    * known-answer corpus instead. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (merges, _) = learn(Tables.documents(spark, dir), k = 16)
    merges.toDF().select(
      col("rank").cast("long").as("rank"),
      col("left"), col("right"), col("pair_count"))
      .orderBy("rank")
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
    var syms: Vector[String] = word.map(_.toString).toVector :+ "</w>"
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length &&
              ranks.getOrElse((syms(j), syms(j + 1)), Int.MaxValue) == bestRank) {
            out += (syms(j) + syms(j + 1)); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
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
