package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim.{toColumn, toExpr}

import graft.Tables
import graft.functions.Num.rnd
import graft.functions.Wire
import graft.functions.TextFunctions._
import graft.functions.expressions.{DeflateLength, FreqItemsSketch, GramCounts, UnicodeNormalize}

/** Text-analysis operators over the `documents` corpus — the
  * training-data-pipeline extension of the reference's per-file data
  * profiling (ref: /root/reference/core/etl_service.py:659-762 cleans and
  * profiles text columns; these operators generalize that to corpus-level
  * token statistics, quality scoring, language-ID and fingerprinting).
  *
  * Scale notes: all four are map-only over documents (no shuffle at all);
  * token arrays are computed once per row inside whole-stage codegen via
  * higher-order functions — no UDFs, no Python workers.
  */
object TextOps {

  private val EnStop   = Seq("the", "a", "of", "and")
  private val TechWords = Seq("spark", "vector", "hash", "stream")

  /** Token counting: whitespace tokens + regex word tokens + chars. */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(wsTokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(reTokens(col("text"))).cast("long").as("n_re_tokens"),
      length(col("text")).cast("long").as("n_chars"))

  /** Quality scoring: word count, avg word length, stopword ratio. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id") +: qualityScores(reTokens(col("text"))): _*)

  /** The quality scores of a document's words ([[quality]], [[gateDocs]]).
    * The ratios divide only by a positive word count: with no word token
    * they are null, not DIVIDE_BY_ZERO under ANSI (a filter evaluates
    * shared subexpressions before its conjunction short-circuits). */
  private def qualityScores(words: Column): Seq[Column] =
    Seq(size(words).cast("long").as("n_words"),
        rnd(totalChars(words).cast("double") / perWord(words), 2).as("avg_word_len"),
        rnd(vocabHits(words, EnStop).cast("double") / perWord(words), 4)
          .as("stopword_ratio"))

  /** The divisor of a per-word ratio: the word count, null when 0. */
  private def perWord(words: Column): Column = when(size(words) > 0, size(words))

  /** Language-ID heuristic: profile-vocabulary scoring + argmax. (The
    * corpus is synthetic word salad, so the two profiles are English
    * stopwords vs tech jargon — the operator structure, ratio scoring
    * with a deterministic argmax, is the point.) A document with no
    * word token scores null on both profiles, as in [[qualityScores]]. */
  def langid(spark: SparkSession, dir: String): DataFrame = {
    val words = reTokens(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        rnd(vocabHits(words, EnStop).cast("double") / perWord(words), 4)
          .as("en_score"),
        rnd(vocabHits(words, TechWords).cast("double") / perWord(words), 4)
          .as("tech_score"))
      .withColumn("predicted_lang",
        when(col("en_score") >= col("tech_score"), "en").otherwise("tech"))
  }

  /** Document fingerprint: md5 of canonicalized text + shingle count.
    * Shingle counting goes through the relational shingleRows builder
    * (codegen'd) instead of the interpreted row-wise HOF. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fps = docs.select(col("doc_id"), md5(normText(col("text"))).as("fp_md5"))
    val counts = shingleRows(docs)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    fps.join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("fp_md5"),
              coalesce(col("n_shingles"), lit(0L)).as("n_shingles"))
  }

  /** Corpus bigram frequencies (top 20) — posexplode + lead, then a
    * plain count rollup; the shuffle carries only (bigram, partial
    * count) thanks to map-side combine. */
  def ngramFreq(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(reTokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("w2", lead(col("w"), 1).over(byDoc))
      .filter(col("w2").isNotNull)
      .groupBy(concat_ws(" ", col("w"), col("w2")).as("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** TF-IDF top terms per document: term frequencies and document
    * frequencies from one exploded pass each, joined on the term —
    * map-side-combined aggs, shuffle keyed on the term then the doc.
    * Scores rounded with the cross-engine-stable formula. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // n_docs as a lazy 1-row aggregate broadcast-cross-joined into the
    // score — no eager driver-side count() job at plan-build time.
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val terms = docs
      .select(col("doc_id"), explode(reTokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_raw").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_raw", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), rnd(col("score_raw"), 4).as("tfidf"),
              col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** The shared C4-style quality gate: documents whose word count,
    * average word length and stopword ratio all sit in the "looks like
    * prose" band. One definition serves both text_corpus_filter and
    * text_corpus_pipeline, so the thresholds and their two DuckDB
    * oracles cannot silently diverge. Thresholds compare the ROUNDED
    * scores (the same oracle-checked metrics as text_quality) so both
    * engines gate identically at the boundary; pure map-side predicate
    * — at 100 TB this is a scan with zero shuffles. */
  /** The C4-style quality gate as a frame transform — callable on any
    * (doc_id, lang, text) frame, batch or micro-batch, so the batch
    * flagship and streaming.PretrainStream run the SAME expressions. */
  def gateDocs(docs: DataFrame): DataFrame =
    docs
      .select(Seq(col("doc_id"), col("lang"), col("text")) ++
              qualityScores(reTokens(col("text"))): _*)
      .filter(col("n_words") >= 30 &&
              col("avg_word_len").between(3.0, 8.0) &&
              col("stopword_ratio") >= 0.02)

  private def gatedDocs(spark: SparkSession, dir: String): DataFrame =
    gateDocs(Tables.documents(spark, dir))

  /** Quality gate + Gopher repetition gate — the full per-document
    * admission predicate (no cross-document state), shared between the
    * batch flagship and the streaming twin. Both gates are per-row
    * predicates over the same scan (the repetition gate is
    * [[notRepetitive]]): the plan is map-only, with no exchange, no
    * join and no window. */
  def cleanDocs(docs: DataFrame): DataFrame =
    gateDocs(docs).filter(notRepetitive(col("text")))

  /** The deterministic md5 holdout coin (bucket 0-15; 15 = held out). */
  def holdoutCoin(docId: Column): Column =
    conv(substring(md5(docId.cast("string")), 1, 1), 16, 10).cast("int")

  /** Per-language corpus accounting over admitted keeper docs —
    * (lang, n_docs, n_tokens, n_chunks of 64 tokens). */
  def pretrainAccounting(kept: DataFrame): DataFrame =
    kept
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_words")).as("n_tokens"),
           sum((floor((col("n_words") - 1) / 64) + 1).cast("long"))
             .as("n_chunks"))
      .orderBy(col("lang"))

  /** The gate as a standalone report: kept documents with their
    * scores. */
  def corpusFilter(spark: SparkSession, dir: String): DataFrame =
    gatedDocs(spark, dir)
      .drop("text")
      .orderBy(col("doc_id"))

  /** End-to-end corpus cleanup as ONE composed plan — the shape a
    * training-data user actually runs: quality gate (map-only
    * predicate) → exact-dedup to canonical keepers (one shuffle on the
    * content hash) → deterministic split assignment (md5 coin, no
    * rand()) → split × lang audit counts. Composing the oracle-checked
    * pieces into a single DataFrame keeps everything in one Catalyst
    * plan: the gate's predicate sits below the dedup exchange, and the
    * final rollup is map-side combined. */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val gated = gatedDocs(spark, dir)
    val byContent = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(normText(col("text")))).orderBy(col("doc_id"))
    val keepers = gated
      .withColumn("rk", row_number().over(byContent))
      .filter(col("rk") === 1)
    keepers
      .withColumn("b",
        conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10)
          .cast("int"))
      .withColumn("split",
        when(col("b") < 13, "train").when(col("b") < 14, "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"), col("lang"))
  }

  /** The WHOLE pretraining prep chain as one composed plan — the
    * flagship LLM-data query: C4-style quality gate (map-only) →
    * Gopher repetition gate (map-only, graft_gram_counts) →
    * exact-dedup keepers (one content-hash shuffle) → benchmark
    * decontamination (anti-join against dedup.Dedup.contamination's
    * flagged training docs; the eval md5-bucket itself never trains) →
    * per-language corpus accounting (docs, tokens, 64-token chunks).
    *
    * Every stage reuses the operator that is independently
    * oracle-checked, and the composition gets its own oracle — so the
    * end-to-end answer is pinned, not just the pieces. Scale: gates are
    * scans; the dedup window and the contamination skeleton are the
    * same sub-quadratic shapes as their standalone operators; the final
    * rollup is map-side combined on a low-cardinality key. */
  def pretrainPipeline(spark: SparkSession, dir: String): DataFrame = {
    val clean = cleanDocs(Tables.documents(spark, dir))
    val byContent = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(normText(col("text")))).orderBy(col("doc_id"))
    val keepers = clean
      .withColumn("rk", row_number().over(byContent))
      .filter(col("rk") === 1)
    val contaminated = graft.dedup.Dedup.contamination(spark, dir)
      .select(col("train_doc_id")).distinct()
    pretrainAccounting(
      keepers
        .filter(holdoutCoin(col("doc_id")) =!= 15)
        .join(contaminated, col("doc_id") === col("train_doc_id"),
          "left_anti"))
  }

  /** Unigram-LM quality score — the KenLM-perplexity stand-in every
    * corpus filter stack carries: the corpus's own unigram frequencies
    * are the language model, and each document scores the average
    * negative log-probability of its tokens (high = out-of-distribution
    * / junk; low = fluent for this corpus).
    *
    * Two passes over one exploded token stream: global term counts
    * (map-side-combined), then a term-keyed join back and a per-doc
    * average — the same shuffle profile as TF-IDF. The corpus total is
    * a lazy 1-row aggregate (broadcast cross join, no driver count).
    * `counts` feeds BOTH the total branch and the score join, and
    * Catalyst does not reuse exchanges across branches — so the
    * vocabulary-sized counts frame is materialized ONCE via a lazy
    * localCheckpoint (the ann_ivf pattern; without it the whole
    * explode+aggregate pipeline runs twice). The raw `terms` stream is
    * also consumed twice, but that branch is scan+explode only —
    * recomputing a map is cheaper than checkpointing a corpus-sized
    * token stream. */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(reTokens(col("text"))).as("term"))
    val counts = terms.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val total = counts.agg(sum(col("c")).cast("double").as("t"))
    terms.join(counts, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           rnd(avg(-log(col("c") * 1.0 / col("t"))), 4).as("avg_neg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-style importance sampling: score every document by how much
    * more likely its tokens are under a TARGET domain's unigram LM than
    * under the whole corpus's (Data Selection via Importance Resampling
    * — the hashed-ngram estimator reduced to unigrams; the en-language
    * slice stands in for the curated target). score =
    * avg_tokens(ln p_tgt − ln p_all), add-one smoothed over the corpus
    * vocabulary; the top scorers are the docs a targeted pretraining
    * mix keeps.
    *
    * Scale: ONE counts pass serves both LMs (conditional count inside
    * the same map-side-combined groupBy — not two pipelines), totals
    * are a lazy 1-row aggregate (broadcast, no driver count), the
    * score join is term-keyed like tf-idf, and the final top-N is a
    * TakeOrderedAndProject. The vocabulary-sized counts frame feeds
    * both the totals branch and the score join, so it is materialized
    * once (lazy localCheckpoint — the ann_ivf pattern). Fully
    * deterministic → DuckDB oracle. */
  def importanceSample(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(reTokens(col("text"))).as("term"))
    val counts = terms.groupBy(col("term"))
      .agg(count(lit(1)).as("c_all"),
           sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_tgt"))
      .localCheckpoint(false)
    val totals = counts.agg(sum(col("c_all")).cast("double").as("t_all"),
                            sum(col("c_tgt")).cast("double").as("t_tgt"),
                            count(lit(1)).cast("double").as("v"))
    terms.join(counts, Seq("term"))
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
           rnd(avg(log((col("c_tgt") + 1.0) / (col("t_tgt") + col("v"))) -
                   log((col("c_all") + 1.0) / (col("t_all") + col("v")))), 4)
             .as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(100)
  }

  /** CCNet-style perplexity bucketing: rank every document by its
    * unigram-LM avg negative log-probability (the [[unigramLogprob]]
    * score) and split the corpus into head / middle / tail terciles —
    * head is the most in-distribution third a quality-tiered mix
    * trains on first. The tercile cutoffs are exact interpolated
    * percentiles computed as a LAZY 1-ROW aggregate and broadcast into
    * a row-local CASE — no rank window over the corpus (ntile would
    * funnel 100 TB through a global sort; two scalar cutoffs don't).
    * At 100 TB the swap-in is approx_percentile for the cutoff row
    * (the rpt_approx_percentiles pattern). The per-doc score frame
    * feeds both the cutoff branch and the bucketing join, so the
    * whole logprob pipeline is materialized once (lazy
    * localCheckpoint; two skinny columns per doc). */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    perplexityBucketsWith(spark, dir, approxAccuracy = None)

  /** [[perplexityBuckets]] with the cutoff strategy explicit: None =
    * exact interpolated percentile (oracle-checkable); Some(a) =
    * approx_percentile accuracy `a` — the mergeable-sketch 100 TB
    * swap-in. Rank error ≤ N/a per cutoff ⇒ each tercile's doc count
    * moves by ≤ 2·N/a (two cutoffs bound a bucket) —
    * ApproxCutoffSpec asserts the bound. */
  private[graft] def perplexityBucketsWith(spark: SparkSession, dir: String,
      approxAccuracy: Option[Int]): DataFrame = {
    val scored = unigramLogprob(spark, dir)
      .select(col("doc_id"), col("avg_neg_logprob"))
      .localCheckpoint(false)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val cuts = approxAccuracy match {
      case None => scored.agg(
        expr("percentile(avg_neg_logprob, CAST(1.0/3.0 AS DOUBLE))").as("c1"),
        expr("percentile(avg_neg_logprob, CAST(2.0/3.0 AS DOUBLE))").as("c2"))
      case Some(a) => scored.agg(
        expr(s"approx_percentile(avg_neg_logprob, CAST(1.0/3.0 AS DOUBLE), $a)")
          .as("c1"),
        expr(s"approx_percentile(avg_neg_logprob, CAST(2.0/3.0 AS DOUBLE), $a)")
          .as("c2"))
    }
    scored.join(docs, Seq("doc_id"))
      .crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("avg_neg_logprob") <= col("c1"), "head")
          .when(col("avg_neg_logprob") <= col("c2"), "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           rnd(avg(col("avg_neg_logprob")), 4).as("avg_nlp"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Fixed-size token chunking (pretraining/RAG shard prep): each
    * document splits into consecutive 64-token chunks, last chunk
    * ragged. Entirely MAP-SIDE: the token array is built once per row,
    * the chunk count comes from sequence(), and each chunk is a
    * slice+join of that array — no explode-to-token-rows, no shuffle,
    * no window. At 100 TB this is a scan. */
  def chunks(spark: SparkSession, dir: String): DataFrame = {
    val ChunkTokens = 64
    Tables.documents(spark, dir)
      .select(col("doc_id"), reTokens(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"),
              explode(sequence(lit(0),
                  ((size(col("w")) - 1) / ChunkTokens).cast("int")))
                .as("chunk_id"),
              col("w"))
      .select(col("doc_id"),
              col("chunk_id").cast("long").as("chunk_id"),
              array_join(slice(col("w"), col("chunk_id") * ChunkTokens + 1,
                               lit(ChunkTokens)), " ").as("chunk_text"),
              least(size(col("w")) - col("chunk_id") * ChunkTokens,
                    lit(ChunkTokens)).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Sequence packing (training-batch prep): assign each document a
    * (shard, seq_id, seq_offset) slot in a stream of fixed-budget
    * (256-token) training sequences — GPT-style document concatenation,
    * where a document may straddle a sequence boundary and continue in
    * the next sequence.
    *
    * Packing is inherently sequential, so the scalable formulation
    * SHARDS FIRST: documents hash into 16 deterministic md5-nibble
    * shards and the running token total is windowed per shard
    * (`Window.partitionBy(shard)`), never globally — 16-way parallel
    * here, O(cluster)-way with more nibbles at 100 TB, and each window
    * task streams its shard without a global sort. seq_id =
    * exclusive-running-total div budget is pure arithmetic on the
    * window output, still inside codegen. */
  def pack(spark: SparkSession, dir: String): DataFrame = {
    val Budget = 256L
    val shard = conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10)
      .cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              size(reTokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("shard", shard)
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"),
              expr(s"start_tok div $Budget").as("seq_id"),
              (col("start_tok") % lit(Budget)).as("seq_offset"),
              col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition metrics — the quality filter that catches
    * boilerplate and degenerate generations: per document, the mass
    * fraction of the single most frequent bigram and the fraction of
    * trigram occurrences that are duplicates (1 − distinct/total).
    * A doc is `repetitive` past the paper-ish thresholds (0.18 / 0.30).
    *
    * Shape: the per-document gram counts come from one native
    * expression (graft_gram_counts) over the regex tokens, so the
    * metric is a map-only projection of the scan; the presentation sort
    * is the plan's only exchange. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionMetrics(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_bigrams"),
              col("top_bigram_frac"), col("dup_trigram_frac"),
              col("repetitive"))
      .orderBy(col("doc_id"))

  /** Frame-level core (docs must have doc_id + text): per-doc repetition
    * metrics with the `repetitive` flag, unsorted — shared with
    * [[cleanDocs]] (the pretrain pipeline and its stream) through the
    * same fractions and thresholds, so they can't silently diverge. A
    * document with fewer than 2 tokens has no row; dup_trigram_frac is
    * null below 3 tokens. */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    val (top, dup) = repetitionFracs(col("g"))
    docs
      .filter(size(reTokens(col("text"))) >= 2)
      .select(col("doc_id"), gramCounts(col("text")).as("g"))
      .select(col("doc_id"), col("g.n_bigrams").as("n_bigrams"),
              top.as("top_bigram_frac"), dup.as("dup_trigram_frac"))
      .withColumn("repetitive",
        repetitive(col("top_bigram_frac"), col("dup_trigram_frac")))
  }

  /** struct<n_bigrams, top_bigram_c, n_trigrams, distinct_trigrams> of
    * the regex tokens of `text` (null under 2 tokens). */
  private def gramCounts(text: Column): Column =
    toColumn(GramCounts(toExpr(reTokens(text))))

  /** (top_bigram_frac, dup_trigram_frac) from a [[gramCounts]] struct:
    * Column arithmetic over the exact counts, rounded with [[rnd]];
    * dup_trigram_frac is null without a trigram, both are null for a
    * null struct. */
  private def repetitionFracs(g: Column): (Column, Column) = (
    rnd(g("top_bigram_c") / g("n_bigrams").cast("double"), 4),
    when(g("n_trigrams") > 0,
      rnd(lit(1.0) - g("distinct_trigrams") / g("n_trigrams").cast("double"), 4)))

  /** [[cleanDocs]]' repetition gate as a scan predicate. It reads the
    * gram counts through a one-element array so graft_gram_counts runs
    * once per document: the filter is pushed below the projections into
    * the scan, where a plain struct column would be re-inlined at each
    * field reference. */
  private def notRepetitive(text: Column): Column =
    !exists(array(gramCounts(text)), { g =>
      val (top, dup) = repetitionFracs(g)
      repetitive(top, dup)
    })

  /** The Gopher thresholds; a missing fraction never trips its gate. */
  private def repetitive(topBigramFrac: Column, dupTrigramFrac: Column): Column =
    coalesce(topBigramFrac, lit(0.0)) > 0.18 ||
      coalesce(dupTrigramFrac, lit(0.0)) > 0.30

  /** PII redaction — the scrub stage every pretraining pipeline runs
    * before anything leaves the ingest zone (emails/IPs/phones →
    * typed placeholder tokens; cf. the reference's PHI masking,
    * /root/reference/core/etl_service.py hash_phi — same intent, regex
    * surface instead of column-level hashing).
    *
    * The synthetic corpus contains no PII, so the entry seeds a
    * DETERMINISTIC FIXTURE first (doc_id-keyed emails/IPs/phones
    * appended in-plan; mirrored exactly in the oracle SQL) — what's
    * verified end-to-end is the real thing: per-class match counts and
    * the md5 of the scrubbed text, hash-checked against DuckDB's RE2
    * engine on every doc. Map-only, whole-stage codegen, no shuffle;
    * at 100 TB this is a pure scan→scan stage. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
    val seeded = Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10.0."), col("doc_id") % 256, lit("."),
                 col("doc_id") % 100)).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" call 555-867-5309"))
          .otherwise(lit(""))).as("txt"))
    seeded.select(
      col("doc_id"),
      size(regexp_extract_all(col("txt"), lit(email), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("txt"), lit(ip), lit(0)))
        .cast("long").as("n_ips"),
      size(regexp_extract_all(col("txt"), lit(phone), lit(0)))
        .cast("long").as("n_phones"),
      md5(regexp_replace(
            regexp_replace(
              regexp_replace(col("txt"), email, "<EMAIL>"),
              ip, "<IP>"),
            phone, "<PHONE>")).as("clean_hash"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic pseudo-random weights for the hashed-feature quality
    * model: 64 buckets, 3-decimal weights in [−1, 1) from a fixed seed —
    * the same literals are interpolated into the DuckDB oracle, so both
    * engines parse identical decimal text to identical doubles. */
  private[operators] val QmWeights: IndexedSeq[Double] = {
    val rng = new scala.util.Random(1234)
    IndexedSeq.fill(64)(math.floor((rng.nextDouble() * 2 - 1) * 1000) / 1000)
  }

  /** fastText-style quality-classifier INFERENCE as a plan — the
    * learned quality gate (think DCLM/FineWeb-Edu classifiers) run the
    * Spark-first way: the model is a BOUNDED LITERAL PARAMETER (64
    * hashed-bucket weights + bias), so scoring is token explode →
    * row-local bucket hash (md5, shared with the oracle) → literal
    * weight lookup → one mean-pooled aggregation per doc → logistic.
    * No join, no vocabulary shuffle, no UDF: at 100 TB this is a scan
    * plus one map-side-combined doc aggregation — the exact shape of
    * `text_quality`, with a trained model instead of hand rules.
    * (Weights here are seeded stand-ins — the synthetic corpus has no
    * quality labels to fit; the operator contract is the hashed-feature
    * inference plumbing, hash-checked end-to-end.) */
  def qualityModel(spark: SparkSession, dir: String): DataFrame = {
    val B = QmWeights.size
    val bias = 0.1
    val wLit = typedlit(QmWeights)
    val bucket = conv(substring(md5(col("term")), 1, 2), 16, 10).cast("int") % B
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(reTokens(col("text"))).as("term"))
      .select(col("doc_id"), element_at(wLit, bucket + 1).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           (avg(col("w")) + bias).as("logit_raw"))
      .select(col("doc_id"), col("n_tokens"),
              rnd(col("logit_raw"), 4).as("logit"),
              rnd(lit(1.0) / (lit(1.0) + exp(-col("logit_raw"))), 4).as("prob"))
      // keep compares the ROUNDED logit (both engines), so sub-rounding
      // float jitter can't flip the decision at the boundary
      .withColumn("keep", col("logit") >= 0)
      .orderBy(col("doc_id"))
  }

  /** Model-evaluation lift & gains curve over the in-plan quality
    * model (rpt_lift_curve) — the calibration report every
    * classifier-driven data-selection step needs before its keep
    * threshold means anything: documents bucket by ROUNDED model score
    * (10 equal-width bins — value bins, not global rank deciles, so no
    * corpus-wide sort), label = lang='en' as the deterministic ground
    * truth. Per bin: count, positives, rate, lift vs the base rate,
    * and top-down cumulative gain. The corpus collapses to the O(10)
    * bin frame before ANY window runs; the grand totals ride the same
    * bounded frame. */
  def liftCurve(spark: SparkSession, dir: String): DataFrame = {
    // temperature-scaled score (T = 1/12): the raw model's logits sit
    // in ±0.45, so sigmoid(logit) collapses into 3 of the 10 bins —
    // the gain spreads the SAME ranking across the full curve. Derived
    // from the ROUNDED logit, so both engines bin identically.
    val scored = qualityModel(spark, dir).select(col("doc_id"),
      rnd(lit(1.0) / (lit(1.0) + exp(lit(-12.0) * col("logit"))), 4)
        .as("prob"))
    liftCurveFrom(scored.join(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
                when(col("lang") === "en", 1L).otherwise(0L).as("label")),
      Seq("doc_id")))
  }

  /** Frame-level core ((prob, label) rows; OracleEdgeSpec plants the
    * all-negative fixture through it). A label-free corpus zeroes
    * total_pos — lift's base rate and the gain's denominator are
    * undefined with no positives to capture — NULL by construction
    * here and via nullif in the oracle, never an engine-dependent
    * IEEE 0/0 (per-bin n_docs ≥ 1 holds by grouping, so pos_rate
    * needs no guard). */
  private[graft] def liftCurveFrom(labeled: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val bins = labeled
      .groupBy(least(floor(col("prob") * 10), lit(9.0)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("label")).as("n_pos"))
    val wAll = W.orderBy(col("bin").desc)
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val wCum = W.orderBy(col("bin").desc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    bins
      .withColumn("total_docs", sum(col("n_docs")).over(wAll))
      .withColumn("total_pos", sum(col("n_pos")).over(wAll))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        rnd(col("n_pos").cast("double") / col("n_docs").cast("double"), 4)
          .as("pos_rate"),
        rnd((col("n_pos").cast("double") / col("n_docs").cast("double")) /
            (nullif(col("total_pos").cast("double"), lit(0.0)) /
             col("total_docs").cast("double")),
            4).as("lift"),
        rnd(col("cum_pos").cast("double") /
            nullif(col("total_pos").cast("double"), lit(0.0)), 4)
          .as("cum_gain"))
      .orderBy(col("bin").desc)
  }

  /** ROC AUC of the quality model against the language ground truth
    * (rpt_auc) — the threshold-free twin of rpt_lift_curve's binned
    * view, via the Mann–Whitney rank-sum identity with the standard
    * average-rank tie correction: AUC = (R⁺ − n⁺(n⁺+1)/2)/(n⁺·n⁻).
    * The corpus collapses to one row per DISTINCT rounded score before
    * any window runs — ≤10⁴ rows at ANY corpus size (4-dp scores in
    * (0,1)), so the rank arithmetic is a bounded-frame computation,
    * never a corpus-global sort. Scores are the ROUNDED model probs,
    * so tie groups are identical cross-engine. */
  def auc(spark: SparkSession, dir: String): DataFrame =
    aucFrom(qualityModel(spark, dir).select(col("doc_id"), col("prob"))
      .join(Tables.documents(spark, dir)
              .select(col("doc_id"),
                      when(col("lang") === "en", 1L).otherwise(0L).as("label")),
            Seq("doc_id")))

  /** Frame-level core ((prob, label) rows; OracleEdgeSpec plants the
    * single-class fixture through it). A single-class frame zeroes the
    * n⁺·n⁻ denominator (AUC is undefined with no ranking opponent) —
    * NULL by construction here and via nullif in the oracle, never an
    * engine-dependent IEEE 0/0. */
  private[graft] def aucFrom(labeled: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byScore = labeled.groupBy(col("prob"))
      .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"))
    val wPrev = W.orderBy(col("prob")).rowsBetween(W.unboundedPreceding, -1)
    val ranked = byScore
      .withColumn("cum_before", coalesce(sum(col("n")).over(wPrev), lit(0L)))
      // average rank of a tie group (1-based): before + (n+1)/2
      .withColumn("avg_rank",
        col("cum_before").cast("double") +
          (col("n").cast("double") + lit(1.0)) / 2)
    ranked.agg(
        sum(col("n_pos")).as("np"),
        sum(col("n") - col("n_pos")).as("nn"),
        sum(col("n_pos").cast("double") * col("avg_rank")).as("rpos"))
      .select(col("np").as("n_pos"), col("nn").as("n_neg"),
        rnd((col("rpos") -
             col("np").cast("double") * (col("np").cast("double") + lit(1.0)) / 2) /
            when(col("np") * col("nn") =!= 0L,
              col("np").cast("double") * col("nn").cast("double")), 6).as("auc"))
  }

  /** Zipf-law fit over the corpus vocabulary (text_zipf_fit) — the
    * one-number sanity check on corpus naturalness (natural language
    * sits near slope −1; template/boilerplate corpora flatten, random
    * noise steepens): log-log OLS of frequency on rank over the top
    * 200 terms. The vocabulary reduces by TakeOrderedAndProject
    * (top-k, never a global sort of the term frame); ranks and the
    * regression run on the O(200) survivors. Per-term logs round 6 dp
    * before the moment sums so libm ulp drift can't reach the hashed
    * digits (the corr_measures discipline, applied one level down). */
  def zipfFit(spark: SparkSession, dir: String): DataFrame =
    zipfFitOn(Tables.documents(spark, dir))

  private[graft] def zipfFitOn(docs: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val tc = docs
      .select(explode(reTokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val top = tc.orderBy(col("c").desc, col("term")).limit(200)
    val ranked = top
      .withColumn("rank",
        row_number().over(W.orderBy(col("c").desc, col("term"))).cast("long"))
      .select(rnd(log(col("rank").cast("double")), 6).as("x"),
              rnd(log(col("c").cast("double")), 6).as("y"))
    val m = ranked.agg(
      count(lit(1)).cast("double").as("n"),
      rnd(sum(col("x")), 4).as("sx"), rnd(sum(col("y")), 4).as("sy"),
      rnd(sum(col("x") * col("x")), 4).as("sxx"),
      rnd(sum(col("x") * col("y")), 4).as("sxy"),
      rnd(sum(col("y") * col("y")), 4).as("syy"))
    // Domain edges → NULL (nullif-mirrored in the oracle, never an
    // engine-dependent IEEE 0/0): det = 0 when the vocabulary has < 2
    // terms (no x spread to regress on); the r² denominator also
    // vanishes when every count is equal (zero y variance — e.g. an
    // all-singleton vocabulary), where the fit line is flat and r² is
    // undefined.
    val det   = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      when(det =!= 0.0, det)
    val icept = (col("sy") - slope * col("sx")) /
      when(col("n") =!= 0.0, col("n"))
    val r2num = col("n") * col("sxy") - col("sx") * col("sy")
    val r2den = det * (col("n") * col("syy") - col("sy") * col("sy"))
    val r2    = (r2num * r2num) / when(r2den =!= 0.0, r2den)
    m.select(col("n").cast("long").as("n_terms"),
             rnd(slope, 4).as("zipf_slope"),
             rnd(icept, 4).as("intercept"),
             rnd(r2, 6).as("r2"))
  }

  /** Character-level Shannon entropy per document — the exactly-
    * verifiable twin of the zlib compressibility gate (compress_ratio):
    * degenerate/repetitive text scores low, natural prose sits in a
    * band, random noise scores high. Two hash aggregations — (doc,
    * char) counts then the per-doc −Σ p·ln p — both map-side-combined;
    * the per-doc total char count rides the same row (sum over the
    * count column via a doc-window would add a shuffle; sum(c) in the
    * second agg doesn't). Deterministic → DuckDB oracle. */
  def entropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars"),
           count(lit(1)).as("n_distinct_chars"),
           rnd(-sum(col("c") * log(col("c"))) / sum(col("c")) +
               log(sum(col("c"))), 4).as("entropy_nats"))
      .orderBy(col("doc_id"))

  /** EXACT corpus heavy hitters through a two-pass Misra–Gries sketch —
    * "which tokens make up more than 1/K of the corpus" without ever
    * shuffling the vocabulary.
    *
    * Pass 1 aggregates a single graft_freq_items sketch (native
    * TypedImperativeAggregate, ≤ K−1 counters per partition with
    * explicit partial merge → O(partitions × K) bytes on the wire,
    * independent of vocabulary size) — guaranteed to contain every item
    * with frequency > N/K. Pass 2 re-scans, keeps ONLY the ≤ K−1
    * candidate terms (map-side filter before the shuffle), counts them
    * exactly, and applies the > N/K cut — so the sketch's false
    * positives are discarded and the answer is exact and deterministic,
    * hash-checked against DuckDB's full GROUP BY/HAVING. At 100 TB the
    * oracle's formulation shuffles billions of distinct n-grams; this
    * one shuffles two 1-row frames and ≤ K−1 terms' partial counts.
    *
    * The synthetic corpus is deliberately uniform (31 words), so a
    * deterministic hot token is seeded in-plan (doc_id%4 docs get 25
    * copies — the text_pii_scrub fixture precedent), mirrored exactly
    * in the oracle: the sketch must find the one true heavy hitter
    * among uniform noise, with the sketch capacity (19) well below the
    * vocabulary (32) so the decrement path genuinely runs. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val K = 20
    val seeded = Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(col("text"),
             when(col("doc_id") % 4 === 0, repeat(lit(" zzzhot"), 25))
               .otherwise(lit(""))).as("txt"))
    val terms = seeded.select(explode(reTokens(col("txt"))).as("term"))
    val sketch = terms.agg(
      toColumn(FreqItemsSketch(toExpr(col("term")), K)).as("cands"),
      count(lit(1)).as("total"))
    terms.crossJoin(broadcast(sketch))
      .filter(array_contains(col("cands"), col("term")))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"), max(col("total")).as("total"))
      .filter(col("n") * K > col("total"))
      .select(col("term"), col("n"),
              rnd(col("n") * 1.0 / col("total"), 4).as("share"))
      .orderBy(col("n").desc, col("term"))
  }

  /** Compression-ratio quality signal (the zlib gate Dolma/RefinedWeb-
    * class pipelines run next to the statistical ones): deflated size /
    * raw size per document — degenerate boilerplate collapses toward 0,
    * natural prose sits mid-range. Map-only over the scan via the native
    * graft_deflate_len codegen expression (no UDF, no shuffle); at
    * 100 TB this rides the same pass as the other per-doc metrics.
    *
    * A deterministic degenerate fixture is seeded in-plan (doc_id%8
    * docs become a 16-char span repeated 40×) so the flag demonstrably
    * separates the classes. No DuckDB oracle — zlib isn't SQL — so this
    * is rows-only by design; SketchSpec pins known-answer orderings,
    * determinism, and interpreted-vs-codegen parity. */
  def compressRatio(spark: SparkSession, dir: String): DataFrame =
    compressRatioOn(Tables.documents(spark, dir))

  /** Frame-level core ((doc_id, text) rows; OracleEdgeSpec plants the
    * empty-document fixture through it). A zero-byte document has no
    * compressibility — ratio/degenerate NULL by construction, never an
    * ANSI DIVIDE_BY_ZERO crash (the crash class the edge sweep
    * exists for — an empty text field WILL occur in a web corpus). */
  private[graft] def compressRatioOn(docs: DataFrame): DataFrame = {
    val seeded = docs.select(
      col("doc_id"),
      when(col("doc_id") % 8 === 0, repeat(substring(col("text"), 1, 16), 40))
        .otherwise(col("text")).as("txt"))
    seeded.select(
        col("doc_id"),
        octet_length(col("txt")).cast("long").as("n_bytes"),
        toColumn(DeflateLength(toExpr(col("txt")))).as("z_bytes"))
      .withColumn("ratio",
        rnd(col("z_bytes") * 1.0 / nullif(col("n_bytes"), lit(0L)), 4))
      .withColumn("degenerate", col("ratio") < 0.1)
      .orderBy(col("doc_id"))
  }

  /** Unicode canonicalization — step zero of a multilingual pipeline:
    * the same visible text has many codepoint spellings (é = U+00E9 or
    * e+U+0301), and every exact-dedup hash, shingle, and token count
    * downstream silently fractures across them. Runs the native
    * graft_normalize codegen expression (Spark ships no normalization
    * function; a UDF would break whole-stage codegen) — map-only in the
    * same scan as the other per-doc transforms.
    *
    * The corpus is ASCII, so a combining sequence (" caf" + e + U+0301)
    * is seeded in-plan: NFC must fuse it (length drops by exactly 1,
    * tail renders "café") — oracle-checked against DuckDB's own
    * nfc_normalize, which exercises the expression against an
    * independent ICU-backed implementation. */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    // NOTE: Spark's chr() is mod-256 ASCII (chr(769) = chr(1)), unlike
    // DuckDB's codepoint chr — the combining acute must be a literal
    val seeded = Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(substring(col("text"), 1, 40),
        lit(" caf"), lit("e\u0301")).as("raw"))
    seeded.select(
        col("doc_id"),
        length(col("raw")).cast("long").as("raw_len"),
        toColumn(UnicodeNormalize(toExpr(col("raw")), "NFC")).as("norm"))
      .select(col("doc_id"), col("raw_len"),
        length(col("norm")).cast("long").as("nfc_len"),
        expr("right(norm, 4)").as("norm_tail"))
      .orderBy(col("doc_id"))
  }

  /** Equi-width token-count histogram — the corpus length profile a
    * pipeline checks before choosing chunk/packing budgets: bucket =
    * floor(n_tokens / width), one map-side-combined count on the
    * bucket key (O(buckets) result, no sort over docs). */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val W = 16L
    Tables.documents(spark, dir)
      .select((size(reTokens(col("text"))).cast("long")).as("n"))
      .groupBy(floor(col("n") / W).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"))
      .withColumn("bucket_lo", col("bucket") * W)
      .select(col("bucket"), col("bucket_lo"), col("n_docs"),
              col("min_tokens"), col("max_tokens"))
      .orderBy(col("bucket"))
  }

  /** Duplicated-n-gram fraction per document — the RefinedWeb/Gopher
    * corpus-health metric the near-dup suite acts on: for each doc, the
    * share of its DISTINCT 3-gram shingles that also occur in at least
    * one other document. High dup_frac docs are boilerplate/template
    * candidates even when no single pair crosses a jaccard threshold —
    * the per-doc complement of dedup's pairwise view.
    *
    * Scale shape: gram doc-frequencies are ONE map-side-combined count
    * keyed on the shingle; the join back to the exploded (doc, shingle)
    * rows co-partitions on that same key (the agg side arrives
    * pre-partitioned, the explode side shuffles once); the per-doc
    * rollup is a second map-side-combined agg. No collect_list — no
    * hot-shingle memory risk — and no corpus² anywhere. */
  def dupNgramFrac(spark: SparkSession, dir: String): DataFrame =
    dupNgramFracOn(Tables.documents(spark, dir), Wire.Text)

  /** Under `Wire.Hashed` (text_dup_ngram_frac_hashed) the doc-frequency
    * groupBy and the join back shuffle xxhash64 longs instead of the
    * 3-token shingle STRING — 8 bytes per key on both exchanges. A
    * collision aliases two shingles' df counts, whose only effect is a
    * unique gram counted as duplicated: dup_frac over-estimated, never
    * under. */
  private def dupNgramFracOn(docs: DataFrame, wire: Wire): DataFrame = {
    // the string is still BUILT map-side (concat_ws feeds xxhash64);
    // hashing before the first exchange keeps it off every shuffle
    val ex = wire.keyed(shingleRows(docs), "shingle")
    val df = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    ex.join(df, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"),
           rnd(sum(when(col("df") >= 2, 1L).otherwise(0L)) /
               count(lit(1)).cast("double"), 4).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-frequency boilerplate LINE removal (the CCNet/RefinedWeb
    * line-dedup pass): a line that repeats across many documents
    * (headers, footers, cookie banners, nav text) is boilerplate and is
    * dropped from EVERY doc — unlike dedup_paragraphs'
    * first-occurrence-wins, which keeps one copy. The synthetic corpus
    * is one line of word soup per doc, so lines are a deterministic
    * seeded fixture (the dedup_paragraphs convention): four lines per
    * doc — one from a FREQUENT pool of 59 keys (doc-frequency ≈ N/59 ≈
    * 8 > threshold ⇒ dropped), one from a RARE shared pool (df ≤ 2 ⇒
    * kept — shared is not the same as boilerplate), two globally
    * unique. A line is boilerplate when it appears in > 6 distinct
    * docs. Mechanism verified is the real one:
    * per-line doc-frequency as ONE map-side-combined count on the line
    * CONTENT (the fixture renders each pool key as a content string, so
    * the entry exercises the production string-keyed shuffle), tiny
    * frequent-line set joined back, per-doc rollup — no step
    * corpus-global, lines partition by content hash at 100 TB. */
  def boilerplateLines(spark: SparkSession, dir: String): DataFrame =
    boilerplateLinesOn(Tables.documents(spark, dir), Wire.Text)

  /** Under `Wire.Hashed` (text_boilerplate_lines_hashed) the
    * doc-frequency groupBy and the join back key on xxhash64(line) — 8
    * bytes on the wire instead of the full line string (lines are the
    * LONGEST keys in this family — headers and cookie banners run to
    * hundreds of bytes on real crawl data). A collision merges two
    * lines' doc frequencies, so a rare line sharing a bucket with a
    * frequent one can be over-dropped — the conservative direction for
    * boilerplate removal. */
  private def boilerplateLinesOn(docs: DataFrame, wire: Wire): DataFrame = {
    val DfThreshold = 6
    val keyed = docs
      .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("line_idx"))
      .withColumn("lk",
        when(col("line_idx") === 0, col("doc_id") % 59)
          .when(col("line_idx") === 1, lit(1000) + col("doc_id") % 499)
          .otherwise(lit(100000) + col("doc_id") * 4 + col("line_idx")))
      // the line is its CONTENT — rendered from the pool key so df math
      // is unchanged (the mapping is injective) while the shuffle key
      // is a real string, as on a real line-structured corpus
      .withColumn("line",
        concat(lit("shared site boilerplate line "), col("lk").cast("string")))
      .drop("lk")
    val lines = keyed.withColumn("line_key", wire.key(col("line")))
    val lineDf = lines.groupBy(col("line_key"))
      .agg(countDistinct(col("doc_id")).as("df"))
    lines.join(lineDf, Seq("line_key"))
      .withColumn("is_boiler", (col("df") > DfThreshold).cast("int"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
           sum(col("is_boiler")).cast("long").as("n_boiler"),
           rnd(sum(col("is_boiler")) / count(lit(1)).cast("double"), 4)
             .as("boiler_frac"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_boilerplate_lines" -> (boilerplateLines _),
    "text_boilerplate_lines_hashed" ->
      ((s, d) => boilerplateLinesOn(Tables.documents(s, d), Wire.Hashed)),
    "text_dup_ngram_frac" -> (dupNgramFrac _),
    "text_dup_ngram_frac_hashed" ->
      ((s, d) => dupNgramFracOn(Tables.documents(s, d), Wire.Hashed)),
    "text_normalize" -> (normalizeText _),
    "text_length_hist" -> (lengthHistogram _),
    "text_entropy" -> (entropy _),
    "text_quality_model" -> (qualityModel _),
    "rpt_lift_curve" -> (liftCurve _),
    "rpt_auc" -> (auc _),
    "text_zipf_fit" -> (zipfFit _),
    "text_heavy_hitters" -> (heavyHitters _),
    "text_compress_ratio" -> (compressRatio _),
    "sample_importance" -> (importanceSample _),
    "text_perplexity_buckets" -> (perplexityBuckets _),
    "text_pii_scrub" -> (piiScrub _),
    "text_pretrain_pipeline" -> (pretrainPipeline _),
    "text_unigram_logprob" -> (unigramLogprob _),
    "text_repetition" -> (repetition _),
    "text_pack" -> (pack _),
    "text_chunks" -> (chunks _),
    "text_corpus_pipeline" -> (corpusPipeline _),
    "text_corpus_filter" -> (corpusFilter _),
    "text_tfidf"       -> (tfidf _),
    "text_ngram_freq"  -> (ngramFreq _),
    "text_tokens"      -> (tokens _),
    "text_quality"     -> (quality _),
    "text_langid"      -> (langid _),
    "text_fingerprint" -> (fingerprint _))

  // hashed-wire twins produce IDENTICAL rows absent an xxhash64
  // collision (graft.functions.Wire), so each carries its string
  // form's full oracle, the spans_hashed precedent
  private val boilerplateSql =
    """WITH l AS (
         SELECT doc_id, i AS line_idx,
                CASE WHEN i = 0 THEN doc_id % 59
                     WHEN i = 1 THEN 1000 + doc_id % 499
                     ELSE 100000 + doc_id * 4 + i END AS line_key
         FROM documents, (SELECT unnest(range(4)) AS i) ix),
       f AS (
         SELECT line_key, count(DISTINCT doc_id) AS df FROM l GROUP BY 1)
       SELECT l.doc_id, count(*) AS n_lines,
              CAST(sum(CASE WHEN f.df > 6 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_boiler,
              floor((sum(CASE WHEN f.df > 6 THEN 1 ELSE 0 END) * 1.0
                     / count(*)) * 10000 + 0.5) / 10000 AS boiler_frac
       FROM l JOIN f USING (line_key)
       GROUP BY l.doc_id ORDER BY doc_id"""

  private val dupNgramSql =
    """WITH toks AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(len(w) - 2),
                i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
           ELSE [] END) AS s
         FROM toks),
       ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       g AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1)
       SELECT e.doc_id,
              count(*) AS n_grams,
              CAST(sum(CASE WHEN g.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_dup_grams,
              floor((sum(CASE WHEN g.df >= 2 THEN 1 ELSE 0 END) /
                     CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000
                AS dup_frac
       FROM ex e JOIN g USING (shingle)
       GROUP BY e.doc_id ORDER BY e.doc_id"""

  // DuckDB notes: list indices are 1-based (as is Spark's element_at);
  // list_sum over INTs would be HUGEINT, so char totals are CAST.
  val oracles: Map[String, String] = Map(
    "text_boilerplate_lines" -> boilerplateSql,
    "text_boilerplate_lines_hashed" -> boilerplateSql,
    "text_normalize" ->
      """WITH s AS (SELECT doc_id,
                           substr(text, 1, 40) || ' caf' || chr(101) || chr(769) AS raw
                    FROM documents)
         SELECT doc_id,
                CAST(length(raw) AS BIGINT) AS raw_len,
                CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_len,
                right(nfc_normalize(raw), 4) AS norm_tail
         FROM s ORDER BY doc_id""",
    "text_dup_ngram_frac" -> dupNgramSql,
    "text_dup_ngram_frac_hashed" -> dupNgramSql,
    "text_length_hist" ->
      """WITH t AS (SELECT CAST(len(regexp_extract_all(lower(text),
                          '[a-z0-9]+')) AS BIGINT) AS n
                    FROM documents)
         SELECT CAST(n // 16 AS BIGINT) AS bucket,
                CAST((n // 16) * 16 AS BIGINT) AS bucket_lo,
                CAST(count(*) AS BIGINT) AS n_docs,
                min(n) AS min_tokens, max(n) AS max_tokens
         FROM t GROUP BY 1, 2 ORDER BY bucket""",
    // identical expression tree on both sides: -sum(c*ln c)/n + ln n
    "text_entropy" ->
      """WITH ch AS (
           SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents),
         cc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2)
         SELECT doc_id,
                CAST(sum(c) AS BIGINT) AS n_chars,
                CAST(count(*) AS BIGINT) AS n_distinct_chars,
                floor((-sum(c * ln(c)) / sum(c) + ln(sum(c))) * 10000 + 0.5)
                  / 10000 AS entropy_nats
         FROM cc GROUP BY doc_id ORDER BY doc_id""",
    // the weight list is interpolated from the SAME Scala constants the
    // Spark plan inlines — identical decimal text → identical doubles
    "text_quality_model" -> {
      val ws = QmWeights.map(w => f"$w%.3f").mkString("[", ", ", "]")
      s"""WITH terms AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
            FROM documents),
          model AS (SELECT CAST($ws AS DOUBLE[]) AS ws),
          scored AS (
            SELECT doc_id,
                   ws[(CAST(('0x' || substr(md5(term), 1, 2)) AS INTEGER)
                       % ${QmWeights.size}) + 1] AS w
            FROM terms CROSS JOIN model),
          agg AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   avg(w) + 0.1 AS logit_raw
            FROM scored GROUP BY doc_id)
          SELECT doc_id, n_tokens,
                 floor(logit_raw * 10000 + 0.5) / 10000 AS logit,
                 floor((1.0 / (1.0 + exp(-logit_raw))) * 10000 + 0.5) / 10000
                   AS prob,
                 floor(logit_raw * 10000 + 0.5) / 10000 >= 0 AS keep
          FROM agg ORDER BY doc_id"""
    },
    "rpt_lift_curve" -> {
      val ws = QmWeights.map(w => f"$w%.3f").mkString("[", ", ", "]")
      s"""WITH terms AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
            FROM documents),
          model AS (SELECT CAST($ws AS DOUBLE[]) AS ws),
          scored AS (
            SELECT doc_id,
                   ws[(CAST(('0x' || substr(md5(term), 1, 2)) AS INTEGER)
                       % ${QmWeights.size}) + 1] AS w
            FROM terms CROSS JOIN model),
          agg AS (
            SELECT doc_id, avg(w) + 0.1 AS logit_raw
            FROM scored GROUP BY doc_id),
          lg AS (
            SELECT doc_id,
                   floor(logit_raw * 10000 + 0.5) / 10000 AS logit
            FROM agg),
          probs AS (
            SELECT doc_id,
                   floor((1.0 / (1.0 + exp(-12.0 * logit))) * 10000 + 0.5)
                     / 10000 AS prob
            FROM lg),
          lab AS (
            SELECT p.doc_id, p.prob,
                   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
            FROM probs p JOIN documents d ON d.doc_id = p.doc_id),
          bins AS (
            SELECT CAST(least(floor(prob * 10), 9.0) AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(label) AS BIGINT) AS n_pos
            FROM lab GROUP BY 1),
          wf AS (
            SELECT bin, n_docs, n_pos,
                   sum(n_docs) OVER () AS total_docs,
                   sum(n_pos) OVER () AS total_pos,
                   sum(n_pos) OVER (ORDER BY bin DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum_pos
            FROM bins)
          SELECT bin, n_docs, n_pos,
                 floor((CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE))
                       * 10000 + 0.5) / 10000 AS pos_rate,
                 floor(((CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)) /
                        (nullif(CAST(total_pos AS DOUBLE), 0) /
                         CAST(total_docs AS DOUBLE)))
                       * 10000 + 0.5) / 10000 AS lift,
                 floor((CAST(cum_pos AS DOUBLE) /
                        nullif(CAST(total_pos AS DOUBLE), 0))
                       * 10000 + 0.5) / 10000 AS cum_gain
          FROM wf ORDER BY bin DESC"""
    },
    "rpt_auc" -> {
      val ws = QmWeights.map(w => f"$w%.3f").mkString("[", ", ", "]")
      s"""WITH terms AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
            FROM documents),
          model AS (SELECT CAST($ws AS DOUBLE[]) AS ws),
          scored AS (
            SELECT doc_id,
                   ws[(CAST(('0x' || substr(md5(term), 1, 2)) AS INTEGER)
                       % ${QmWeights.size}) + 1] AS w
            FROM terms CROSS JOIN model),
          agg AS (
            SELECT doc_id, avg(w) + 0.1 AS logit_raw
            FROM scored GROUP BY doc_id),
          probs AS (
            SELECT doc_id,
                   floor((1.0 / (1.0 + exp(-logit_raw))) * 10000 + 0.5) / 10000
                     AS prob
            FROM agg),
          lab AS (
            SELECT p.prob,
                   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
            FROM probs p JOIN documents d ON d.doc_id = p.doc_id),
          bys AS (
            SELECT prob, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(label) AS BIGINT) AS n_pos
            FROM lab GROUP BY prob),
          rk AS (
            SELECT n, n_pos,
                   CAST(coalesce(CAST(sum(n) OVER (ORDER BY prob
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS DOUBLE) +
                   (CAST(n AS DOUBLE) + 1.0) / 2 AS avg_rank
            FROM bys),
          t AS (
            SELECT CAST(sum(n_pos) AS BIGINT) AS np,
                   CAST(sum(n - n_pos) AS BIGINT) AS nn,
                   sum(CAST(n_pos AS DOUBLE) * avg_rank) AS rpos
            FROM rk)
          SELECT np AS n_pos, nn AS n_neg,
                 floor(((rpos - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1.0) / 2)
                        / nullif(CAST(np AS DOUBLE) * CAST(nn AS DOUBLE), 0))
                       * 1000000 + 0.5) / 1000000 AS auc
          FROM t"""
    },
    "text_zipf_fit" ->
      """WITH terms AS (
           SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
           FROM documents),
         tc AS (SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM terms GROUP BY term),
         top AS (SELECT term, c FROM tc ORDER BY c DESC, term LIMIT 200),
         ranked AS (
           SELECT floor(ln(CAST(row_number() OVER (ORDER BY c DESC, term)
                                AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS x,
                  floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS y
           FROM top),
         m AS (
           SELECT CAST(count(*) AS DOUBLE) AS n,
                  floor(sum(x) * 10000 + 0.5) / 10000 AS sx,
                  floor(sum(y) * 10000 + 0.5) / 10000 AS sy,
                  floor(sum(x * x) * 10000 + 0.5) / 10000 AS sxx,
                  floor(sum(x * y) * 10000 + 0.5) / 10000 AS sxy,
                  floor(sum(y * y) * 10000 + 0.5) / 10000 AS syy
           FROM ranked),
         d AS (
           SELECT n, sx, sy, sxx, sxy, syy,
                  (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) AS slope
           FROM m)
         SELECT CAST(n AS BIGINT) AS n_terms,
                floor(slope * 10000 + 0.5) / 10000 AS zipf_slope,
                floor(((sy - slope * sx) / nullif(n, 0)) * 10000 + 0.5) / 10000
                  AS intercept,
                floor((((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
                       nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0))
                      * 1000000 + 0.5) / 1000000 AS r2
         FROM d""",
    "text_heavy_hitters" ->
      """WITH seeded AS (
           SELECT doc_id,
                  text || CASE WHEN doc_id % 4 = 0
                               THEN repeat(' zzzhot', 25) ELSE '' END AS txt
           FROM documents),
         terms AS (
           SELECT unnest(regexp_extract_all(lower(txt), '[a-z0-9]+')) AS term
           FROM seeded),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM terms)
         SELECT term, CAST(count(*) AS BIGINT) AS n,
                floor((count(*) * 1.0 / total) * 10000 + 0.5) / 10000 AS share
         FROM terms CROSS JOIN tot
         GROUP BY term, total
         HAVING count(*) * 20 > total
         ORDER BY n DESC, term""",
    "sample_importance" ->
      """WITH terms AS (
           SELECT doc_id, lang,
                  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
           FROM documents),
         counts AS (
           SELECT term, count(*) AS c_all,
                  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                       AS BIGINT) AS c_tgt
           FROM terms GROUP BY 1),
         totals AS (
           SELECT CAST(sum(c_all) AS DOUBLE) AS t_all,
                  CAST(sum(c_tgt) AS DOUBLE) AS t_tgt,
                  CAST(count(*) AS DOUBLE) AS v
           FROM counts)
         SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
                floor(avg(ln((c_tgt + 1.0) / (t_tgt + v)) -
                          ln((c_all + 1.0) / (t_all + v))) * 10000 + 0.5)
                  / 10000 AS dsir_score
         FROM terms JOIN counts USING (term) CROSS JOIN totals
         GROUP BY doc_id, lang
         ORDER BY dsir_score DESC, doc_id
         LIMIT 100""",
    "text_perplexity_buckets" ->
      """WITH terms AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
           FROM documents),
         counts AS (SELECT term, count(*) AS c FROM terms GROUP BY 1),
         total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM counts),
         scored AS (
           SELECT doc_id,
                  floor(avg(-ln(c * 1.0 / t)) * 10000 + 0.5) / 10000 AS s
           FROM terms JOIN counts USING (term) CROSS JOIN total
           GROUP BY doc_id),
         cuts AS (SELECT quantile_cont(s, CAST(1.0/3.0 AS DOUBLE)) AS c1,
                         quantile_cont(s, CAST(2.0/3.0 AS DOUBLE)) AS c2
                  FROM scored)
         SELECT d.lang,
                CASE WHEN s <= c1 THEN 'head'
                     WHEN s <= c2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
                count(*) AS n_docs,
                floor(avg(s) * 10000 + 0.5) / 10000 AS avg_nlp
         FROM scored JOIN documents d USING (doc_id) CROSS JOIN cuts
         GROUP BY 1, 2 ORDER BY lang, bucket""",
    // identical fixture seeding + RE2-safe patterns; DuckDB
    // regexp_replace needs the 'g' flag (Spark replaces all by default)
    "text_pii_scrub" ->
      """WITH seeded AS (
           SELECT doc_id,
                  text
                  || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || doc_id || '@example.com'
                       ELSE '' END
                  || CASE WHEN doc_id % 5 = 0
                       THEN ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100)
                       ELSE '' END
                  || CASE WHEN doc_id % 7 = 0
                       THEN ' call 555-867-5309' ELSE '' END AS txt
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(txt,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                  AS n_emails,
                CAST(len(regexp_extract_all(txt,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
                  AS n_ips,
                CAST(len(regexp_extract_all(txt,
                  '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
                md5(regexp_replace(regexp_replace(regexp_replace(txt,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS clean_hash
         FROM seeded ORDER BY doc_id""",
    "text_pretrain_pipeline" ->
      """WITH t AS (SELECT doc_id, lang,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                    FROM documents),
         q AS (SELECT doc_id, lang, w, CAST(len(w) AS BIGINT) AS n_words,
                 floor((CAST(list_sum(list_transform(w, x -> length(x)))
                            AS DOUBLE) / len(w)) * 100 + 0.5) / 100 AS awl,
                 floor((CAST(len(list_filter(w,
                            x -> x IN ('the','a','of','and'))) AS DOUBLE)
                        / len(w)) * 10000 + 0.5) / 10000 AS swr
               FROM t),
         g0 AS (SELECT * FROM q
                WHERE n_words >= 30 AND awl BETWEEN 3.0 AND 8.0
                  AND swr >= 0.02),
         bg AS (SELECT doc_id, 2 AS width, w[i+1] || ' ' || w[i+2] AS gram
                FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i
                      FROM g0 WHERE len(w) >= 2)),
         tg AS (SELECT doc_id, 3 AS width,
                       w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
                FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i
                      FROM g0 WHERE len(w) >= 3)),
         ga AS (SELECT * FROM bg UNION ALL SELECT * FROM tg),
         c AS (SELECT doc_id, width, gram, count(*) AS c
               FROM ga GROUP BY 1, 2, 3),
         pw AS (SELECT doc_id, width, max(c) AS top_c,
                       CAST(sum(c) AS BIGINT) AS n, count(*) AS n_distinct
                FROM c GROUP BY 1, 2),
         f AS (SELECT doc_id,
                 floor(max(CASE WHEN width = 2 THEN top_c * 1.0 / n END)
                       * 10000 + 0.5) / 10000 AS tbf,
                 floor(max(CASE WHEN width = 3
                           THEN 1.0 - n_distinct * 1.0 / n END)
                       * 10000 + 0.5) / 10000 AS dtf
               FROM pw GROUP BY 1),
         clean AS (SELECT g0.* FROM g0 LEFT JOIN f USING (doc_id)
                   WHERE NOT (coalesce(f.tbf, 0) > 0.18 OR
                              coalesce(f.dtf, 0) > 0.30)),
         k AS (SELECT *, row_number() OVER (
                 PARTITION BY md5(array_to_string(w, ' '))
                 ORDER BY doc_id) AS rk FROM clean),
         keep AS (SELECT * FROM k WHERE rk = 1),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
                  THEN list_transform(range(len(w) - 2),
                       i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
                  ELSE [] END) AS s
                FROM t),
         ex AS (SELECT doc_id, len(s) AS n_sh,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                            AS INTEGER) = 15 AS is_eval,
                       unnest(s) AS shingle
                FROM sh),
         pairs AS (
           SELECT tt.doc_id AS train_doc_id, ee.doc_id AS eval_doc_id,
                  count(*) AS inter, any_value(ee.n_sh) AS n_sh_eval
           FROM ex tt JOIN ex ee ON tt.shingle = ee.shingle
           WHERE NOT tt.is_eval AND ee.is_eval
           GROUP BY 1, 2),
         contam AS (SELECT DISTINCT train_doc_id FROM pairs
                    WHERE floor((inter * 1.0 / n_sh_eval) * 10000 + 0.5)
                          / 10000 >= 0.1)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_words) AS BIGINT) AS n_tokens,
                CAST(sum((n_words - 1) // 64 + 1) AS BIGINT) AS n_chunks
         FROM keep
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                    AS INTEGER) <> 15
           AND doc_id NOT IN (SELECT train_doc_id FROM contam)
         GROUP BY lang ORDER BY lang""",
    "text_unigram_logprob" ->
      """WITH terms AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
           FROM documents),
         counts AS (SELECT term, count(*) AS c FROM terms GROUP BY 1),
         total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM counts)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                floor(avg(-ln(c * 1.0 / t)) * 10000 + 0.5) / 10000
                  AS avg_neg_logprob
         FROM terms JOIN counts USING (term) CROSS JOIN total
         GROUP BY doc_id ORDER BY doc_id""",
    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                    FROM documents),
         bg AS (SELECT doc_id, 2 AS width, w[i+1] || ' ' || w[i+2] AS gram
                FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i
                      FROM t WHERE len(w) >= 2)),
         tg AS (SELECT doc_id, 3 AS width,
                       w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
                FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i
                      FROM t WHERE len(w) >= 3)),
         g AS (SELECT * FROM bg UNION ALL SELECT * FROM tg),
         c AS (SELECT doc_id, width, gram, count(*) AS c
               FROM g GROUP BY 1, 2, 3),
         pw AS (SELECT doc_id, width, max(c) AS top_c,
                       CAST(sum(c) AS BIGINT) AS n, count(*) AS n_distinct
                FROM c GROUP BY 1, 2),
         f AS (SELECT doc_id,
                 CAST(coalesce(sum(CASE WHEN width = 2 THEN n END), 0)
                      AS BIGINT) AS n_bigrams,
                 floor(max(CASE WHEN width = 2 THEN top_c * 1.0 / n END)
                       * 10000 + 0.5) / 10000 AS top_bigram_frac,
                 floor(max(CASE WHEN width = 3
                           THEN 1.0 - n_distinct * 1.0 / n END)
                       * 10000 + 0.5) / 10000 AS dup_trigram_frac
               FROM pw GROUP BY 1)
         SELECT doc_id, n_bigrams, top_bigram_frac, dup_trigram_frac,
                (coalesce(top_bigram_frac, 0) > 0.18 OR
                 coalesce(dup_trigram_frac, 0) > 0.30) AS repetitive
         FROM f ORDER BY doc_id""",
    "text_pack" ->
      """WITH t AS (SELECT doc_id,
                           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                                AS BIGINT) AS n_tokens,
                           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                                AS INTEGER) AS shard
                    FROM documents),
         s AS (SELECT doc_id, shard, n_tokens,
                      COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
                               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS start_tok
               FROM t)
         SELECT doc_id, shard,
                CAST(start_tok // 256 AS BIGINT) AS seq_id,
                CAST(start_tok % 256 AS BIGINT) AS seq_offset,
                n_tokens
         FROM s ORDER BY doc_id""",
    "text_chunks" ->
      """WITH t AS (SELECT doc_id,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                    FROM documents),
         c AS (SELECT doc_id, w,
                      unnest(range(((len(w) - 1) // 64) + 1)) AS chunk_id
               FROM t WHERE len(w) > 0)
         SELECT doc_id,
                CAST(chunk_id AS BIGINT) AS chunk_id,
                array_to_string(w[chunk_id*64+1 : least((chunk_id+1)*64, len(w))],
                                ' ') AS chunk_text,
                CAST(least(len(w) - chunk_id*64, 64) AS BIGINT) AS n_tokens
         FROM c ORDER BY doc_id, chunk_id""",
    "text_corpus_pipeline" ->
      """WITH t AS (SELECT doc_id, lang, text,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                    FROM documents),
         q AS (SELECT doc_id, lang, w,
                      CAST(len(w) AS BIGINT) AS n_words,
                      floor((CAST(list_sum(list_transform(w, x -> length(x)))
                                 AS DOUBLE) / len(w)) * 100 + 0.5) / 100
                        AS avg_word_len,
                      floor((CAST(len(list_filter(w,
                                 x -> x IN ('the','a','of','and'))) AS DOUBLE)
                             / len(w)) * 10000 + 0.5) / 10000 AS stopword_ratio
               FROM t),
         g AS (SELECT doc_id, lang, w FROM q
               WHERE n_words >= 30
                 AND avg_word_len BETWEEN 3.0 AND 8.0
                 AND stopword_ratio >= 0.02),
         k AS (SELECT doc_id, lang,
                      row_number() OVER (
                        PARTITION BY md5(array_to_string(w, ' '))
                        ORDER BY doc_id) AS rk
               FROM g),
         s AS (SELECT lang,
                      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                           AS INTEGER) AS b
               FROM k WHERE rk = 1)
         SELECT CASE WHEN b < 13 THEN 'train'
                     WHEN b < 14 THEN 'val'
                     ELSE 'test' END AS split,
                lang, count(*) AS n_docs
         FROM s GROUP BY 1, 2 ORDER BY split, lang""",
    "text_corpus_filter" ->
      """WITH t AS (SELECT doc_id, lang,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                    FROM documents),
         q AS (SELECT doc_id, lang,
                      CAST(len(w) AS BIGINT) AS n_words,
                      floor((CAST(list_sum(list_transform(w, x -> length(x)))
                                 AS DOUBLE) / len(w)) * 100 + 0.5) / 100
                        AS avg_word_len,
                      floor((CAST(len(list_filter(w,
                                 x -> x IN ('the','a','of','and'))) AS DOUBLE)
                             / len(w)) * 10000 + 0.5) / 10000 AS stopword_ratio
               FROM t)
         SELECT * FROM q
         WHERE n_words >= 30
           AND avg_word_len BETWEEN 3.0 AND 8.0
           AND stopword_ratio >= 0.02
         ORDER BY doc_id""",
    "text_tfidf" ->
      """WITH terms AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM terms GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term,
                  tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS score_raw
           FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         ranked AS (
           SELECT doc_id, term, score_raw,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score_raw DESC, term) AS rank
           FROM scored)
         SELECT doc_id, term,
                floor((score_raw) * 10000 + 0.5) / 10000 AS tfidf,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 3
         ORDER BY doc_id, rank""",
    "text_ngram_freq" ->
      """WITH t AS (SELECT doc_id,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                    FROM documents),
         b AS (SELECT unnest(list_transform(range(len(w) - 1),
                       i -> w[i+1] || ' ' || w[i+2])) AS bigram
               FROM t WHERE len(w) >= 2)
         SELECT bigram, count(*) AS n FROM b
         GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""",
    "text_tokens" ->
      """SELECT doc_id,
                CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
                CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_re_tokens,
                CAST(length(text) AS BIGINT) AS n_chars
         FROM documents""",
    "text_quality" ->
      """WITH t AS (SELECT doc_id,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                    FROM documents)
         SELECT doc_id,
                CAST(len(w) AS BIGINT) AS n_words,
                floor((CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                      / len(w)) * 100 + 0.5) / 100 AS avg_word_len,
                floor((CAST(len(list_filter(w, x -> x IN ('the','a','of','and')))
                           AS DOUBLE) / len(w)) * 10000 + 0.5) / 10000 AS stopword_ratio
         FROM t""",
    "text_langid" ->
      """WITH t AS (SELECT doc_id,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                    FROM documents),
         s AS (SELECT doc_id,
                      floor((CAST(len(list_filter(w, x -> x IN ('the','a','of','and')))
                                 AS DOUBLE) / len(w)) * 10000 + 0.5) / 10000 AS en_score,
                      floor((CAST(len(list_filter(w, x -> x IN ('spark','vector','hash','stream')))
                                 AS DOUBLE) / len(w)) * 10000 + 0.5) / 10000 AS tech_score
               FROM t)
         SELECT doc_id, en_score, tech_score,
                CASE WHEN en_score >= tech_score THEN 'en' ELSE 'tech' END
                  AS predicted_lang
         FROM s""",
    "text_fingerprint" ->
      """WITH t AS (SELECT doc_id,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                    FROM documents)
         SELECT doc_id,
                md5(array_to_string(w, ' ')) AS fp_md5,
                CAST(len(list_distinct(CASE WHEN len(w) >= 3
                  THEN list_transform(range(len(w) - 2),
                       i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
                  ELSE [] END)) AS BIGINT) AS n_shingles
         FROM t""")
}
