package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Num.rnd
import graft.functions.Wire
import graft.functions.TextFunctions._

/** Exact-substring (span-level) deduplication — the ExactSubstr pass of
  * Lee et al., "Deduplicating Training Data Makes Language Models
  * Better" (ACL 2022): find every maximal run of >= K consecutive
  * tokens that also appears in ANOTHER document, and scrub those runs
  * while keeping the rest of the document. This is finer-grained than
  * the library's doc-level dedup family (dedup_exact_docs /
  * dedup_ngram_jaccard keep-or-drop whole documents): a news article
  * quoting a duplicated press-release paragraph keeps its original
  * prose and loses only the quoted span.
  *
  * The paper builds a single-node suffix array; that structure does not
  * distribute. The Spark-first equivalent keeps the same semantics —
  * "duplicated substring of length >= K" == "every K-token window of it
  * is a duplicated K-gram, and maximal runs of duplicated K-gram starts
  * merge into one span" — with relational pieces only:
  *
  *  1. token positions: posexplode of the regex tokens (normText
  *     space — same tokenizer as the rest of the text family);
  *  2. K-gram per position via K-1 window leads over doc_id —
  *     fully codegen'd, one shuffle on doc_id (shingleRows' shape);
  *  3. cross-doc duplicate grams: groupBy(gram) with
  *     min(doc_id) != max(doc_id) — exactly "appears in >= 2 DISTINCT
  *     docs", as a one-level partial min/max aggregate (map-side
  *     combined on the gram key alone; measured 10% cheaper than the
  *     two-phase distinct-count it replaced, whose partial phase
  *     hashed (gram, doc_id) pairs); requiring DISTINCT docs (not raw
  *     occurrences) keeps self-repetition inside one doc out of scope
  *     (that is text_repetition / text_dup_ngram_frac's job);
  *  4. duplicated gram START positions: left-semi join of the gram
  *     rows against the duplicated-gram keys — output is linear in
  *     gram occurrences (never a pair space, so a boilerplate gram
  *     shared by 10^9 docs at 100 TB costs its occurrence count and
  *     nothing quadratic — no hot-bucket guard needed);
  *  5. interval merge per doc: each start p covers [p, p+K-1];
  *     runs that overlap OR touch (start <= prev_max_end + 1) fuse
  *     into one maximal span via the classic islands trick — running
  *     max(end) over a doc-partitioned window, new-island flag,
  *     cumulative sum, group by island.
  *
  * At 100 TB the only heavy exchange is step 3/4's shuffle on the gram
  * key; the kernels take a [[graft.functions.Wire]], so a production run
  * groups on xxhash64(gram) (dedup_substring_spans_hashed) while the
  * string form keeps the DuckDB oracle bit-exact.
  *
  * Reference behavior anchor: the reference dedups referral rows only
  * whole-record (core/etl_service.py:210-246 drop_duplicates); span
  * scrubbing is part of the LLM-pipeline surface this library adds.
  */
object SubstrDedup {

  /** Minimum duplicated run length, in tokens (the paper uses 50 BPE
    * tokens at web scale; 8 fits the synthetic corpus' 10-99-token
    * docs while exercising identical machinery). */
  private[graft] val MinRun = 8

  /** The gram key column under `wire`: `kg` holds the K-token string,
    * `kh` its xxhash64. */
  private[graft] def gramKey(wire: Wire): String = wire match {
    case Wire.Text => "kg"
    case Wire.Hashed => "kh"
  }

  /** One row per (doc_id, gram start position, K-token gram key). The
    * string is built map-side either way; under `Wire.Hashed` only its
    * 8-byte key leaves this stage. */
  private def gramRows(docs: DataFrame, k: Int, wire: Wire): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until k).map(j => lead(col("w"), j).over(byDoc).as(s"w$j"))
    docs
      .select(col("doc_id"), posexplode(reTokens(col("text"))).as(Seq("pos", "w")))
      .select(col("doc_id") +: col("pos").cast("long").as("pos") +:
        col("w") +: leads: _*)
      .filter(col(s"w${k - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        wire.key(concat_ws(" ",
          col("w") +: (1 until k).map(j => col(s"w$j")): _*)).as(gramKey(wire)))
  }

  /** Islands interval-merge: duplicated K-gram START positions
    * (doc_id, pos) → maximal spans, overlapping-or-touching runs
    * fused. */
  private def mergeStarts(hits: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevMaxEnd = max(col("pos") + (k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("is_new",
        when(col("pos") > coalesce(prevMaxEnd, lit(-2L)) + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("is_new")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        (max(col("pos")) + k - min(col("pos"))).as("span_len"))
      .drop("island")
  }

  /** Maximal cross-doc duplicated spans:
    * (doc_id, span_start, span_end, span_len), token positions
    * inclusive, 0-based, in regex-token space. Under `Wire.Hashed` the
    * duplicate-gram groupBy and the start-probe semi-join shuffle 8-byte
    * keys instead of ~K-token strings (≈6× less gram-stage wire at K=8
    * on the synthetic corpus; more on real prose). A collision aliases
    * two unrelated grams, so its only effect is over-scrubbing: at worst
    * one false K-token span per colliding occurrence — a bounded ~10⁻⁸
    * rate even at 10¹² grams. */
  private[graft] def spansOf(docs: DataFrame, k: Int,
                             wire: Wire = Wire.Text): DataFrame = {
    val key = gramKey(wire)
    val grams = gramRows(docs, k, wire)
    // "appears in >= 2 DISTINCT docs" == min(doc_id) != max(doc_id):
    // a plain partial min/max aggregate (one level, map-side combined
    // on the gram key alone) replaces the two-level distinct-count
    // whose partial phase hashes (key, doc_id) PAIRS — measured -10%
    // on the string form at the 500k-doc rung (the hashed form is
    // flat: its 8-byte keys made the pair phase cheap already); same
    // boolean, exact semantics
    val dupGrams = grams
      .groupBy(col(key))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col(key))
    val hits = grams
      .join(dupGrams, Seq(key), "left_semi")
      // hits are already distinct: gramRows emits ONE row per
      // (doc_id, pos) and a left-semi join never duplicates left rows
      // (even against duplicate gram keys) — no dedup exchange needed
      .select(col("doc_id"), col("pos"))
    mergeStarts(hits, k)
  }

  /** Span inventory entry on `wire`'s gram keys. */
  def spans(spark: SparkSession, dir: String, wire: Wire): DataFrame =
    spansOf(Tables.documents(spark, dir), MinRun, wire)
      .orderBy(col("doc_id"), col("span_start"))

  /** One row per distinct K-gram key of `docs` — the unit a persisted
    * gram index stores (streaming.SubstrStream appends one such frame
    * per micro-batch). Under `Wire.Hashed` a key is 8 bytes instead of
    * a ~K-token string, shrinking both the standing index and every
    * probe's semi-join wire (the §6.4 ladder's measured 2.1× at 5M
    * docs applies to the probe shape verbatim). */
  private[graft] def gramsOf(docs: DataFrame, k: Int,
                             wire: Wire = Wire.Text): DataFrame =
    gramRows(docs, k, wire).select(col(gramKey(wire))).distinct()

  /** Batch-vs-corpus probe: maximal spans of `docs` whose K-grams exist
    * in `corpusGrams` (a standing distinct-gram set on the same `wire`
    * — derived in-query by [[incrementalSpansOn]], read from committed
    * index deltas by streaming.SubstrStream). Left-semi on the gram
    * key, so duplicate gram rows across index deltas are harmless and
    * output stays linear in the probe's gram occurrences. A collision
    * can only add a span, as in [[spansOf]]. */
  private[graft] def probeSpans(docs: DataFrame, corpusGrams: DataFrame,
                                k: Int, wire: Wire = Wire.Text): DataFrame = {
    val key = gramKey(wire)
    val hits = gramRows(docs, k, wire)
      .join(corpusGrams.select(col(key)), Seq(key), "left_semi")
      // hits are already distinct: gramRows emits ONE row per
      // (doc_id, pos) and a left-semi join never duplicates left rows
      // (even against duplicate gram keys) — no dedup exchange needed
      .select(col("doc_id"), col("pos"))
    mergeStarts(hits, k)
  }

  /** Incremental substring dedup — the daily-increment shape: a new
    * batch (the family's deterministic 1/16 md5 split) finds its
    * duplicated spans AGAINST THE STANDING CORPUS only. The corpus
    * collapses once into its distinct-gram set — in production a
    * persisted gram index maintained by appending each day's accepted
    * docs' grams (IndexMaintainStream's delta protocol fits verbatim:
    * gram presence is per-doc-local, so append ≡ rebuild) — and the
    * increment-sized batch probes it with a left-semi join
    * co-partitioned on the gram. A batch position is covered when its
    * K-gram exists ANYWHERE in the corpus (batch ∩ corpus = ∅ by the
    * split, so every such match is cross-doc by construction);
    * batch-internal duplication is deliberately out of scope here —
    * that's [[spans]]' corpus-wide job. The corpus never self-pairs,
    * never re-shuffles per batch, and output stays linear in batch
    * gram occurrences. */
  def incrementalSpans(spark: SparkSession, dir: String): DataFrame =
    incrementalSpansOn(Tables.documents(spark, dir), MinRun)

  /** Frame-level core (docs must have doc_id + text). */
  private[graft] def incrementalSpansOn(docs: DataFrame, k: Int): DataFrame = {
    val grams = gramRows(docs, k, Wire.Text)
      .withColumn("is_batch", Dedup.bucket16(col("doc_id")) === 0)
    val corpusGrams = grams.filter(!col("is_batch"))
      .select(col("kg")).distinct()
    val hits = grams.filter(col("is_batch"))
      .join(corpusGrams, Seq("kg"), "left_semi")
      // hits are already distinct: gramRows emits ONE row per
      // (doc_id, pos) and a left-semi join never duplicates left rows
      // (even against duplicate gram keys) — no dedup exchange needed
      .select(col("doc_id"), col("pos"))
    mergeStarts(hits, k)
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Scrub entry: every document with its duplicated-span tokens
    * removed — per-doc token accounting plus the retained text
    * (normText space). Tokens are kept by a left-anti range join
    * against the doc's spans: the doc_id equi key drives the join,
    * the BETWEEN rides as its residual condition, and the retained
    * text reassembles via an ordered struct sort inside the doc's
    * aggregation buffer (bounded by the doc's own length). */
  def scrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sp = spansOf(docs, MinRun)
      .select(col("doc_id").as("s_doc"), col("span_start"), col("span_end"))
    val toks = docs.select(col("doc_id"),
      posexplode(reTokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val kept = toks.join(sp,
      toks("doc_id") === sp("s_doc") &&
        col("pos").between(col("span_start"), col("span_end")),
      "left_anti")
    val keptAgg = kept
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok"))).as("scrubbed"))
    docs
      .select(col("doc_id"),
        size(reTokens(col("text"))).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("dup_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(rnd(
            (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
              .cast("double") / col("n_tokens"), 4)).as("dup_frac"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"))
      .orderBy(col("doc_id"))
  }

  /** Span-level benchmark decontamination — the exact-collision rule
    * GPT-3/PaLM-style pipelines run (flag any training text containing
    * an exact K-gram from a held-out benchmark; the paper convention is
    * 13-grams, here the family's K=8 over the same machinery):
    * training docs (the md5 split's 15 non-eval buckets) are probed
    * against the EVAL bucket's distinct-gram set, reporting the exact
    * collision SPANS — finer evidence than dedup_contamination's
    * shingle-share ratio (which answers "how much of the eval doc
    * leaked" doc-to-doc; this answers "which exact training characters
    * are benchmark text", the thing a scrub would remove). Eval gram
    * sets are benchmark-sized (tiny) — the probe's semi-join builds a
    * broadcast at any corpus scale. */
  def decontamSpans(spark: SparkSession, dir: String): DataFrame =
    decontamSpansOn(Tables.documents(spark, dir), MinRun)

  private[graft] def decontamSpansOn(docs: DataFrame, k: Int): DataFrame = {
    val evalGrams = gramsOf(docs.filter(Dedup.bucket16(col("doc_id")) === 15), k)
    probeSpans(docs.filter(Dedup.bucket16(col("doc_id")) =!= 15), evalGrams, k)
      .orderBy(col("doc_id"), col("span_start"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring_decontam" -> (decontamSpans _),
    "dedup_substring_spans" -> ((s, d) => spans(s, d, Wire.Text)),
    "dedup_substring_spans_hashed" -> ((s, d) => spans(s, d, Wire.Hashed)),
    "dedup_substring_scrub" -> (scrub _),
    "dedup_substring_incremental" -> (incrementalSpans _))

  private val spansCte =
    """t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
             FROM documents),
       g AS (SELECT doc_id, i AS pos, array_to_string(w[i+1:i+8], ' ') AS kg
             FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS i
                   FROM t WHERE len(w) >= 8)),
       dup AS (SELECT kg FROM g GROUP BY 1
               HAVING count(DISTINCT doc_id) >= 2),
       hits AS (SELECT DISTINCT g.doc_id, g.pos FROM g JOIN dup USING (kg)),
       brk AS (SELECT doc_id, pos,
                      CASE WHEN pos > coalesce(max(pos + 7) OVER (
                             PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), -2) + 1
                           THEN 1 ELSE 0 END AS is_new
               FROM hits),
       isl AS (SELECT doc_id, pos,
                      sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos)
                        AS island
               FROM brk),
       spans AS (SELECT doc_id, min(pos) AS span_start,
                        max(pos) + 7 AS span_end,
                        max(pos) + 8 - min(pos) AS span_len
                 FROM isl GROUP BY doc_id, island)"""

  val oracles: Map[String, String] = Map(
    "dedup_substring_spans" ->
      s"""WITH $spansCte
          SELECT doc_id, span_start, span_end, span_len
          FROM spans ORDER BY doc_id, span_start""",
    // the hashed wire produces IDENTICAL spans absent an xxhash64
    // collision (graft.functions.Wire), so it carries the string form's
    // full oracle rather than a weaker rows-only check
    "dedup_substring_spans_hashed" ->
      s"""WITH $spansCte
          SELECT doc_id, span_start, span_end, span_len
          FROM spans ORDER BY doc_id, span_start""",
    "dedup_substring_scrub" ->
      s"""WITH $spansCte,
          toks AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i+1] AS tok
                   FROM t, unnest(range(len(w))) AS u(i)),
          kept AS (SELECT k.doc_id, k.pos, k.tok FROM toks k
                   WHERE NOT EXISTS (
                     SELECT 1 FROM spans s
                     WHERE s.doc_id = k.doc_id
                       AND k.pos BETWEEN s.span_start AND s.span_end)),
          kc AS (SELECT doc_id, count(*) AS n_kept,
                        string_agg(tok, ' ' ORDER BY pos) AS scrubbed
                 FROM kept GROUP BY doc_id)
          SELECT t.doc_id,
                 CAST(len(t.w) AS BIGINT) AS n_tokens,
                 CAST(len(t.w) - coalesce(kc.n_kept, 0) AS BIGINT)
                   AS dup_tokens,
                 CASE WHEN len(t.w) = 0 THEN 0.0
                      ELSE round((len(t.w) - coalesce(kc.n_kept, 0)) * 1.0
                                 / len(t.w), 4) END AS dup_frac,
                 coalesce(kc.scrubbed, '') AS scrubbed
          FROM t LEFT JOIN kc USING (doc_id)
          ORDER BY t.doc_id""",
    "dedup_substring_incremental" ->
      """WITH t AS (SELECT doc_id,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS w,
                           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                1, 1)) AS INTEGER) = 0 AS is_batch
                    FROM documents),
         g AS (SELECT doc_id, is_batch, i AS pos,
                      array_to_string(w[i+1:i+8], ' ') AS kg
               FROM (SELECT doc_id, is_batch, w,
                            unnest(range(len(w) - 7)) AS i
                     FROM t WHERE len(w) >= 8)),
         corpus AS (SELECT DISTINCT kg FROM g WHERE NOT is_batch),
         hits AS (SELECT DISTINCT g.doc_id, g.pos
                  FROM g JOIN corpus USING (kg) WHERE g.is_batch),
         brk AS (SELECT doc_id, pos,
                        CASE WHEN pos > coalesce(max(pos + 7) OVER (
                               PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), -2) + 1
                             THEN 1 ELSE 0 END AS is_new
                 FROM hits),
         isl AS (SELECT doc_id, pos,
                        sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos)
                          AS island
                 FROM brk)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
                max(pos) + 8 - min(pos) AS span_len
         FROM isl GROUP BY doc_id, island
         ORDER BY doc_id, span_start""",
    "dedup_substring_decontam" ->
      """WITH t AS (SELECT doc_id,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS w,
                           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                1, 1)) AS INTEGER) = 15 AS is_eval
                    FROM documents),
         g AS (SELECT doc_id, is_eval, i AS pos,
                      array_to_string(w[i+1:i+8], ' ') AS kg
               FROM (SELECT doc_id, is_eval, w,
                            unnest(range(len(w) - 7)) AS i
                     FROM t WHERE len(w) >= 8)),
         ev AS (SELECT DISTINCT kg FROM g WHERE is_eval),
         hits AS (SELECT DISTINCT g.doc_id, g.pos
                  FROM g JOIN ev USING (kg) WHERE NOT g.is_eval),
         brk AS (SELECT doc_id, pos,
                        CASE WHEN pos > coalesce(max(pos + 7) OVER (
                               PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), -2) + 1
                             THEN 1 ELSE 0 END AS is_new
                 FROM hits),
         isl AS (SELECT doc_id, pos,
                        sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos)
                          AS island
                 FROM brk)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
                max(pos) + 8 - min(pos) AS span_len
         FROM isl GROUP BY doc_id, island
         ORDER BY doc_id, span_start""")
}
