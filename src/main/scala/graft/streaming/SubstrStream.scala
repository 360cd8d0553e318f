package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.dedup.SubstrDedup

/** Exact-substring dedup ON the stream — the streaming member of the
  * span family (corpus-wide: dedup_substring_spans; daily batch:
  * dedup_substring_incremental; here: continuous). Documents arriving
  * on a firehose are probed for duplicated K-token runs against the
  * CORPUS SO FAR, and their own grams then join the standing index —
  * so tomorrow's arrival of today's boilerplate is flagged without any
  * offline rebuild.
  *
  * State lives entirely in IndexMaintainStream's staged-commit deltas
  * (`batch=<epoch>/{grams,spans}` + `_COMMIT`, atomic rename), ZERO
  * Spark state store: the gram set is a parquet table that scales with
  * distinct corpus content, survives restarts, and compacts under the
  * shared crash-safe protocol. Exactly-once rides the commit-exists
  * no-op on same-epoch re-delivery. Gram presence is per-doc-local, so
  * append ≡ rebuild is exact — the identity the whole delta design
  * rests on (same argument as the BM25 postings).
  *
  * Semantics mirror [[graft.dedup.SubstrDedup.incrementalSpansOn]]:
  * each micro-batch's spans are measured against PRIOR epochs only —
  * batch-internal duplication is out of scope (the corpus-wide entry
  * owns it), and a run first seen in epoch N is flagged from epoch N+1
  * on. Duplicate gram rows across deltas are harmless (the probe is a
  * left-semi join); compaction dedups them.
  *
  * Per-epoch cost is O(batch), not O(state): each delta carries a
  * bloom sidecar over its own gram keys, and the probe join's state
  * side shrinks to the bloom-confirmed batch-relevant sliver before
  * any join — see [[probeTarget]] (the PretrainStream seen-set design
  * applied to the gram index; tools.StreamLadder measures both). */
object SubstrStream {

  /** Wire form of the persisted gram index: `hashed = false` stores
    * the gram STRING (`kg` — bit-exact, zero collision caveat),
    * `hashed = true` stores xxhash64 keys (`kh` — 8 bytes per distinct
    * gram instead of a ~K-token string, so the standing index and
    * every probe's semi-join shrink by the §6.4-measured wire factor;
    * same collision odds note as dedup_substring_spans_hashed). A root
    * is one wire form for its whole life — the form picks the gram
    * table's schema and the compaction cluster key. The AUTHORITATIVE
    * form is the committed gram table's own schema (`kh` vs `kg`
    * column, [[wireFormOf]]); the caller's flag only decides the form
    * of a root's FIRST batch — after that a stale or wrong flag is
    * ignored, so a misconfigured restart can no longer flip an
    * established root's wire form. */
  private def gramSchema(hashed: Boolean) =
    if (hashed) new StructType().add("kh", LongType, nullable = true)
    else new StructType().add("kg", StringType, nullable = true)

  private def gramKey(hashed: Boolean) = if (hashed) "kh" else "kg"

  /** The root's established wire form, read from the committed gram
    * table's schema — None when nothing is committed yet (the only
    * moment the caller's flag decides). */
  private[graft] def wireFormOf(spark: SparkSession,
                                root: String): Option[Boolean] =
    try {
      val cols = IndexMaintainStream.readTable(spark, root, "grams").columns
      Some(cols.contains("kh"))
    } catch { case _: IllegalArgumentException => None }

  private def priorGrams(spark: SparkSession, root: String,
                         hashed: Boolean): DataFrame =
    try IndexMaintainStream.readTable(spark, root, "grams")
    catch {
      case _: IllegalArgumentException =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], gramSchema(hashed))
    }

  /** Confirmed-gram keys pushed as IN-literals into the clustered state
    * scan up to this many; past it the verify falls back to a broadcast
    * semi join (still scan-only on the state side). Chunked per scan
    * like the pretrain verify (IndexMaintainStream.literalInScan) so
    * no single pushed IN is a stack-deep Or tree. var only so specs
    * can lower it to exercise the fallback branch with test-sized
    * batches. */
  private[graft] var InPushdownCap = 10000

  /** The gram index's OWN pregate crossover, measured (round-12
    * StreamLadder A/B, 20k docs/epoch, last-quartile means): naive
    * wins at 20M grams (2.88 vs 3.64 s) and still at 50M (4.19 vs
    * 4.91 s); the pregate wins 2.1× at 150M (4.26 vs 9.04 s) — the
    * crossover sits near ~100M keys, later than the pretrain
    * seen-set's ~60M because each doc carries ~40× more gram keys
    * than content hashes, so the probe/extraction constant is paid on
    * a far denser batch. 100M is the conservative local threshold; on
    * a cluster the naive arm's full-state NETWORK shuffle moves the
    * crossover earlier — calibrate with StreamLadder's A/B rungs
    * (mode=substr) on the target cluster and pass the measured value
    * to [[start]] (README, "Calibrating the streaming pregate on a
    * cluster"). */
  private[graft] val DefaultPregateMinKeys = 100000000L

  /** The probe TARGET for one micro-batch. The naive target (`pregate =
    * false`) is the full committed gram set — a left-semi whose state
    * side re-shuffles every epoch, O(state) per batch
    * (tools.StreamLadder's finding on the pretrain root applies
    * verbatim). With the bloom sidecars the target shrinks to the
    * CONFIRMED batch-relevant sliver: batch gram keys that any delta's
    * bloom maybe-contains (no false negatives — an unflagged key
    * cannot be in the corpus) verified exactly against the state scan
    * (IN-literal pushdown into the key-clustered compacted run when
    * few; broadcast semi past the cap — either way the state never
    * shuffles), so the downstream probe join's right side is tiny and
    * broadcastable. Any delta without a sidecar (pre-bloom root)
    * contributes its grams verbatim — exact, slower, self-healing at
    * the next compaction (which rebuilds one bloom over everything).
    * Correctness: the target is a SUBSET of the committed grams
    * containing every key the batch can match, so the left-semi probe
    * is row-identical to the naive path's. */
  private def probeTarget(spark: SparkSession, root: String, form: Boolean,
                          delivered: DataFrame, pregate: Boolean)
      : (DataFrame, Option[DataFrame]) = {
    if (!pregate) return (priorGrams(spark, root, form), None)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], gramSchema(form))
    val deltas = IndexMaintainStream.visibleDeltas(spark, root)
    if (deltas.isEmpty) return (empty, None)
    val (bloomed, legacy) = deltas.partition(d =>
      IndexMaintainStream.hasBloomSidecar(spark, d))
    val key = gramKey(form)
    var pinned: Option[DataFrame] = None
    val confirmed: Option[DataFrame] = IndexMaintainStream.bloomProbe(spark,
        bloomed.map(d => s"$d/bloom"),
        if (form) col("kh") else xxhash64(col("kg")))
      .flatMap { maybeSeen =>
        // materialized ONCE (eager local checkpoint): the limit-collect
        // and — past the cap — the broadcast semi branch both read the
        // same blocks instead of re-running the gram extraction+probe.
        // Handed to processBatch (second tuple slot) for release once
        // the epoch's writes consume it — Dataset.unpersist never frees
        // checkpoint blocks (graft.CheckpointBlocks).
        val posit =
          (if (form) SubstrDedup.gramsOfHashed(delivered, SubstrDedup.MinRun)
           else SubstrDedup.gramsOf(delivered, SubstrDedup.MinRun))
            .filter(maybeSeen)
            .localCheckpoint(true)
        pinned = Some(posit)
        val pk = posit.limit(InPushdownCap + 1).collect()
          .map(_.get(0)).toSeq
        if (pk.isEmpty) None
        else {
          val state = spark.read.parquet(bloomed.map(d => s"$d/grams"): _*)
          Some(
            if (pk.length <= InPushdownCap)
              // chunked pushed INs — never a stack-deep Or tree
              // (GraftSession.InScanChunk; the 1B-rung lesson)
              IndexMaintainStream.literalInScan(state, key, pk)
                .select(col(key)).distinct()
            else state.join(broadcast(posit), Seq(key), "left_semi")
              .select(col(key)).distinct())
        }
      }
    val legacyGrams =
      if (legacy.isEmpty) None
      else Some(spark.read.parquet(legacy.map(d => s"$d/grams"): _*))
    val target = (confirmed, legacyGrams) match {
      case (None, None)       => empty
      case (Some(c), None)    => broadcast(c)
      case (None, Some(l))    => l
      case (Some(c), Some(l)) => c.unionByName(l.select(col(key)))
    }
    (target, pinned)
  }

  /** One micro-batch: probe against the committed gram set (bloom
    * pregated — see [[probeTarget]]), then commit this epoch's spans,
    * its distinct grams, AND a bloom sidecar over those grams in ONE
    * atomic delta. Returns false on re-delivery of a committed epoch. */
  private[graft] def processBatch(delivered: DataFrame, root: String,
                                  epoch: Long,
                                  hashed: Boolean = false,
                                  pregate: Boolean = true,
                                  pregateMinKeys: Long =
                                    DefaultPregateMinKeys)
      : Boolean = {
    val spark = delivered.sparkSession
    // established roots keep their committed wire form regardless of
    // the caller's flag — see the wire-form scaladoc above
    val form = wireFormOf(spark, root).getOrElse(hashed)
    // state-aware pregate: this index LOSES at its measured 20M-gram
    // rung (probe+verify constants beat nothing when the state the
    // naive semi-join would shuffle is small), so below the crossover
    // the naive full-state target is the shipped path; sidecars are
    // still written, so the root pregates the moment state crosses
    // (PretrainStream.DefaultPregateMinKeys documents the evidence)
    val gated = PretrainStream.pregateActive(spark, root, pregate,
      pregateMinKeys)
    // the pregate's eagerly-checkpointed positives frame is released
    // once the epoch's writes have consumed it (finally, so a failed
    // epoch doesn't leak the blocks either)
    var pinned: Option[DataFrame] = None
    try IndexMaintainStream.commitBatch(spark, root, s"batch=$epoch") {
        staging =>
      val (prior, pin) = probeTarget(spark, root, form, delivered, gated)
      pinned = pin
      val spans =
        if (form)
          SubstrDedup.probeSpansHashed(delivered, prior, SubstrDedup.MinRun)
        else SubstrDedup.probeSpans(delivered, prior, SubstrDedup.MinRun)
      spans.withColumn("epoch", lit(epoch)).write.parquet(s"$staging/spans")
      (if (form) SubstrDedup.gramsOfHashed(delivered, SubstrDedup.MinRun)
       else SubstrDedup.gramsOf(delivered, SubstrDedup.MinRun))
        .write.parquet(s"$staging/grams")
      if (pregate) {
        val grams = spark.read.schema(gramSchema(form))
          .parquet(s"$staging/grams")
        IndexMaintainStream.writeBloomSidecar(grams, grams.count(),
          s"$staging/bloom", if (form) col("kh") else xxhash64(col("kg")))
      }
    } finally pinned.foreach(graft.CheckpointBlocks.free)
  }

  /** Start the firehose: `docs` is a streaming frame with at least
    * (doc_id, text). */
  def start(docs: DataFrame, root: String,
            hashed: Boolean = false,
            pregate: Boolean = true,
            pregateMinKeys: Long = DefaultPregateMinKeys): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processBatch(batch, root, epoch, hashed, pregate, pregateMinKeys); ()
      }
      .start()

  /** [[compact]] under the deltas-count policy
    * (IndexMaintainStream.compactIfNeeded's rationale): fold when more
    * than `maxDeltas` plain deltas have accumulated. Returns true when
    * a compaction ran. */
  def compactIfNeeded(spark: SparkSession, root: String,
                      hashed: Boolean = false,
                      maxDeltas: Int = 64): Boolean = {
    if (IndexMaintainStream.plainDeltaCount(spark, root) <= maxDeltas) false
    else { compact(spark, root, hashed); true }
  }

  /** Every duplicated span flagged so far (doc_id, span_start,
    * span_end, span_len, epoch). */
  def spansSoFar(spark: SparkSession, root: String): DataFrame =
    IndexMaintainStream.readTable(spark, root, "spans")

  /** Fold per-epoch deltas into one compacted run (grams clustered on
    * the gram key — restores min/max file-skipping AND makes the
    * pregate's IN-literal pushdown prune row groups — and deduped,
    * since the probe's semi-join never needed the cross-delta
    * duplicates), then REBUILD one bloom sidecar over the folded gram
    * set (per-epoch blooms have differing geometries, so they fold by
    * re-aggregation; this is also how a pre-bloom root self-heals into
    * the pregated steady state). */
  def compact(spark: SparkSession, root: String,
              hashed: Boolean = false): Unit = {
    // cluster on the root's ESTABLISHED key column, not the flag
    val form = wireFormOf(spark, root).getOrElse(hashed)
    IndexMaintainStream.commitCompactedWith(spark, root) { staging =>
      graft.sinks.LakeSink.writeClustered(
        IndexMaintainStream.readTable(spark, root, "grams").distinct(),
        s"$staging/grams",
        // sized by input bytes — a hardcoded 1 was a single-task sort
        // of the whole gram set (see compactedFileCount's scaladoc)
        IndexMaintainStream.compactedFileCount(spark, root, "grams"),
        col(gramKey(form)))
      IndexMaintainStream.readTable(spark, root, "spans")
        .write.parquet(s"$staging/spans")
      val grams = spark.read.schema(gramSchema(form))
        .parquet(s"$staging/grams")
      IndexMaintainStream.writeBloomSidecar(grams, grams.count(),
        s"$staging/bloom", if (form) col("kh") else xxhash64(col("kg")))
    }
    IndexMaintainStream.dropCovered(spark, root)
  }
}
