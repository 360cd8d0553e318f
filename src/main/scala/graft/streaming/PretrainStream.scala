package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.functions.TextFunctions.normText
import graft.operators.TextOps

/** The pretraining prep chain ON the stream — the streaming twin of the
  * batch flagship (operators.TextOps.pretrainPipeline): documents
  * arriving on a firehose pass the SAME gates the batch plan runs —
  * C4-style quality gate, Gopher repetition gate, exact content dedup,
  * deterministic holdout coin, benchmark decontamination — and the
  * accepted corpus accumulates as an append-only table whose
  * per-language accounting equals the batch pipeline's, exactly.
  *
  * == Design: all state in committed deltas, none in the state store ==
  *
  * Every stage is either per-document (gates, coin, decontamination —
  * they reuse TextOps.cleanDocs / holdoutCoin / pretrainAccounting
  * verbatim, so batch/stream parity is by construction, not by
  * re-derivation) or keyed on the content hash (the dedup). The dedup's
  * "seen" set lives in the SAME staged-commit delta layout
  * IndexMaintainStream uses (`batch=<epoch>/{hashes,docs,bloom}` +
  * `_COMMIT` marker, atomic rename): each micro-batch dedups its
  * cleaned docs against the committed hash deltas, resolves
  * within-batch groups to the min doc_id (the batch pipeline's keeper
  * rule), and commits the epoch's new hashes, accepted docs, AND a
  * bloom sketch of the new hashes in ONE atomic delta. Re-delivery of
  * a committed epoch is a no-op (the commit marker short-circuits), a
  * crash mid-write leaves an invisible staging dir — exactly-once
  * without any Spark state store, which is also the 100 TB shape: the
  * seen-set is a parquet table that scales with distinct content,
  * partitions like any other table, and is shared by restarts instead
  * of rebuilt into executor state.
  *
  * == Per-epoch cost: O(batch), not O(state) ==
  *
  * The naive per-batch dedup — `batch LEFT ANTI JOIN all committed
  * hashes` — SHUFFLES the full seen-set every epoch (left-anti cannot
  * broadcast its left side), so per-epoch wall grows linearly with
  * committed state and total ingest cost is QUADRATIC in corpus size
  * (tools.StreamLadder measures exactly this). Instead, each delta
  * carries a bloom sidecar over its OWN new hashes (Spark's mergeable
  * BloomFilterAggregate, the dedup_bloom_incremental precedent), and
  * once committed state passes [[DefaultPregateMinKeys]] a micro-batch
  * runs IndexMaintainStream.committedKeys (the one seen-key probe,
  * shared with SubstrStream's gram index):
  *
  *   1. probe — a map-only pass flags batch rows whose hash ANY
  *      visible delta's bloom maybe-contains. Blooms have no false
  *      negatives, so unflagged rows are DEFINITELY new; in the
  *      steady-state firehose (mostly novel content) the flagged
  *      sliver is dup-rate + FPP of the batch.
  *   2. verify — only flagged hashes meet the state exactly: pushed as
  *      IN-literals into the hash-clustered compacted run when few
  *      (row-group min/max skip the rest of the scan — the
  *      SearchIndex literal-pushdown precedent), or a broadcast semi
  *      join (state scanned map-side, never shuffled) past the
  *      literal cap. Zero flagged rows skip the state read entirely.
  *   3. the confirmed-dup hash set (≤ flagged, tiny) broadcast
  *      anti-joins the batch — false positives are removed, so the
  *      output is EXACTLY the naive path's (`pregateMinKeys =
  *      Long.MaxValue` forces that path; PretrainStreamSpec proves
  *      equality).
  *
  * Deltas are immutable once committed, so each sidecar's
  * deserialized filter is cached EXECUTOR-side by path
  * (graft_bloom_probe → BloomFileCache): the plan carries only path
  * literals, the driver never touches filter bytes at probe time, and
  * a mature root's filter loads once per executor lifetime — the two
  * obvious alternatives both re-ship the filter every epoch and were
  * measured off the table (parse-time literal ~4 s/epoch at a 25 MB
  * filter; scalar subquery 6.5 s/epoch at 125 MB —
  * tools.PregateDiag, SURVEY §6.7, source at 0791305). Compaction
  * rebuilds ONE bloom over the folded hash set
  * (sized to its count, conf clamp caps raised — the
  * bloomIncrementalOn lesson) so the probe cost stays O(#deltas)
  * bounded by compaction cadence. Pre-bloom roots (deltas without the
  * sidecar) are handled conservatively: their hashes keep the exact
  * anti-join, so upgrading a standing root never loses a hash.
  *
  * == Dedup semantics across the stream ==
  *
  * First arrival wins across micro-batches (the only semantics a
  * stream can implement — dedupContentStream's contract) and min
  * doc_id wins inside one micro-batch (the batch keeper rule). An
  * ingest ordered by doc_id therefore reproduces the batch keeper set
  * EXACTLY; an unordered ingest differs only in which member of a
  * duplicate group survives. Held-out keepers still commit their
  * content hash: the batch pipeline drops the whole duplicate group
  * when its keeper lands in the holdout bucket, so later arrivals of
  * the same content must be suppressed, not adopted.
  *
  * Ref: the reference's ingest is batch-wise
  * (core/etl_service.py:210-246); this module is the stream-native
  * generalization of its dedup-on-load applied to the LLM-pipeline
  * gate chain. */
object PretrainStream {

  /** The schemas the epoch writers declare: every stream-state read
    * passes them instead of inferring one from the files (an inference
    * is a Spark job per read), and the docs writer selects exactly
    * `docsSchema`'s columns. Parquet reads every column back
    * nullable. */
  private val hashSchema =
    new StructType().add("norm_hash", StringType, nullable = true)
  private val docsSchema = new StructType()
    .add("doc_id", LongType, nullable = true)
    .add("lang", StringType, nullable = true)
    .add("n_words", LongType, nullable = true)
    .add("text", StringType, nullable = true)

  /** The LONG every seen-hash bloom sidecar is built over and probed by. */
  private val BloomKey = xxhash64(col("norm_hash"))

  /** State-aware pregate gate: below this many committed keys the
    * NAIVE full anti-join is the cheaper epoch — the probe+verify
    * constant costs (an extra batch pass, the positives collect, the
    * confirm scan) only pay for themselves once the state the naive
    * path would re-shuffle is large. 50M is the locally-measured
    * break-even neighborhood (tools.StreamLadder §6.7: the seen-set
    * crossover sits near 60M keys; the gram index's own crossover is
    * later — see SubstrStream.DefaultPregateMinKeys and its round-12
    * rungs), rounded down because on a real cluster the naive arm
    * also pays the WIRE for the full state shuffle every epoch, which
    * moves the crossover earlier — calibrate per deployment class by
    * running StreamLadder's A/B rungs on the target cluster and
    * passing the measured crossover to [[start]] (README,
    * "Calibrating the streaming pregate on a cluster").
    * `pregateMinKeys = 0` forces the pregate arm and `Long.MaxValue`
    * the naive arm; sidecars are WRITTEN from the first epoch on either
    * arm, so the root is pregate-ready the moment it crosses
    * (IndexMaintainStream.pregateActive documents the gate). */
  private[graft] val DefaultPregateMinKeys = 50000000L

  /** One micro-batch: gate, dedup against the committed seen-set,
    * holdout + decontaminate, commit the epoch delta atomically.
    * Returns false when the epoch was already committed (re-delivery).
    *
    * `contaminated` is the static frame of training doc ids flagged by
    * benchmark decontamination (dedup.Dedup.contamination) — passed in
    * pre-materialized so the per-epoch work is one small anti-join, not
    * a re-run of the contamination plan. */
  private[graft] def processBatch(delivered: DataFrame,
                                  contaminated: DataFrame,
                                  root: String,
                                  epoch: Long,
                                  pregateMinKeys: Long = DefaultPregateMinKeys)
      : Boolean = {
    val spark = delivered.sparkSession
    // the epoch's checkpointed frames (its keepers, and the pregate's
    // positives) are released once the epoch's writes have consumed
    // them (finally, so a failed epoch doesn't leak the blocks either)
    var pinned = List.empty[DataFrame]
    try IndexMaintainStream.commitBatch(spark, root, s"batch=$epoch") {
        staging =>
      val clean = TextOps.cleanDocs(delivered)
        .withColumn("norm_hash", md5(normText(col("text"))))
      // The probe runs over `delivered`'s RAW content hashes (one cheap
      // map pass), not over `clean`: gates only SHRINK the batch, so
      // every clean hash is among the raw ones (no false negatives),
      // and the probe job skips the gate chain's expressions.
      val (seen, pin) = IndexMaintainStream.committedKeys(spark, root,
        "hashes", hashSchema, "norm_hash",
        delivered.select(md5(normText(col("text"))).as("norm_hash")).distinct(),
        BloomKey, pregateMinKeys)
      pinned = pin.toList
      val firstSeen = clean.join(seen, Seq("norm_hash"), "left_anti")
      val byHash = Window.partitionBy(col("norm_hash")).orderBy(col("doc_id"))
      // Consumed three times (hashes, bloom sidecar, docs), so the
      // gate, dedup and window run ONCE: the keepers are pinned and
      // counted in one job, the writers read the blocks, and the count
      // sizes the sidecar. The pin is epoch-sized and freed below.
      val (keepers, nKeepers) = graft.CheckpointBlocks.pinCounted(
        firstSeen.withColumn("rk", row_number().over(byHash))
          .filter(col("rk") === 1)
          .select(col("norm_hash") +:
            docsSchema.fieldNames.toSeq.map(col): _*))
      pinned ::= keepers
      keepers.select(col("norm_hash"))
        .write.parquet(s"$staging/hashes")
      IndexMaintainStream.writeBloomSidecar(keepers, nKeepers,
        s"$staging/bloom", BloomKey)
      keepers
        .filter(TextOps.holdoutCoin(col("doc_id")) =!= 15)
        .join(contaminated, col("doc_id") === col("train_doc_id"),
          "left_anti")
        .select(docsSchema.fieldNames.toSeq.map(col): _*)
        .write.parquet(s"$staging/docs")
    } finally pinned.foreach(graft.CheckpointBlocks.free)
  }

  /** Start the firehose: `docs` is a streaming frame with at least
    * (doc_id: long, lang, text). The accepted corpus and the seen-hash
    * set accumulate under `root`. */
  def start(docs: DataFrame, contaminated: DataFrame, root: String,
            pregateMinKeys: Long = DefaultPregateMinKeys): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processBatch(batch, contaminated, root, epoch, pregateMinKeys); ()
      }
      .start()

  /** The accepted corpus accumulated so far. */
  def acceptedDocs(spark: SparkSession, root: String): DataFrame =
    IndexMaintainStream.readTable(spark, root, "docs", docsSchema)

  /** Fold accumulated per-epoch deltas into one compacted run —
    * thousands of micro-batches otherwise mean thousands of small
    * files — and REBUILD the bloom sidecar over the folded hash set
    * (per-epoch blooms have differing geometries, so they fold by
    * re-aggregation, not bit-OR). Hashes are written clustered by
    * norm_hash so the verify stage's IN-literal pushdown prunes row
    * groups. Same crash-safe protocol as the index roots: the
    * `cbatch=<covers>` run commits atomically before covered deltas
    * drop, so a reader (including the NEXT micro-batch's probe) never
    * double-sees or misses a hash, and dedup state survives compaction
    * unchanged. */
  def compact(spark: SparkSession, root: String): Unit = {
    IndexMaintainStream.commitCompactedWith(spark, root) { stg =>
      graft.sinks.LakeSink.writeClustered(
        IndexMaintainStream.readTable(spark, root, "hashes", hashSchema),
        s"$stg/hashes",
        // sized by input bytes — a hardcoded 1 was a single-task sort
        // of the whole seen-set (see compactedFileCount's scaladoc)
        IndexMaintainStream.compactedFileCount(spark, root, "hashes"),
        col("norm_hash"))
      acceptedDocs(spark, root).write.parquet(s"$stg/docs")
      val folded = spark.read.schema(hashSchema).parquet(s"$stg/hashes")
      IndexMaintainStream.writeBloomSidecar(folded, folded.count(),
        s"$stg/bloom", BloomKey)
    }
    IndexMaintainStream.dropCovered(spark, root)
  }

  /** [[compact]] under the deltas-count policy
    * (IndexMaintainStream.compactIfNeeded's rationale): fold when more
    * than `maxDeltas` plain deltas have accumulated. Returns true when
    * a compaction ran. */
  def compactIfNeeded(spark: SparkSession, root: String,
                      maxDeltas: Int = 64): Boolean = {
    if (IndexMaintainStream.plainDeltaCount(spark, root) <= maxDeltas) false
    else { compact(spark, root); true }
  }

  /** Per-language accounting over the accepted corpus — the streaming
    * counterpart of pretrainPipeline's output (PretrainStreamSpec
    * proves exact equality on an ordered ingest, and pins the
    * unordered contract — first-arrival keeper, held-out keeper
    * suppression, one-doc-per-hash — against an independent replay of
    * a shuffled ingest). */
  def accounting(spark: SparkSession, root: String): DataFrame =
    TextOps.pretrainAccounting(acceptedDocs(spark, root))
}
