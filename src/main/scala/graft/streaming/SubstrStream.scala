package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.dedup.SubstrDedup
import graft.functions.Wire

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
  * any join — IndexMaintainStream.committedKeys, the one seen-key
  * probe PretrainStream's seen-set also runs (tools.StreamLadder
  * measures both). */
object SubstrStream {

  /** The persisted gram index's schema on `wire`: the gram STRING
    * (`kg` — bit-exact, zero collision caveat) or its xxhash64 (`kh` —
    * 8 bytes per distinct gram instead of a ~K-token string, so the
    * standing index and every probe's semi-join shrink by the
    * §6.4-measured wire factor). A root is one wire for its whole life
    * — it picks the gram table's schema and the compaction cluster
    * key. The AUTHORITATIVE wire is the committed gram table's own
    * schema ([[committedWire]]); the caller's `wire` only decides a
    * root's FIRST batch, so a misconfigured restart cannot flip an
    * established root. */
  private def gramSchema(wire: Wire) =
    new StructType().add(SubstrDedup.gramKey(wire), wire.dataType,
      nullable = true)

  /** The LONG every gram bloom sidecar is built over and probed by. */
  private def bloomKey(wire: Wire) =
    wire.bloomKey(col(SubstrDedup.gramKey(wire)))

  /** The spans table's schema as [[processBatch]] writes it (parquet
    * reads every column back nullable), so span reads run no inference
    * job. */
  private[graft] val SpansSchema = StructType.fromDDL(
    "doc_id BIGINT, span_start BIGINT, span_end BIGINT, span_len BIGINT, epoch BIGINT")

  /** The root's established wire, read from the committed gram table's
    * schema — None when nothing is committed yet (the only moment the
    * caller's `wire` decides). */
  private def committedWire(spark: SparkSession, root: String): Option[Wire] =
    IndexMaintainStream.committedSchema(spark, root, "grams")
      .map(grams => Wire.of(grams.head.dataType))

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
    * cluster"). `pregateMinKeys = 0` forces the pregate arm and
    * `Long.MaxValue` the naive arm; every epoch writes its sidecar on
    * either arm. */
  private[graft] val DefaultPregateMinKeys = 100000000L

  /** One micro-batch: probe against the committed gram set (bloom
    * pregated past [[DefaultPregateMinKeys]] — see
    * IndexMaintainStream.committedKeys), then commit this epoch's
    * spans, its distinct grams, AND a bloom sidecar over those grams in
    * ONE atomic delta. Returns false on re-delivery of a committed
    * epoch. */
  private[graft] def processBatch(delivered: DataFrame, root: String,
                                  epoch: Long,
                                  wire: Wire = Wire.Text,
                                  pregateMinKeys: Long =
                                    DefaultPregateMinKeys)
      : Boolean = {
    val spark = delivered.sparkSession
    // established roots keep their committed wire regardless of the
    // caller's — see gramSchema's scaladoc
    val form = committedWire(spark, root).getOrElse(wire)
    // the pregate's eagerly-checkpointed positives frame is released
    // once the epoch's writes have consumed it (finally, so a failed
    // epoch doesn't leak the blocks either)
    var pinned: Option[DataFrame] = None
    try IndexMaintainStream.commitBatch(spark, root, s"batch=$epoch") {
        staging =>
      val grams = SubstrDedup.gramsOf(delivered, SubstrDedup.MinRun, form)
      val (prior, pin) = IndexMaintainStream.committedKeys(spark, root,
        "grams", gramSchema(form), SubstrDedup.gramKey(form), grams,
        bloomKey(form), pregateMinKeys)
      pinned = pin
      SubstrDedup.probeSpans(delivered, prior, SubstrDedup.MinRun, form)
        .withColumn("epoch", lit(epoch)).write.parquet(s"$staging/spans")
      grams.write.parquet(s"$staging/grams")
      val written = spark.read.schema(gramSchema(form))
        .parquet(s"$staging/grams")
      IndexMaintainStream.writeBloomSidecar(written, written.count(),
        s"$staging/bloom", bloomKey(form))
    } finally pinned.foreach(graft.CheckpointBlocks.free)
  }

  /** Start the firehose: `docs` is a streaming frame with at least
    * (doc_id, text). */
  def start(docs: DataFrame, root: String,
            wire: Wire = Wire.Text,
            pregateMinKeys: Long = DefaultPregateMinKeys): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processBatch(batch, root, epoch, wire, pregateMinKeys); ()
      }
      .start()

  /** [[compact]] under the deltas-count policy
    * (IndexMaintainStream.compactIfNeeded's rationale): fold when more
    * than `maxDeltas` plain deltas have accumulated. Returns true when
    * a compaction ran. */
  def compactIfNeeded(spark: SparkSession, root: String,
                      maxDeltas: Int = 64): Boolean = {
    if (IndexMaintainStream.plainDeltaCount(spark, root) <= maxDeltas) false
    else { compact(spark, root); true }
  }

  /** Every duplicated span flagged so far (doc_id, span_start,
    * span_end, span_len, epoch). */
  def spansSoFar(spark: SparkSession, root: String): DataFrame =
    IndexMaintainStream.readTable(spark, root, "spans", SpansSchema)

  /** Fold per-epoch deltas into one compacted run (grams clustered on
    * the gram key — restores min/max file-skipping AND makes the
    * pregate's IN-literal pushdown prune row groups — and deduped,
    * since the probe's semi-join never needed the cross-delta
    * duplicates), then REBUILD one bloom sidecar over the folded gram
    * set (per-epoch blooms have differing geometries, so they fold by
    * re-aggregation; this is also how a pre-bloom root self-heals into
    * the pregated steady state). The fold clusters on the root's
    * committed gram key ([[committedWire]]); an empty root is a no-op. */
  def compact(spark: SparkSession, root: String): Unit = {
    IndexMaintainStream.commitCompactedWith(spark, root) { staging =>
      val wire = committedWire(spark, root).get
      graft.sinks.LakeSink.writeClustered(
        IndexMaintainStream.readTable(spark, root, "grams", gramSchema(wire))
          .distinct(),
        s"$staging/grams",
        // sized by input bytes — a hardcoded 1 was a single-task sort
        // of the whole gram set (see compactedFileCount's scaladoc)
        IndexMaintainStream.compactedFileCount(spark, root, "grams"),
        col(SubstrDedup.gramKey(wire)))
      IndexMaintainStream.readTable(spark, root, "spans", SpansSchema)
        .write.parquet(s"$staging/spans")
      val grams = spark.read.schema(gramSchema(wire))
        .parquet(s"$staging/grams")
      IndexMaintainStream.writeBloomSidecar(grams, grams.count(),
        s"$staging/bloom", bloomKey(wire))
    }
    IndexMaintainStream.dropCovered(spark, root)
  }
}
