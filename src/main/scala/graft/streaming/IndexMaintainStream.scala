package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim.{toColumn, toExpr}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.functions.Wire
import graft.functions.expressions.BloomFileMightContain
import graft.operators.{Search, SearchIndex}
import graft.similarity.{AnnIndex, Knn}

/** Streaming maintenance for the persisted retrieval indexes — the
  * daily-increment story made continuous: the BM25 postings index
  * (operators.SearchIndex) and the IVF-PQ codes table
  * (similarity.AnnIndex) are kept up to date ON the stream, so a serve
  * never waits for an offline rebuild. The reference ingests increments
  * batch-wise (/root/reference/core/etl_service.py); this is the
  * stream-native generalization of its load step applied to the index
  * tables instead of the base tables.
  *
  * == Layout & commit protocol ==
  *
  * The index root holds one immutable DELTA DIRECTORY per micro-batch:
  *
  * {{{
  *   root/batch=<epochId>/{postings,doclen,stats}/   (BM25 root)
  *   root/batch=<epochId>/codes/                     (ANN root)
  *   root/cbatch=<coversId>/...                      (compacted runs)
  * }}}
  *
  * Each delta is written to a dot-staging dir, a `_COMMIT` marker is
  * created INSIDE staging, and ONE atomic rename publishes it — readers
  * (`readTable`) list only dirs carrying the marker, so a torn write is
  * invisible and a crash leaves nothing a reader can observe.
  * Exactly-once lands on foreachBatch's replay contract: a failed
  * micro-batch is RE-DELIVERED WITH THE SAME epoch id, and
  * `commitBatch` is a no-op when `batch=<id>` is already committed —
  * re-delivery repairs a partial staging dir and never double-appends.
  *
  * == Why append-only deltas, not merge-per-batch ==
  *
  * Both indexes are per-record-local, so append ≡ rebuild is an exact
  * identity: postings(A ∪ B) = postings(A) ∪ postings(B) (SearchIndex
  * scaladoc), BM25's global stats are additive (kept as one row PER
  * DELTA and summed at serve), and IVF-PQ `add()` encodes against the
  * frozen model (AnnIndex.ivfPqAdd) so streamed codes equal a full
  * re-encode. A per-batch merge-rewrite (UpsertSink.mergeBatch) would
  * cost O(corpus) per micro-batch; the delta commit costs O(|batch|)
  * regardless of corpus size — the only shape that survives at 100 TB.
  * Documents are treated as immutable (the corpus reality for a
  * training pipeline); an in-place doc UPDATE needs the upsert sink's
  * merge, not this one.
  *
  * == Compaction ==
  *
  * Thousands of micro-batches mean thousands of small files; `compact`
  * folds every committed delta into one clustered run published as
  * `cbatch=<maxCoveredId>` under the SAME commit protocol, then drops
  * the covered deltas. Readers take the newest compacted run plus only
  * the plain deltas ABOVE its covered id — so a crash between the
  * compacted commit and the drops double-counts nothing, and the
  * clustered rewrite restores parquet min/max file-skipping
  * (term-range for postings, cell-range for codes) that per-batch
  * deltas dilute.
  *
  * IndexMaintainStreamSpec proves: served top-k ≡ a cold batch rebuild
  * byte-identically after N micro-batches, re-delivery is a no-op,
  * torn staging is invisible, and compaction (with and without the
  * covered-delta drop completing) changes nothing. */
object IndexMaintainStream {

  private val Commit = "_COMMIT"
  private val Begin = "_BEGIN"

  private def fsFor(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Publish one delta dir under the staged-commit protocol. `write` is
    * handed the staging path and writes the delta's table subdirs into
    * it. Returns false (and writes nothing) when `dirName` is already
    * committed — the re-delivery no-op.
    *
    * A `_BEGIN` token is written at staging creation and re-checked
    * just before the `_COMMIT` marker: if a concurrent [[dropCovered]]
    * age-sweep (or anything else) removed the staging dir mid-write,
    * whatever `write` recreated afterwards is a torn delta — the check
    * fails the batch BEFORE the marker exists, so foreachBatch
    * re-delivers the epoch cleanly instead of publishing a torn delta
    * carrying the commit marker. */
  private[graft] def commitBatch(spark: SparkSession, root: String,
                                 dirName: String)
                                (write: String => Unit): Boolean = {
    val dst = new Path(root, dirName)
    val fs = fsFor(spark, dst)
    if (fs.exists(new Path(dst, Commit))) return false
    val staging = new Path(root, s".staging_$dirName")
    fs.delete(staging, true) // partial prior attempt
    fs.delete(dst, true)     // published-but-unmarked cannot exist; clear anyway
    fs.mkdirs(staging)
    fs.create(new Path(staging, Begin)).close()
    write(staging.toString)
    if (!fs.exists(new Path(staging, Begin)))
      throw new java.io.IOException(
        s"commitBatch: staging $staging was removed mid-write " +
          "(concurrent cleanup?); failing the batch for clean re-delivery")
    fs.create(new Path(staging, Commit)).close()
    if (!fs.rename(staging, dst))
      throw new java.io.IOException(
        s"commitBatch: rename($staging -> $dst) failed")
    true
  }

  /** Committed deltas: (newest compacted run if any, plain deltas above
    * its covered id). The listing is driver-side metadata over batch
    * dirs — O(#deltas), never data. */
  private def committed(spark: SparkSession, root: String)
      : (Option[(Path, Long)], Seq[(Path, Long)]) = {
    val rootPath = new Path(root)
    val fs = fsFor(spark, rootPath)
    if (!fs.exists(rootPath)) return (None, Nil)
    val dirs = fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory &&
        fs.exists(new Path(s.getPath, Commit)))
    def idOf(prefix: String) = dirs.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith(prefix))
        // toLongOption: a malformed or foreign dir name is skipped, not
        // a listing-wide NumberFormatException
        n.stripPrefix(prefix).toLongOption.map((s.getPath, _))
      else None
    }
    val best = idOf("cbatch=").sortBy(_._2).lastOption
    val covers = best.map(_._2).getOrElse(-1L)
    (best, idOf("batch=").filter(_._2 > covers).sortBy(_._2))
  }

  /** Union read of `table` across every visible delta, its schema
    * inferred from the files (one Spark job per read). */
  def readTable(spark: SparkSession, root: String, table: String): DataFrame =
    spark.read.parquet(tablePaths(spark, root, table): _*)

  /** Union read of `table` under the `schema` its writer declares — no
    * inference job. Readers that must learn the schema from the files
    * (a root's wire, e.g. [[bm25Serve]]) use the inferring overload. */
  def readTable(spark: SparkSession, root: String, table: String,
                schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(tablePaths(spark, root, table): _*)

  /** `table`'s committed schema, inferred from the files — how a root's
    * wire is learned (its key column's type, Wire.of); None before the
    * first commit. */
  private[graft] def committedSchema(spark: SparkSession, root: String,
                                     table: String): Option[StructType] =
    try Some(readTable(spark, root, table).schema)
    catch { case _: IllegalArgumentException => None }

  private def tablePaths(spark: SparkSession, root: String,
                         table: String): Seq[String] = {
    val (best, plain) = committed(spark, root)
    val paths = (best.toSeq ++ plain).map(p => s"${p._1}/$table")
    require(paths.nonEmpty, s"no committed deltas under $root")
    paths
  }

  /** Visible delta dirs (newest compacted run first, then plain deltas
    * above its watermark) — for the per-delta sidecars ([[committedKeys]],
    * [[estimatedCommittedKeys]]) and per-delta sizes, which need the
    * delta paths, not just the union read. Same driver-side metadata
    * listing as [[readTable]]. */
  private def visibleDeltas(spark: SparkSession,
                            root: String): Seq[Path] = {
    val (best, plain) = committed(spark, root)
    (best.toSeq ++ plain).map(_._1)
  }

  // ---------------------------------------------------------------- BM25

  /** One BM25 delta: tokenize ONLY the batch into its postings on the
    * root's wire (Search.postings), publish them term-clustered
    * (file-skipping parity with the offline build), doc lengths, and
    * the delta's additive 1-row stats. doclen/stats derive from the
    * STAGED postings read back under their declared schemas, so the
    * batch tokenizes once. `wire` decides only an empty root's first
    * batch: an established root keeps its committed postings `term`
    * type (string or long), so a misconfigured restart cannot flip it.
    * Per-doc lengths and the additive stats are term-agnostic, so the
    * delta algebra is the same on either wire. */
  def mergeDocBatch(spark: SparkSession, root: String, docs: DataFrame,
                    batchId: Long, wire: Wire = Wire.Text): Boolean = {
    val form = committedSchema(spark, root, "postings")
      .fold(wire)(post => Wire.of(post("term").dataType))
    commitBatch(spark, root, s"batch=$batchId") { stg =>
      graft.sinks.LakeSink.writeClustered(Search.postings(docs, form),
        s"$stg/postings", 1, col("term"))
      spark.read.schema(SearchIndex.postingsSchema(form))
        .parquet(s"$stg/postings")
        .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        .write.parquet(s"$stg/doclen")
      spark.read.schema(SearchIndex.DoclenSchema).parquet(s"$stg/doclen")
        .agg(count(lit(1)).cast("double").as("n_docs"),
             sum(col("dl")).cast("double").as("sum_dl"))
        .coalesce(1).write.parquet(s"$stg/stats")
    }
  }

  /** Attach BM25 maintenance to a document stream (doc_id, text). */
  def startDocStream(stream: DataFrame, root: String,
                     wire: Wire = Wire.Text): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) =>
        mergeDocBatch(b.sparkSession, root, b, id, wire); ()
      }
      .start()

  /** BM25 top-k served from the stream-maintained index: term-pruned
    * union scan of the postings deltas + summed additive stats —
    * the same expression tree as rag_bm25, so scores are
    * byte-identical to a cold rebuild over the same documents. The
    * postings read infers its schema, and the `term` type it finds is
    * the root's wire; doclen and stats are read under their declared
    * schemas. */
  def bm25Serve(spark: SparkSession, root: String, k: Int = 10): DataFrame = {
    val post = readTable(spark, root, "postings")
    val stats = readTable(spark, root, "stats", SearchIndex.StatsSchema)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    SearchIndex.bm25Served(spark, post,
      readTable(spark, root, "doclen", SearchIndex.DoclenSchema), stats, k,
      Wire.of(post.schema("term").dataType))
      .orderBy(col("query_id"), col("rank"))
  }

  // ----------------------------------------------------------------- ANN

  /** One ANN delta: encode the vector batch against the FROZEN model
    * (AnnIndex.ivfPqAdd — the Faiss add() path) and publish the codes
    * cell-clustered. Model staleness is the drift monitor's concern
    * (AnnIndex.driftMonitor / retrainIfDrifted), not the stream's. */
  def mergeVecBatch(spark: SparkSession, root: String, vecs: DataFrame,
                    cbooks: IndexedSeq[IndexedSeq[Array[Double]]],
                    coarse: IndexedSeq[Array[Double]],
                    batchId: Long): Boolean =
    commitBatch(spark, root, s"batch=$batchId") { stg =>
      graft.sinks.LakeSink.writeClustered(
        AnnIndex.ivfPqAdd(vecs, cbooks, coarse), s"$stg/codes", 1,
        col("cluster"))
    }

  /** Attach ANN-codes maintenance to a vector stream (vec_id, embedding). */
  def startVecStream(stream: DataFrame, root: String,
                     cbooks: IndexedSeq[IndexedSeq[Array[Double]]],
                     coarse: IndexedSeq[Array[Double]]): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) =>
        mergeVecBatch(b.sparkSession, root, b, cbooks, coarse, id); ()
      }
      .start()

  /** IVF-PQ top-k served from the stream-maintained codes (probed-cell
    * literal pushdown as the offline index — Knn.ivfPqServe). `e` is
    * the embeddings frame carrying the standing queries. */
  def annServe(spark: SparkSession, root: String, e: DataFrame, k: Int,
               nprobe: Int, cbooks: IndexedSeq[IndexedSeq[Array[Double]]],
               coarse: IndexedSeq[Array[Double]]): DataFrame =
    Knn.ivfPqServe(e, k, nprobe, cbooks, coarse,
      readTable(spark, root, "codes"))

  // ------------------------------------------------------- bloom sidecars

  /** Bloom sizing floor (the dedup_bloom_incremental convention: ~10
    * bits/item ≈ 1% FPP, floored so tiny deltas don't build a
    * saturating sketch). */
  private val BloomFloorItems = 1000L

  /** Bits/key for STATE-sized sidecars (a compacted run's rebuild, a
    * seed): ~0.8% FPP — the classic 1%-class sizing, where filter
    * bytes are proportional to the full state and actually matter. */
  private val StateBitsPerKey = 10L

  /** Bits/key for BATCH-sized sidecars (the per-epoch deltas):
    * ~0.007% FPP. Why so much tighter: [[bloomProbe]] ORs across every
    * visible sidecar, so the aggregate false-positive rate is ADDITIVE
    * in delta count — and the deltas-count compaction policy lets up
    * to 64 plain deltas accumulate before folding. At 10 bits/key
    * (0.8% each) that sum reaches ~50% of the batch by the policy
    * bound, silently degrading the pregate verify from a literal
    * sliver into chunked-scan plan bloat and, past InPushdownCap, a
    * FULL-STATE broadcast-semi join every epoch (the round-13
    * 150M-key organic-policy rung measured exactly this: a flat
    * ~10 s/epoch floor through ~17 deltas, 17–22 s as the verify
    * chunk count grew, then 43–76 s/epoch once accumulated FPs
    * crossed the cap at ~25 deltas — §6.9). At 20 bits/key the same
    * 64 deltas contribute ~0.4% aggregate, and the bytes are free at
    * batch scale (50k keys: 125 KB vs 62 KB). State-sized filters
    * keep [[StateBitsPerKey]]; each fold resets the sum to the one
    * rebuilt filter's ~0.8%. */
  private val TightBitsPerKey = 20L

  /** Per-shard serialized-bits bound: 40 Mbit ≈ 5 MB, sitting UNDER
    * BloomFilterAggregate's silent 64 Mbit conf clamp at either
    * density (see [[BloomShardItems]] for the clamp trap). */
  private val MaxShardBits = 40000000L

  /** One sidecar shard holds at most this many keys (→ ≤40 Mbit ≈ 5 MB
    * serialized at 10 bits/key) — chosen to sit UNDER BloomFilter-
    * Aggregate's silent conf-clamp defaults (4M items / 64 Mbit), so
    * the build never depends on a raised session conf reaching the
    * task. That dependency is a real trap: the sharded build streams
    * its result through toLocalIterator, whose incremental jobs do NOT
    * propagate session SQLConf to tasks — a raised cap reads back as
    * the DEFAULT task-side and the filter silently clamps to 64 Mbit
    * (the 300M-seed rung shipped 1e8-key shards in 64 Mbit = FPP ~1,
    * turning the pregate into a full-state semi join every epoch;
    * tools.BloomClampProbe pinned the propagation difference — SURVEY
    * §6.7, source at 0791305). Small shards also bound the build's
    * per-group buffers and each executor-cache load at any state size. */
  private val BloomShardItems = 4000000L

  /** Build + write a SHARDED bloom sidecar over the rows of `src`,
    * keyed by `key` (must evaluate to a LONG — pass xxhash64(stringCol)
    * for string keys). `rowCount` is `src`'s row count as the caller
    * already knows it (PretrainStream counts in the job that pins its
    * keepers; a caller holding only a written path passes
    * `spark.read.schema(…).parquet(path)` and its count), so sizing
    * runs no job of its own.
    * The sidecar is a DIRECTORY of `shard-<i>` files, each the
    * serialized filter (BloomFilterAggregate's byte format) over the
    * keys with floorMod(key, S) == i, S = ceil(est /
    * [[BloomShardItems]]): a MONOLITHIC filter's map-side partials OOM
    * near 10⁹ keys · 10 bits (every partition allocates the full
    * bits-sized buffer — the 300M-seed StreamLadder rung died exactly
    * there), while shards keep every buffer ≤5 MB AND under the
    * aggregate's silent conf-clamp defaults (see [[BloomShardItems]]
    * for the toLocalIterator conf-propagation trap that makes raising
    * the caps unreliable here); shard rows are repartitioned by shard
    * id first so a partition only materializes its own shards'
    * buffers, and the driver streams the result files out one at a
    * time (toLocalIterator). Key-less shards still write a zero-length
    * file, so shard count = file count and the dir is self-describing
    * for [[bloomProbe]].
    *
    * The probe side (BloomFileMightContain) loads each shard executor-side
    * by path, once per executor lifetime — per-epoch probe cost is
    * O(plan-literal path bytes), not O(filter bytes) (the collected-
    * literal and scalar-subquery alternatives both re-ship the filter
    * every epoch — measured 4–6.5 s/epoch at 25–125 MB filters,
    * tools.PregateDiag, SURVEY §6.7, source at 0791305). Per-epoch
    * sidecars are batch-sized (S = 1); a compaction's state-sized
    * rebuild is amortized over its cadence. Density is size-dependent —
    * [[TightBitsPerKey]] for batch-sized filters, [[StateBitsPerKey]] for
    * state-sized — recorded in a `_bpk-<n>` marker file per sidecar dir. */
  private[graft] def writeBloomSidecar(src: DataFrame, rowCount: Long,
                                       bloomPath: String,
                                       key: org.apache.spark.sql.Column)
      : Unit = {
    val spark = src.sparkSession
    val est = math.max(rowCount, BloomFloorItems)
    // Batch-sized sidecars get the TIGHT density (aggregate probe FPP
    // is additive across accumulated deltas — see TightBitsPerKey);
    // state-sized ones keep the classic sizing, where bytes matter.
    val bitsPerKey =
      if (est <= BloomShardItems) TightBitsPerKey else StateBitsPerKey
    val shards = math.max(1L,
      math.ceil(est.toDouble * bitsPerKey / MaxShardBits).toLong).toInt
    val shardEst = math.min(
      math.max(est / shards + 1, BloomFloorItems), MaxShardBits / bitsPerKey)
    val shardBits = shardEst * bitsPerKey
    val p = new Path(bloomPath)
    val fs = fsFor(spark, p)
    fs.mkdirs(p)
    // Self-describing density marker so estimatedCommittedKeys divides
    // serialized bytes by the RIGHT bits/key (legacy dirs without one
    // read as StateBitsPerKey). Zero-length; bloomProbe's shard count
    // and BloomFileProbe's loads only look at shard-* names.
    fs.create(new Path(p, s"_bpk-$bitsPerKey"), true).close()
    val keyed = src.select(key.as("k"))
      .withColumn("shard", pmod(col("k"), lit(shards.toLong)).cast("int"))
    val rows = (if (shards == 1) keyed
                else keyed.repartition(shards, col("shard")))
      .groupBy(col("shard"))
      .agg(toColumn(new BloomFilterAggregate(toExpr(col("k")),
        toExpr(lit(shardEst)), toExpr(lit(shardBits)))).as("filter"))
      .toLocalIterator()
    val seen = scala.collection.mutable.Set.empty[Int]
    rows.forEachRemaining { r =>
      seen += r.getInt(0)
      val out = fs.create(new Path(p, s"shard-${r.getInt(0)}"), true)
      try { if (!r.isNullAt(1)) out.write(r.getAs[Array[Byte]](1)) }
      finally out.close()
    }
    (0 until shards).filterNot(seen).foreach { i =>
      fs.create(new Path(p, s"shard-$i"), true).close()
    }
  }

  /** Whether `deltaPath` carries a bloom sidecar dir at all (an
    * all-empty sidecar — an empty delta — still counts: it covers its
    * zero keys). */
  private def hasBloomSidecar(spark: SparkSession,
                              deltaPath: Path): Boolean =
    fsFor(spark, deltaPath).exists(new Path(deltaPath, "bloom"))

  /** Estimated COMMITTED key count under `root`, read from the bloom
    * sidecars' serialized bytes: each sidecar's `_bpk-<n>` marker
    * records its bits/key density, so keys ≈ shardBytes · 8 / n
    * (markerless legacy dirs read as [[StateBitsPerKey]]). A pure
    * driver-side metadata listing — O(#deltas · #shards) file
    * statuses, zero data read, additive across deltas — which is what
    * makes it cheap enough to consult EVERY micro-batch (the
    * state-aware gate, [[pregateActive]]). Deltas
    * without a sidecar contribute 0 (conservative: the probe handles
    * them through the exact legacy path anyway); the per-delta
    * 1000-key sizing floor overestimates tiny deltas by ≤2.5 KB each —
    * noise against a crossover threshold in the tens of millions. */
  private[graft] def estimatedCommittedKeys(spark: SparkSession,
                                            root: String): Long =
    visibleDeltas(spark, root).map { d =>
      val bloom = new Path(d, "bloom")
      val fs = fsFor(spark, bloom)
      if (!fs.exists(bloom)) 0L
      else {
        val statuses = fs.listStatus(bloom)
        val bpk = statuses.map(_.getPath.getName)
          .collectFirst { case n if n.startsWith("_bpk-") =>
            n.stripPrefix("_bpk-").toLong }
          .getOrElse(StateBitsPerKey)
        statuses.filter(_.getPath.getName.startsWith("shard-"))
          .map(_.getLen).sum * 8L / bpk
      }
    }.sum

  /** OR-of-probes predicate over a set of sharded bloom sidecar dirs —
    * BloomFileMightContain per sidecar, executor-cached by shard path
    * (see BloomFileCache for why neither a literal nor a scalar
    * subquery survives at mature filter sizes). Shard counts come from
    * a driver-side metadata listing (sidecars are immutable). `key`
    * must evaluate to the LONG the sidecars were built over. None when
    * `sidecars` is empty. */
  private[graft] def bloomProbe(spark: SparkSession,
                                sidecars: Seq[String],
                                key: org.apache.spark.sql.Column)
      : Option[org.apache.spark.sql.Column] =
    sidecars.map { d =>
      val p = new Path(d)
      val shards = fsFor(spark, p).listStatus(p)
        .count(_.getPath.getName.startsWith("shard-"))
      toColumn(BloomFileMightContain(toExpr(lit(d)),
        toExpr(lit(math.max(shards, 1))), toExpr(key)))
    }.reduceOption(_ || _)

  /** Literal-IN scan of `df` on `colName`, CHUNKED so no single pushed
    * IN predicate exceeds GraftSession.InScanChunk literals: Spark
    * translates a pushed IN into a left-nested recursive Or tree whose
    * depth is the literal count, and past ~2k literals parquet's
    * per-row-group evaluation overflows the task stack (the round-13
    * 1B-key rung's failure — see GraftSession.InScanChunk). Each chunk
    * is its own scan with its own shallow pushed filter, pruning row
    * groups exactly as the single big IN would; chunks are disjoint,
    * so the union is duplicate-free. ≤ cap/chunk ≈ 20 legs at the
    * streams' verify cap — metadata-cheap next to reading one group. */
  private[graft] def literalInScan(df: DataFrame, colName: String,
                                   values: Seq[Any]): DataFrame =
    values.grouped(graft.GraftSession.InScanChunk)
      .map(vs => df.filter(col(colName).isin(vs: _*)))
      .reduce(_ union _)

  // ------------------------------------------------- committed-key probe

  /** Verified keys pushed as IN-literals into the clustered state scan
    * up to this many; past it the verify falls back to a broadcast semi
    * join (still scan-only on the state side). The literal route is
    * CHUNKED ([[literalInScan]]), so this cap bounds total literal
    * count / union fan-out, never the depth of a single pushed
    * predicate. var only so specs can lower it to exercise the
    * fallback branch with test-sized batches. */
  private[graft] var InPushdownCap = 10000

  /** Whether an epoch runs [[committedKeys]]' bloom-pregated arm:
    * committed state, estimated from the sidecars' bytes
    * ([[estimatedCommittedKeys]]), has reached `minKeys` — below it the
    * naive arm is the cheaper epoch (each stream's
    * DefaultPregateMinKeys documents its measured crossover). State
    * only grows, so the gate flips once per root's life. `minKeys = 0`
    * forces the pregate arm and `Long.MaxValue` the naive arm (the A/B
    * harnesses' two settings). */
  private[graft] def pregateActive(spark: SparkSession, root: String,
                                   minKeys: Long): Boolean =
    minKeys <= 0L || estimatedCommittedKeys(spark, root) >= minKeys

  /** The committed keys of `table` (one `key` column under its writer's
    * declared `schema`) that `batchKeys` can match: the right side of a
    * stream's dedup anti-join (PretrainStream) or probe semi join
    * (SubstrStream). Below `minKeys` committed keys ([[pregateActive]])
    * it is the whole committed table — the naive target, which the join
    * re-shuffles every epoch, O(state) per batch. Past it the target
    * shrinks to the CONFIRMED batch-relevant sliver:
    *
    *   1. probe — the `batchKeys` rows (distinct keys) that any visible
    *      delta's bloom sidecar maybe-contains, `bloomKey` being the
    *      LONG the sidecars were built over. Blooms have no false
    *      negatives, so an unflagged key is DEFINITELY new. The
    *      positives are materialized ONCE (eager local checkpoint): the
    *      limit-collect and — past the cap — the broadcast semi branch
    *      read the same blocks instead of re-running the probe pass.
    *   2. verify — the positives meet the bloomed deltas' state exactly:
    *      chunked IN-literals into the key-clustered compacted run up to
    *      [[InPushdownCap]] (row-group min/max skip the rest), a
    *      broadcast semi join past it — either way the state is
    *      scanned, never shuffled. Zero positives skip the state read.
    *   3. legacy — deltas without a sidecar (pre-bloom roots) contribute
    *      their keys verbatim: exact, slower, healed by the next
    *      compaction's rebuilt sidecar.
    *
    * Either arm's target holds every committed key in `batchKeys` and
    * nothing outside the committed set, so a join against it is
    * row-identical to the naive arm's (false positives are verified
    * away). The second slot is the pinned positives frame: the caller
    * frees it (graft.CheckpointBlocks.free) once the epoch's writes
    * have consumed it — Dataset.unpersist never frees checkpoint
    * blocks. `batchKeys` is by-name: the naive arm builds no frame it
    * does not join. */
  private[graft] def committedKeys(spark: SparkSession, root: String,
                                   table: String, schema: StructType,
                                   key: String, batchKeys: => DataFrame,
                                   bloomKey: org.apache.spark.sql.Column,
                                   minKeys: Long)
      : (DataFrame, Option[DataFrame]) = {
    def none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    if (!pregateActive(spark, root, minKeys))
      return (try readTable(spark, root, table, schema)
              catch { case _: IllegalArgumentException => none }, None)
    val (bloomed, legacy) =
      visibleDeltas(spark, root).partition(hasBloomSidecar(spark, _))
    def keysOf(deltas: Seq[Path]) =
      spark.read.schema(schema).parquet(deltas.map(d => s"$d/$table"): _*)
    val positives = bloomProbe(spark, bloomed.map(d => s"$d/bloom"), bloomKey)
      .map(maybeSeen => batchKeys.filter(maybeSeen).localCheckpoint(true))
    val confirmed = positives.flatMap { pos =>
      val pk = pos.limit(InPushdownCap + 1).collect().map(_.get(0)).toSeq
      if (pk.isEmpty) None
      else Some(
        (if (pk.length <= InPushdownCap) literalInScan(keysOf(bloomed), key, pk)
         else keysOf(bloomed).join(broadcast(pos), Seq(key), "left_semi"))
          .select(col(key)).distinct())
    }
    val target = (confirmed, legacy.nonEmpty) match {
      case (None, false)    => none
      case (Some(c), false) => broadcast(c)
      case (None, true)     => keysOf(legacy)
      case (Some(c), true)  => c.union(keysOf(legacy))
    }
    (target, positives)
  }

  // ----------------------------------------------------------- compaction

  /** Output-file count for a compacted clustered rewrite of `table`:
    * one file per ~256 MB of INPUT parquet across the visible deltas
    * (a driver-side listing — no data read), clamped to [1, 4096]. A
    * hardcoded nFiles = 1 made every compacted rewrite a SINGLE task
    * sorting and writing the entire state — fine for test roots,
    * a straight OOM/bottleneck the moment state is real (the 600M-key
    * ladder rung's failure shape: one sorter + one parquet writer
    * holding a full row group of string values per open file), and it
    * produced one giant file that caps a serve's scan parallelism.
    * Sizing by input bytes keeps per-task sort volume and writer heap
    * bounded at ANY state size while preserving the disjoint
    * key-range layout (files = range buckets). */
  /** Input bytes per compacted output file. var only so specs can
    * lower it to exercise the multi-file layout with test-sized data. */
  private[graft] var CompactedFileTargetBytes: Long = 256L * 1024 * 1024

  private[graft] def compactedFileCount(spark: SparkSession, root: String,
                                        table: String): Int = {
    val bytes = visibleDeltas(spark, root).map { d =>
      val t = new Path(d, table)
      val fs = fsFor(spark, t)
      if (!fs.exists(t)) 0L
      else fs.listStatus(t).filter(_.isFile).map(_.getLen).sum
    }.sum
    math.min(4096L, bytes / CompactedFileTargetBytes + 1L).toInt
  }

  /** Fold every visible delta into one clustered run, published as
    * `cbatch=<maxCoveredId>` under the commit protocol (no-op if that
    * run is already committed). Covered deltas are NOT dropped here —
    * readers already exclude them — so a crash after this commit
    * loses nothing and double-counts nothing. */
  def commitCompacted(spark: SparkSession, root: String,
                      tables: Seq[(String, Option[org.apache.spark.sql.Column])])
      : Boolean =
    commitCompactedWith(spark, root) { stg =>
      tables.foreach { case (t, key) =>
        val df = readTable(spark, root, t)
        key match {
          case Some(k) =>
            graft.sinks.LakeSink.writeClustered(df, s"$stg/$t",
              compactedFileCount(spark, root, t), k)
          case None => df.write.parquet(s"$stg/$t")
        }
      }
    }

  /** Generic compacted-run commit: computes the covered id and hands
    * the staging dir to `write` — for consumers whose compaction is
    * more than a straight table union (e.g. SubstrStream dedups its
    * gram set). Same protocol and crash properties as
    * [[commitCompacted]]. */
  def commitCompactedWith(spark: SparkSession, root: String)
                         (write: String => Unit): Boolean = {
    val (best, plain) = committed(spark, root)
    (best.map(_._2).toSeq ++ plain.map(_._2)).maxOption match {
      case Some(covers) => commitBatch(spark, root, s"cbatch=$covers")(write)
      case None => false // nothing committed yet — clean no-op
    }
  }

  /** Staging dirs untouched for this long are treated as orphans (a
    * crashed commit whose epoch was never re-delivered, or a foreign
    * `.staging_*` name) and removed by [[dropCovered]]. Freshness is
    * the max mtime across the staging SUBTREE, not the top-level dir —
    * a dir's own mtime only refreshes on direct-child creation, so a
    * long nested table write would otherwise look idle mid-write. Even
    * if a pathological writer outlives the window, [[commitBatch]]'s
    * `_BEGIN` re-check fails the batch before the commit marker, so a
    * swept active staging is re-delivered, never published torn. */
  val DefaultStaleStagingMs: Long = 24L * 3600 * 1000

  /** Newest mtime anywhere under `p`. A path that vanishes while we
    * walk (concurrent delete/rename) reads as fresh — skipping it this
    * sweep is always safe. */
  private def maxMtime(fs: org.apache.hadoop.fs.FileSystem, p: Path): Long =
    try {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(p).toSeq.map(s => maxMtime(fs, s.getPath))).max
    } catch { case _: java.io.FileNotFoundException => Long.MaxValue }

  /** Drop deltas covered by the newest compacted run (safe any time:
    * readers never see covered deltas once the run is committed), plus
    * orphaned staging dirs whose subtree is older than `staleStagingMs`
    * — the age sweep runs FIRST and unconditionally, so orphans age out
    * even on roots that have never been compacted. Malformed dir names
    * never throw — unparseable ids are skipped (and, for `.staging_*`,
    * fall to the age-based path). */
  def dropCovered(spark: SparkSession, root: String,
                  staleStagingMs: Long = DefaultStaleStagingMs): Unit = {
    val rootPath = new Path(root)
    val fs = fsFor(spark, rootPath)
    if (!fs.exists(rootPath)) return
    val dirs = fs.listStatus(rootPath).toSeq.filter(_.isDirectory)
    def id(n: String, prefix: String): Option[Long] =
      if (n.startsWith(prefix)) n.stripPrefix(prefix).toLongOption else None
    val staleBefore = System.currentTimeMillis() - staleStagingMs
    // Age sweep first, independent of any compacted run: a staging dir
    // whose whole subtree sat untouched past the stale window is a
    // crashed commit never re-delivered (or a foreign name) — age
    // catches what the covers watermark can't, so orphans never leak,
    // compacted root or not.
    dirs.foreach { s =>
      if (s.getPath.getName.startsWith(".staging_") &&
          maxMtime(fs, s.getPath) < staleBefore)
        fs.delete(s.getPath, true)
    }
    val covers = dirs
      .flatMap(s => id(s.getPath.getName, "cbatch="))
      .filter(c => fs.exists(new Path(rootPath, s"cbatch=$c/$Commit")))
      .maxOption.getOrElse(return)
    dirs.foreach { s =>
      val n = s.getPath.getName
      // A staging dir is deleted when the delta it WOULD publish is
      // already covered by the compacted run — an in-flight commit's
      // staging (id above the watermark) survives, so running compact()
      // concurrently with an active stream never tears a micro-batch.
      val drop =
        id(n, "batch=").exists(_ <= covers) ||
        id(n, "cbatch=").exists(_ < covers) ||
        id(n, ".staging_batch=").exists(_ <= covers) ||
        id(n, ".staging_cbatch=").exists(_ < covers)
      if (drop) fs.delete(s.getPath, true)
    }
  }

  /** The BM25 index's table set (postings term-clustered). */
  val Bm25Tables: Seq[(String, Option[org.apache.spark.sql.Column])] =
    Seq(("postings", Some(col("term"))), ("doclen", None), ("stats", None))

  /** The ANN index's table set (codes cell-clustered). */
  val AnnTables: Seq[(String, Option[org.apache.spark.sql.Column])] =
    Seq(("codes", Some(col("cluster"))))

  /** Compact + drop, the steady-state maintenance call. */
  def compact(spark: SparkSession, root: String,
              tables: Seq[(String, Option[org.apache.spark.sql.Column])])
      : Unit = {
    commitCompacted(spark, root, tables)
    dropCovered(spark, root)
  }

  /** Plain (uncompacted) deltas currently visible — the count every
    * probe pays for: one union leg and one bloom-probe disjunct per
    * delta, plus one sidecar cold-load per executor lifetime. */
  def plainDeltaCount(spark: SparkSession, root: String): Int =
    committed(spark, root)._2.size

  /** Deltas-count compaction POLICY — fold when more than `maxDeltas`
    * plain deltas have accumulated, instead of a caller-managed
    * cadence. Why a count bound: probe cost is O(#deltas) (readTable
    * unions one leg per delta; bloomProbe ORs one probe per sidecar),
    * each delta's sidecar is another executor cold-load, and
    * dozens-of-small-files is exactly what compaction exists to fold
    * (the 600M rung's compacted root cold-loads its shards ONCE; an
    * uncompacted root would pay per delta). The check is the same
    * driver-side listing every batch already does — call it right
    * after processBatch/mergeDocBatch at any frequency. Default 64:
    * high enough that steady-state folding is rare (one fold per 64
    * epochs), low enough that probe fan-out and the first-epoch
    * shard-load premium stay bounded. Returns true when a compaction
    * ran. */
  def compactIfNeeded(spark: SparkSession, root: String,
                      tables: Seq[(String, Option[org.apache.spark.sql.Column])],
                      maxDeltas: Int = 64): Boolean = {
    if (plainDeltaCount(spark, root) <= maxDeltas) false
    else { compact(spark, root, tables); true }
  }
}
