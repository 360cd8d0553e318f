package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Wire

/** Scale ladder for the stateful streaming consumers — the per-EPOCH
  * cost curve as committed state grows, the axis the batch ladders
  * can't see. The hypothesis under test (PretrainStream's scaladoc):
  * the naive micro-batch dedup (`batch LEFT ANTI JOIN all committed
  * hashes`) re-shuffles the whole seen-set every epoch, so per-epoch
  * wall grows LINEARLY with state and total ingest cost is QUADRATIC
  * in corpus size; the bloom-sidecar pregate keeps per-epoch cost
  * O(batch). The positional `pregate` argument picks the arm for every
  * epoch: `true` runs with `pregateMinKeys = 0`, `false` with
  * `Long.MaxValue` — the shipped below-crossover path, which still
  * writes every epoch's bloom sidecar.
  *
  * Synthesizes a deterministic gate-passing firehose — 40 unique words
  * per doc plus a stopword frame (the PretrainStreamSpec body shape),
  * 1% of docs repeating the same slot one epoch earlier (cross-epoch
  * dups exercising the verify stage) — and drives
  * PretrainStream.processBatch directly epoch by epoch (foreachBatch
  * delegates to exactly this call, so the measured work IS the
  * streaming engine's per-epoch work). Optional compaction cadence
  * folds deltas the way a production root would run.
  *
  * Usage: {{{
  *   runMain graft.tools.StreamLadder <epochs> <docsPerEpoch> \
  *     [pregate=true] [compactEvery=0] [cpus=32] [mode=pretrain|substr] \
  *     [seedKeys=0]
  * }}}
  * `mode=substr` drives SubstrStream (hashed wire form) over the same
  * firehose — the gram-index probe has the identical O(state)-per-epoch
  * naive shape, at ~40× the key volume (one gram per token position).
  * `compactEvery > 0` folds unconditionally every N epochs;
  * `compactEvery = -1` consults the production deltas-count policy
  * (compactIfNeeded, default 64 plain deltas) after every epoch and
  * prints the fold's wall when it trips.
  *
  * `seedKeys > 0` pre-commits that many synthetic state keys as epoch
  * 0 before any timed epoch — the honest way to measure the per-epoch
  * cost CURVE against a mature standing corpus without simulating
  * months of firehose: at small state the fixed per-epoch floor
  * (gates, window, commit) hides the O(state) term; the seed isolates
  * it (a 100 TB deployment's seen-set is billions of keys, not the 2M
  * a 40-epoch ladder accretes).
  * Prints one JSON line per epoch (epoch, secs, cumulative docs) and a
  * summary line with first/last-quartile mean per-epoch wall — flat
  * quartile ratio = O(batch); ratio tracking epoch count = O(state).
  */
object StreamLadder {
  def main(args: Array[String]): Unit = {
    val epochs = if (args.length > 0) args(0).toInt else 20
    val perEpoch = if (args.length > 1) args(1).toLong else 20000L
    val pregate = if (args.length > 2) args(2).toBoolean else true
    // the labeled arm at EVERY rung, so the ladder measures both paths
    // across the crossover; the shipped default gates on committed
    // state size (DefaultPregateMinKeys)
    val minKeys = if (pregate) 0L else Long.MaxValue
    val compactEvery = if (args.length > 3) args(3).toInt else 0
    val cpus = if (args.length > 4) args(4).toInt else 32
    val mode = if (args.length > 5) args(5) else "pretrain"
    val seedKeys = if (args.length > 6) args(6).toLong else 0L
    // an externally-supplied master (spark-submit) is kept by the
    // factory, so the SAME binary calibrates a real cluster — the
    // README's pregate-crossover recipe
    val spark = graft.GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = java.nio.file.Files
      .createTempDirectory("streamladder").toString
    val contaminated = spark.emptyDataset[Long].toDF("train_doc_id")

    // Deterministic firehose: doc_id is globally unique; content_id
    // decides the text — 1% of docs (id % 100 == 0) past epoch 0 reuse
    // the same slot one epoch earlier, so every epoch carries a small
    // true-dup sliver against committed state.
    def batchOf(epoch: Int): DataFrame = {
      val base = epoch.toLong * perEpoch
      spark.range(base, base + perEpoch)
        .select(col("id").as("doc_id"),
          when(col("id") % 100 === 0 && col("id") >= perEpoch,
            col("id") - perEpoch).otherwise(col("id")).as("content_id"))
        .select(col("doc_id"), lit("en").as("lang"),
          // gate-conscious body: 40 SHORT varying words (avg_word_len
          // must sit in [3,8]) + one id-bearing word for content
          // uniqueness + a stopword frame
          concat(
            array_join(transform(sequence(lit(0), lit(39)),
              j => concat(lit("x"), pmod(col("content_id") * 7 + j,
                lit(997)))), " "),
            lit(" u"), col("content_id"),
            lit(" the of and a")).as("text"))
    }

    if (seedKeys > 0) {
      // one range bucket per ~4M keys: bounds the per-task sort AND
      // the parquet writer's row-group heap (the 600M rung OOM'd 64 g
      // with cpus-many state-sized buckets — same lesson as
      // IndexMaintainStream.compactedFileCount, applied pre-commit
      // because the seed bypasses compaction)
      val seedFiles = math.max(cpus,
        math.min(4096L, seedKeys / 4000000L + 1L).toInt)
      val committed = graft.streaming.IndexMaintainStream
        .commitBatch(spark, root, "batch=0") { staging =>
          // seeds write CLUSTERED by key — the steady-state layout (a
          // mature root is a compacted root, and compaction clusters)
          // the sidecar is built from the same generated keys, whose
          // row count is seedKeys by construction
          if (mode == "substr") {
            val grams = spark.range(seedKeys)
              .select(xxhash64(concat(lit("seedg"), col("id"))).as("kh"))
            graft.sinks.LakeSink.writeClustered(
              grams, s"$staging/grams", seedFiles, col("kh"))
            // 0-row spans THROUGH the real probe, so the seed delta's
            // schema is exactly what the stream writes
            graft.dedup.SubstrDedup.probeSpans(
                spark.range(0).select(col("id").as("doc_id"),
                  lit("").as("text")),
                spark.range(0).select(col("id").as("kh")),
                graft.dedup.SubstrDedup.MinRun, Wire.Hashed)
              .withColumn("epoch", lit(0L)).write.parquet(s"$staging/spans")
            graft.streaming.IndexMaintainStream
              .writeBloomSidecar(grams, seedKeys, s"$staging/bloom",
                col("kh"))
          } else {
            val hashes = spark.range(seedKeys)
              .select(md5(concat(lit("seed"), col("id"))).as("norm_hash"))
            graft.sinks.LakeSink.writeClustered(
              hashes, s"$staging/hashes", seedFiles, col("norm_hash"))
            spark.range(0).select(col("id").as("doc_id"),
                lit("en").as("lang"), lit(0L).as("n_words"),
                lit("").as("text"))
              .write.parquet(s"$staging/docs")
            graft.streaming.IndexMaintainStream
              .writeBloomSidecar(hashes, seedKeys, s"$staging/bloom",
                xxhash64(col("norm_hash")))
          }
        }
      println(s"""{"tool":"stream_ladder","seed_keys":$seedKeys,""" +
        s""""seed_committed":$committed}""")
    }
    val start = if (seedKeys > 0) 1 else 0
    val perEpochSecs = (start until start + epochs).map { ep =>
      val b = batchOf(ep).localCheckpoint(true) // exclude gen cost
      val t0 = System.nanoTime()
      if (mode == "substr")
        graft.streaming.SubstrStream.processBatch(
          b.select(col("doc_id"), col("text")), root, ep.toLong,
          Wire.Hashed, pregateMinKeys = minKeys)
      else
        graft.streaming.PretrainStream.processBatch(
          b, contaminated, root, ep.toLong, pregateMinKeys = minKeys)
      val dt = (System.nanoTime() - t0) / 1e9
      // compactEvery > 0: unconditional fold every N epochs (caller-
      // managed cadence). compactEvery < 0: the PRODUCTION policy —
      // compactIfNeeded consulted after every epoch, folding only past
      // its default-64 plain-delta bound (the organic trip; fold wall
      // printed so the amortized cost is a reading, not a guess).
      if (compactEvery != 0) {
        val c0 = System.nanoTime()
        val ran =
          if (compactEvery < 0) {
            if (mode == "substr")
              graft.streaming.SubstrStream.compactIfNeeded(spark, root)
            else graft.streaming.PretrainStream.compactIfNeeded(spark, root)
          } else if ((ep + 1) % compactEvery == 0) {
            if (mode == "substr")
              graft.streaming.SubstrStream.compact(spark, root)
            else graft.streaming.PretrainStream.compact(spark, root)
            true
          } else false
        if (ran) println(f"""{"tool":"stream_ladder","mode":"$mode",""" +
          f""""epoch":$ep,"compacted":true,""" +
          f""""compact_secs":${(System.nanoTime() - c0) / 1e9}%.3f}""")
      }
      println(f"""{"tool":"stream_ladder","mode":"$mode","epoch":$ep,""" +
        f""""secs":$dt%.3f,"cum_docs":${(ep + 1) * perEpoch},""" +
        f""""pregate":$pregate,"compact_every":$compactEvery}""")
      dt
    }
    val q = math.max(1, epochs / 4)
    val firstQ = perEpochSecs.take(q).sum / q
    val lastQ = perEpochSecs.takeRight(q).sum / q
    val rows =
      if (mode == "substr")
        graft.streaming.SubstrStream.spansSoFar(spark, root).count()
      else graft.streaming.PretrainStream.acceptedDocs(spark, root).count()
    println(f"""{"tool":"stream_ladder","mode":"$mode","epochs":$epochs,""" +
      f""""docs_per_epoch":$perEpoch,"pregate":$pregate,""" +
      f""""compact_every":$compactEvery,"seed_keys":$seedKeys,""" +
      f""""total_secs":${perEpochSecs.sum}%.1f,""" +
      f""""first_q_mean":$firstQ%.3f,"last_q_mean":$lastQ%.3f,""" +
      f""""growth_ratio":${lastQ / firstQ}%.2f,"out_rows":$rows}""")
    spark.stop()
  }
}
