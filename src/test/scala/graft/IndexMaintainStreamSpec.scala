package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.Wire
import graft.streaming.IndexMaintainStream

object IndexMaintainStreamSpec {
  case class Doc(doc_id: Long, text: String)
  case class VecRow(vec_id: Long, embedding: Seq[Float])
}

/** The stream-maintained retrieval indexes must serve EXACTLY what a
  * cold batch rebuild over the same records serves — byte-identical
  * top-k — across micro-batching, re-delivery, torn staging, and
  * compaction (with and without the covered-delta drop completing). */
class IndexMaintainStreamSpec extends AnyFunSuite {
  import TestSpark._
  import IndexMaintainStreamSpec.{Doc, VecRow}

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // corpus over the standing-query vocabulary (Search.QueryTerms) plus
  // per-doc filler so scores differ across docs
  private def docs(n: Int): Seq[Doc] = {
    val vocab = Seq("spark", "merge", "window", "hash", "join", "customer",
      "filter", "scan", "stream", "shuffle", "plan")
    (0 until n).map { i =>
      val words = (0 until 12).map(j => vocab((i * 7 + j * 3) % vocab.size)) ++
        (0 until 4).map(j => s"filler${i}_$j")
      Doc(i.toLong, words.mkString(" "))
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("bm25 maintained on the stream ≡ cold rebuild; re-delivery is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("bm25stream")
    val all = docs(45)

    val input = MemoryStream[Doc]
    val q = IndexMaintainStream.startDocStream(input.toDF(), root)
    all.grouped(17).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()

    val served = rows(IndexMaintainStream.bm25Serve(spark, root))
    assert(served.nonEmpty)

    // re-delivery of an already-committed epoch must be a no-op
    assert(!IndexMaintainStream.mergeDocBatch(spark, root,
      all.take(17).toDF(), batchId = 0))
    assert(rows(IndexMaintainStream.bm25Serve(spark, root)) === served)

    // cold path 1: all docs in ONE delta through the same serve
    val coldRoot = tmp("bm25cold")
    assert(IndexMaintainStream.mergeDocBatch(spark, coldRoot, all.toDF(), 0))
    assert(rows(IndexMaintainStream.bm25Serve(spark, coldRoot)) === served)

    // cold path 2: the OFFLINE persisted index (rag_bm25_indexed path)
    // over the same docs as a documents.parquet corpus
    val corpusDir = tmp("bm25corpus")
    all.toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val offline = rows(
      graft.operators.SearchIndex.bm25Indexed(spark, corpusDir))
    assert(served === offline)
  }

  test("hashed wire: streamed index serves rows identical to the lexical form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val strRoot = tmp("bm25str")
    val khRoot = tmp("bm25kh")
    val all = docs(45)

    // identical ingest through BOTH wire forms
    Seq((strRoot, Wire.Text), (khRoot, Wire.Hashed)).foreach { case (root, wire) =>
      val input = MemoryStream[Doc]
      val q = IndexMaintainStream.startDocStream(input.toDF(), root, wire)
      all.grouped(17).foreach { b => input.addData(b); q.processAllAvailable() }
      q.stop()
    }
    val lexical = rows(IndexMaintainStream.bm25Serve(spark, strRoot))
    assert(lexical.nonEmpty)
    assert(rows(IndexMaintainStream.bm25Serve(spark, khRoot)) === lexical)

    // the hashed index stores 8-byte keys, never the term string
    val post = IndexMaintainStream.readTable(spark, khRoot, "postings")
    assert(post.schema("term").dataType.typeName === "long")

    // established root keeps its committed wire form over a wrong flag:
    // appending with Wire.Text must still write longs and serve right
    assert(IndexMaintainStream.mergeDocBatch(spark, khRoot,
      Seq(Doc(100L, "spark stream merge window hash")).toDF(),
      batchId = 99, wire = Wire.Text))
    assert(IndexMaintainStream.readTable(spark, khRoot, "postings")
      .schema("term").dataType.typeName === "long")
    val coldRoot = tmp("bm25khcold")
    assert(IndexMaintainStream.mergeDocBatch(spark, coldRoot,
      (all :+ Doc(100L, "spark stream merge window hash")).toDF(), 0,
      wire = Wire.Hashed))
    assert(rows(IndexMaintainStream.bm25Serve(spark, khRoot)) ===
           rows(IndexMaintainStream.bm25Serve(spark, coldRoot)))

    // compaction under the hashed key preserves the serve
    IndexMaintainStream.compact(spark, khRoot, IndexMaintainStream.Bm25Tables)
    assert(rows(IndexMaintainStream.bm25Serve(spark, khRoot)) ===
           rows(IndexMaintainStream.bm25Serve(spark, coldRoot)))
  }

  test("torn staging and unmarked dirs are invisible; re-delivery repairs them") {
    import spark.implicits._
    val root = tmp("bm25torn")
    val all = docs(30)
    assert(IndexMaintainStream.mergeDocBatch(spark, root, all.take(20).toDF(), 0))
    val before = rows(IndexMaintainStream.bm25Serve(spark, root))

    // a crashed attempt at batch 1: partial staging + published dir
    // WITHOUT the commit marker — neither may affect a reader
    val junk = all.slice(20, 22).toDF()
    junk.write.parquet(s"$root/.staging_batch=1/postings")
    junk.write.parquet(s"$root/batch=1/postings")
    assert(rows(IndexMaintainStream.bm25Serve(spark, root)) === before)

    // re-delivery of epoch 1 replaces the wreckage and commits cleanly
    assert(IndexMaintainStream.mergeDocBatch(spark, root,
      all.drop(20).toDF(), 1))
    val coldRoot = tmp("bm25torncold")
    assert(IndexMaintainStream.mergeDocBatch(spark, coldRoot, all.toDF(), 0))
    assert(rows(IndexMaintainStream.bm25Serve(spark, root)) ===
           rows(IndexMaintainStream.bm25Serve(spark, coldRoot)))
  }

  test("compaction changes nothing served, with or without the drop completing") {
    import spark.implicits._
    val root = tmp("bm25compact")
    val all = docs(40)
    all.grouped(10).zipWithIndex.foreach { case (b, i) =>
      assert(IndexMaintainStream.mergeDocBatch(spark, root, b.toDF(), i.toLong))
    }
    val served = rows(IndexMaintainStream.bm25Serve(spark, root))

    // commit the compacted run but SIMULATE a crash before the drop:
    // covered deltas still on disk — readers must exclude them
    assert(IndexMaintainStream.commitCompacted(spark, root,
      IndexMaintainStream.Bm25Tables))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "batch=0")))
    assert(rows(IndexMaintainStream.bm25Serve(spark, root)) === served)

    // compacting again is a no-op (cbatch=3 already committed)
    assert(!IndexMaintainStream.commitCompacted(spark, root,
      IndexMaintainStream.Bm25Tables))

    // finish the drop; serve unchanged, covered deltas gone
    IndexMaintainStream.dropCovered(spark, root)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "batch=0")))
    assert(rows(IndexMaintainStream.bm25Serve(spark, root)) === served)

    // post-compaction increments land on top of the compacted run
    assert(IndexMaintainStream.mergeDocBatch(spark, root,
      Seq(Doc(100L, "spark stream merge window hash")).toDF(), 4))
    val coldRoot = tmp("bm25compactcold")
    assert(IndexMaintainStream.mergeDocBatch(spark, coldRoot,
      (all :+ Doc(100L, "spark stream merge window hash")).toDF(), 0))
    assert(rows(IndexMaintainStream.bm25Serve(spark, root)) ===
           rows(IndexMaintainStream.bm25Serve(spark, coldRoot)))
  }

  test("compact on an empty root is a clean no-op") {
    val root = tmp("bm25empty")
    // no committed deltas: compaction must return false, not throw
    assert(!IndexMaintainStream.commitCompacted(spark, root,
      IndexMaintainStream.Bm25Tables))
    IndexMaintainStream.dropCovered(spark, root) // and drop must be inert
  }

  test("dropCovered spares an in-flight staging dir above the watermark") {
    import spark.implicits._
    val root = tmp("bm25inflight")
    docs(20).grouped(10).zipWithIndex.foreach { case (b, i) =>
      assert(IndexMaintainStream.mergeDocBatch(spark, root, b.toDF(), i.toLong))
    }
    assert(IndexMaintainStream.commitCompacted(spark, root,
      IndexMaintainStream.Bm25Tables))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a micro-batch commit mid-write while compact() runs:
    // batch=2 is above the compacted watermark (covers=1)
    val inflight = new org.apache.hadoop.fs.Path(root, ".staging_batch=2")
    fs.mkdirs(inflight)
    // and a STALE staging from a covered, long-since-published delta
    val stale = new org.apache.hadoop.fs.Path(root, ".staging_batch=0")
    fs.mkdirs(stale)
    IndexMaintainStream.dropCovered(spark, root)
    assert(fs.exists(inflight),
      "in-flight staging above the watermark must survive dropCovered")
    assert(!fs.exists(stale), "covered staging must be cleaned up")
  }

  test("dropCovered skips malformed names and ages out orphan staging") {
    import spark.implicits._
    val root = tmp("bm25orphan")
    docs(20).grouped(10).zipWithIndex.foreach { case (b, i) =>
      assert(IndexMaintainStream.mergeDocBatch(spark, root, b.toDF(), i.toLong))
    }
    assert(IndexMaintainStream.commitCompacted(spark, root,
      IndexMaintainStream.Bm25Tables))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // malformed names that used to throw NumberFormatException and abort
    // the whole cleanup — now skipped (and, for staging, age-governed)
    val malformedBatch = new org.apache.hadoop.fs.Path(root, "batch=notanum")
    val freshOrphan = new org.apache.hadoop.fs.Path(root, ".staging_tmpXYZ")
    fs.mkdirs(malformedBatch)
    fs.mkdirs(freshOrphan)
    // an orphan above the watermark from an epoch never re-delivered:
    // covered by the AGE path, not the watermark
    val oldOrphan = new org.apache.hadoop.fs.Path(root, ".staging_batch=9")
    fs.mkdirs(oldOrphan)
    fs.setTimes(oldOrphan, System.currentTimeMillis() - 48L * 3600 * 1000, -1)

    IndexMaintainStream.dropCovered(spark, root) // must not throw
    assert(fs.exists(malformedBatch),
      "unparseable non-staging dirs are left alone")
    assert(fs.exists(freshOrphan),
      "a fresh unknown staging dir survives (could be an active writer)")
    assert(!fs.exists(oldOrphan),
      "staging older than the stale window is cleaned up even above the watermark")

    // explicit short window: the same orphan, aged past it, is dropped
    fs.setTimes(freshOrphan, System.currentTimeMillis() - 60000L, -1)
    IndexMaintainStream.dropCovered(spark, root, staleStagingMs = 1000L)
    assert(!fs.exists(freshOrphan))
    // and the data dirs are untouched throughout
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "cbatch=1")))
  }

  test("age sweep ages out orphan staging on a NEVER-compacted root") {
    import spark.implicits._
    val root = tmp("bm25nocompact")
    // committed deltas but NO cbatch= run ever — the age sweep must
    // still run (it used to early-return with the covers watermark)
    assert(IndexMaintainStream.mergeDocBatch(spark, root, docs(10).toDF(), 0))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(root, ".staging_batch=7")
    fs.mkdirs(orphan)
    fs.setTimes(orphan, System.currentTimeMillis() - 48L * 3600 * 1000, -1)
    IndexMaintainStream.dropCovered(spark, root)
    assert(!fs.exists(orphan),
      "orphan staging must age out even when no compacted run exists")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "batch=0")),
      "committed deltas untouched")

    // and on a root with NOTHING committed at all
    val bare = tmp("bm25bare")
    val bareOrphan = new org.apache.hadoop.fs.Path(bare, ".staging_tmpA")
    fs.mkdirs(bareOrphan)
    fs.setTimes(bareOrphan, System.currentTimeMillis() - 48L * 3600 * 1000, -1)
    IndexMaintainStream.dropCovered(spark, bare)
    assert(!fs.exists(bareOrphan))
  }

  test("age sweep freshness is the staging SUBTREE's max mtime, not the dir's") {
    val root = tmp("bm25subtree")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an active long write: the top-level staging dir and its table
    // subdir look idle (mtime only refreshes on direct-child creation)
    // but a nested part file was just written — must survive the sweep
    val active = new org.apache.hadoop.fs.Path(root, ".staging_batch=3")
    val tbl = new org.apache.hadoop.fs.Path(active, "postings")
    fs.mkdirs(tbl)
    fs.create(new org.apache.hadoop.fs.Path(tbl, "part-0.parquet")).close()
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    fs.setTimes(active, old, -1)
    fs.setTimes(tbl, old, -1)
    IndexMaintainStream.dropCovered(spark, root)
    assert(fs.exists(active),
      "a staging dir with a fresh nested file is an active writer, not an orphan")
    // once the nested file is old too, the whole subtree is stale
    fs.setTimes(new org.apache.hadoop.fs.Path(tbl, "part-0.parquet"), old, -1)
    IndexMaintainStream.dropCovered(spark, root)
    assert(!fs.exists(active))
  }

  test("a staging dir swept mid-write fails the batch BEFORE the commit marker") {
    import spark.implicits._
    val root = tmp("bm25midwrite")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate dropCovered's age sweep firing between the writer's
    // table writes: the write callback deletes staging (as the sweep
    // would) and then keeps writing — the _BEGIN re-check must fail the
    // batch so nothing carrying a commit marker is ever published
    val ex = intercept[java.io.IOException] {
      IndexMaintainStream.commitBatch(spark, root, "batch=0") { stg =>
        fs.delete(new org.apache.hadoop.fs.Path(stg), true)
        docs(3).toDF().write.parquet(s"$stg/postings") // torn recreation
      }
    }
    assert(ex.getMessage.contains("re-delivery"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "batch=0")),
      "no delta may be published from a swept staging dir")
    // clean re-delivery of the same epoch then commits normally
    assert(IndexMaintainStream.mergeDocBatch(spark, root, docs(10).toDF(), 0))
    assert(rows(IndexMaintainStream.bm25Serve(spark, root)).nonEmpty)
  }

  test("hashed postings hold one row per (doc_id, term) after re-aggregation") {
    import spark.implicits._
    val root = tmp("bm25khdedup")
    assert(IndexMaintainStream.mergeDocBatch(spark, root, docs(20).toDF(), 0,
      wire = Wire.Hashed))
    val post = IndexMaintainStream.readTable(spark, root, "postings")
    assert(post.groupBy(col("doc_id"), col("term")).count()
      .filter(col("count") > 1).isEmpty,
      "streamed hashed postings must be unique per (doc_id, term)")
    // same invariant on the offline hashed index (bm25Cached on Wire.Hashed)
    val corpusDir = tmp("bm25khcorpus")
    docs(20).toDF().write.parquet(s"$corpusDir/documents.parquet")
    val (offPost, _, _) =
      graft.operators.SearchIndex.bm25Cached(spark, corpusDir, Wire.Hashed)
    assert(offPost.groupBy(col("doc_id"), col("term")).count()
      .filter(col("count") > 1).isEmpty)
  }

  test("a warm hashed bm25Serve infers only the postings schema; a merge " +
       "reads its staged tables back under declared schemas") {
    import spark.implicits._
    val root = tmp("bm25jobs")
    val all = docs(30)
    assert(IndexMaintainStream.mergeDocBatch(spark, root, all.take(15).toDF(),
      0, wire = Wire.Hashed))
    // one delta into an established root: the postings read that learns
    // its wire, then the postings, doclen and stats writes; the staged
    // read-backs infer nothing (11 jobs when they did and the hashed
    // postings aggregated twice)
    val mergeJobs = JobCount.jobsIn(spark, "bm25-merge") {
      assert(IndexMaintainStream.mergeDocBatch(spark, root,
        all.drop(15).toDF(), 1))
    }
    IndexMaintainStream.bm25Serve(spark, root)
    var served: org.apache.spark.sql.DataFrame = null
    val serveJobs = JobCount.jobsIn(spark, "bm25-warm-serve") {
      served = IndexMaintainStream.bm25Serve(spark, root)
    }
    // only the postings read that learns the wire (4 when the wire was
    // learned by a second postings read and doclen/stats inferred too)
    assert(serveJobs === 1)
    assert(mergeJobs === 8)
    val cold = tmp("bm25jobscold")
    assert(IndexMaintainStream.mergeDocBatch(spark, cold, all.toDF(), 0,
      wire = Wire.Hashed))
    assert(rows(served) === rows(IndexMaintainStream.bm25Serve(spark, cold)))
  }

  test("ANN codes maintained on the stream ≡ cold re-encode, through serve") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // frozen model — trained once offline, shared by stream and cold path
    val (cbooks, coarse) = graft.similarity.Knn.ivfPqFit(e)

    val root = tmp("annstream")
    val vecs = e.as[VecRow].collect().toSeq
    val input = MemoryStream[VecRow]
    val q = IndexMaintainStream.startVecStream(input.toDF(), root, cbooks, coarse)
    vecs.grouped(180).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()

    val served = rows(IndexMaintainStream.annServe(spark, root, e, k = 10,
      nprobe = 2, cbooks, coarse))
    assert(served.nonEmpty)

    // cold re-encode of the full corpus with the same frozen model
    val cold = rows(graft.similarity.Knn.ivfPqServe(e, 10, 2,
      cbooks, coarse, graft.similarity.AnnIndex.ivfPqAdd(e, cbooks, coarse)))
    assert(served === cold)

    // re-delivery no-op + compaction identity on the codes table
    assert(!IndexMaintainStream.mergeVecBatch(spark, root,
      e.limit(10), cbooks, coarse, 0))
    IndexMaintainStream.compact(spark, root, IndexMaintainStream.AnnTables)
    assert(rows(IndexMaintainStream.annServe(spark, root, e, 10, 2,
      cbooks, coarse)) === served)
  }

  test("compactIfNeeded folds only past the delta-count threshold and " +
       "changes nothing served") {
    import spark.implicits._
    val root = tmp("compactpolicy")
    (0 to 2).foreach { ep =>
      IndexMaintainStream.mergeDocBatch(spark, root,
        docs(10).map(d => Doc(d.doc_id + ep * 100, d.text)).toDF(),
        ep.toLong)
    }
    assert(IndexMaintainStream.plainDeltaCount(spark, root) === 3)
    val before = rows(IndexMaintainStream.bm25Serve(spark, root))
    // below threshold: a clean no-op, no compacted run appears
    assert(!IndexMaintainStream.compactIfNeeded(spark, root,
      IndexMaintainStream.Bm25Tables, maxDeltas = 3))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def cbatches = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).count(_.startsWith("cbatch="))
    assert(cbatches === 0)
    // past threshold: folds, covered deltas drop, serve unchanged
    assert(IndexMaintainStream.compactIfNeeded(spark, root,
      IndexMaintainStream.Bm25Tables, maxDeltas = 2))
    assert(cbatches === 1)
    assert(IndexMaintainStream.plainDeltaCount(spark, root) === 0)
    assert(rows(IndexMaintainStream.bm25Serve(spark, root)) === before)
    // and the policy is idempotent right after a fold
    assert(!IndexMaintainStream.compactIfNeeded(spark, root,
      IndexMaintainStream.Bm25Tables, maxDeltas = 2))
  }

  test("compacted rewrite splits into byte-sized disjoint-range files, " +
       "never one state-sized sort") {
    import spark.implicits._
    val root = tmp("compactsize")
    // two deltas of term-keyed postings; lower the per-file byte target
    // so test-sized data exercises the multi-file layout
    (0 to 1).foreach { ep =>
      IndexMaintainStream.mergeDocBatch(spark, root,
        docs(60).map(d => Doc(d.doc_id + ep * 100, d.text)).toDF(),
        ep.toLong)
    }
    val prior = IndexMaintainStream.CompactedFileTargetBytes
    try {
      IndexMaintainStream.CompactedFileTargetBytes = 2048L
      val n = IndexMaintainStream.compactedFileCount(spark, root, "postings")
      assert(n > 1, s"byte-sized count must exceed 1 at a 2KB target, got $n")
      val before = rows(IndexMaintainStream.bm25Serve(spark, root))
      IndexMaintainStream.compact(spark, root, IndexMaintainStream.Bm25Tables)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val cbatch = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).filter(_.startsWith("cbatch=")).head
      val parts = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/$cbatch/postings"))
        .map(_.getPath.getName).count(_.startsWith("part-"))
      assert(parts > 1, "compaction must write multiple range files")
      // disjoint term ranges across files (the clustered layout held)
      val ranges = spark.read.parquet(s"$root/$cbatch/postings")
        .select(input_file_name().as("f"), col("term"))
        .groupBy("f").agg(min("term").as("lo"), max("term").as("hi"))
        .collect().map(r => (r.getString(1), r.getString(2))).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo, _)) => assert(hi <= lo, s"overlap: $hi > $lo")
        case _ =>
      }
      // and the serve is unchanged
      assert(rows(IndexMaintainStream.bm25Serve(spark, root)) === before)
    } finally IndexMaintainStream.CompactedFileTargetBytes = prior
  }

  test("bloom sidecar shards under the aggregate's conf-clamp defaults " +
       "and holds ~1% FPP at multi-shard scale") {
    // Regression for the silent 64 Mbit clamp: writeBloomSidecar streams
    // its build through toLocalIterator, whose incremental jobs do NOT
    // propagate a raised session SQLConf to tasks — a shard sized above
    // the default caps silently clamps and the filter passes ~everything
    // (the 300M-seed StreamLadder rung). Shards must therefore sit under
    // the DEFAULT caps by construction, and the probe's false-positive
    // rate over fresh keys must stay near the designed 1%.
    val root = tmp("bloomshard")
    val n = 9000000L // → 3 shards of ≤4M keys each
    IndexMaintainStream.writeBloomSidecar(
      spark.range(n).select(xxhash64(col("id")).as("k")), n,
      s"$root/bloom", col("k"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val shardFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/bloom"))
      .filter(_.getPath.getName.startsWith("shard-"))
    assert(shardFiles.length === 3)
    // every shard's serialized size reflects its REQUESTED bits
    // (shardEst·10), not the 64 Mbit conf default
    shardFiles.foreach { f =>
      assert(f.getLen > 3000000L && f.getLen < 8000000L,
        s"${f.getPath.getName}: ${f.getLen} bytes — clamped or missized")
    }
    val probe = IndexMaintainStream.bloomProbe(spark,
      Seq(s"$root/bloom"), col("k")).get
    // member keys: never a false negative
    assert(spark.range(0, 10000).select(xxhash64(col("id")).as("k"))
      .filter(!probe).count() === 0L)
    // fresh keys (disjoint domain): FPP near the designed 1%
    val fresh = spark.range(10000)
      .select(xxhash64(concat(lit("fresh"), col("id"))).as("k"))
    val fp = fresh.filter(probe).count()
    assert(fp < 500L, s"false-positive count $fp/10000 — filter saturated")
  }

  test("batch-sized sidecars are tight: aggregate OR-of-probes FPP " +
       "stays bounded across accumulated deltas") {
    // Regression for the round-13 organic-policy rung's finding:
    // bloomProbe ORs across every visible sidecar, so aggregate FPP is
    // ADDITIVE in delta count — at the old uniform 10 bits/key (~0.8%
    // each), 32 accumulated deltas pass ~25% of fresh keys, silently
    // degrading the pregate verify to a full-state semi join. Tight
    // (20 bits/key) batch-sized filters keep the 32-delta sum ~0.2%.
    val root = tmp("tightbloom")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val sidecars = (0 until 32).map { d =>
      IndexMaintainStream.writeBloomSidecar(
        spark.range(20000).select(
          xxhash64(concat(lit(s"delta$d-"), col("id"))).as("k")), 20000L,
        s"$root/d$d/bloom", col("k"))
      s"$root/d$d/bloom"
    }
    // density recorded per sidecar, and bytes reflect 20 bits/key
    val st = fs.listStatus(new org.apache.hadoop.fs.Path(sidecars.head))
    assert(st.exists(_.getPath.getName === "_bpk-20"))
    val shardBytes = st.filter(_.getPath.getName.startsWith("shard-"))
      .map(_.getLen).sum
    assert(shardBytes > 40000L && shardBytes < 80000L,
      s"$shardBytes bytes for 20k keys — expected ~50 KB at 20 bits/key")
    val probe = IndexMaintainStream.bloomProbe(spark, sidecars,
      col("k")).get
    // member keys across several deltas: never a false negative
    (0 until 32 by 8).foreach { d =>
      assert(spark.range(20000).select(
          xxhash64(concat(lit(s"delta$d-"), col("id"))).as("k"))
        .filter(!probe).count() === 0L, s"false negative in delta $d")
    }
    // fresh keys: the 32-sidecar aggregate passes ~0.2%, not ~25%
    val fp = spark.range(20000)
      .select(xxhash64(concat(lit("fresh"), col("id"))).as("k"))
      .filter(probe).count()
    assert(fp < 500L,
      s"aggregate FP count $fp/20000 — additive FPP regression")
  }

  test("estimatedCommittedKeys honors each sidecar's density marker " +
       "(markerless legacy dirs read as 10 bits/key)") {
    val root = tmp("bpkest")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val keys = spark.range(100000).select(xxhash64(col("id")).as("k"))
    // two committed deltas with identical tight sidecars, one stripped
    // of its marker to stand in for a pre-marker legacy dir
    Seq(0, 1).foreach { b =>
      IndexMaintainStream.writeBloomSidecar(keys, 100000L,
        s"$root/batch=$b/bloom", col("k"))
      fs.create(new org.apache.hadoop.fs.Path(s"$root/batch=$b/_COMMIT"),
        true).close()
    }
    val marked = IndexMaintainStream.estimatedCommittedKeys(spark, root)
    // both marked at 20 bits/key: estimate lands near the true 200k
    assert(math.abs(marked - 200000L) < 40000L, s"marked estimate $marked")
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/batch=1/bloom/_bpk-20"),
      false)
    val mixed = IndexMaintainStream.estimatedCommittedKeys(spark, root)
    // the stripped delta now reads at /10 — exactly 2x its marked share
    assert(math.abs(mixed - (marked / 2) * 3) < 30000L,
      s"mixed estimate $mixed vs marked $marked")
  }

  test("literalInScan ≡ one big isin, with no pushed IN deeper than " +
       "the chunk (one scan leg per chunk)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = tmp("inchunk") + "/state"
    spark.range(0, 20000).select(md5(col("id").cast("string")).as("k"))
      .write.parquet(dir)
    val state = spark.read.parquet(dir)
    // 1200 probe values (~600 present, ~600 foreign) — past one chunk,
    // exactly the regime whose single pushed IN blew the task stack on
    // the 1B rung
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val values: Seq[Any] =
      (0L until 600L).map(i => md5Hex(i.toString)) ++
      (0L until 600L).map(i => s"not-a-hash-$i")
    val chunked = IndexMaintainStream.literalInScan(state, "k", values)
    val direct = state.filter(col("k").isin(values: _*))
    assert(chunked.collect().map(_.getString(0)).sorted.toSeq ===
      direct.collect().map(_.getString(0)).sorted.toSeq)
    // one scan per ceil(1200/512) = 3 chunks, each leg's IN ≤ 512 deep
    val scans = chunked.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s }
    assert(scans.size ===
      (values.size + GraftSession.InScanChunk - 1) / GraftSession.InScanChunk)
    scans.foreach { s =>
      val ins = s.dataFilters.flatMap(_.collect {
        case i: org.apache.spark.sql.catalyst.expressions.In => i.list.size
        case i: org.apache.spark.sql.catalyst.expressions.InSet => i.hset.size
      })
      assert(ins.nonEmpty && ins.forall(_ <= GraftSession.InScanChunk),
        s"scan leg pushes an IN deeper than the chunk: $ins")
    }
  }
}
