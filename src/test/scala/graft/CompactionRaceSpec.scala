package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.normText
import graft.functions.expressions.BloomFileCache
import graft.streaming.{IndexMaintainStream, PretrainStream}

/** End-to-end proof of the compaction race's FULL recovery story —
  * round 12 made a missing bloom shard fail LOUDLY
  * (BloomFileProbe.load propagates FNF; BloomFileCacheSpec pins that
  * in isolation), but nothing drove the actual interleaving: an
  * in-flight epoch's plan holds the delta path list it captured at
  * probe-build time while a concurrent `compact` + `dropCovered`
  * deletes those very deltas under it. This spec interleaves the two
  * deterministically at their ONLY shared state (the filesystem):
  * the stale plan is built exactly the way
  * IndexMaintainStream.committedKeys builds it (bloomProbe over the
  * then-visible sidecar paths), compaction runs to completion, the
  * cache is cleared to stand in for the cold executor the race
  * hazards on (a warm executor masks the sidecar load but its verify
  * scan holds the same doomed hash paths), and
  * only then does the stale plan execute. Asserted: the task fails
  * with FileNotFoundException at the root of the cause chain — never
  * a silent empty-filter pass — and the re-delivered epoch, planned
  * against the fresh listing (the cbatch run + its rebuilt sidecar),
  * commits output BYTE-IDENTICAL to a control root that never raced,
  * including suppressing a cross-epoch duplicate THROUGH the
  * compacted sidecar (healing proves the probe path, not just the
  * commit). */
class CompactionRaceSpec extends AnyFunSuite {
  import TestSpark._
  import PretrainStreamSpec.Doc

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def doc(id: Long, contentId: Long) =
    Doc(id, "en",
      (0 until 40).map(j => s"r${contentId}w$j").mkString(" ") +
        " the of and a")

  /** Epoch fixtures shared by the raced and control roots: epoch 3
    * re-sends two of epoch 0's contents (cross-epoch dups that must be
    * verified against the COMPACTED state after the race heals). */
  private def batch(ep: Int): Seq[Doc] = {
    val base = ep * 30L
    if (ep < 3) (base until base + 30L).map(i => doc(i, i))
    else Seq(doc(90L, 0L), doc(91L, 1L)) ++
      (92L until 110L).map(i => doc(i, i))
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq

  test("dropCovered under an in-flight probe fails the task loudly; " +
       "re-delivery heals byte-identically against the cbatch run") {
    import spark.implicits._
    val empty = spark.emptyDataset[Doc].select(col("doc_id").as("train_doc_id"))
    val raced = tmp("racedroot")

    (0 to 2).foreach { ep =>
      PretrainStream.processBatch(batch(ep).toDF(), empty, raced,
        ep.toLong, pregateMinKeys = 0L)
    }

    // The in-flight epoch-3 plan, captured EXACTLY as
    // IndexMaintainStream.committedKeys captures it: list visible
    // deltas now, bake their sidecar paths (and shard counts — a
    // driver-side listing at plan-build time) into the probe column.
    // Execution comes later.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val staleDeltas = fs.listStatus(new org.apache.hadoop.fs.Path(raced))
      .map(_.getPath).filter(_.getName.startsWith("batch="))
      .sortBy(_.getName).toSeq
    assert(staleDeltas.size === 3)
    val probe = IndexMaintainStream.bloomProbe(spark,
      staleDeltas.map(d => s"$d/bloom"), xxhash64(col("norm_hash"))).get
    val inFlight = batch(3).toDF()
      .select(md5(normText(col("text"))).as("norm_hash"))
      .filter(probe)

    // The concurrent maintenance call runs to completion: cbatch
    // committed, covered deltas (and their sidecars) DROPPED.
    PretrainStream.compact(spark, raced)
    staleDeltas.foreach(d => assert(!fs.exists(d), s"$d must be dropped"))

    // Cold-executor condition — the hazard window the scaladoc names.
    // (A warm cache would answer the probe from memory; correct, since
    // sidecars are immutable — the race only bites a cold load.)
    BloomFileCache.clear()
    val ex = intercept[Exception](inFlight.count())
    assert(causes(ex).exists(_.isInstanceOf[java.io.FileNotFoundException]),
      s"stale probe must fail with FNF in the cause chain, got: " +
        causes(ex).map(_.getClass.getSimpleName).mkString(" <- "))

    // foreachBatch's contract: the failed epoch is RE-DELIVERED with
    // the same id; its fresh plan lists the compacted run. It must
    // commit (true = not a duplicate delivery)…
    assert(PretrainStream.processBatch(batch(3).toDF(), empty, raced,
      3L, pregateMinKeys = 0L))

    // …and the healed root must be byte-identical to a control root
    // that ran the same four epochs with compaction at the same point
    // but NO in-flight probe racing it.
    val control = tmp("controlroot")
    (0 to 2).foreach { ep =>
      PretrainStream.processBatch(batch(ep).toDF(), empty, control,
        ep.toLong, pregateMinKeys = 0L)
    }
    PretrainStream.compact(spark, control)
    PretrainStream.processBatch(batch(3).toDF(), empty, control,
      3L, pregateMinKeys = 0L)

    def dump(root: String, table: String): Seq[String] =
      IndexMaintainStream.readTable(spark, root, table)
        .collect().map(_.toString).sorted.toSeq
    assert(dump(raced, "docs") === dump(control, "docs"))
    assert(dump(raced, "hashes") === dump(control, "hashes"))

    // Healing exercised the PROBE path, not just the commit: the
    // re-delivered epoch's cross-epoch dups (ids 90, 91 re-sending
    // epoch 0 content) were suppressed through the cbatch sidecar +
    // clustered verify.
    val accepted = PretrainStream.acceptedDocs(spark, raced)
      .select("doc_id").as[Long].collect().toSet
    assert(accepted.intersect(Set(90L, 91L)).isEmpty,
      "cross-epoch dups must be verified away against the compacted run")
    assert((92L until 110L).count(accepted) > 0)
  }
}
