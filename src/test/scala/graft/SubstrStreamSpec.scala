package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.Wire
import graft.streaming.SubstrStream

object SubstrStreamSpec {
  case class Doc(doc_id: Long, text: String)
}

/** Streaming exact-substring dedup: spans measured against the corpus
  * SO FAR (incrementalSpansOn's contract made continuous) — a run first
  * seen in epoch N flags arrivals from epoch N+1 on, batch-internal
  * duplication stays out of scope, re-delivery is a no-op, and
  * compaction (which dedups the gram set) changes nothing probed. */
class SubstrStreamSpec extends AnyFunSuite {
  import TestSpark._
  import SubstrStreamSpec.Doc

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def words(prefix: String, n: Int) =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  private def spans(root: String): Set[(Long, Long, Long, Long)] =
    SubstrStream.spansSoFar(spark, root)
      .select("doc_id", "span_start", "span_end", "epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

  test("spans flag against prior epochs only; the index grows on the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("substrstream")

    val runA = words("aa", 10)
    val runC = words("cc", 10)
    val input = MemoryStream[Doc]
    val q = SubstrStream.start(input.toDF(), root)

    // epoch 0: A introduces runA; E & F share a run INSIDE the batch
    val runEF = words("ef", 10)
    input.addData(Seq(
      Doc(1L, words("p", 3) + " " + runA),
      Doc(50L, runEF + " " + words("e", 3)),
      Doc(51L, runEF + " " + words("f", 3))))
    q.processAllAvailable()
    assert(spans(root).isEmpty) // nothing prior; batch-internal excluded

    // epoch 1: C quotes runA (prior) and introduces runC
    input.addData(Seq(Doc(2L, runC + " " + runA)))
    q.processAllAvailable()
    assert(spans(root) === Set((2L, 10L, 19L, 1L)))

    // epoch 2: D quotes runC (first seen in epoch 1) and runEF (epoch 0)
    input.addData(Seq(Doc(3L, runC + " zz0 " + runEF)))
    q.processAllAvailable()
    q.stop()
    assert(spans(root) === Set(
      (2L, 10L, 19L, 1L),
      (3L, 0L, 9L, 2L), (3L, 11L, 20L, 2L)))

    // re-delivery of a committed epoch is a no-op
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    assert(!SubstrStream.processBatch(
      Seq(Doc(2L, runC + " " + runA)).toDF(), root, epoch = 1L))
    val before = spans(root)

    // compaction: dedups grams, preserves spans and future probes
    SubstrStream.compact(spark, root)
    assert(spans(root) === before)
    assert(SubstrStream.processBatch(
      Seq(Doc(9L, runA)).toDF(), root, epoch = 3L))
    assert(spans(root).contains((9L, 0L, 9L, 3L)))
  }

  test("spans are read under the declared SpansSchema: it equals parquet " +
       "inference on both wires, and spansSoFar opens with no job") {
    import spark.implicits._
    val runA = words("sa", 10)
    Seq(Wire.Text, Wire.Hashed).foreach { wire =>
      val root = tmp(s"substrspans$wire")
      SubstrStream.processBatch(Seq(Doc(1L, runA)).toDF(), root, 0L, wire)
      SubstrStream.processBatch(
        Seq(Doc(2L, words("q", 2) + " " + runA)).toDF(), root, 1L, wire)
      def inferred =
        streaming.IndexMaintainStream.readTable(spark, root, "spans").schema
      assert(inferred === SubstrStream.SpansSchema, s"wire=$wire")
      assert(JobCount.jobsIn(spark, s"spans-open-$wire") {
        SubstrStream.spansSoFar(spark, root)
      } === 0, s"wire=$wire")
      assert(spans(root) === Set((2L, 2L, 11L, 1L)), s"wire=$wire")
      // the compacted copy keeps the schema
      SubstrStream.compact(spark, root)
      assert(inferred === SubstrStream.SpansSchema, s"wire=$wire compacted")
      assert(spans(root) === Set((2L, 2L, 11L, 1L)), s"wire=$wire compacted")
    }
  }

  test("pregate epochs release their checkpointed positives — no " +
       "block accumulation across micro-batches") {
    import spark.implicits._
    val root = tmp("substrblocks")
    val runA = words("ba", 12)
    // epoch 0 commits grams + sidecar
    SubstrStream.processBatch(Seq(Doc(1L, runA)).toDF(), root, 0L,
      pregateMinKeys = 0L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // epochs 1-3 probe with non-empty positives (each quotes runA)
    (1 to 3).foreach { ep =>
      SubstrStream.processBatch(
        Seq(Doc(ep + 1L, words(s"n$ep", 3) + " " + runA)).toDF(),
        root, ep.toLong, pregateMinKeys = 0L)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet === before,
      "each epoch's eagerly-checkpointed positives must be released")
  }

  test("hashed wire: same ingest flags identical spans, index stores longs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val strRoot = tmp("substrstr")
    val khRoot = tmp("substrkh")

    val runA = words("aa", 10)
    val runC = words("cc", 10)
    val batches = Seq(
      Seq(Doc(1L, words("p", 3) + " " + runA)),
      Seq(Doc(2L, runC + " " + runA)),
      Seq(Doc(3L, runC + " zz0 " + runA)))
    // drive BOTH wire forms through the identical epoch sequence
    Seq((strRoot, Wire.Text), (khRoot, Wire.Hashed)).foreach { case (root, wire) =>
      val input = MemoryStream[Doc]
      val q = SubstrStream.start(input.toDF(), root, wire)
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      q.stop()
    }
    assert(spans(strRoot).nonEmpty)
    assert(spans(khRoot) === spans(strRoot))

    // the hashed index is 8-byte longs, never the gram string
    val grams = streaming.IndexMaintainStream.readTable(spark, khRoot, "grams")
    assert(grams.schema.fields.map(f => (f.name, f.dataType.typeName))
      .toSeq === Seq(("kh", "long")))

    // compaction under the hashed key preserves spans and future probes
    SubstrStream.compact(spark, khRoot)
    assert(spans(khRoot) === spans(strRoot))
    assert(SubstrStream.processBatch(
      Seq(Doc(9L, runA)).toDF(), khRoot, epoch = 3L, wire = Wire.Hashed))
    assert(spans(khRoot).contains((9L, 0L, 9L, 3L)))
  }

  test("established root keeps its committed wire form over a wrong flag") {
    import spark.implicits._
    val root = tmp("substrwire")
    val runA = words("aa", 10)

    // first batch of an empty root: the flag decides → hashed wire
    assert(SubstrStream.processBatch(
      Seq(Doc(1L, runA)).toDF(), root, epoch = 0L, wire = Wire.Hashed))

    // a misconfigured restart passes Wire.Text — the committed gram
    // schema (kh) wins: the batch probes AND appends in the hashed form,
    // so the prior-epoch run is still flagged and the index stays longs
    assert(SubstrStream.processBatch(
      Seq(Doc(2L, words("q", 2) + " " + runA)).toDF(),
      root, epoch = 1L, wire = Wire.Text))
    assert(spans(root).contains((2L, 2L, 11L, 1L)))
    val grams = streaming.IndexMaintainStream.readTable(spark, root, "grams")
    assert(grams.schema.fields.map(f => (f.name, f.dataType.typeName))
      .toSeq === Seq(("kh", "long")))

    // compact clusters on the ESTABLISHED key — no analysis error,
    // schema unchanged, future probes intact
    SubstrStream.compact(spark, root)
    assert(streaming.IndexMaintainStream.readTable(spark, root, "grams")
      .columns.toSeq === Seq("kh"))
    assert(SubstrStream.processBatch(
      Seq(Doc(3L, runA)).toDF(), root, epoch = 2L, wire = Wire.Text))
    assert(spans(root).contains((3L, 0L, 9L, 2L)))
  }

  test("verify fallback past InPushdownCap (broadcast semi branch) ≡ " +
       "naive probe, both wire forms") {
    import spark.implicits._
    // a 20-word repeated run → 13 confirmed gram keys in epoch 1; with
    // the cap lowered to 2 the positives collect overflows and the
    // verify takes the broadcast left-semi branch (never reached by
    // test-sized batches at the production cap of 10k)
    val runL = words("LL", 20)
    val batches = Seq(
      Seq(Doc(1L, runL)),
      Seq(Doc(2L, words("q", 2) + " " + runL), Doc(3L, words("n", 12))))
    val prior = streaming.IndexMaintainStream.InPushdownCap
    try {
      streaming.IndexMaintainStream.InPushdownCap = 2
      Seq(Wire.Text, Wire.Hashed).foreach { wire =>
        val roots = Seq(0L, Long.MaxValue).map { minKeys =>
          val root = tmp(s"substrcap$wire$minKeys")
          batches.zipWithIndex.foreach { case (b, ep) =>
            SubstrStream.processBatch(b.toDF(), root, ep.toLong, wire,
              pregateMinKeys = minKeys)
          }
          root
        }
        assert(spans(roots.head).contains((2L, 2L, 21L, 1L)),
          s"run must flag through the broadcast branch (wire=$wire)")
        assert(spans(roots.head) === spans(roots(1)),
          s"fallback must not change spans (wire=$wire)")
      }
    } finally streaming.IndexMaintainStream.InPushdownCap = prior
  }

  test("bloom pregate ≡ naive probe; sidecar rides deltas; pre-bloom " +
       "deltas fall back exact") {
    import spark.implicits._
    val runA = words("aa", 10)
    val runC = words("cc", 10)
    val batches = Seq(
      Seq(Doc(1L, words("p", 3) + " " + runA)),
      Seq(Doc(2L, runC + " " + runA), Doc(10L, words("n", 12))),
      Seq(Doc(3L, runC + " zz0 " + runA)))

    // A/B: both wire forms, pregate vs naive — span sets identical
    Seq(Wire.Text, Wire.Hashed).foreach { wire =>
      val roots = Seq(0L, Long.MaxValue).map { minKeys =>
        val root = tmp(s"substrab$wire$minKeys")
        batches.zipWithIndex.foreach { case (b, ep) =>
          // minKeys = 0 forces the pregate arm (the default state gate
          // would correctly pick naive at test-sized state), MaxValue
          // the naive arm
          SubstrStream.processBatch(b.toDF(), root, ep.toLong, wire,
            pregateMinKeys = minKeys)
        }
        root
      }
      assert(spans(roots.head).nonEmpty)
      assert(spans(roots.head) === spans(roots(1)),
        s"pregate must not change spans (wire=$wire)")
    }

    // sidecar presence + pre-bloom fallback (hashed form)
    val root = tmp("substrbloomfb")
    batches.zipWithIndex.foreach { case (b, ep) =>
      SubstrStream.processBatch(b.toDF(), root, ep.toLong, Wire.Hashed,
        pregateMinKeys = 0L)
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(0, 1, 2).foreach { ep =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/batch=$ep/bloom")), s"epoch $ep delta must carry a bloom")
    }
    // a pre-upgrade delta loses its sidecar: its grams must still probe
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/batch=0/bloom"), true)
    assert(SubstrStream.processBatch(
      Seq(Doc(9L, runA)).toDF(), root, epoch = 3L, wire = Wire.Hashed,
      pregateMinKeys = 0L))
    assert(spans(root).contains((9L, 0L, 9L, 3L)),
      "a run known only to the bloom-less delta must still flag")
    // compaction rebuilds ONE bloom over the folded gram set
    SubstrStream.compact(spark, root)
    val cbatch = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("cbatch=")).head
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$cbatch/bloom")))
    assert(SubstrStream.processBatch(
      Seq(Doc(11L, runC)).toDF(), root, epoch = 4L, wire = Wire.Hashed,
      pregateMinKeys = 0L))
    assert(spans(root).contains((11L, 0L, 9L, 4L)),
      "the compacted bloom + clustered grams must still probe")
  }

  test("a root whose arm flips mid-life (naive epochs 0-1, pregate " +
       "epochs 2-3) flags the all-naive root's spans, both wire forms") {
    import spark.implicits._
    val runA = words("ma", 10)
    val runB = words("mb", 10)
    val runC = words("mc", 10)
    // the pregate epochs quote runs that naive epochs committed (probed
    // through the naive arm's sidecars) and, in epoch 3, a run the first
    // pregate epoch committed
    val batches = Seq(
      Seq(Doc(1L, words("p", 3) + " " + runA)),
      Seq(Doc(2L, runB + " " + runA)),
      Seq(Doc(3L, runC + " zz0 " + runB), Doc(4L, words("n", 12))),
      Seq(Doc(5L, runC + " " + runA)))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(Wire.Text, Wire.Hashed).foreach { wire =>
      val arms = Seq[Int => Long](
        ep => if (ep < 2) Long.MaxValue else 0L, _ => Long.MaxValue)
      val Seq(flipped, naive) = arms.zipWithIndex.map { case (minKeys, i) =>
        val root = tmp(s"substrflip$wire$i")
        batches.zipWithIndex.foreach { case (b, ep) =>
          SubstrStream.processBatch(b.toDF(), root, ep.toLong, wire,
            pregateMinKeys = minKeys(ep))
        }
        root
      }
      for (root <- Seq(flipped, naive); ep <- 0 to 3)
        assert(fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/batch=$ep/bloom")), s"epoch $ep of $root must carry a bloom")
      assert(Set(2L, 3L).subsetOf(spans(flipped).map(_._4)),
        s"both pregate epochs must flag spans (wire=$wire)")
      assert(spans(flipped) === spans(naive),
        s"the flip must not change spans (wire=$wire)")
    }
  }
}
