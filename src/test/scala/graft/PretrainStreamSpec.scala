package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.streaming.PretrainStream

object PretrainStreamSpec {
  case class Doc(doc_id: Long, lang: String, text: String)
}

/** The streaming pretrain chain must account EXACTLY what the batch
  * flagship accounts when the ingest is doc_id-ordered — gates, dedup
  * keeper choice, holdout coin, decontamination, all of it — across
  * micro-batching and re-delivery, with a held-out keeper suppressing
  * its whole duplicate group. */
class PretrainStreamSpec extends AnyFunSuite {
  import TestSpark._
  import PretrainStreamSpec.Doc

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("lang").collect().map(_.toString).toSeq

  private lazy val contaminated =
    dedup.Dedup.contamination(spark, TestSpark.Sf)
      .select(col("train_doc_id")).distinct()
      .localCheckpoint(true)

  test("ordered ingest over sf docs ≡ batch pretrainPipeline, exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("pretrainstream")

    val all = Tables.documents(spark, TestSpark.Sf)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[Doc].collect().sortBy(_.doc_id).toSeq

    val input = MemoryStream[Doc]
    val q = PretrainStream.start(input.toDF(), contaminated, root)
    all.grouped(97).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()

    val batchSide = rows(operators.TextOps.pretrainPipeline(spark, TestSpark.Sf))
    assert(rows(PretrainStream.accounting(spark, root)) === batchSide)

    // re-delivery of a committed epoch is a no-op
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    assert(!streaming.PretrainStream.processBatch(
      all.take(97).toDF(), contaminated, root, epoch = 0L))
    assert(rows(PretrainStream.accounting(spark, root)) === batchSide)
  }

  test("unordered ingest: accepted set ≡ an independent first-arrival replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.functions.TextFunctions.normText
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("pretrainshuf")

    val all = Tables.documents(spark, TestSpark.Sf)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[Doc].collect().toSeq
    val shuffled = new scala.util.Random(42).shuffle(all)
    assert(shuffled.map(_.doc_id) !== all.sortBy(_.doc_id).map(_.doc_id),
      "fixture must be a real reorder")
    val batches = shuffled.grouped(97).toSeq

    val input = MemoryStream[Doc]
    val q = PretrainStream.start(input.toDF(), contaminated, root)
    batches.foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()

    // Independent replay of the documented unordered contract over the
    // SAME arrival order: the first-arrived batch wins per content
    // hash (min doc_id within that batch — the batch keeper rule);
    // the winner is accepted unless held out or contaminated, but its
    // hash is seen either way (a held-out keeper suppresses the whole
    // group). Gates/coin reuse the SAME shared per-doc functions the
    // stream does — what this replay exercises independently is the
    // cross-epoch dedup/keeper/commit machinery.
    val meta = operators.TextOps.cleanDocs(all.toDF())
      .withColumn("norm_hash", md5(normText(col("text"))))
      .withColumn("held", operators.TextOps.holdoutCoin(col("doc_id")) === 15)
      .select(col("doc_id"), col("norm_hash"), col("held"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    val contam = contaminated.collect().map(_.getLong(0)).toSet
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = scala.collection.mutable.Set.empty[Long]
    batches.foreach { b =>
      b.flatMap(d => meta.get(d.doc_id).map { case (h, held) =>
          (d.doc_id, h, held) })
        .groupBy(_._2).foreach { case (h, members) =>
          if (!seen(h)) {
            seen += h
            val (kid, _, kheld) = members.minBy(_._1)
            if (!kheld && !contam(kid)) expected += kid
          }
        }
    }
    assert(expected.nonEmpty)
    val accepted = PretrainStream.acceptedDocs(spark, root)
    assert(accepted.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet === expected)
    // dedup invariant regardless of arrival order: one doc per hash
    assert(accepted.groupBy(md5(normText(col("text")))).count()
      .filter(col("count") > 1).isEmpty)
  }

  test("cross-batch duplicate content is accepted once, first arrival wins") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("pretrainxdup")

    // gate-passing and NON-repetitive: unique words + a few distinct
    // stopwords (a repeated stopword frame would trip the Gopher gate)
    val body = (0 until 40).map(j => s"word$j").mkString(" ") + " the of and a"
    val input = MemoryStream[Doc]
    val empty = spark.emptyDataset[Doc].select(col("doc_id").as("train_doc_id"))
    val q = PretrainStream.start(input.toDF(), empty, root)
    input.addData(Seq(Doc(10L, "en", body))); q.processAllAvailable()
    input.addData(Seq(Doc(3L, "en", body), Doc(11L, "fr", "short junk")))
    q.processAllAvailable()
    q.stop()

    val kept = PretrainStream.acceptedDocs(spark, root)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept === Seq(10L)) // doc 3 is later-arriving duplicate content
  }

  test("an epoch with a document of no word token completes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("pretrainnoword")

    val body = (0 until 40).map(j => s"word$j").mkString(" ") + " the of and a"
    val input = MemoryStream[Doc]
    val empty = spark.emptyDataset[Doc].select(col("doc_id").as("train_doc_id"))
    val q = PretrainStream.start(input.toDF(), empty, root)
    // the quality gate scores a document per word token: one with none
    // must be rejected, not fail the epoch
    input.addData(Seq(Doc(1L, "en", "!!! ..."), Doc(2L, "en", body)))
    q.processAllAvailable()
    q.stop()

    val kept = PretrainStream.acceptedDocs(spark, root)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept === Seq(2L))
  }

  test("compaction preserves accounting AND the dedup seen-set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("pretraincompact")

    def doc(i: Long) =
      Doc(i, "en",
        (0 until 40).map(j => s"c${i}w$j").mkString(" ") + " the of and a")

    val input = MemoryStream[Doc]
    val empty = spark.emptyDataset[Doc].select(col("doc_id").as("train_doc_id"))
    val q = PretrainStream.start(input.toDF(), empty, root)
    (0L until 3L).foreach { b =>
      input.addData(Seq(doc(b * 2), doc(b * 2 + 1)))
      q.processAllAvailable()
    }
    val before = rows(PretrainStream.accounting(spark, root))
    PretrainStream.compact(spark, root)
    assert(rows(PretrainStream.accounting(spark, root)) === before)
    // the seen-set survived: re-sent content (new id) is still suppressed
    input.addData(Seq(Doc(999L, "en", doc(0).text)))
    q.processAllAvailable()
    q.stop()
    assert(rows(PretrainStream.accounting(spark, root)) === before)
  }

  test("bloom pregate ≡ naive anti-join path on a mixed dup/unique ingest") {
    import spark.implicits._

    def doc(id: Long, contentId: Long) =
      Doc(id, "en",
        (0 until 40).map(j => s"p${contentId}w$j").mkString(" ") +
          " the of and a")
    // three epochs; epoch 2 repeats epoch 0's content under new ids
    // (cross-epoch dups through the verify stage) plus fresh docs
    val batches = Seq(
      (0L until 30L).map(i => doc(i, i)),
      (30L until 60L).map(i => doc(i, i)),
      (60L until 70L).map(i => doc(i, i - 60)) ++ // dups of epoch 0
        (70L until 90L).map(i => doc(i, i)))

    val empty = spark.emptyDataset[Doc].select(col("doc_id").as("train_doc_id"))
    val roots = Seq(0L, Long.MaxValue).map { minKeys =>
      val root = tmp(s"pretrainab$minKeys")
      batches.zipWithIndex.foreach { case (b, ep) =>
        // minKeys = 0 forces the pregate arm (the default state gate
        // would correctly pick naive at test-sized state), MaxValue
        // the naive arm
        streaming.PretrainStream.processBatch(
          b.toDF(), empty, root, ep.toLong, pregateMinKeys = minKeys)
      }
      root
    }
    val Seq(withGate, naive) = roots.map { r =>
      PretrainStream.acceptedDocs(spark, r)
        .select("doc_id").as[Long].collect().toSet
    }
    assert(withGate === naive)
    assert(withGate.intersect((60L until 70L).toSet).isEmpty,
      "cross-epoch dups must be suppressed on both paths")
    assert(rows(PretrainStream.accounting(spark, roots.head)) ===
      rows(PretrainStream.accounting(spark, roots(1))))
  }

  test("a root whose arm flips mid-life (naive epochs 0-1, pregate " +
       "epochs 2-3) ≡ an all-naive root; every delta carries a sidecar") {
    import spark.implicits._
    def doc(id: Long, contentId: Long) =
      Doc(id, "en",
        (0 until 40).map(j => s"m${contentId}w$j").mkString(" ") +
          " the of and a")
    // the pregate epochs repeat content that naive epochs committed
    // (probed through the naive arm's sidecars) and, in epoch 3,
    // content the first pregate epoch committed
    val batches = Seq(
      (0L until 20L).map(i => doc(i, i)),
      (20L until 40L).map(i => doc(i, i)),
      (40L until 50L).map(i => doc(i, i - 40)) ++ // dups of epoch 0
        (50L until 55L).map(i => doc(i, i - 30)) ++ // dups of epoch 1
        (55L until 65L).map(i => doc(i, i)),
      (65L until 70L).map(i => doc(i, i - 10)) ++ // dups of epoch 2
        (70L until 75L).map(i => doc(i, i - 60)) ++ // dups of epoch 0
        (75L until 85L).map(i => doc(i, i)))
    val empty = spark.emptyDataset[Doc].select(col("doc_id").as("train_doc_id"))
    def ingest(prefix: String, minKeys: Int => Long): String = {
      val root = tmp(prefix)
      batches.zipWithIndex.foreach { case (b, ep) =>
        streaming.PretrainStream.processBatch(
          b.toDF(), empty, root, ep.toLong, pregateMinKeys = minKeys(ep))
      }
      root
    }
    val flipped =
      ingest("pretrainflip", ep => if (ep < 2) Long.MaxValue else 0L)
    val naive = ingest("pretrainflipnaive", _ => Long.MaxValue)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    for (root <- Seq(flipped, naive); ep <- 0 to 3)
      assert(fs.exists(
        new org.apache.hadoop.fs.Path(s"$root/batch=$ep/bloom")),
        s"epoch $ep delta of $root must carry its bloom sidecar")
    val Seq(flippedIds, naiveIds) = Seq(flipped, naive).map { r =>
      PretrainStream.acceptedDocs(spark, r)
        .select("doc_id").as[Long].collect().toSet
    }
    assert(flippedIds === naiveIds)
    assert(flippedIds.intersect(
      ((40L until 55L) ++ (65L until 75L)).toSet).isEmpty,
      "cross-epoch dups must be suppressed on both sides of the flip")
    assert(rows(PretrainStream.accounting(spark, flipped)) ===
      rows(PretrainStream.accounting(spark, naive)))
  }

  test("pregate epochs release their checkpointed positives — no " +
       "block accumulation across micro-batches") {
    import spark.implicits._
    def doc(id: Long, contentId: Long) =
      Doc(id, "en",
        (0 until 40).map(j => s"b${contentId}w$j").mkString(" ") +
          " the of and a")
    val empty = spark.emptyDataset[Doc].select(col("doc_id").as("train_doc_id"))
    val root = tmp("pretrainblocks")
    // epoch 0 commits state + sidecar (no probe yet — nothing visible)
    streaming.PretrainStream.processBatch(
      (0L until 30L).map(i => doc(i, i)).toDF(), empty, root, 0L,
      pregateMinKeys = 0L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // epochs 1-3 run the pregate probe with NON-EMPTY positives (every
    // third doc repeats prior content), so each epoch eagerly
    // checkpoints a positives frame — which must be gone afterwards
    (1 to 3).foreach { ep =>
      val base = ep * 30L
      streaming.PretrainStream.processBatch(
        (base until base + 30L)
          .map(i => doc(i, if (i % 3 == 0) i - 30L else i)).toDF(),
        empty, root, ep.toLong, pregateMinKeys = 0L)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet === before,
      "each epoch's eagerly-checkpointed positives must be released " +
      "(Dataset.unpersist would not do it — CheckpointBlocks does)")
    // the below-crossover default (pregateMinKeys unset → naive
    // anti-join) pins only the epoch's keepers, which must be gone
    // after every epoch too
    (4 to 6).foreach { ep =>
      val base = ep * 30L
      streaming.PretrainStream.processBatch(
        (base until base + 30L)
          .map(i => doc(i, if (i % 3 == 0) i - 30L else i)).toDF(),
        empty, root, ep.toLong)
      assert(spark.sparkContext.getPersistentRDDs.keySet === before,
        s"default-path epoch $ep must release its pinned keepers")
    }
  }

  test("bloom sidecar rides every delta, survives compaction, and " +
       "pre-bloom deltas keep exact dedup") {
    import spark.implicits._

    def doc(id: Long) =
      Doc(id, "en",
        (0 until 40).map(j => s"s${id}w$j").mkString(" ") + " the of and a")
    val root = tmp("pretrainbloom")
    val empty = spark.emptyDataset[Doc].select(col("doc_id").as("train_doc_id"))
    streaming.PretrainStream.processBatch(
      Seq(doc(0), doc(1)).toDF(), empty, root, 0L, pregateMinKeys = 0L)
    streaming.PretrainStream.processBatch(
      Seq(doc(2), doc(3)).toDF(), empty, root, 1L, pregateMinKeys = 0L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(0, 1).foreach { ep =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/batch=$ep/bloom")),
        s"epoch $ep delta must carry its bloom sidecar")
    }
    // simulate a pre-upgrade root: epoch 0's sidecar vanishes — its
    // hashes must keep the exact anti-join (conservative fallback)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/batch=0/bloom"), true)
    streaming.PretrainStream.processBatch(
      Seq(Doc(100L, "en", doc(0).text), doc(101)).toDF(), empty, root, 2L,
      pregateMinKeys = 0L)
    val accepted1 = PretrainStream.acceptedDocs(spark, root)
      .select("doc_id").as[Long].collect().toSet
    assert(!accepted1.contains(100L),
      "dup of a bloom-less delta's content must still be suppressed")
    assert(accepted1.contains(101L))
    // compaction folds the hashes AND rebuilds one bloom over them
    PretrainStream.compact(spark, root)
    val cbatch = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("cbatch=")).head
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$cbatch/bloom")))
    streaming.PretrainStream.processBatch(
      Seq(Doc(200L, "en", doc(2).text)).toDF(), empty, root, 3L,
      pregateMinKeys = 0L)
    assert(!PretrainStream.acceptedDocs(spark, root)
      .select("doc_id").as[Long].collect().toSet.contains(200L),
      "the compacted bloom + clustered hashes must still suppress dups")
  }

  test("state-aware gate: pregate engages only past the committed-key " +
       "threshold, estimated from the sidecars' own bytes") {
    import spark.implicits._
    def doc(id: Long) =
      Doc(id, "en",
        (0 until 40).map(j => s"g${id}w$j").mkString(" ") + " the of and a")
    val root = tmp("pretraingate")
    val empty = spark.emptyDataset[Doc].select(col("doc_id").as("train_doc_id"))
    // empty root: nothing committed → gate off for any positive threshold
    assert(!streaming.IndexMaintainStream.pregateActive(spark, root,
      minKeys = 1L))
    streaming.PretrainStream.processBatch(
      (0L until 5L).map(doc).toDF(), empty, root, 0L)
    val est = streaming.IndexMaintainStream.estimatedCommittedKeys(spark, root)
    assert(est > 0L, "sidecar bytes must yield a nonzero key estimate")
    // below threshold → naive; at/above → pregate; 0 forces the
    // pregate arm and Long.MaxValue the naive arm
    assert(!streaming.IndexMaintainStream.pregateActive(spark, root,
      minKeys = est * 1000))
    assert(streaming.IndexMaintainStream.pregateActive(spark, root,
      minKeys = 1L))
    assert(streaming.IndexMaintainStream.pregateActive(spark, root,
      minKeys = 0L))
    assert(!streaming.IndexMaintainStream.pregateActive(spark, root,
      minKeys = Long.MaxValue))
  }

  test("verify fallback past InPushdownCap (broadcast semi branch) ≡ " +
       "naive path") {
    import spark.implicits._
    def doc(id: Long, contentId: Long) =
      Doc(id, "en",
        (0 until 40).map(j => s"f${contentId}w$j").mkString(" ") +
          " the of and a")
    val empty = spark.emptyDataset[Doc].select(col("doc_id").as("train_doc_id"))
    // epoch 1 re-sends 12 of epoch 0's contents (plus 8 fresh): with the
    // cap lowered to 3 the confirmed-positives collect overflows and the
    // verify takes the broadcast left-semi branch — the branch no
    // test-sized batch reaches at the production cap of 10k
    val batches = Seq(
      (0L until 20L).map(i => doc(i, i)),
      (20L until 32L).map(i => doc(i, i - 20)) ++
        (40L until 48L).map(i => doc(i, i)))
    val prior = streaming.IndexMaintainStream.InPushdownCap
    val roots =
      try {
        streaming.IndexMaintainStream.InPushdownCap = 3
        Seq(0L, Long.MaxValue).map { minKeys =>
          val root = tmp(s"pretraincap$minKeys")
          batches.zipWithIndex.foreach { case (b, ep) =>
            streaming.PretrainStream.processBatch(
              b.toDF(), empty, root, ep.toLong, pregateMinKeys = minKeys)
          }
          root
        }
      } finally streaming.IndexMaintainStream.InPushdownCap = prior
    val Seq(gated, naive) = roots.map { r =>
      PretrainStream.acceptedDocs(spark, r)
        .select("doc_id").as[Long].collect().toSet
    }
    assert(gated === naive)
    assert(gated.intersect((20L until 32L).toSet).isEmpty,
      "cross-epoch dups must be suppressed through the broadcast branch")
    // fresh docs accepted (minus any held-out coin ids)
    assert(gated.intersect((40L until 48L).toSet).nonEmpty)
  }

  test("a held-out keeper suppresses its entire duplicate group") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("pretrainholdout")

    // find a doc_id in the holdout bucket (md5 first hex digit == f)
    // and a later id that is NOT held out, so suppression can only come
    // from the committed hash, not the second doc's own coin
    def coin(id: Long): Char =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString.charAt(0)
    val heldOut = (0L until 1000L).find(coin(_) == 'f').get
    val later = (heldOut + 1 until heldOut + 1000L).find(coin(_) != 'f').get
    val body = (0 until 40).map(j => s"token$j").mkString(" ") + " the of and a"

    val input = MemoryStream[Doc]
    val empty = spark.emptyDataset[Doc].select(col("doc_id").as("train_doc_id"))
    val q = PretrainStream.start(input.toDF(), empty, root)
    input.addData(Seq(Doc(heldOut, "en", body))); q.processAllAvailable()
    // same content arrives later under a non-held-out id: must stay out
    input.addData(Seq(Doc(later, "en", body)))
    q.processAllAvailable()
    q.stop()

    assert(PretrainStream.acceptedDocs(spark, root).count() === 0L)
  }
}
