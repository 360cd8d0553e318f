package graft

import org.scalatest.funsuite.AnyFunSuite

/** Quality (recall) checks for the approximate dedup paths on synthetic
  * corpora with planted near-duplicates — the rows-only operators get a
  * semantic test even though no SQL oracle can check them. */
class DedupQualitySpec extends AnyFunSuite {
  import TestSpark._

  // 10 base documents plus a near-duplicate of each (one word changed),
  // plus 20 unrelated documents of distinct vocabulary.
  private def corpus() = {
    import spark.implicits._
    val base = (0 until 10).map { i =>
      val words = (0 until 40).map(j => s"w${i}_${j % 25}")
      (i.toLong, words.mkString(" "))
    }
    val nearDups = base.map { case (id, text) =>
      (id + 100, text.replaceFirst("_3 ", "_changed "))
    }
    val noise = (0 until 20).map { i =>
      (1000L + i, (0 until 40).map(j => s"n${i}_$j").mkString(" "))
    }
    (base ++ nearDups ++ noise).toDF("doc_id", "text")
  }

  test("minhash LSH recovers planted near-duplicate pairs") {
    val pairs = dedup.Dedup.minhashPairs(corpus())
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val planted = (0 until 10).map(i => (i.toLong, i + 100L)).toSet
    val found = planted.intersect(pairs)
    // 4 bands × 4 rows at jaccard ~0.9 → expected recall ≈ 1
    assert(found.size >= 8, s"minhash found only ${found.size}/10 planted pairs")
    // and no cross-vocabulary false positives
    val falseCross = pairs.filter { case (a, b) =>
      (a < 1000) != (b < 1000)
    }
    assert(falseCross.isEmpty)
  }

  // 20 base 64-dim vectors plus a near-duplicate of each (small
  // deterministic perturbation, cos ≳ 0.998), plus 100 unrelated
  // random vectors (pairwise cos ≈ 0 ± 0.12).
  private def embCorpus() = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def vec() = Array.fill(64)(rnd.nextGaussian())
    val base = (0 until 20).map(i => (i.toLong, vec()))
    val dups = base.map { case (id, v) =>
      (id + 100L, v.map(_ + rnd.nextGaussian() * 0.05))
    }
    val noise = (0 until 100).map(i => (1000L + i, vec()))
    (base ++ dups ++ noise).toDF("vec_id", "embedding")
  }

  test("embedding LSH recovers planted near-dups at the sf0.1-scale band width") {
    // planesPerBand=13 is what the corpus-scaled width resolves to at
    // N=5000 — recall must survive the widening (1-(1-p^13)^16 ≈ 1 at
    // cos 0.998)
    val pairs = dedup.Dedup.embedLshPairs(embCorpus(),
        bands = 16, planesPerBand = 13, threshold = 0.9)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val planted = (0 until 20).map(i => (i.toLong, i + 100L)).toSet
    val found = planted.intersect(pairs)
    assert(found.size >= 18,
      s"embedding LSH found only ${found.size}/20 planted pairs")
    // random-vector pairs sit near cos 0 — none can pass the threshold
    assert(pairs.forall { case (a, b) => planted.contains((a, b)) })
  }

  test("oversized buckets star-expand instead of exploding quadratically") {
    import spark.implicits._
    // 200 identical vectors: every band puts all of them in one bucket
    val v = Array.fill(64)(1.0)
    val df = (0 until 200).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    val pairs = dedup.Dedup.embedLshPairs(df,
        bands = 4, planesPerBand = 8, threshold = 0.5, maxBucket = 50)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    // star fallback: only (min, other) pairs — 199 edges, not 19900
    assert(pairs.length === 199)
    assert(pairs.forall(_._1 === 0L))
  }

  test("simhash recovers planted near-duplicate pairs at low hamming") {
    val pairs = dedup.Dedup.simhashPairs(corpus())
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Long]("hamming")))
    val planted = (0 until 10).map(i => (i.toLong, i + 100L)).toSet
    val found = planted.intersect(pairs.map(p => (p._1, p._2)).toSet)
    assert(found.size >= 8, s"simhash found only ${found.size}/10 planted pairs")
    // planted near-dups should sit at much lower hamming than anything else
    val plantedHamming = pairs.filter(p => planted.contains((p._1, p._2)))
      .map(_._3)
    assert(plantedHamming.forall(_ <= 8))
  }

  // metric names carry a per-invocation "#N" suffix (Spark rejects
  // duplicate observation names in one plan) — match by prefix
  private def observedMetric(df: org.apache.spark.sql.DataFrame,
                             name: String, field: String): Long = {
    df.collect()
    df.queryExecution.observedMetrics.collectFirst {
      case (k, row) if k == name || k.startsWith(name + "#") =>
        row.getAs[Long](field)
    }.getOrElse(fail(s"no observed metric named $name"))
  }

  // The planted hot-bucket corpora all pair a degenerate hot bucket (30
  // docs sharing one stopword-like shingle/fingerprint, maxBucket=10)
  // with ONE genuine near-dup pair on private vocabulary — the
  // production shape. (A corpus where the guard empties the output
  // entirely also loses the audit: AQE's empty-relation propagation
  // prunes the CollectMetrics node along with the rest of the plan.)

  test("jaccard drops hot-shingle buckets and audits the drop") {
    import spark.implicits._
    val shared = (0 until 12).map(j => s"p$j").mkString(" ")
    val docs = ((0 until 30).map { i =>
      (i.toLong, s"aaa bbb ccc " + (0 until 10).map(j => s"u${i}x$j").mkString(" "))
    } ++ Seq((200L, shared), (201L, shared))).toDF("doc_id", "text")
    val pairs = dedup.Dedup.jaccardPairsOn(docs, maxBucket = 10)
    val got = pairs.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // only the genuine pair survives; nothing leaked from the hot bucket
    assert(got === Set((200L, 201L)))
    assert(observedMetric(pairs, "jaccard_hot_shingles", "n_hot_buckets") === 1L)
    assert(observedMetric(pairs, "jaccard_hot_shingles",
      "n_hot_doc_entries") === 30L)
  }

  test("containment flags a planted excerpt at 1.0 where jaccard stays diluted") {
    import spark.implicits._
    val longWords = (0 until 100).map(j => s"c$j")
    val excerpt = longWords.slice(10, 30) // 20 words copied verbatim
    val docs = Seq(
      (1L, longWords.mkString(" ")),
      (2L, excerpt.mkString(" ")),
      (3L, (0 until 30).map(j => s"z$j").mkString(" "))).toDF("doc_id", "text")
    val cont = dedup.Dedup.containmentOn(docs).collect()
    val hit = cont.find(r => r.getAs[Long]("doc_contained") == 2L &&
                             r.getAs[Long]("doc_container") == 1L)
    assert(hit.isDefined, s"excerpt pair missing: ${cont.mkString(";")}")
    assert(hit.get.getAs[Double]("containment") === 1.0,
      "a verbatim excerpt must be fully contained")
    // the symmetric measure dilutes the same pair below 0.25
    val jac = dedup.Dedup.jaccardPairsOn(docs).collect()
      .find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(jac.isDefined && jac.get.getAs[Double]("jaccard") < 0.25,
      s"jaccard should dilute the excerpt: $jac")
  }

  test("winnow drops hot-fingerprint buckets and audits the drop") {
    import spark.implicits._
    // a shared 12-token run fingerprints identically in all 30 docs
    val hotRun = (0 until 12).map(j => s"s$j").mkString(" ")
    val pairRun = (0 until 14).map(j => s"q$j").mkString(" ")
    val docs = ((0 until 30).map { i =>
      (i.toLong, hotRun + " " + (0 until 8).map(j => s"u${i}x$j").mkString(" "))
    } ++ Seq((200L, pairRun), (201L, pairRun))).toDF("doc_id", "text")
    val pairs = dedup.Dedup.winnowPairsOn(docs, maxBucket = 10)
    val got = pairs.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got === Set((200L, 201L)))
    assert(observedMetric(pairs, "winnow_hot_fps", "n_hot_buckets") >= 1L)
  }

  test("contamination drops hot-shingle buckets and audits the drop") {
    import spark.implicits._
    import java.security.MessageDigest
    def nibble(id: Long): Int = Integer.parseInt(
      MessageDigest.getInstance("MD5").digest(id.toString.getBytes)
        .map("%02x".format(_)).mkString.substring(0, 1), 16)
    val evalIds = (0L until 2000L).filter(nibble(_) == 15).take(2)
    val trainIds = (0L until 2000L).filter(nibble(_) != 15).take(30)
    val shared = (0 until 12).map(j => s"p$j").mkString(" ")
    // hot shingle across eval#0 + 29 train docs; genuine leak between
    // train#29 and eval#1 on private vocabulary
    val docs = ((evalIds.take(1) ++ trainIds.take(29)).map { id =>
      (id, s"aaa bbb ccc " + (0 until 10).map(j => s"u${id}x$j").mkString(" "))
    } ++ Seq((trainIds(29), shared), (evalIds(1), shared))).toDF("doc_id", "text")
    val hits = dedup.Dedup.contaminationOn(docs, maxBucket = 10)
    val got = hits.collect().map(r => (r.getAs[Long]("train_doc_id"),
      r.getAs[Long]("eval_doc_id"))).toSet
    assert(got === Set((trainIds(29), evalIds(1))))
    assert(observedMetric(hits, "contamination_hot_shingles",
      "n_hot_buckets") === 1L)
  }

  test("simhash star-expands oversized buckets instead of all-pairs") {
    import spark.implicits._
    val text = (0 until 20).map(j => s"w$j").mkString(" ")
    val docs = (0 until 50).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val pairs = dedup.Dedup.simhashPairs(docs, maxBucket = 10)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    // identical docs, identical simhash: star = (0, i) edges only
    assert(pairs.length === 49)
    assert(pairs.forall(_._1 === 0L))
  }

  test("minhash star-expands oversized buckets instead of all-pairs") {
    import spark.implicits._
    val text = (0 until 20).map(j => s"w$j").mkString(" ")
    val docs = (0 until 50).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val pairs = dedup.Dedup.minhashPairs(docs, maxBucket = 10)
    val rows = pairs.collect().map(r => (r.getAs[Long]("doc_a"),
      r.getAs[Long]("doc_b")))
    assert(rows.length === 49)
    assert(rows.forall(_._1 === 0L))
    assert(observedMetric(pairs, "minhash_hot_buckets", "n_hot_buckets") >= 1L)
  }

  test("verify stage shingles ONLY candidate-pair docs (plan + rows)") {
    import spark.implicits._
    val docs = corpus()
    val cands = dedup.Dedup.minhashPairs(docs)
      .select($"doc_a", $"doc_b")
    val ex = dedup.Dedup.candidateShingles(docs, cands)
    // plan lock: the doc scan is semi-join-bounded before the explode
    val plan = ex.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"candidateShingles must semi-join docs to candidate ids:\n$plan")
    // row lock: every shingled doc appears in a candidate pair, and the
    // noise docs (never candidates) are not shingled at all
    val candIds = cands.collect()
      .flatMap(r => Seq(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val shingled = ex.select($"doc_id").distinct()
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(shingled === candIds)
    assert(shingled.size < docs.count(),
      "verify input must be a strict subset of the corpus")
  }

  test("ngram-incremental: batch near-dups of corpus detected, no self-pairing") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 400 docs of per-id vocabulary, EXCEPT ids 200..399 repeat the text
    // of id-200 (a near-dup partner across the md5 batch/corpus split,
    // whichever side each id lands on)
    val docs = (0 until 400).map { i =>
      val base = if (i >= 200) i - 200 else i
      val words = (0 until 30).map(j => s"v${base}_$j")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val out = dedup.Dedup.ngramIncrementalOn(docs)
    val isBatch = (id: Long) => {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      ((d(0) >> 4) & 0xf) == 0
    }
    val rows = out.collect().map(r =>
      r.getAs[Long]("doc_id") ->
        (r.getAs[String]("verdict"), Option(r.get(2)).map(_.toString.toLong)))
      .toMap
    // output universe is EXACTLY the batch split
    assert(rows.keySet === (0L until 400L).filter(isBatch).toSet)
    rows.foreach { case (id, (verdict, matched)) =>
      val partner = if (id >= 200) id - 200 else id + 200
      if (!isBatch(partner)) {
        // exact-copy partner sits in the corpus → must be found
        assert(verdict === "near_dup_of_corpus", s"doc $id: $verdict")
        assert(matched.contains(partner), s"doc $id matched $matched")
      } else {
        // partner is ALSO in the batch: batch never self-pairs, and no
        // other corpus doc shares vocabulary → verdict must be new
        assert(verdict === "new", s"doc $id: $verdict (batch self-pair?)")
        assert(matched.isEmpty)
      }
    }
  }

  test("minhash-incremental: exact copies across the split are found; batch never self-pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // same fixture as ngram-incremental: ids 200..399 copy ids 0..199
    val docs = (0 until 400).map { i =>
      val base = if (i >= 200) i - 200 else i
      val words = (0 until 30).map(j => s"v${base}_$j")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val out = dedup.Dedup.minhashIncrementalOn(docs)
    val isBatch = (id: Long) => {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      ((d(0) >> 4) & 0xf) == 0
    }
    val rows = out.collect().map(r =>
      r.getAs[Long]("doc_id") ->
        (r.getAs[String]("verdict"), Option(r.get(2)).map(_.toString.toLong)))
      .toMap
    assert(rows.keySet === (0L until 400L).filter(isBatch).toSet)
    rows.foreach { case (id, (verdict, matched)) =>
      val partner = if (id >= 200) id - 200 else id + 200
      if (!isBatch(partner)) {
        // identical text ⇒ identical signature ⇒ every band collides:
        // LSH recall is GUARANTEED for exact copies, and exact verify
        // scores jaccard 1.0
        assert(verdict === "near_dup_of_corpus", s"doc $id: $verdict")
        assert(matched.contains(partner), s"doc $id matched $matched")
      } else {
        assert(verdict === "new", s"doc $id: $verdict (batch self-pair?)")
      }
    }
    // the exact-ngram incremental on the same fixture agrees verdict-
    // for-verdict here (recall gap only appears for PARTIAL overlaps)
    val exact = dedup.Dedup.ngramIncrementalOn(docs).collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    rows.foreach { case (id, (v, _)) => assert(exact(id) === v, s"doc $id") }
  }

  test("embed-incremental: planted batch near-dups found, corpus never self-pairs") {
    import spark.implicits._
    // 400 unit-ish vectors in one label block: ids 200..399 copy the
    // direction of id-200 (cos = 1.0 with the partner, ~0 with others)
    val rnd64 = new scala.util.Random(7)
    val dirs = (0 until 200).map(_ => Array.fill(64)(rnd64.nextGaussian().toFloat))
    val e = (0 until 400).map { i =>
      (i.toLong, 1, dirs(i % 200).clone())
    }.toDF("vec_id", "label", "embedding")
    val out = dedup.Dedup.embedIncrementalOn(e)
    val isBatch = (id: Long) => {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      ((d(0) >> 4) & 0xf) == 0
    }
    val rows = out.collect().map(r =>
      r.getAs[Long]("vec_id") ->
        (r.getAs[String]("verdict"), Option(r.get(2)).map(_.toString.toLong)))
      .toMap
    assert(rows.keySet === (0L until 400L).filter(isBatch).toSet)
    var plantedChecked = 0
    rows.foreach { case (id, (verdict, matched)) =>
      val partner = if (id >= 200) id - 200 else id + 200
      if (!isBatch(partner)) {
        assert(verdict === "near_dup_of_corpus", s"vec $id: $verdict")
        assert(matched.contains(partner), s"vec $id matched $matched")
        plantedChecked += 1
      } else {
        // partner also in batch: batch never self-pairs; 64-dim random
        // directions stay below the 0.9 near-dup bar
        assert(verdict !== "near_dup_of_corpus", s"vec $id: $verdict")
      }
    }
    assert(plantedChecked > 0)
  }

  test("minhash-verified pairs are a precision-1.0 subset of exact jaccard") {
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val verified = toMap(dedup.Dedup.minhashVerified(spark, Sf))
    val exact = toMap(dedup.Dedup.ngramJaccard(spark, Sf))
    assert(verified.nonEmpty)
    verified.foreach { case (pair, j) =>
      assert(exact.get(pair).contains(j),
        s"pair $pair verified=$j exact=${exact.get(pair)}")
    }
  }
}
