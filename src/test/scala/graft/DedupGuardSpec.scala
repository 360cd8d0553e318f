package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted MEGA-bucket specs for the memory-bounded hot-bucket guard.
  *
  * DedupQualitySpec checks the guard's *semantics* (drops audited, star
  * edges only, no leaked pairs) on small hot buckets. This suite locks
  * the round-8 memory-shape rewrite: bucket membership is collected
  * through the native `graft_bounded_bucket` aggregate, whose buffer
  * stops appending members past `maxBucket + 1` entries while the true
  * count and min member stay exact — so no aggregation buffer ever
  * materializes an over-cap bucket and no unbounded collect_list
  * remains in a guarded plan. Each test plants a bucket far above the
  * cap and asserts (a) output identical to what the corpus yields with
  * the hot docs absent — the drop guard's contract — or to the exact
  * star-edge set, and (b) the audit metrics still fire with exact
  * counts, and (c) the plan shape: the bounded aggregate, no
  * collect_list. */
class DedupGuardSpec extends AnyFunSuite {
  import TestSpark._

  /** 200 docs sharing one stopword-like 12-token run (every word-3-gram
    * of it is a hot shingle at cap 10) on otherwise-private vocabulary,
    * plus two genuine near-dup pairs on vocabulary disjoint from the hot
    * run — so the guarded output over the FULL corpus must equal the
    * unguarded output over the corpus with the hot docs removed. */
  private def megaCorpus() = {
    import spark.implicits._
    val hotRun = (0 until 12).map(j => s"stop$j").mkString(" ")
    val hot = (0 until 200).map { i =>
      (i.toLong, hotRun + " " + (0 until 8).map(j => s"u${i}x$j").mkString(" "))
    }
    val pairA = (0 until 20).map(j => s"a$j").mkString(" ")
    val pairB = (0 until 20).map(j => s"b$j").mkString(" ")
    val genuine = Seq(
      (500L, pairA), (501L, pairA + " a0tail"),
      (600L, pairB), (601L, pairB + " b0tail"))
    (hot ++ genuine).toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame,
                      a: String = "doc_a", b: String = "doc_b") =
    df.collect().map(r => (r.getAs[Long](a), r.getAs[Long](b))).toSet

  private def metric(df: org.apache.spark.sql.DataFrame, name: String,
                     field: String): Long = {
    df.collect()
    df.queryExecution.observedMetrics.collectFirst {
      case (k, row) if k == name || k.startsWith(name + "#") =>
        row.getAs[Long](field)
    }.getOrElse(fail(s"no observed metric named $name"))
  }

  test("jaccard mega-bucket: guarded full corpus ≡ unguarded corpus minus hot docs") {
    val full = megaCorpus()
    val clean = full.filter(org.apache.spark.sql.functions.col("doc_id") >= 500L)
    val guarded = dedup.Dedup.jaccardPairsOn(full, maxBucket = 10)
    val reference = dedup.Dedup.jaccardPairsOn(clean, maxBucket = 1000000)
    val got = guarded.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSet
    val want = reference.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSet
    assert(want.nonEmpty, "fixture must produce genuine pairs")
    assert(got === want)
    // 12-token hot run → 10 word-3-grams, each in 200 docs
    assert(metric(guarded, "jaccard_hot_shingles", "n_hot_buckets") === 10L)
    assert(metric(guarded, "jaccard_hot_shingles",
      "n_hot_doc_entries") === 2000L)
  }

  test("guard plan: ONE bounded-bucket aggregate, no unbounded collect_list") {
    val guarded = dedup.Dedup.jaccardPairsOn(megaCorpus(), maxBucket = 10)
    val plan = guarded.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_bounded_bucket"),
      s"guard must collect through the memory-bounded aggregate:\n$plan")
    assert(!plan.contains("collect_list"),
      "no unbounded collect_list may remain in a guarded generator")
  }

  test("minhash mega-bucket: star edges only, O(|bucket|) output, exact audit") {
    import spark.implicits._
    val text = (0 until 20).map(j => s"w$j").mkString(" ")
    val docs = (0 until 500).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val pairs = dedup.Dedup.minhashPairs(docs, maxBucket = 10)
    val rows = pairSet(pairs)
    assert(rows === (1 until 500).map(i => (0L, i.toLong)).toSet)
    // identical docs collide in all 4 bands → 4 hot band buckets ×500
    assert(metric(pairs, "minhash_hot_buckets", "n_hot_buckets") === 4L)
    assert(metric(pairs, "minhash_hot_buckets", "n_hot_doc_entries") === 2000L)
  }

  test("simhash mega-bucket: star edges only with exact audit") {
    import spark.implicits._
    val text = (0 until 20).map(j => s"w$j").mkString(" ")
    val docs = (0 until 300).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val pairs = dedup.Dedup.simhashPairs(docs, maxBucket = 10)
    assert(pairSet(pairs) === (1 until 300).map(i => (0L, i.toLong)).toSet)
    assert(metric(pairs, "simhash_hot_buckets", "n_hot_buckets") === 4L)
    assert(metric(pairs, "simhash_hot_buckets",
      "n_hot_doc_entries") === 1200L)
  }

  test("star regime keeps genuine under-cap pairs alongside a mega bucket") {
    import spark.implicits._
    val boiler = (0 until 20).map(j => s"w$j").mkString(" ")
    val priv = (0 until 40).map(j => s"p${j % 25}").mkString(" ")
    val docs = ((0 until 100).map(i => (i.toLong, boiler)) ++
      Seq((900L, priv), (901L, priv.replaceFirst("p3 ", "pX ")))
    ).toDF("doc_id", "text")
    val got = pairSet(dedup.Dedup.minhashPairs(docs, maxBucket = 10))
    // the genuine near-dup pair survives on its own (non-hot) buckets
    assert(got.contains((900L, 901L)))
    // the mega bucket contributes only star edges from doc 0
    val mega = got.filter { case (a, b) => a < 100 && b < 100 }
    assert(mega === (1 until 100).map(i => (0L, i.toLong)).toSet)
  }

  test("incremental postings keep singleton buckets (minSize = 1)") {
    import spark.implicits._
    import java.security.MessageDigest
    def nibble(id: Long): Int = Integer.parseInt(
      MessageDigest.getInstance("MD5").digest(id.toString.getBytes)
        .map("%02x".format(_)).mkString.substring(0, 1), 16)
    // one batch doc (nibble 0) matching ONE corpus doc on vocabulary no
    // other doc shares — every matching posting is a singleton bucket
    val batchId = (0L until 200L).find(nibble(_) == 0).get
    val corpusId = (0L until 200L).find(nibble(_) != 0).get
    val text = (0 until 30).map(j => s"uniq$j").mkString(" ")
    val docs = Seq((batchId, text), (corpusId, text + " tail0"))
      .toDF("doc_id", "text")
    val out = dedup.Dedup.ngramIncrementalOn(docs).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("doc_id") === batchId)
    assert(out.head.getAs[String]("verdict") === "near_dup_of_corpus")
    assert(out.head.getAs[Long]("matched_doc_id") === corpusId)
  }

  test("property: star guard ≡ independent reference on random skewed buckets") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.functions.{col, struct}
    import spark.implicits._

    // skewed bucket sizes: most keys small, some far over the cap
    val corpusGen: Gen[(Int, List[(Long, Long)])] = for {
      cap <- Gen.choose(2, 6)
      nKeys <- Gen.choose(1, 6)
      rows <- Gen.listOfN(nKeys, for {
        k <- Gen.choose(0L, 5L)
        size <- Gen.frequency((3, Gen.choose(1, 4)), (2, Gen.choose(5, 25)))
        ids <- Gen.listOfN(size, Gen.choose(0L, 30L))
      } yield ids.map(id => (k, id))).map(_.flatten)
    } yield (cap, rows)

    def reference(rows: Seq[(Long, Long)], cap: Int): Map[(Long, Long), Int] =
      rows.groupBy(_._1).toSeq.flatMap { case (_, members) =>
        val ids = members.map(_._2)
        if (ids.size > cap) {
          val mn = ids.min
          ids.filter(mn < _).map(m => (mn, m))
        } else if (ids.size >= 2) {
          for (x <- ids; y <- ids; if x < y) yield (x, y)
        } else Nil
      }.groupBy(identity).view.mapValues(_.size).toMap

    (1 to 8).foreach { trial =>
      val (cap, rows) = corpusGen.pureApply(
        org.scalacheck.Gen.Parameters.default, Seed(trial.toLong))
      val df = rows.toDF("k", "doc_id")
      val got = dedup.Dedup.guardedStarPairs(df, Seq("k"),
          struct(col("doc_id")), "doc_id", s"prop_guard_$trial", cap)
        .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got === reference(rows, cap),
        s"trial $trial cap $cap rows $rows")
    }
  }
}
