package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions.reTokens
import graft.operators.BpeVocab
import graft.operators.BpeVocab.Merge

/** BPE vocabulary learning — known-answer merge sequence on the classic
  * Sennrich corpus, determinism under repartitioning, and exactness:
  * the in-memory learner equals a recount-every-merge reference and the
  * merge tables the earlier one-Spark-job-per-merge learner produced. */
class BpeVocabSpec extends AnyFunSuite {
  import TestSpark._

  /** The recount-every-merge loop: count every adjacent pair
    * (overlapping, weighted by word count), take the argmax on
    * (count desc, left, right), merge it greedily left to right in every
    * word, repeat until k merges or no pair is left. */
  private def reference(words: Seq[(String, Long)], k: Int): Seq[Merge] = {
    def merge(s: List[String], l: String, r: String): List[String] = s match {
      case a :: b :: rest if a == l && b == r => (l + r) :: merge(rest, l, r)
      case a :: rest => a :: merge(rest, l, r)
      case Nil => Nil
    }
    var dict = words.map { case (w, c) => (w.map(_.toString).toList :+ "</w>", c) }
    val out = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= k && !done) {
      val pairs = dict.flatMap { case (s, c) => s.zip(s.tail).map(_ -> c) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), c) = pairs.minBy { case ((l, r), c) => (-c, l, r) }
        out += Merge(rank, l, r, c)
        dict = dict.map { case (s, n) => (merge(s, l, r), n) }
        rank += 1
      }
    }
    out.result()
  }

  /** One document per word occurrence, spread over `parts` partitions
    * so the word count is a real aggregate. */
  private def docsOf(dict: Seq[(String, Long)], parts: Int = 3): DataFrame = {
    import spark.implicits._
    dict.flatMap { case (w, c) => Seq.fill(c.toInt)(w) }.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text").repartition(parts)
  }

  private def wordCounts(docs: DataFrame): Seq[(String, Long)] = {
    import spark.implicits._
    docs.select(explode(reTokens(col("text"))).as("word"))
      .groupBy("word").count().as[(String, Long)].collect().toSeq
  }

  /** md5 of the merge table as "rank\tleft\tright\tpair_count" lines. */
  private def digest(merges: Seq[Merge]): String = {
    val text = merges.map(m => s"${m.rank}\t${m.left}\t${m.right}\t${m.pair_count}")
      .mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** A deterministic Zipf dictionary of `n` distinct words: spellings of
    * 3–10 letters drawn from a seeded generator (letters skewed toward
    * the start of the alphabet), the i-th distinct word counted
    * ⌈10⁶/(i+1)⌉ times. */
  private def zipfDictionary(n: Int): Seq[(String, Long)] = {
    val rnd = new scala.util.Random(42)
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < n)
      words += Seq.fill(3 + rnd.nextInt(8))(
        ('a' + rnd.nextInt(26) * rnd.nextInt(26) / 25).toChar).mkString
    words.toSeq.zipWithIndex.map { case (w, i) => (w, (1000000L + i) / (i + 1)) }
  }

  // word frequencies of the Sennrich example
  private val Classic = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
  private def corpus(parts: Int) = docsOf(Classic, parts)

  test("merge sequence matches the hand-computed BPE on the classic corpus") {
    val (merges, dict) = BpeVocab.learn(corpus(4), k = 6)
    val got = merges.map(m => (m.left, m.right, m.pair_count))
    // hand computation (ties break lexicographically):
    // r1 (e,s) 9;  r2 (es,t) 9;  r3 (est,</w>) 9;
    // r4 (l,o) 7;  r5 (lo,w) 7;  r6 (e,w) 6
    assert(got === Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L), ("e", "w", 6L)))
    // after 6 merges: "low" is fully merged up to its boundary symbol
    val lowSyms = dict.collect().find(_.syms.headOption.contains("low"))
    assert(lowSyms.isDefined) // "low</w>" pending, "low" merged
  }

  test("merge sequence is identical under different partitionings") {
    val a = BpeVocab.learn(corpus(1), k = 4)._1
    val b = BpeVocab.learn(corpus(7), k = 4)._1
    assert(a === b)
  }

  test("exhausted vocabulary stops early instead of looping") {
    import spark.implicits._
    // single word "ab" -> merges (a,b), (ab,</w>) then nothing left
    val tiny = Seq((0L, "ab")).toDF("doc_id", "text")
    val (merges, _) = BpeVocab.learn(tiny, k = 10)
    assert(merges.length === 2)
    assert(merges.map(m => (m.left, m.right)) ===
      Seq(("a", "b"), ("ab", "</w>")))
  }

  test("encode reproduces the learned dictionary word-for-word") {
    // rank-priority inference must agree with creation-order training
    // application on every training word
    val (merges, dict) = BpeVocab.learn(corpus(4), k = 6)
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val byWord = dict.collect().map(ws => ws.syms -> ws).toSeq
    assert(byWord.nonEmpty)
    for ((syms, _) <- byWord) {
      val word = syms.mkString.stripSuffix("</w>")
      assert(BpeVocab.encodeWord(word, ranks) === syms,
        s"encode($word) diverged from the trained dictionary")
    }
  }

  test("learnOnSample: md5 1/4 sample reproduces the top-K merges") {
    import spark.implicits._
    // Zipf-ish deterministic corpus: 1200 docs over a 30-word
    // vocabulary, frequency ∝ 1/rank — big enough that a 4/16 md5
    // sample preserves the relative frequencies the merge sequence
    // depends on (the production claim learnOnSample makes).
    val vocab = Seq("lower", "lowest", "newest", "widest", "slower",
      "render", "winter", "western", "renewed", "wondered", "tender",
      "slender", "wander", "thunder", "sunder", "launder", "blender",
      "fender", "gender", "lender", "mender", "bender", "sender",
      "vendor", "condor", "candor", "splendor", "indoor", "door",
      "floor")
    // deterministic Zipf rank pick: fixed-multiplier hash → uniform u,
    // inverted through the normalized 1/rank cumulative weights
    val weights = vocab.indices.map(j => 1.0 / (j + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val docs = (0 until 1200).map { i =>
      val u = ((i * 2654435761L & 0x7fffffffL) % 10000) / 10000.0
      val rank = cum.indexWhere(u < _) match {
        case -1 => vocab.size - 1
        case j  => j
      }
      (i.toLong, s"${vocab(rank)} ${vocab((i * 7) % vocab.size)}")
    }.toDF("doc_id", "text")
    val k = 24
    val full = BpeVocab.learn(docs, k)._1.map(m => (m.left, m.right))
    val samp = BpeVocab.learnOnSample(docs, k, keep16 = 4)._1
      .map(m => (m.left, m.right))
    val overlap = full.toSet.intersect(samp.toSet).size.toDouble / k
    assert(overlap >= 0.75,
      s"sample merge agreement $overlap below band;\nfull=$full\nsamp=$samp")
    // and the sample really was a strict subset of the corpus
    assert(BpeVocab.learnOnSample(docs, 1, keep16 = 16)._1.head ===
      BpeVocab.learn(docs, 1)._1.head, "keep16=16 must equal full corpus")
  }

  test("encode on unseen words falls back gracefully") {
    val (merges, _) = BpeVocab.learn(corpus(2), k = 6)
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    // "slowest" was never a training word, but its trained subunits
    // still merge: r1-3 build est</w>, r4 (l,o), r5 (lo,w) build low
    assert(BpeVocab.encodeWord("slowest", ranks) ===
      Seq("s", "low", "est</w>"))
    // fully out-of-alphabet word: characters + boundary, nothing merges
    assert(BpeVocab.encodeWord("xyz", ranks) ===
      Seq("x", "y", "z", "</w>"))
  }

  test("encodeOn counts tokens per document with hand-checked totals") {
    import spark.implicits._
    val (merges, _) = BpeVocab.learn(corpus(3), k = 6)
    // doc 0: "low low" -> 2 words x ["low", "</w>"]  = 4 tokens
    //   (after 6 merges "low" is (lo,w) merged = "low", "</w>" separate)
    // doc 1: "newest" -> ["n","ew","est</w>"] = 3 tokens (r6 = (e,w))
    val docs = Seq((0L, "low low"), (1L, "newest"))
      .toDF("doc_id", "text")
    val got = BpeVocab.encodeOn(docs, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((0L, 2L, 4L), (1L, 1L, 3L)))
  }

  test("text_bpe_encode query covers every document deterministically") {
    val df = BpeVocab.bpeEncode(spark, Sf)
    val rows = df.collect()
    val nDocs = graft.Tables.documents(spark, Sf).count()
    assert(rows.length.toLong === nDocs)
    // every doc has at least as many BPE tokens as words (the boundary
    // symbol can merge but never disappears entirely) and no more than
    // chars+words (character fallback)
    assert(rows.forall(r => r.getLong(2) >= r.getLong(1)))
    val again = BpeVocab.bpeEncode(spark, Sf).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("text_bpe_vocab query runs on the corpus with 16 deterministic rows") {
    val df = BpeVocab.bpeVocab(spark, Sf)
    val rows = df.collect()
    assert(rows.length === 16)
    assert(rows.map(_.getLong(0)).toSeq === (1L to 16L))
    // counts are non-increasing? NOT guaranteed for BPE in general
    // (a merged pair can create a new frequent pair), but every count
    // must be positive and the table deterministic across runs
    assert(rows.forall(_.getLong(3) > 0))
    val again = BpeVocab.bpeVocab(spark, Sf).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("learn ≡ the recount-every-merge reference on crafted dictionaries") {
    val dicts = Seq(
      // the classic corpus, learned to exhaustion
      Classic,
      // count ties everywhere: "</w>" sorts after digits, before letters
      Seq("a" -> 2L, "ab" -> 2L, "a1" -> 2L),
      // overlapping pairs: (a,a) occurs 3 times in aaaa, twice in aaa
      Seq("aaaa" -> 3L, "aaa" -> 2L, "ba" -> 1L),
      // digit words
      Seq("2024" -> 4L, "20" -> 3L, "404" -> 2L, "x86" -> 1L, "0x0" -> 2L),
      // early exhaustion: both words are one symbol after 4 merges
      Seq("abc" -> 1L, "ab" -> 1L))
    dicts.foreach { dict =>
      val want = reference(dict, 100)
      assert(want.length < 100, "every dictionary runs to exhaustion")
      assert(BpeVocab.learn(docsOf(dict), 100)._1 === want, dict)
      assert(BpeVocab.learn(docsOf(dict), 3)._1 === want.take(3), dict)
    }
    // the tie-break order, spelled out
    assert(reference(dicts(1), 3).map(m => (m.left, m.right)) ===
      Seq(("1", "</w>"), ("a", "1</w>"), ("a", "</w>")))
    assert(reference(dicts(2), 1).head === Merge(1, "a", "a", 13L))
    assert(reference(dicts(4), 100).length === 4)
  }

  test("learnMerges ≡ the reference on seeded random tie-heavy dictionaries") {
    val rnd = new scala.util.Random(7)
    (0 until 300).foreach { _ =>
      val dict = Seq.fill(1 + rnd.nextInt(8))(
          Seq.fill(1 + rnd.nextInt(7))("ab1".charAt(rnd.nextInt(3))).mkString)
        .distinct.map(_ -> (1L + rnd.nextInt(4)))
      val k = 1 + rnd.nextInt(40)
      assert(BpeVocab.learnMerges(dict, k) === reference(dict, k), dict)
    }
  }

  test("documents tables: the reference and the earlier learner's merge tables") {
    // md5s of the merge tables the one-Spark-job-per-merge learner
    // produced (k = 200 runs to exhaustion, after 105 and 106 merges)
    val pinned = Map(
      ("sf0.001", 16) -> "6dbe66f909bdecb0ac4466b9fc0c6e28",
      ("sf0.001", 200) -> "3208f5818a7c7514e4cc3bd6090f28e0",
      ("sf0.01", 16) -> "e9394723341bcb1be3dc368a06cd0d01",
      ("sf0.01", 200) -> "5a1740bf0e7a3759a46ae29e39381c0b")
    Seq("sf0.001" -> 105, "sf0.01" -> 106).foreach { case (sf, exhausted) =>
      val docs = Tables.documents(spark, s"${new java.io.File(Sf).getParent}/$sf")
      val m200 = BpeVocab.learn(docs, 200)._1
      assert(m200.length === exhausted, sf)
      assert(m200 === reference(wordCounts(docs), 200), sf)
      assert(digest(m200) === pinned((sf, 200)), sf)
      assert(digest(BpeVocab.learn(docs, 16)._1) === pinned((sf, 16)), sf)
    }
  }

  test("a 30k-merge fit over a 100k-word Zipf dictionary") {
    val dict = zipfDictionary(100000)
    assert(dict.map(_._1).distinct.length === 100000)
    val merges = BpeVocab.learnMerges(dict, 30000)
    assert(merges.map(_.rank) === (1 to 30000))
    assert(merges.take(3) === reference(dict, 3))
  }

  test("building text_bpe_vocab and text_bpe_encode runs at most 2 Spark jobs") {
    // the word-count shuffle stage and its collect; one job per merge
    // round would make this 16 more
    Seq("text_bpe_vocab", "text_bpe_encode").foreach { name =>
      val jobs = JobCount.jobsIn(spark, s"$name-build") {
        SparkEntry.queries(name)(spark, Sf)
      }
      assert(jobs <= 2, s"$name ran $jobs jobs while building its DataFrame")
    }
  }

  test("executing text_bpe_vocab runs no Spark job") {
    // the merges are built on the driver in rank order (pinned above);
    // a sort would plan a range exchange over the 16-row local table
    val df = SparkEntry.queries("text_bpe_vocab")(spark, Sf)
    val jobs = JobCount.jobsIn(spark, "text_bpe_vocab-exec")(df.collect())
    assert(jobs === 0, s"text_bpe_vocab ran $jobs jobs to return its rows")
  }
}
