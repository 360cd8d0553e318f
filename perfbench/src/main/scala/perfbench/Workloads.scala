package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.{Random, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.streaming.PretrainStream

final case class Doc(doc_id: Long, lang: String, text: String)

final case class Expected(rows: Long, digest: Option[String])

/** What one timed phase measured: each pass's wall time, each
  * operation's latency, the latencies whose median latency_p50_s is, the
  * operation spans, and workload-specific figures (per pass). */
final case class Phase(passSeconds: Seq[Double], latencies: Seq[Double], p50Latencies: Seq[Double],
                       ops: Seq[Span], extra: Map[String, Seq[Double]])

object Phase {
  val empty: Phase = Phase(Seq.empty, Seq.empty, Seq.empty, Seq.empty, Map.empty)
}

/** State shared by a run: the session, the inputs, the span recorder and
  * the operation tally behind `attempted`, `failed` and `error_rate`. */
final class Ctx(val spark: SparkSession, val dataDir: String, val seed: Long,
                val expected: Map[String, Expected], val recording: Boolean) {
  val tracer = new Tracer
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val recorded = mutable.LinkedHashMap.empty[String, Expected]

  def fail(msg: String): Unit = {
    failed += 1
    problems += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  /** Unpersist the blocks an operation pinned (the persistent RDDs that
    * appeared while it ran); returns how many there were. */
  def releaseSince(before: Set[Int]): Int = {
    val added = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    added.values.foreach(_.unpersist(blocking = true))
    added.size
  }
  def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
}

trait Workload {
  /** Untimed: warm the JVM, codegen and graft's corpus caches, and check
    * every output once. */
  def setup(ctx: Ctx): Unit
  /** Run passes (at least one) until `seconds` have passed;
    * `maxPasses` bounds the traced phase. */
  def phase(ctx: Ctx, seconds: Double, maxPasses: Int): Phase
  /** Whether the workload reads graft's tables (so table opens are traced). */
  def readsTables: Boolean
}

/** A workload of registry entries, each timed from outside through
  * graft's public entry points: construction (`SparkEntry.queries`),
  * Catalyst planning (`executedPlan`) and execution (`toRdd.count()`, the
  * materialisation graft's own Bench times). A pass requests each report
  * entry `reportRepeats` times and each prep entry once; latency_p50_s is
  * the median report request (the prep entries are batch jobs, which
  * show in wall_s and latency_p90_s). */
final class EntryWorkload(report: Seq[String], prep: Seq[String], reportRepeats: Int)
    extends Workload {
  val readsTables = true
  private var order: Seq[String] = _

  def setup(ctx: Ctx): Unit = {
    // one seeded request order, which every pass of the run repeats
    order = new Random(ctx.seed).shuffle(report.flatMap(Seq.fill(reportRepeats)(_)) ++ prep)
    (report ++ prep).sorted.foreach { name =>
      ctx.attempted += 1
      val before = ctx.persistentIds
      val t0 = System.nanoTime()
      Try {
        // collecting compiles the same executed plan requests run
        SparkEntry.queries(name)(ctx.spark, ctx.dataDir).collect()
      }.fold(
        e => ctx.fail(s"$name threw ${e.getClass.getName}: ${e.getMessage}"),
        rows => {
          val got = Expected(rows.length.toLong, Some(Digest.of(rows)))
          if (ctx.recording) ctx.recorded(name) = got
          else ctx.expected.get(name) match {
            case None => ctx.fail(s"$name has no recorded output")
            case Some(exp) =>
              if (exp.rows != got.rows) ctx.fail(s"$name returned ${got.rows} rows, expected ${exp.rows}")
              else if (exp.digest.exists(d => !got.digest.contains(d)))
                ctx.fail(s"$name content digest ${got.digest.get} != recorded ${exp.digest.get}")
          }
        })
      ctx.releaseSince(before)
      System.err.println(f"[perfbench] check $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // one more untimed request of each report entry: a sub-second request
    // is still tens of percent slower on its second call than later on
    report.foreach(request(ctx, _, -1))
  }

  /** One request: construct, plan and execute an entry, each in its own
    * span; the blocks it pinned are released outside the timed span.
    * Returns the request's span and how many persistent RDDs it added,
    * or None when it failed. */
  private def request(ctx: Ctx, name: String, pass: Int): Option[(Span, Int)] = {
    ctx.attempted += 1
    val before = ctx.persistentIds
    val t = ctx.tracer
    val ok = Try(t.span("op", name, pass) { id =>
      val df = t.span("construct", name, id)(_ => SparkEntry.queries(name)(ctx.spark, ctx.dataDir))
      t.span("plan", name, id)(_ => df.queryExecution.executedPlan)
      t.span("exec", name, id)(_ => df.queryExecution.toRdd.count())
    }).fold(e => { ctx.fail(s"$name threw ${e.getClass.getName}: ${e.getMessage}"); false },
      rows => ctx.expected.get(name).forall(_.rows == rows) ||
        { ctx.fail(s"$name returned $rows rows in a timed request"); false })
    val span = t.last
    System.err.println(f"[perfbench] request $name ${span.seconds}%.3f s")
    val pinned = ctx.releaseSince(before)
    if (ok) Some((span, pinned)) else None
  }

  def phase(ctx: Ctx, seconds: Double, maxPasses: Int): Phase = {
    val passes = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[(Span, Int)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.size < maxPasses && (passes.isEmpty || elapsed < seconds)) {
      val before = ops.size
      ctx.tracer.span("pass", s"pass${passes.size}") { p =>
        order.foreach(name => request(ctx, name, p).foreach(ops += _))
      }
      // a pass's time is the sum of its requests' times: unpersisting
      // between requests is the harness's isolation, not graft's work
      passes += ops.drop(before).map(_._1.seconds).sum
      System.err.println(f"[perfbench] pass ${passes.size - 1} ${passes.last}%.3f s")
    }
    val reportSet = report.toSet
    Phase(passes.toSeq, ops.map(_._1.seconds).toSeq,
      ops.collect { case (s, _) if reportSet(s.name) => s.seconds }.toSeq, ops.map(_._1).toSeq,
      Map("checkpoint.pinned_rdds" -> Seq(ops.map(_._2).sum.toDouble / math.max(ops.size, 1))))
  }
}

/** The streaming pretrain chain fed from a seeded firehose. Each pass
  * ingests `epochs` epochs of `epochDocs` gate-passing documents into a
  * fresh root through `PretrainStream.start`, one `processAllAvailable`
  * per epoch, and calls `compactIfNeeded(maxDeltas)` after every epoch.
  * After epoch 0, a `dupRate` share of each epoch repeats a document of
  * the previous epoch under a new id. */
final class StreamWorkload(epochDocs: Int, epochs: Int, warmupEpochs: Int, maxDeltas: Int,
                           dupRate: Double, scratch: File) extends Workload {
  val readsTables = false
  private val Langs = Array("en", "zh", "es", "de", "fr")
  private var passNo = 0

  /** True when graft's md5 holdout coin keeps `docId` (bucket 15 is
    * held out): the first hex digit of md5(decimal id) is not 'f'. */
  private def kept(docId: Long): Boolean =
    (MessageDigest.getInstance("MD5").digest(docId.toString.getBytes("UTF-8"))(0) & 0xf0) != 0xf0

  private def word(rng: Random): String =
    Iterator.fill(4 + rng.nextInt(4))(('a' + rng.nextInt(26)).toChar).mkString

  /** The pass's epochs and the ids the stream must accept: every
    * original whose holdout coin keeps it; repeats never (their content
    * was committed first, held out or not). */
  private def firehose(seed: Long, pass: Int, nEpochs: Int): (Seq[Seq[Doc]], Set[Long]) = {
    val rng = new Random(seed * 1000003L + pass)
    val repeats = math.round(epochDocs * dupRate).toInt
    var next = 0L
    val accepted = mutable.Set.empty[Long]
    val out = mutable.ArrayBuffer.empty[Seq[Doc]]
    for (e <- 0 until nEpochs) {
      val repeatAt = if (e == 0) Set.empty[Int] else rng.shuffle((0 until epochDocs).toList).take(repeats).toSet
      val batch = (0 until epochDocs).map { i =>
        val id = next
        next += 1
        val lang = Langs(rng.nextInt(Langs.length))
        if (repeatAt(i)) Doc(id, lang, out(e - 1)(rng.nextInt(epochDocs)).text)
        else {
          if (kept(id)) accepted += id
          // a unique leading token makes every original distinct content
          Doc(id, lang, (s"p${pass}d$id" +: Seq.fill(39)(word(rng))).mkString(" ") + " the of and a")
        }
      }
      out += batch
    }
    (out.toSeq, accepted.toSet)
  }

  private def dirStats(root: File): (Long, Long) = {
    val files = Files.walk(root.toPath).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
    (files.length.toLong, files.map(Files.size).sum)
  }

  /** One ingest pass into a fresh root; returns the pass wall seconds and
    * per-pass figures, or None when the pass failed or its output is
    * wrong. */
  private def ingest(ctx: Ctx, nEpochs: Int, ops: mutable.ArrayBuffer[Span])
      : Option[(Double, Map[String, Double])] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pass = passNo
    passNo += 1
    val (batches, want) = firehose(ctx.seed, pass, nEpochs)
    val root = new File(scratch, s"root$pass")
    val contaminated = spark.range(0).select(col("id").as("train_doc_id"))
    val t = ctx.tracer
    val before = ctx.persistentIds
    val ns = System.nanoTime()
    var compactions = 0
    val ran = Try(t.span("pass", s"ingest$pass") { p =>
      val input = MemoryStream[Doc]
      val q = PretrainStream.start(input.toDF(), contaminated, root.getPath)
      try batches.zipWithIndex.foreach { case (b, e) =>
        ctx.attempted += 1
        t.span("epoch", s"epoch$e", p) { _ => input.addData(b); q.processAllAvailable() }
        ops += t.last
        System.err.println(f"[perfbench] pass $pass epoch $e ${t.last.seconds}%.2f s")
        t.span("compact", s"compact$e", p) { _ =>
          if (PretrainStream.compactIfNeeded(spark, root.getPath, maxDeltas)) compactions += 1
        }
      } finally q.stop()
    })
    val wall = (System.nanoTime() - ns) / 1e9
    ctx.releaseSince(before)
    ctx.attempted += 1
    val result = ran.toEither.left.map(e => s"stream pass $pass threw ${e.getClass.getName}: ${e.getMessage}")
      .flatMap { _ =>
        val got = PretrainStream.acceptedDocs(spark, root.getPath).select("doc_id", "text").collect()
        val ids = got.map(_.getLong(0)).toSet
        val texts = got.map(_.getString(1)).toSet
        if (got.length != want.size) Left(s"stream pass $pass accepted ${got.length} docs, expected ${want.size}")
        else if (texts.size != got.length) Left(s"stream pass $pass accepted a content hash twice")
        else if (ids != want) Left(s"stream pass $pass accepted the wrong documents")
        else {
          val (files, bytes) = dirStats(root)
          Right((wall, Map(
            "docs_per_s" -> batches.map(_.size).sum / wall,
            "bytes_per_doc" -> bytes.toDouble / got.length,
            "stream.state_files" -> files.toDouble,
            "sinks.write_mb" -> bytes / 1048576.0,
            "stream.compactions" -> compactions.toDouble)))
        }
      }
    deleteTree(root)
    result.left.foreach(ctx.fail)
    result.toOption
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def setup(ctx: Ctx): Unit = {
    ingest(ctx, warmupEpochs, mutable.ArrayBuffer.empty)
    ()
  }

  def phase(ctx: Ctx, seconds: Double, maxPasses: Int): Phase = {
    val ops = mutable.ArrayBuffer.empty[Span]
    val walls = mutable.ArrayBuffer.empty[Double]
    val extra = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val t0 = System.nanoTime()
    var tried = 0
    while (tried < maxPasses && (tried == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      tried += 1
      ingest(ctx, epochs, ops).foreach { case (wall, figures) =>
        walls += wall
        figures.foreach { case (k, v) => extra(k) = extra.getOrElse(k, Seq.empty) :+ v }
      }
    }
    Phase(walls.toSeq, ops.map(_.seconds).toSeq, ops.map(_.seconds).toSeq, ops.toSeq, extra.toMap)
  }
}

object TableLoaders {
  /** Every public table loader, each opened (not read) from outside. */
  val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
}
