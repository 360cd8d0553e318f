package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.{GraftSession, SparkEntry}

/** Dev-only profiling harness (r13 optimization round): run queries
  * under the Bench session shape and report the SCHEDULING footprint —
  * jobs, stages, tasks, and executor-summed metrics — per query.
  *
  * At bench SFs most entries are fixed-overhead-dominated, so "how many
  * jobs / stages / shuffle bytes does this query schedule" is the
  * number that explains the wall time and the number a plan-shape
  * optimization actually moves (e.g. a lazily-checkpointed iterative
  * entry re-running its build once per round shows up as N identical
  * heavy stages; ReuseExchange shows up as FEWER stages than scan
  * references in the plan).
  *
  * r14 adds the MEMORY-PRESSURE columns the r13 32-core anomaly
  * diagnosis needed (guide §5/§7): summed JVM GC time, memory/disk
  * spill bytes, the max per-task peak execution memory, and the
  * max/median per-task shuffle-read split (the §2.5 skew signal —
  * a straggler shows up as max ≫ median).
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> [queryName ...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val input = new java.util.concurrent.atomic.AtomicLong
    val gcTime = new java.util.concurrent.atomic.AtomicLong
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    val peakExecMem = new java.util.concurrent.atomic.AtomicLong
    // per-task shuffle-read sizes for the max/median skew split
    val taskShufReads = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val m = s.stageInfo.taskMetrics
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        gcTime.addAndGet(m.jvmGCTime)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          peakExecMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
          val r = m.shuffleReadMetrics.totalBytesRead
          if (r > 0) taskShufReads.add(r)
        }
      }
    })

    // warm the session exactly like Bench
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Tables.lineitem(spark, sfDir).limit(1).collect()
    graft.Tables.events(spark, sfDir).limit(1).collect()

    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    println(f"${"query"}%-34s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"input"}%9s ${"shufR"}%9s ${"shufW"}%9s ${"gcMs"}%6s ${"spillM"}%9s ${"spillD"}%9s ${"peakEx"}%9s ${"tMaxR"}%9s ${"tMedR"}%9s")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // one untimed run to absorb lazy one-time builds (persisted
      // index caches), then the measured run — mirrors Bench's median
      // semantics where run 1 carries the build
      def once(): Double = {
        Thread.sleep(400) // let the async listener bus drain
        jobs.set(0); stages.set(0); tasks.set(0)
        shufRead.set(0); shufWrite.set(0); input.set(0)
        gcTime.set(0); memSpill.set(0); diskSpill.set(0); peakExecMem.set(0)
        taskShufReads.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!preexisting.contains(id)) rdd.unpersist(blocking = false) }
        Thread.sleep(400) // drain before reading the counters
        dt
      }
      try {
        once()
        val dt = once()
        val reads = {
          import scala.jdk.CollectionConverters._
          taskShufReads.iterator().asScala.toArray.sorted
        }
        val tMax = if (reads.nonEmpty) reads.last else 0L
        val tMed = if (reads.nonEmpty) reads(reads.length / 2) else 0L
        println(f"$name%-34s $dt%7.3f ${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d ${input.get}%9d ${shufRead.get}%9d ${shufWrite.get}%9d ${gcTime.get}%6d ${memSpill.get}%9d ${diskSpill.get}%9d ${peakExecMem.get}%9d $tMax%9d $tMed%9d")
      } catch { case e: Throwable =>
        println(f"$name%-34s ERR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    spark.stop()
  }
}
