package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts, and the bytes
  * its jobs send back to the driver: a listener records each job's
  * group, and the block runs under its own. */
object JobCount {
  def jobsIn(spark: SparkSession, group: String)(body: => Unit): Int = {
    val groups = new ConcurrentLinkedQueue[String]()
    observed(spark, group, new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(groupOf(j))
    })(body)
    groups.asScala.count(_ == group)
  }

  /** Σ of the result sizes (serialized bytes sent to the driver) of the
    * ResultTasks of the jobs `body` starts. */
  def resultBytesIn(spark: SparkSession, group: String)(body: => Unit): Long = {
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong
    observed(spark, group, new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (groupOf(j) == group) j.stageIds.foreach(stages.add)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskType == "ResultTask" && stages.contains(t.stageId) &&
            t.taskMetrics != null)
          bytes.addAndGet(t.taskMetrics.resultSize)
    })(body)
    bytes.get
  }

  private def groupOf(j: SparkListenerJobStart): String =
    String.valueOf(j.properties.getProperty("spark.jobGroup.id"))

  /** Runs `body` under job group `group` with `listener` attached, and
    * returns once the listener has seen every event of the body. */
  private def observed(spark: SparkSession, group: String,
                       listener: SparkListener)(body: => Unit): Unit = {
    val sentinel = s"$group-sentinel"
    @volatile var sentinelSeen = false
    val watch = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (groupOf(j) == sentinel) sentinelSeen = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addSparkListener(watch)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // listener events arrive in order, to each listener in turn: once
      // a sentinel job started after the body is seen, every event of
      // the body has been too
      sc.setJobGroup(sentinel, sentinel)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "listener never saw the sentinel job")
    } finally {
      sc.removeSparkListener(watch)
      sc.removeSparkListener(listener)
    }
  }
}
