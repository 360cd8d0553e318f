package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts: a listener
  * records each job's group, and the block runs under its own. */
object JobCount {
  def jobsIn(spark: SparkSession, group: String)(body: => Unit): Int = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once a sentinel job started
      // after the body is seen, every job of the body has been too
      val sentinel = s"$group-sentinel"
      sc.setJobGroup(sentinel, sentinel)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(sentinel), "listener never saw the sentinel job")
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
