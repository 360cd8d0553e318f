package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Tables opens every TESTDATA table from its declared schema: the
  * schema must be the one parquet inference returns, and an open must
  * run no Spark job (an inferring open runs one). */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private def inferred(dir: String, name: String) =
    spark.read.parquet(s"$dir/$name.parquet").schema

  private def assertDeclared(dir: String): Unit = {
    Tables.Schemas.foreach { case (name, declared) =>
      assert(declared === inferred(dir, name), s"$dir $name")
    }
    assert(Tables.eventsTsType(spark, dir) === inferred(dir, "events")("ts").dataType)
  }

  Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
    test(s"declared schemas equal the inferred ones at $sf") {
      assertDeclared(s"${new java.io.File(Sf).getParent}/$sf")
    }
  }

  test("declared schemas equal the inferred ones on a ScaleUpFresh 2x corpus") {
    val dst = java.nio.file.Files.createTempDirectory("tables2x").toString
    tools.ScaleUpFresh.write(spark, Sf, dst, 2)
    assertDeclared(dst)
    assert(Tables.orders(spark, dst).count() === 2 * Tables.orders(spark, Sf).count())
  }

  test("opening a table runs no Spark job") {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      def jobsIn(group: String)(body: => Unit): Int = {
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
      }
      assert(jobsIn("tables-open") {
        Tables.Schemas.keys.foreach(t => Tables.byName(spark, Sf, t).schema)
      } === 0)
      // the counter sees the job an inferring open runs
      assert(jobsIn("inferring-open")(inferred(Sf, "orders")) >= 1)
    } finally sc.removeSparkListener(listener)
  }
}
