package graft

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
    assert(JobCount.jobsIn(spark, "tables-open") {
      Tables.Schemas.keys.foreach(t => Tables.byName(spark, Sf, t).schema)
    } === 0)
    // the counter sees the job an inferring open runs
    assert(JobCount.jobsIn(spark, "inferring-open")(inferred(Sf, "orders")) >= 1)
  }
}
