package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions SPI must expose graft functions to pure-SQL sessions.
  * A fresh session is forced (clearing the default first) so resolution
  * can only come from the SPI — not from a Registry.register call some
  * earlier suite made on the shared session. `withExtensions` is the
  * builder form of `spark.sql.extensions` (the conf form is read from
  * the SparkContext's conf at context creation, so it can't be tested
  * against a pre-existing shared context). The underlying SparkContext
  * is reused and never stopped. */
class GraftExtensionsSpec extends AnyFunSuite {

  private def withSpiSession(body: SparkSession => Unit): Unit = {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      body(SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    } finally {
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("extensions SPI binds graft_dot and graft_minhash_sig in SQL") {
    withSpiSession { spark =>
      val dot = spark.sql(
        "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))")
        .collect().head.getDouble(0)
      assert(dot === 32.0)
      val sig = spark.sql(
        "SELECT graft_minhash_sig(h) FROM VALUES (5L), (99L) AS t(h)")
        .collect().head.getSeq[Long](0)
      assert(sig.length === functions.expressions.MinHashFamily.NumHashes)
      val bands = spark.sql(
        "SELECT graft_hplane_bands(array_repeat(1.0D, 64), 4, 8)")
        .collect().head.getSeq[Long](0)
      assert(bands.length === 4)
      assert(bands.forall(b => b >= 0 && b < 256))
    }
  }

  test("extensions SPI binds every Registry function (one list, two routes)") {
    withSpiSession { spark =>
      val names = functions.Registry.functions.map(_.name)
      assert(names.distinct.size === names.size)
      val missing = names.filterNot(n => spark.catalog.functionExists(n))
      assert(missing.isEmpty, s"not bound on an SPI-only session: $missing")
      // resolution, not just a catalog entry: the SPI builders run
      assert(spark.sql("SELECT graft_normalize('e\u0301')")
        .collect().head.getString(0) === "\u00e9")
      assert(spark.sql("SELECT graft_bounded_bucket(id, 2) FROM range(5)")
        .schema.nonEmpty)
    }
  }
}
