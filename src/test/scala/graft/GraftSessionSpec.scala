package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The session factory must hand back a session where the operator
  * suite just works: native functions resolve, the custom-operator
  * path executes, and the defaults the operators assume are set. */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession.local wires functions, extensions and defaults") {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val spark = GraftSession.local(2)
      // native function through SQL (Registry route)
      assert(spark.sql("SELECT graft_dot(array(1.0D,2.0D), array(3.0D,4.0D))")
        .collect().head.getDouble(0) === 11.0)
      // session defaults the operators assume
      assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
      assert(spark.conf.get("spark.master") === "local[2]")
      assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
        GraftSession.CodegenCacheEntries.toString)
      // an operator runs end-to-end on the factory session
      import spark.implicits._
      val scored = Seq(("a", 1L, 2.0), ("a", 2L, 9.0), ("a", 3L, 5.0))
        .toDF("k", "id", "s")
      val top = plans.TopKPerKey(scored, "k", "s", 2, tiebreak = Some("id"))
        .collect().map(_.getLong(1)).toSet
      assert(top === Set(2L, 3L))
    } finally {
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  /** Run `body` with the JVM's session slots cleared and `key` set as
    * a system property (how spark-submit passes `--master`/`--conf`),
    * then restore both. */
  private def withSystemProperty(key: String, value: String)(body: => Unit): Unit = {
    val prior = SparkSession.getDefaultSession
    val priorValue = sys.props.get(key)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    sys.props(key) = value
    try body
    finally {
      priorValue match {
        case Some(v) => sys.props(key) = v
        case None    => sys.props.remove(key)
      }
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("GraftSession.local keeps a master that spark-submit set") {
    // the JVM's one SparkContext is already up, so the new session
    // reuses it; a builder.master(local[cores]) call would still land
    // in the session's own conf, which is what this checks
    val ctxMaster = TestSpark.spark.sparkContext.master
    val cores = 7
    assert(ctxMaster !== s"local[$cores]")
    withSystemProperty("spark.master", "local[3]") {
      val spark = GraftSession.local(cores)
      assert(spark.conf.get("spark.master") === ctxMaster)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === cores.toString)
    }
  }

  test("GraftSession.local keeps a codegen cache size the deployment set") {
    val key = "spark.sql.codegen.cache.maxEntries"
    withSystemProperty(key, "777") {
      assert(GraftSession.local(2).conf.get(key) === "777")
    }
  }

  test("GraftSession.local refuses to shadow an existing session") {
    // TestSpark's session is live in this JVM: getOrCreate would hand
    // it back with every graft config silently ignored
    val spark = TestSpark.spark
    SparkSession.setDefaultSession(spark)
    SparkSession.setActiveSession(spark)
    val e = intercept[IllegalStateException] { GraftSession.local(2) }
    assert(e.getMessage.contains("configure"))
  }

  test("configure raises the IN-pushdown threshold only from Spark's " +
       "default — an explicit deployment value is honored") {
    val spark = TestSpark.spark
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val restore = spark.conf.get(key, "10")
    try {
      // deployment tuning survives configure()
      spark.conf.set(key, "500")
      GraftSession.configure(spark)
      assert(spark.conf.get(key) === "500")
      // the Spark default is raised to the serve-path value — which is
      // depth-bounded (a pushed IN is a recursive Or tree; see
      // GraftSession.InScanChunk), never the old 10000
      spark.conf.set(key, "10")
      GraftSession.configure(spark)
      assert(spark.conf.get(key) === GraftSession.InFilterThreshold.toString)
      assert(GraftSession.InFilterThreshold === 2 * GraftSession.InScanChunk)
      assert(GraftSession.InFilterThreshold <= 1024,
        "a single pushed IN past ~2k literals overflows the task stack " +
        "(round-13 1B rung); the threshold must stay in the measured-safe band")
    } finally spark.conf.set(key, restore)
  }

  test("GraftSession.configure is idempotent on an existing session") {
    val spark = TestSpark.spark
    GraftSession.configure(spark)
    GraftSession.configure(spark)
    assert(spark.sql("SELECT graft_deflate_len('aaaaaaaa')")
      .collect().head.getLong(0) > 0)
  }
}
