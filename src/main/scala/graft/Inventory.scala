package graft

/** Introspection main: prints the operator inventory (name, oracle
  * coverage, output schema) so SURVEY §2 can be cross-checked against
  * the code mechanically. Usage: runMain graft.Inventory [sfDir]. */
object Inventory {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(GraftSession.envCores)
    spark.sparkContext.setLogLevel("ERROR")
    val oracle = SparkEntry.oracleSql.keySet
    println(f"${"query"}%-24s ${"oracle"}%-7s columns")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val cols =
        try fn(spark, sfDir).schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")
        catch { case e: Throwable => s"<error: ${e.getMessage.take(60)}>" }
      val o = if (oracle.contains(name)) "duckdb" else "rows"
      println(f"$name%-24s $o%-7s $cols")
    }
    println(s"\n${SparkEntry.queries.size} queries, " +
      s"${oracle.size} oracle-checked, sf=$sfDir")
    spark.stop()
  }
}
