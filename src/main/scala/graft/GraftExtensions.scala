package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.Registry

/** Session-wide registration of graft's native expressions via the
  * SparkSessionExtensions SPI, so a SQL-only deployment gets them too:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   SELECT graft_dot(a.embedding, b.embedding) FROM ...
  *
  * Injects every function in [[graft.functions.Registry.functions]] —
  * the same list Registry.register binds on an existing session — plus
  * the TopKPerKey hint rule and planner strategy. graft's DataFrame
  * operators need neither: they build the expressions directly.
  *
  * An extension cannot size Spark's generated-code cache: it is a
  * static conf that `CodeGenerator` reads once per JVM. Pass it with the
  * job, as [[GraftSession.local]] sets it:
  *
  *   --conf spark.sql.codegen.cache.maxEntries=4096
  *
  * (4096 = [[GraftSession.CodegenCacheEntries]]; the same holds for the
  * [[GraftSession.configure]] route). A JVM that builds several
  * sessions, such as a test JVM, gets the size of whichever session
  * generates code first.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => graft.plans.ResolveTopKPerKeyHint)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    Registry.functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build)))
  }
}
