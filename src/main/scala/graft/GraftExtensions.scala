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
  * the TopKPerKey hint rule and planner strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => graft.plans.ResolveTopKPerKeyHint)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    Registry.functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build)))
  }
}
