package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Explicit release of the blocks a `localCheckpoint` pins.
  *
  * `Dataset.unpersist` does NOT free them: it only uncaches
  * CacheManager entries (`cache()`/`persist()` registrations), and a
  * checkpointed Dataset's blocks belong to the materialized RDD under
  * its `LogicalRDD` plan, which the CacheManager never sees — so
  * without an explicit release they linger until the GC-driven
  * ContextCleaner notices the RDD reference is dead (nondeterministic,
  * and on an iterative kernel that can be dozens of node-sized block
  * sets). The checkpointed RDD is recovered from the frame's own
  * analyzed plan (a `LogicalRDD` leaf holding exactly the persisted
  * RDD), so releasing it is race-free under concurrent jobs — unlike
  * diffing `getPersistentRDDs`, which can misattribute another job's
  * blocks.
  *
  * After [[free]] the frame is UNRECOMPUTABLE (localCheckpoint
  * truncated its lineage; the blocks are gone) — callers release a
  * frame only once nothing reads it again. */
object CheckpointBlocks {

  /** The persisted RDD under a localCheckpoint-ed frame, when the
    * frame's plan is the expected `LogicalRDD` leaf (reflection keeps
    * this independent of the class's `private[sql]` surface; Scala
    * access modifiers are public in bytecode). */
  private[graft] def checkpointedRdd(df: DataFrame): Option[RDD[_]] = {
    val plan = df.queryExecution.analyzed
    if (plan.getClass.getSimpleName != "LogicalRDD") None
    else scala.util.Try(
      plan.getClass.getMethod("rdd").invoke(plan).asInstanceOf[RDD[_]]
    ).toOption
  }

  /** `df` pinned by a lazy localCheckpoint, materialized together with
    * its row count in ONE job: an RDD count over the checkpointed RDD
    * computes and stores every partition's blocks, where
    * `Dataset.count` would add an aggregate's shuffle stage. Release
    * the returned frame with [[free]]. */
  def pinCounted(df: DataFrame): (DataFrame, Long) = {
    val pinned = df.localCheckpoint(false)
    (pinned, checkpointedRdd(pinned).fold(pinned.count())(_.count()))
  }

  /** Release the blocks `df`'s localCheckpoint pinned (no-op when the
    * frame is not a checkpointed leaf). Non-blocking. */
  def free(df: DataFrame): Unit =
    checkpointedRdd(df).foreach(_.unpersist(blocking = false))
}
