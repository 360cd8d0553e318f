package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.operators.TextOps
import graft.similarity.Knn
import graft.streaming.IndexMaintainStream

/** graft's operators build their native expressions directly, so they
  * run on a session that has neither GraftSession.configure nor the
  * extensions — and leave its function registry as they found it. Each
  * operator runs on such a bare session and on the shared one, and the
  * results must agree. */
class BareSessionSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val bare: SparkSession = spark.newSession()

  private def graftFunctionsOn(s: SparkSession): Seq[String] =
    functions.Registry.functions.map(_.name).filter(s.catalog.functionExists)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `op` on the bare and the shared session gives the same rows, and
    * the bare session still has no graft function afterwards. */
  private def sameOnBare(op: SparkSession => DataFrame): Unit = {
    val got = rows(op(bare))
    assert(got.nonEmpty)
    assert(got === rows(op(spark)))
    assert(graftFunctionsOn(bare).isEmpty)
  }

  test("a new session has no graft function registered") {
    assert(!bare.catalog.functionExists("graft_dot"))
    assert(graftFunctionsOn(bare).isEmpty)
  }

  test("vector: brute-force cosine top-k runs on a bare session") {
    sameOnBare(s => Knn.topK(s, Sf))
  }

  test("vector: LSH hyperplane bands run on a bare session") {
    sameOnBare(s => Knn.lshBuckets(s, Sf))
  }

  test("dedup: MinHash signatures and bounded buckets run on a bare session") {
    sameOnBare(s => Dedup.minhashPairs(Tables.documents(s, Sf)))
  }

  test("text: the gram-count repetition gate runs on a bare session") {
    sameOnBare(s => TextOps.repetitionMetrics(Tables.documents(s, Sf)))
  }

  test("stream: bloom sidecar build and probe run on a bare session") {
    def sidecar(s: SparkSession): (Seq[Seq[Byte]], DataFrame) = {
      val dir = Files.createTempDirectory("bare_bloom").toString + "/bloom"
      IndexMaintainStream.writeBloomSidecar(
        s.range(2000).select(xxhash64(col("id")).as("k")), 2000L, dir, col("k"))
      val shards = Files.list(Paths.get(dir)).toArray.map(_.toString)
        .filter(_.contains("shard-")).sorted.toSeq
        .map(p => Files.readAllBytes(Paths.get(p)).toSeq)
      val probe = IndexMaintainStream.bloomProbe(s, Seq(dir), col("k")).get
      // members 0..999 and fresh keys 2000..2999: every member passes
      (shards, s.range(3000).filter(col("id") < 1000 || col("id") >= 2000)
        .select(col("id"), xxhash64(col("id")).as("k")).filter(probe))
    }
    val (bareShards, bareHits) = sidecar(bare)
    val (sharedShards, sharedHits) = sidecar(spark)
    assert(bareShards.nonEmpty && bareShards === sharedShards)
    assert(rows(bareHits) === rows(sharedHits))
    assert(bareHits.filter(col("id") < 1000).count() === 1000L)
    assert(graftFunctionsOn(bare).isEmpty)
  }

  test("the bare session is still without graft functions afterwards") {
    assert(!bare.catalog.functionExists("graft_dot"))
    assert(graftFunctionsOn(bare).isEmpty)
  }
}
