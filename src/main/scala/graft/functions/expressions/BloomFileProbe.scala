package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Executor-side cache of IMMUTABLE bloom-filter sidecar files, keyed
  * by path — the piece that makes a standing membership index cheap to
  * probe from a long-running stream.
  *
  * Spark's own `might_contain` (BloomFilterMightContain) requires its
  * filter side to be a fold-time literal or a scalar subquery; both
  * re-materialize the filter bytes PER QUERY — a parse-time literal
  * rides every analyzer/optimizer tree copy (measured ~4 s/epoch of
  * driver plan-weight at a mere 25 MB filter), and a scalar subquery
  * re-collects the bytes to the driver and re-broadcasts them every
  * micro-batch (measured 6.5 s/epoch at a 125 MB filter —
  * tools.PregateDiag, SURVEY §6.7, source at 0791305). Both costs
  * scale with STATE, defeating the
  * point of a pregate. A delta sidecar, however, is immutable once its
  * commit marker exists — so each executor can load it ONCE from
  * storage and keep the deserialized filter for its lifetime: zero
  * driver traffic, zero plan weight, cost amortized over every
  * subsequent epoch. The cache is bounded by TOTAL FILTER BYTES
  * ([[maxCacheBytes]], default 4 GiB ≈ a 2.5e9-key mature root at 10
  * bits/key) with least-recently-probed eviction — dropped deltas'
  * filters age out individually while the live compacted run's shards
  * stay hot; a wholesale clear would force a reload storm of exactly
  * the filters still in use.
  *
  * An EXISTING zero-length sidecar shard (an empty delta's key-less
  * shard) loads as an empty filter — `mightContain` false, which
  * covers its zero keys exactly. A MISSING shard file, however, is a
  * real fault and must fail the task: writeBloomSidecar creates every
  * `shard-<i>` file before the delta's commit marker exists, so FNF at
  * probe time can only mean the delta vanished under the plan — the
  * concurrent-compaction race (dropCovered deleting a covered delta
  * while an in-flight micro-batch's cold executor loads its shards).
  * Swallowing that into an always-false filter would skip the verify
  * stage and commit cross-epoch duplicates SILENTLY; propagating it
  * fails the micro-batch, which is re-delivered against the new
  * compacted run — the loud, self-healing outcome. */
object BloomFileCache {

  /** One cached shard: its filter, its serialized footprint, and the
    * load-ordinal of its last probe (the LRU key — advanced only on
    * cache misses, so steady-state probing writes the volatile at most
    * once per miss-epoch per entry, never per row). */
  private final class Entry(val filter: BloomFilter, val bytes: Long) {
    @volatile var touch: Long = 0L
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val clock = new java.util.concurrent.atomic.AtomicLong()
  private val totalBytes = new java.util.concurrent.atomic.AtomicLong()

  /** Eviction threshold over the sum of cached filters' serialized
    * bytes. var so tests (and memory-tight deployments) can lower it. */
  private[graft] var maxCacheBytes: Long = 4L << 30

  private[graft] def cachedBytes: Long = totalBytes.get()
  private[graft] def cachedEntries: Int = cache.size()
  private[graft] def clear(): Unit = { cache.clear(); totalBytes.set(0L) }

  /** Hadoop conf for executor-side shard loads: classpath defaults plus
    * every `spark.hadoop.*` override from the running application's
    * SparkConf (SparkEnv is present on both driver and executors), so a
    * filesystem configured through Spark conf — s3a credentials or
    * endpoint, fs.defaultFS, connector settings — resolves here exactly
    * as it does for the task's own input readers. Bare defaults only
    * when no SparkEnv exists (plain-JVM unit tests). */
  private lazy val hadoopConf: org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    val env = org.apache.spark.SparkEnv.get
    if (env != null)
      env.conf.getAllWithPrefix("spark.hadoop.").foreach {
        case (k, v) => c.set(k, v)
      }
    c
  }

  private def load(path: String): BloomFilter = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(hadoopConf)
    // FileNotFoundException (and any other IOException) PROPAGATES —
    // see the object scaladoc: a missing shard is the compaction race,
    // and the task must fail loudly so the micro-batch re-delivers.
    val len = fs.getFileStatus(hp).getLen
    if (len == 0) BloomFilter.create(1) // existing empty shard: zero keys
    else {
      val in = fs.open(hp)
      try BloomFilter.readFrom(in) finally in.close()
    }
  }

  def get(path: String): BloomFilter = {
    val e0 = cache.get(path)
    if (e0 != null) {
      val t = clock.get()
      if (e0.touch != t) e0.touch = t
      return e0.filter
    }
    val e = cache.computeIfAbsent(path, { p =>
      val f = load(p)
      val bytes = (f.bitSize() >>> 3) + 64L
      totalBytes.addAndGet(bytes)
      val en = new Entry(f, bytes)
      // stamped INSIDE the mapping: an entry visible at ordinal 0
      // would be a concurrent miss's evictIfOver's first LRU victim —
      // the just-loaded shard discarded before its first probe (a
      // wasted storage round-trip)
      en.touch = clock.incrementAndGet()
      en
    })
    e.touch = clock.incrementAndGet()
    evictIfOver()
    e.filter
  }

  /** Evict least-recently-probed entries until under [[maxCacheBytes]].
    * Runs only on misses (loads), under one lock; the O(n) victim scan
    * is over an entry count compaction keeps small. */
  private def evictIfOver(): Unit = {
    if (totalBytes.get() <= maxCacheBytes) return
    clock.synchronized {
      while (totalBytes.get() > maxCacheBytes && cache.size() > 1) {
        var victim: String = null
        var oldest = Long.MaxValue
        val it = cache.entrySet().iterator()
        while (it.hasNext) {
          val en = it.next()
          if (en.getValue.touch < oldest) {
            oldest = en.getValue.touch; victim = en.getKey
          }
        }
        val removed = if (victim == null) null else cache.remove(victim)
        if (removed == null) return
        totalBytes.addAndGet(-removed.bytes)
      }
    }
  }

  /** Probe the SHARDED sidecar at `dir`: the key space is partitioned
    * by floorMod(value, shards) into independent per-shard filters
    * (`shard-<i>` files) — the layout that keeps BOTH the build's
    * aggregation buffers and each cached load bounded however large
    * the standing key set grows (a single monolithic filter OOMs its
    * map-side partials near 10⁹ keys · 10 bits — the 300M-seed ladder
    * rung caught exactly that). */
  def mightContain(dir: org.apache.spark.unsafe.types.UTF8String,
                   shards: Int, v: Long): Boolean =
    get(s"$dir/shard-${java.lang.Math.floorMod(v, shards.toLong)}")
      .mightContainLong(v)
}

/** `graft_bloom_probe(sidecar_dir, shards, xxhash64_value)` → boolean.
  *
  * Probes the SHARDED bloom sidecar at `sidecar_dir` (written by
  * IndexMaintainStream.writeBloomSidecar — per-shard files in the byte
  * format of Spark's own BloomFilterAggregate, so filters built by
  * `graft_bloom_agg` round-trip) for a long value, through
  * [[BloomFileCache]]. `sidecar_dir` and `shards` must be literals:
  * the plan carries a few dozen BYTES per sidecar however large the
  * filters are, and each shard loads executor-side once per lifetime.
  * Codegen calls the static cache directly, so probing stays inside
  * whole-stage codegen. */
case class BloomFileMightContain(first: Expression, second: Expression,
                                 third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, LongType)
          if first.foldable && second.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, IntegerType, LongType) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_bloom_probe dir and shard count must be literals")
      case (d, s, v) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_probe expects (string dir, int shards, long " +
          s"value), got (${d.catalogString}, ${s.catalogString}, " +
          s"${v.catalogString})")
    }

  override def dataType: DataType = BooleanType

  override def nullSafeEval(dir: Any, shards: Any, v: Any): Any =
    BloomFileCache.mightContain(
      dir.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      shards.asInstanceOf[Int], v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (d, s, v) =>
      s"graft.functions.expressions.BloomFileCache.mightContain($d, $s, $v)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
