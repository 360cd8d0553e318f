package graft

import org.apache.spark.sql.SparkSession

/** The library's front door: a SparkSession wired the way graft's own
  * mains run — native functions registered for SQL, the TopKPerKey operator
  * stack injected, and the session defaults every operator assumes
  * (UTC timestamps, AQE on, shuffle parallelism sized to the
  * cluster, not the 200 default).
  *
  * Cluster deployments that build their own session can instead pass
  * `--conf spark.sql.extensions=graft.GraftExtensions` (the SPI route —
  * identical bindings) or call [[configure]] on an existing session.
  * Either route also passes
  * `--conf spark.sql.codegen.cache.maxEntries=` [[CodegenCacheEntries]],
  * which only a session's builder can set.
  */
object GraftSession {

  /** Max literals per SINGLE pushed IN predicate — the depth bound
    * behind [[InFilterThreshold]] and the streams' chunked verify
    * scans (IndexMaintainStream.literalInScan). Spark translates an
    * IN at or under the pushdown threshold into a LEFT-NESTED
    * `or(or(or(...)))` chain — `reduceLeftOption(FilterApi.or)` in
    * ParquetFilters, verified in the 4.1.2 bytecode — whose depth
    * equals the literal count, and parquet evaluates that tree
    * RECURSIVELY per row group. Under a deep whole-stage-codegen task
    * stack the recursion overflows somewhere past ~2000 literals: the
    * round-13 1B-key StreamLadder rung died exactly there
    * (StackOverflowError inside the verify scan's nextBatch once
    * accumulated sidecar false positives pushed the epoch's verify
    * set past ~2k literals; epochs carrying ~1000–1500 passed).
    * 512 sits ≥4× under the measured crash and ~2× under
    * measured-good, while a 512-chunk scan still prunes row groups
    * exactly as well — a larger probe set becomes a UNION of
    * bounded-depth scans, never a deeper tree. */
  val InScanChunk: Int = 512

  /** Session value for `parquet.pushdown.inFilterThreshold` — twice
    * [[InScanChunk]]: every graft-built IN is chunk-bounded anyway,
    * and ad-hoc caller INs up to 1024 literals stay in the
    * measured-safe depth band (tools.InPushdownProbe ran 1000-literal
    * probes through the identical scan stack; SURVEY §6.9, source at
    * 0791305). */
  val InFilterThreshold: Int = InScanChunk * 2

  /** Entries of Spark's per-JVM generated-code cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). A serving
    * session runs many registry entries, and every entry whose classes
    * fell out of the cache compiles them again inside its tasks: with
    * 100 entries a warm pass over perfbench's 12-entry mix recompiled
    * 338 classes. A cold pass over the whole registry compiles 2,706
    * classes at sf0.1 and 2,670 at sf0.001 (the sum of Bench's
    * `[bench] codegen` first-run counts under an unbounded cache); 4096
    * holds 1.5× the larger, so a warm pass over any mix of entries
    * compiles only the classes whose generated source changes between
    * calls.
    *
    * A static conf: `CodeGenerator`'s static initializer reads it once
    * per JVM (through `SQLConf.get`, from whichever session generates
    * code first), so only a session built by [[local]] or a
    * `--conf spark.sql.codegen.cache.maxEntries=` on spark-submit can
    * set it; [[configure]] cannot. */
  val CodegenCacheEntries: Int = 4096

  /** Apply graft's session-level requirements to an existing session:
    * native function registration (idempotent) for SQL callers —
    * graft's operators build their expressions directly and need none —
    * plus the runtime confs the serve paths assume: the IN-pushdown
    * threshold below, and
    * `parquet.nanosAsLong`, so a TIMESTAMP(NANOS) `events.ts` reads as
    * the raw int64 that graft.Tables.events rescales. Extensions
    * (rule/strategy) can only be injected at build time — sessions not
    * built via [[local]]/the SPI still run every operator, with
    * TopKPerKey falling back to its logical form's window rewrite.
    *
    * `parquet.pushdown.inFilterThreshold = ` [[InFilterThreshold]]:
    * Spark pushes a literal IN to parquet as a REAL In predicate only
    * up to this threshold (default 10) and degrades to a min/max
    * RANGE above it — for the uniformly-distributed keys every
    * standing index here serves (md5 hashes, xxhash64 terms/grams,
    * cell ids), that range spans the whole keyspace and prunes
    * nothing, so the IN-literal serve silently reads every row group.
    * With the values pushed, the clustered tables' tight per-row-group
    * min/max skip the groups containing no probed key — measured 2.4×
    * on a 1000-key probe of a 200M-row clustered table
    * (tools.InPushdownProbe, 0.69 → 0.29 s; SURVEY §6.8, source at
    * 0791305). The threshold is NOT
    * 10000 (round 12's value): a pushed IN is a literal-count-deep
    * recursive Or tree, and past ~2k literals it overflows the task
    * stack — see [[InScanChunk]]; large probe sets are chunked into
    * unions of bounded scans instead. Applied only when the session
    * still carries Spark's default (10): a value the deployment set
    * explicitly (spark-submit --conf, builder config) is deliberate
    * tuning and configure() must not silently clobber it. */
  def configure(spark: SparkSession): SparkSession = {
    functions.Registry.register(spark)
    val inKey = "spark.sql.parquet.pushdown.inFilterThreshold"
    if (spark.conf.get(inKey, "10") == "10")
      spark.conf.set(inKey, InFilterThreshold.toString)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** Cores for the registry mains (Bench, Verify, Explain, Inventory,
    * JobProfile) and ScaleUpFresh: `SPARK_GRAFT_CPUS`, default 4. Read
    * in this one place so the plans Explain prints are the plans Bench
    * times. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A local session with graft fully wired (the shape every graft main
    * runs): extensions injected at build time, SQL functions registered,
    * shuffle partitions = cores, and the generated-code cache sized to
    * [[CodegenCacheEntries]] unless the deployment set that key. The
    * one place graft builds a session.
    * A master that spark-submit already set (the `spark.master` system
    * property) is kept, so the same main calibrates a real cluster;
    * otherwise the session runs at `local[cores]`. Fails fast if a
    * session already exists in the JVM — getOrCreate would silently
    * hand that session back with every config here ignored (no
    * extensions, wrong shuffle width), breaking the "extensions
    * injected at build time" contract; callers with an existing
    * session want [[configure]]. */
  def local(cores: Int): SparkSession = {
    // check BOTH slots: a stopped thread-local active session must not
    // mask a live default session (getOrCreate would return the latter)
    val existing = (SparkSession.getActiveSession.toSeq ++
      SparkSession.getDefaultSession.toSeq)
    existing.filterNot(_.sparkContext.isStopped).headOption.foreach { _ =>
      throw new IllegalStateException(
        "GraftSession.local: a SparkSession already exists in this JVM; " +
        "getOrCreate would ignore the graft configs and return it without " +
        "the extension stack. Use GraftSession.configure(session) instead, " +
        "or stop the existing session first.")
    }
    val builder = SparkSession.builder()
    val cacheKey = "spark.sql.codegen.cache.maxEntries"
    val s = (if (sys.props.contains("spark.master")) builder
             else builder.master(s"local[$cores]"))
      // a deployment's own value (system property, spark-submit --conf) wins
      .config(cacheKey, sys.props.getOrElse(cacheKey, CodegenCacheEntries.toString))
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    configure(s)
  }
}
