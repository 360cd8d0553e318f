package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions.expressions.{BloomFileMightContain, BoundedBucket, DeflateLength, DotProduct, FreqItemsSketch, GramCounts, HyperplaneBands, MinHashSignature, SimHashSignature, UnicodeNormalize}

/** graft's native Catalyst expressions as SQL functions — the SQL
  * surface only. [[functions]] is the one name → builder list:
  * [[register]] binds it on an existing session (through
  * graft.GraftSession.configure), and graft.GraftExtensions injects the
  * same list through the SparkSessionExtensions SPI. graft's own
  * operators never look these names up: they build the expressions
  * directly and wrap them as Columns through
  * org.apache.spark.sql.graftshim.GraftShim, so they run on any
  * session, registered or not. */
object Registry {

  /** One SQL function: its name, the expression class it builds (shown
    * by DESCRIBE FUNCTION) and the builder. */
  final case class Fn(name: String, exprClass: Class[_],
                      build: Seq[Expression] => Expression) {
    def info: ExpressionInfo = new ExpressionInfo(exprClass.getName, name)
  }

  val functions: Seq[Fn] = Seq(
    Fn("graft_dot", classOf[DotProduct], exprs => DotProduct(exprs(0), exprs(1))),
    Fn("graft_minhash_sig", classOf[MinHashSignature],
      exprs => MinHashSignature(exprs.head)),
    Fn("graft_hplane_bands", classOf[HyperplaneBands], HyperplaneBands.build),
    Fn("graft_simhash", classOf[SimHashSignature],
      exprs => SimHashSignature(exprs.head)),
    Fn("graft_freq_items", classOf[FreqItemsSketch], FreqItemsSketch.build),
    Fn("graft_bounded_bucket", classOf[BoundedBucket], BoundedBucket.build),
    Fn("graft_deflate_len", classOf[DeflateLength],
      exprs => DeflateLength(exprs.head)),
    Fn("graft_gram_counts", classOf[GramCounts],
      exprs => GramCounts(exprs.head)),
    Fn("graft_normalize", classOf[UnicodeNormalize], { exprs =>
      val form = if (exprs.length < 2) "NFC" else exprs(1) match {
        case Literal(s, _) if s != null => s.toString
        case _ => throw new IllegalArgumentException(
          "graft_normalize form must be a string literal")
      }
      UnicodeNormalize(exprs.head, form)
    }),
    // Spark's own bloom-filter pair (the expressions behind runtime
    // row-level filtering, SPARK-32268) exposed under graft names —
    // they are not in the public FunctionRegistry. The aggregate is
    // MERGEABLE (map-side partial combine), which is what makes a
    // persistent dedup membership index maintainable incrementally.
    Fn("graft_bloom_agg", classOf[BloomFilterAggregate], { exprs =>
      if (exprs.length != 3) throw new IllegalArgumentException(
        s"graft_bloom_agg expects (xxhash64 value, est_items, num_bits), " +
        s"got ${exprs.length} arguments")
      new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
    }),
    Fn("graft_might_contain", classOf[BloomFilterMightContain], { exprs =>
      if (exprs.length != 2) throw new IllegalArgumentException(
        s"graft_might_contain expects (bloom, xxhash64 value), " +
        s"got ${exprs.length} arguments")
      BloomFilterMightContain(exprs(0), exprs(1))
    }),
    Fn("graft_bloom_probe", classOf[BloomFileMightContain], { exprs =>
      if (exprs.length != 3) throw new IllegalArgumentException(
        s"graft_bloom_probe expects (sidecar dir, shards, xxhash64 " +
        s"value), got ${exprs.length} arguments")
      BloomFileMightContain(exprs(0), exprs(1), exprs(2))
    }),
  )

  /** Per-session registration of [[functions]]. Idempotent: binds only
    * the names that are missing or bound to another expression class,
    * so a session that already has them (the SPI route, an earlier
    * call) is left alone and logs no "replaced a previously registered
    * function" warning. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.lookupFunction(id).exists(_.getClassName == f.exprClass.getName))
        reg.registerFunction(id, f.info, f.build)
    }
  }
}
