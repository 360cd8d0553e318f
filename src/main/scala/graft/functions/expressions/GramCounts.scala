package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM-side kernel of [[GramCounts]]. Tokens are interned to dense int
  * ids, a bigram is keyed by its two ids and a trigram by (bigram id,
  * third id), so both widths count over primitive longs in one pass
  * with no string building. (Scala objects emit static forwarders, so
  * generated Java calls [[counts]] directly.) */
object GramCountsUtil {

  val Schema: StructType = StructType(
    Seq("n_bigrams", "top_bigram_c", "n_trigrams", "distinct_trigrams")
      .map(StructField(_, LongType, nullable = false)))

  /** Open-addressing set of longs that hands out dense insertion ids. */
  private final class LongIds(expected: Int) {
    private val mask = Integer.highestOneBit(math.max(expected, 2) * 2) * 2 - 1
    private val keys = new Array[Long](mask + 1)
    private val ids = Array.fill(mask + 1)(-1)
    var size = 0

    /** Dense id of `k`, assigned on first sight. */
    def idOf(k: Long): Int = {
      var h = k ^ (k >>> 33)
      h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33
      var slot = h.toInt & mask
      while (ids(slot) >= 0 && keys(slot) != k) slot = (slot + 1) & mask
      if (ids(slot) < 0) {
        keys(slot) = k
        ids(slot) = size
        size += 1
      }
      ids(slot)
    }
  }

  private def pair(a: Int, b: Int): Long = (a.toLong << 32) | (b & 0xffffffffL)

  /** (n_bigrams, top_bigram_c, n_trigrams, distinct_trigrams) of one
    * token array, or null below 2 tokens. */
  def counts(tokens: ArrayData): InternalRow = {
    val n = tokens.numElements()
    if (n < 2) return null
    val interned = new java.util.HashMap[UTF8String, Integer](n * 2)
    val tok = new Array[Int](n)
    var i = 0
    while (i < n) {
      val t = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
      val seen = interned.get(t)
      tok(i) =
        if (seen != null) seen.intValue
        else { interned.put(t, interned.size); interned.size - 1 }
      i += 1
    }
    val bigrams = new LongIds(n - 1)
    val bigramOf = new Array[Int](n - 1)
    val bigramC = new Array[Int](n - 1)
    var top = 0
    i = 0
    while (i < n - 1) {
      val b = bigrams.idOf(pair(tok(i), tok(i + 1)))
      bigramOf(i) = b
      bigramC(b) += 1
      if (bigramC(b) > top) top = bigramC(b)
      i += 1
    }
    val trigrams = new LongIds(n - 2)
    i = 0
    while (i < n - 2) {
      trigrams.idOf(pair(bigramOf(i), tok(i + 2)))
      i += 1
    }
    InternalRow((n - 1).toLong, top.toLong, (n - 2).toLong,
      trigrams.size.toLong)
  }
}

/** `graft_gram_counts(tokens)` → `struct<n_bigrams, top_bigram_c,
  * n_trigrams, distinct_trigrams>` (longs) over one document's token
  * array: the bigram and trigram occurrence counts, the count of the
  * most frequent bigram and the number of distinct trigrams — the exact
  * integers behind the Gopher repetition fractions
  * (operators.TextOps.repetitionMetrics divides and rounds them in
  * Column arithmetic). Null below 2 tokens (no gram of either width);
  * with exactly 2 tokens the trigram counts are 0.
  *
  * A gram is the sequence of its tokens, so counting interned id tuples
  * equals counting the space-joined gram strings for any tokens without
  * spaces (regex word tokens never contain one). Per-row and map-only:
  * the per-document metric needs no explode, no doc-keyed shuffle and
  * no join back to the documents.
  */
case class GramCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gram_counts expects array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = GramCountsUtil.Schema

  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    GramCountsUtil.counts(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.expressions.GramCountsUtil.counts($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

