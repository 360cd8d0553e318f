package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** The wire form of a shuffle or index key: the string itself (`Text`)
  * or its 8-byte `xxhash64` (`Hashed`). Every span, n-gram, line and
  * BM25 kernel takes one, so the two forms differ by one expression —
  * the column, or `xxhash64` of it — and share everything else.
  *
  * `Text` is bit-exact and carries the DuckDB oracle. `Hashed` moves
  * 8 bytes per key instead of the string (a K-token gram, a line, a
  * term) through every exchange and persisted index, at the price of
  * collisions: over n distinct keys the expected number of colliding
  * pairs is ~n²/2⁶⁵ (birthday bound) — nil at any test scale, ~3% at
  * 10⁹ keys, and ~2.7·10⁴ pairs at 10¹² keys (≈100 TB of text), where
  * collisions are certain but each aliases only two keys. Each kernel
  * documents which way an alias moves its output; absent a collision
  * both forms produce identical rows, so the `_hashed` entries carry
  * their string form's full oracle.
  *
  * A persisted root (a gram index, a postings table) keeps the form of
  * its first write for its whole life: [[Wire.of]] reads it back from
  * the committed key column's type. */
sealed abstract class Wire(val dataType: DataType) {

  /** The key column for string column `value`. */
  def key(value: Column): Column

  /** `df` with string column `column` replaced by its key (`Text`
    * returns `df` itself, so the string form's plan is untouched). */
  def keyed(df: DataFrame, column: String): DataFrame

  /** The key of a driver-side string, as a literal for an IN list. */
  def literal(value: String): Any

  /** The LONG a bloom sidecar is built over, given a key column. */
  def bloomKey(key: Column): Column
}

object Wire {
  case object Text extends Wire(StringType) {
    def key(value: Column): Column = value
    def keyed(df: DataFrame, column: String): DataFrame = df
    def literal(value: String): Any = value
    def bloomKey(key: Column): Column = xxhash64(key)
  }

  case object Hashed extends Wire(LongType) {
    def key(value: Column): Column = xxhash64(value)
    def keyed(df: DataFrame, column: String): DataFrame =
      df.withColumn(column, key(col(column)))
    /** Catalyst's own `xxhash64` (seed 42) evaluated on the driver —
      * the same value the column expression computes, with no job. */
    def literal(value: String): Any = new XxHash64(Seq(Literal(value))).eval()
    def bloomKey(key: Column): Column = key
  }

  /** The wire whose key column has type `dataType` — how an established
    * root's committed schema names its form. */
  def of(dataType: DataType): Wire = dataType match {
    case StringType => Text
    case LongType => Hashed
    case other => throw new IllegalArgumentException(
      s"not a wire key type: $other (expected string or bigint)")
  }
}
