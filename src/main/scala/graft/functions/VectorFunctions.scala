package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim.{toColumn, toExpr}

import graft.functions.expressions.{DotProduct, HyperplaneBands}

/** Embedding-vector math backed by the native codegen'd DotProduct
  * expression (graft.functions.expressions.DotProduct). Floats widen to
  * double inside the kernel, so callers pass raw `array<float>` columns;
  * results are bit-identical to the DuckDB oracle's
  * CAST(... AS DOUBLE[]) + list_dot_product formulation.
  *
  * The columns wrap the expressions directly (GraftShim), so they work
  * on any session; the SQL names (`graft_dot`, …) are [[Registry]]'s.
  */
object VectorFunctions {

  /** Dot product (codegen'd); widens float elements to double. */
  def dot(a: Column, b: Column): Column =
    toColumn(DotProduct(toExpr(a), toExpr(b)))

  /** Cosine similarity via three native dot products. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** LSH band signatures (codegen'd): array<long> of `bands` hashes,
    * `planesPerBand` sign bits each, over the shared HyperplaneFamily. */
  def hyperplaneBands(v: Column, bands: Int, planesPerBand: Int): Column =
    toColumn(HyperplaneBands(toExpr(v), bands, planesPerBand))
}
