package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.expressions.DotProduct

/** Embedding-vector math backed by the native codegen'd DotProduct
  * expression (graft.functions.expressions.DotProduct). Floats widen to
  * double inside the kernel, so callers pass raw `array<float>` columns;
  * results are bit-identical to the DuckDB oracle's
  * CAST(... AS DOUBLE[]) + list_dot_product formulation.
  *
  * [[Registry.register]] must run once per session before using these
  * columns (the public Column API has no constructor for custom
  * expressions; the function registry is the supported route).
  */
object VectorFunctions {

  private val FnName = "graft_dot"

  /** Dot product (codegen'd); widens float elements to double. */
  def dot(a: Column, b: Column): Column = call_function(FnName, a, b)

  /** Cosine similarity via three native dot products. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** LSH band signatures (codegen'd): array<long> of `bands` hashes,
    * `planesPerBand` sign bits each, over the shared HyperplaneFamily. */
  def hyperplaneBands(v: Column, bands: Int, planesPerBand: Int): Column =
    call_function("graft_hplane_bands", v, lit(bands), lit(planesPerBand))
}
