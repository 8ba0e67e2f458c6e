package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, built from
  * codegen-friendly higher-order functions — no UDFs, so Catalyst keeps
  * the whole expression inside the plan (prunable, pushable, no
  * serialization wall).
  *
  * All math is done in double: float arithmetic order-dependence would
  * break oracle parity and cross-run determinism. Inputs are cast with
  * `cast("array<double>")` once at the edge.
  */
object Vectors {

  /** Elementwise dot product — native codegen'd expression
    * ([[VectorExpressions.dot_product]]); same sequential fold order as
    * the HOF form (kept below for reference), ~100× faster. */
  def dot(a: Column, b: Column): Column = VectorExpressions.dot_product(a, b)

  /** Interpreted HOF formulation (oracle-equivalent, kept for tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]; null-safe on zero vectors. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cast an `array<float>` column to `array<double>` for exact math. */
  def asDouble(a: Column): Column = a.cast("array<double>")
}
