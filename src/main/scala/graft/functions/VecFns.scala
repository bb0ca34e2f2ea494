package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-vector column functions: dot product, norm, cosine similarity
  * over `array<float>`/`array<double>` columns.
  *
  * Built on the higher-order functions `zip_with` + `aggregate` (codegen'd,
  * no UDF, no driver round-trips). Inputs are cast to array<double> first so
  * accumulation happens in double precision with left-to-right order —
  * deterministic and reproducible by a SQL oracle summing in index order.
  */
object VecFns {

  /** Cast to array<double> (exact for float inputs). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product: sum_i a(i)*b(i), left-to-right. Backed by the native
    * codegen'd [[DotProduct]] expression; accumulation order (and hence
    * the exact double result) matches the equivalent
    * `aggregate(zip_with(..))` fold and the SQL oracle's index-order sum.
    */
  def dot(a: Column, b: Column): Column = DotProduct(a, b)

  /** Squared L2 norm. */
  def norm2(a: Column): Column = dot(a, a)

  /** `df` projected to (`key`, `out`), where `out` is `vec` as
    * array<double> scaled to unit L2 norm. Zero vectors stay zero: no
    * direction, they score 0 against everything. The norm is projected
    * once per row first, so the scaling lambda reads only columns and
    * its element (an inline `x / sqrt(norm2(d))` recomputes the norm
    * per element: O(dim²) per vector).
    */
  def unitNormalized(df: DataFrame, key: Column, vec: Column, out: String): DataFrame = {
    val (d, n) = (col("__d"), col("__n"))
    df.select(key, asDouble(vec).as("__d"))
      .withColumn("__n", sqrt(norm2(d)))
      .withColumn(out, when(n > 0, transform(d, x => x / n)).otherwise(d))
      .drop("__d", "__n")
  }

  /** Cosine similarity in double precision. Backed by the fused
    * [[CosineSim]] expression: one array pass with three accumulators
    * instead of three [[DotProduct]] traversals, bit-identical results
    * (same per-accumulator fold order and final association).
    */
  def cosine(a: Column, b: Column): Column = CosineSim(a, b)
}
