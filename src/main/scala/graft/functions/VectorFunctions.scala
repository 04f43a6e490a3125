package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` / `array<double>` columns.
  *
  * Everything is composed from Spark higher-order functions
  * (`zip_with`, `aggregate`, `transform`) so the whole computation
  * stays inside Catalyst — no UDF serialization, no Encoder round
  * trips. Accumulation is left-to-right in double precision, which
  * matches a straightforward loop in any other engine (the DuckDB
  * oracle sums in the same order), so results are bit-reproducible.
  *
  * At 100 TB scale the intended pattern is: precompute `norm` once
  * per row (cheap, embarrassingly parallel), broadcast the small
  * query set, and keep top-k selection inside a partial aggregate
  * (see [[graft.operators.Similarity]]) so no full cross product is
  * ever shuffled.
  */
object VectorFunctions {

  /** Cast an embedding column to array<double> for stable math. */
  def asDouble(c: Column): Column = c.cast("array<double>")

  /** Dot product, left-to-right double accumulation — a codegen'd
    * primitive loop ([[graft.functions.DotProduct]]), bit-identical
    * to the `aggregate(zip_with(...))` HOF form but ~50× cheaper in
    * the pair-scoring hot path. */
  def dot(a: Column, b: Column): Column = GraftFunctions.dot_product(a, b)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine given precomputed norms (avoids recomputing per pair). */
  def cosinePrenormed(dotCol: Column, normA: Column, normB: Column): Column =
    dotCol / (normA * normB)

  /** Sign bit (0/1) of the dot product of `v` with a pseudo-random
    * hyperplane derived from `seed` — the building block for
    * random-hyperplane LSH. Plane component j is +1 when bit
    * (j mod 60) of h60(seed || '#' || j) is set, else -1; fully
    * deterministic and engine-portable.
    */
  def hyperplaneBit(v: Column, dim: Int, plane: Int): Column = {
    val contribs = (0 until dim).map { j =>
      val h = HashFunctions.h60(lit(s"plane:$plane:$j"))
      val sign = when(shiftright(h, j % 60).bitwiseAND(lit(1L)) === 1L, lit(1.0d)).otherwise(lit(-1.0d))
      element_at(v, j + 1) * sign
    }
    when(contribs.reduce(_ + _) > 0, lit(1)).otherwise(lit(0))
  }

  /** LSH bucket id from `nPlanes` hyperplane sign bits; `table`
    * selects a disjoint plane family so multiple independent hash
    * tables can be built over the same vectors. */
  def hyperplaneBucket(v: Column, dim: Int, nPlanes: Int, table: Int = 0): Column =
    (0 until nPlanes).map(p =>
      hyperplaneBit(v, dim, table * nPlanes + p) * lit(1 << p)).reduce(_ + _)

  /** Array of packed (table << 32 | bucket) keys for `nTables`
    * independent LSH tables — the standard recall lever: a true
    * neighbor is missed only if it hashes apart in EVERY table.
    * One codegen'd kernel call ([[graft.functions.HyperplaneBuckets]]);
    * the equivalent column composition is nTables × nPlanes × dim
    * `element_at` nodes, which at 16×6×64 breaks codegen. Kernel and
    * column forms are asserted equal in VectorFunctionsSpec. */
  def hyperplaneBuckets(v: Column, dim: Int, nPlanes: Int, nTables: Int): Column =
    GraftFunctions.hyperplane_buckets(v, dim, nPlanes, nTables)
}
