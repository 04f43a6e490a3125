package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-skew diagnostics: the census a hot-key mitigation (AQE's
  * skew-join splitting, or salting a skewed aggregate or join) is
  * chosen from. */
object Skew {

  /** Key-skew DIAGNOSTICS: the report an operator chooses a salting /
    * AQE strategy FROM — the `topK` heaviest keys of `keyCol` with
    * row counts and corpus share in parts-per-million (integer
    * floor division of scaled longs, so the report hash-gates; PMI-
    * style floats are the caller's derivation). One map-side-combined
    * aggregate + a bounded TakeOrdered — the corpus never globally
    * sorts — and the total attaches via a one-row broadcast cross
    * join, never a driver collect. Ordering (n desc, key asc) is a
    * total order, so the top-k cut is deterministic under ties. */
  def keySkewReport(df: DataFrame, keyCol: String, topK: Int = 20): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    counts.crossJoin(broadcast(total))
      .select(col(keyCol), col("n"),
        expr("n * 1000000L div __total").as("ppm"))
      .orderBy(col("n").desc, col(keyCol).asc)
      .limit(topK)
  }
}
