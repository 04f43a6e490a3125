package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multidimensional data layout: Z-order (Morton) clustering and the
  * zone-map census that makes it pay.
  *
  * Why this is a first-class operator at 100 TB: a parquet scan prunes
  * files and row groups with min/max statistics, and those statistics
  * are only selective for columns the layout actually clusters.
  * Sorting clusters ONE column; interleaving the bits of several
  * quantized columns (the Morton / Z-order curve) gives every
  * interleaved column locality at once, so a predicate on ANY subset
  * of them skips most of the layout. This is the standard multi-
  * dimensional clustering lever (Delta/Iceberg `ZORDER BY`,
  * space-filling-curve literature) re-expressed as three small pieces:
  * a quantizer, a bit-interleave, and a zone-map census — all plain
  * codegen'd column arithmetic, no shuffle beyond the one the write
  * needs anyway.
  */
object Layout {

  /** Morton interleave of `d` already-quantized long columns, each in
    * `[0, 2^bits)`: bit `i` of dimension `j` lands at output bit
    * `i*d + j`, so the top output bits alternate the top bits of every
    * dimension — truncating the z-value (the bucket step below) cuts
    * space into an even grid over ALL dimensions at once.
    *
    * Composed from shift/mask built-ins (2·d·bits leaf ops, a linear
    * expression tree that stays inside whole-stage codegen); a custom
    * Catalyst expression would buy nothing here — the compose-first
    * rule. Capped at 62 output bits so the z-value stays a positive
    * long. */
  def mortonCode(qcols: Seq[Column], bits: Int): Column = {
    require(qcols.nonEmpty, "at least one column")
    require(bits >= 1 && qcols.size * bits <= 62,
      s"need 1 <= bits and dims*bits <= 62, got dims=${qcols.size} bits=$bits")
    val d = qcols.size
    val terms = for {
      (c, j) <- qcols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * d + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** Min-max quantization of a long column to `[0, 2^bits - 1]`.
    * The one non-integer step is a single correctly-rounded double
    * division followed by `floor` — the established cross-engine
    * float rule (the oracle replays the identical shape), and the
    * operands are far below 2^53 so the double arithmetic is exact.
    * A degenerate dimension (min == max) quantizes to 0 instead of
    * dividing by zero. */
  def quantize(c: Column, mn: Column, mx: Column, bits: Int): Column =
    when(mx > mn,
      floor(((c - mn) * ((1L << bits) - 1)).cast("double") /
        (mx - mn).cast("double")).cast("long"))
      .otherwise(lit(0L))

  /** Attach the Morton z-value (global min/max fit by one bounded
    * aggregate, re-attached by one-row broadcast) — the shared core
    * of the census and the write path, so the two can never disagree
    * about which bucket a row lands in. */
  private def withZValue(df: DataFrame, cols: Seq[String], bits: Int,
                         zCol: String): DataFrame = {
    require(cols.nonEmpty, "at least one layout column")
    val statAggs = cols.flatMap(c => Seq(
      min(col(c)).cast("long").as(s"__mn_$c"),
      max(col(c)).cast("long").as(s"__mx_$c")))
    val stats = df.agg(statAggs.head, statAggs.tail: _*)
    val qs = cols.map(c =>
      quantize(col(c).cast("long"), col(s"__mn_$c"), col(s"__mx_$c"), bits))
    df.crossJoin(broadcast(stats))
      .withColumn(zCol, mortonCode(qs, bits))
      .drop(cols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c")): _*)
  }

  /** Z-order zone-map census: quantize `cols` against their global
    * min/max, interleave into a z-value, bucket by the TOP
    * `bucketBits` bits, and emit each bucket's row count plus
    * per-column min/max — exactly the statistics a file skipper
    * consults, so the census doubles as a direct measurement of how
    * prunable the clustered layout is (LayoutSpec quantifies it
    * against a single-column sort).
    *
    * Scale shape: one bounded global min/max aggregate (one row,
    * attached back by broadcast — the q98 pattern), then one scan
    * computing the z-value as a pure projection and ONE shuffle for
    * the bucket aggregate, map-side combined to ≤ 2^bucketBits rows
    * per partition. Nothing here grows with corpus size except the
    * single scan; at a real write the same z-value feeds
    * [[clusterByZorder]] instead of a census. */
  def zorderZoneMap(df: DataFrame, cols: Seq[String], bits: Int,
                    bucketBits: Int): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= cols.size * bits,
      s"bucketBits must be in [1, ${cols.size * bits}]")
    val zoneAggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
      min(col(c)).cast("long").as(s"${c}_min"),
      max(col(c)).cast("long").as(s"${c}_max")))
    withZValue(df, cols, bits, "__z")
      .withColumn("__bucket", shiftright(col("__z"), cols.size * bits - bucketBits))
      .groupBy(col("__bucket").as("bucket"))
      .agg(zoneAggs.head, zoneAggs.tail: _*)
  }

  /** The write-path half: attach the z-value and range-partition by it
    * so each output task — and therefore each output file — covers a
    * compact z-range over `files` roughly-equal slices (range
    * partitioning samples the z distribution, so skewed dimensions
    * still balance). Writing the result with `sortWithinPartitions`
    * on the same key gives parquet row groups whose min/max stats are
    * tight on EVERY interleaved column; the caller owns the actual
    * `.write` so sinks/formats stay orthogonal. */
  def clusterByZorder(df: DataFrame, cols: Seq[String], bits: Int,
                      files: Int, zCol: String = "zval"): DataFrame = {
    require(files >= 1, "files must be positive")
    withZValue(df, cols, bits, zCol)
      .repartitionByRange(files, col(zCol))
      .sortWithinPartitions(col(zCol))
  }
}
