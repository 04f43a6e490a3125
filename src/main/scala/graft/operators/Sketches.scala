package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{BloomModel, GraftFunctions, HashFunctions}

/** Deterministic sketches for corpus-scale statistics.
  *
  * The count-min sketch's scale property is the AGGREGATION STATE
  * bound: a plain `groupBy(term).count()` holds one partial-agg
  * entry per distinct term per task (unbounded on a web-scale token
  * stream — hash-agg spill territory), while the sketch aggregates
  * into exactly `depth x width` cells no matter how many distinct
  * terms flow through — the map-side combine is bounded by
  * construction, and the merged table is small enough to BROADCAST
  * to whoever probes it. Estimates are biased up only
  * (`est >= true`, the classic CM guarantee); hashes are md5-derived
  * ([[HashFunctions.h60]]), so the whole structure is deterministic
  * and oracle-replayable — no RNG seeds, no run-to-run drift. */
object Sketches {

  /** Cell for row `d`: bits [32d, 32d+32) of ONE md5 per term —
    * the standard derive-d-hashes-from-one-strong-hash construction.
    * One digest per term instance instead of `depth` salted digests
    * (the salted form measured 3.5x DuckDB on the token stream; the
    * digest IS the scan's hot loop). md5's 128 bits cap the sliced
    * rows at 4; deeper rows fall back to salted digests. All depth
    * buckets come out of ONE codegen'd kernel call
    * ([[graft.functions.HashOps.cmsBuckets]], index = depth row) —
    * the previous md5→hex→substring→conv(16,10) column pipeline
    * re-materialized hex strings per depth row and alone cost ~2×
    * the whole sketch aggregate at sf0.1. Values are bit-identical
    * (DuckDB replays `('0x' || substr(md5(t), 1+8d, 8))::BIGINT %
    * width`). */
  def cmsBucketArray(termCol: Column, depth: Int, width: Int): Column = {
    require(depth > 0 && width > 0, "depth and width must be positive")
    GraftFunctions.cms_buckets(termCol, depth, width)
  }

  /** Build a depth x width count-min sketch over one term per input
    * row: returns `(d, bucket, cnt)` rows — at most depth*width of
    * them. One narrow generate + one bounded-state aggregate. */
  def countMinSketch(terms: DataFrame, termCol: String,
                     depth: Int = 4, width: Int = 512): DataFrame =
    terms
      .select(posexplode(cmsBucketArray(col(termCol), depth, width))
        .as(Seq("d", "bucket")))
      .groupBy(col("d"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** CMS JOIN-SIZE estimation audit — the query-optimizer
    * cardinality problem solved with the classic sketch identity:
    * `|A ⋈_k B| = Σ_k a_k·b_k`, and the inner product of two
    * count-min sketches built with the SAME hashes overestimates it
    * (Cormode & Muthukrishnan 2005, "summing the d rows' dot
    * products, taking the min"). The audit computes BOTH sides —
    * sketch estimate and exact join size — plus the signed
    * overestimate ×10⁴; never-negative by the CMS guarantee
    * (spec-pinned). This is how an optimizer decides
    * broadcast-vs-shuffle before paying for the join.
    *
    * Scale shape: two depth×width-bounded sketch aggregates (the
    * estimate side never shuffles key-shaped data at all) next to
    * two key censuses + one equi-join for the exact side — the
    * audit costs what the exact answer costs; a production
    * estimator runs ONLY the sketch side. */
  def cmsJoinSizeAudit(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
                       depth: Int = 4, width: Int = 512): DataFrame = {
    val sa = countMinSketch(a.select(col(aCol).cast("string").as("__t")), "__t", depth, width)
    val sb = countMinSketch(b.select(col(bCol).cast("string").as("__t")), "__t", depth, width)
      .withColumnRenamed("cnt", "__cntb")
    // A depth row with ZERO overlapping cells contributes an inner
    // product of 0 — it must participate in the min (it IS the best
    // estimate), so the per-d sums join a depth spine instead of
    // letting absent rows vanish from the aggregate.
    val spine = a.sparkSession.range(depth).select(col("id").cast("int").as("d"))
    val perD = sa.join(sb, Seq("d", "bucket"))
      .groupBy("d").agg(sum(col("cnt") * col("__cntb")).as("__est_d"))
    val est = spine.join(perD, Seq("d"), "left")
      .agg(min(coalesce(col("__est_d"), lit(0L))).as("est_size"))
    val ca = a.groupBy(col(aCol).cast("string").as("__k")).agg(count(lit(1)).as("__ca"))
    val cb = b.groupBy(col(bCol).cast("string").as("__k")).agg(count(lit(1)).as("__cb"))
    val exact = ca.join(cb, "__k")
      .agg(coalesce(sum(col("__ca") * col("__cb")), lit(0L)).as("exact_size"))
    exact.crossJoin(est)
      .withColumn("over_e4",
        expr("CAST((est_size - exact_size) * 10000 DIV GREATEST(exact_size, 1) AS BIGINT)"))
  }

  /** Point estimates for `probes` (one term per row) against a
    * sketch built with the SAME depth/width: `min` over the term's
    * `depth` cells, absent cells reading 0. The sketch side is
    * depth*width rows, so it broadcasts; the probe side never
    * shuffles more than (probes x depth) rows. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, termCol: String,
                  depth: Int = 4, width: Int = 512): DataFrame =
    probes
      .select(col(termCol),
        posexplode(cmsBucketArray(col(termCol), depth, width))
          .as(Seq("d", "bucket")))
      .join(broadcast(sketch), Seq("d", "bucket"), "left")
      .groupBy(col(termCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** Exponent scale of the harmonic sum for precision `p`: rho is at
    * most `lowBits + 1`, so `2^(scaleExp - rho)` is a nonnegative
    * integer power of two for every register. */
  private def hllScaleExp(p: Int): Int = 60 - p + 1

  /** Bias-correction constant (Flajolet et al. 2007, fig. 3). */
  def hllAlpha(p: Int): Double = (1 << p) match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case m  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Register index for one value: the top `p` bits of the 60-bit
    * md5 digest slice. Shared by the batch and streaming HLL paths
    * so their states merge/compare exactly. */
  def hllRegister(termCol: Column, p: Int): Column = {
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
    shiftright(hll60(termCol), 60 - p)
  }

  /** Rank for one value: leading-zero count of the low `60-p` bits,
    * plus one. bin() strips leading zeros, so length(bin(x)) =
    * floor(log2 x)+1 and the leading-zero count of the low field is
    * width-length — integer-exact with no log() on either engine. */
  def hllRank(termCol: Column, p: Int): Column = {
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
    val low = 60 - p
    val lowBits = hll60(termCol).bitwiseAND(lit((1L << low) - 1))
    when(lowBits === 0, lit(low + 1))
      .otherwise(lit(low + 1) - length(bin(lowBits)))
  }

  private def hll60(termCol: Column): Column =
    conv(substring(md5(termCol.cast("string")), 1, 15), 16, 10).cast("long")

  /** Fold per-register maxima (`groupCols + reg + maxrho` rows — the
    * shape both the batch groupBy and a streaming windowed max-agg
    * emit) into per-group (`n_regs`, `s_scaled`, `nd_estimate`).
    * See [[hyperloglog]] for the exactness argument. */
  def hllFinalize(registers: DataFrame, groupCols: Seq[String],
                  p: Int = 6): DataFrame = {
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
    val m = 1 << p
    val scaleExp = hllScaleExp(p)
    val gcols = groupCols.map(col)
    registers
      .groupBy(gcols: _*)
      .agg(
        count(lit(1)).as("n_regs"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $scaleExp - maxrho)")).as("__s"))
      .withColumn("s_scaled",
        col("__s") + (lit(m.toLong) - col("n_regs")) * lit(1L << scaleExp))
      .withColumn("nd_estimate",
        lit(hllAlpha(p) * m * m) /
          (col("s_scaled").cast("double") / lit((1L << scaleExp).toDouble)))
      .drop("__s")
  }

  /** HyperLogLog distinct-count sketch per group: `m = 2^p`
    * registers from one md5 per value — the top `p` bits of the
    * 60-bit digest slice pick the register, the leading-zero count
    * of the remaining `60-p` bits (+1) is the rank, and each
    * register keeps the max rank. Returns per group:
    *  - `n_regs`: registers touched (`m - n_regs` are empty),
    *  - `s_scaled`: the harmonic sum `sum_j 2^(-M_j)` scaled by
    *    `2^(61-p)` — an exact BIGINT, so the aggregation is
    *    integer arithmetic end-to-end and independent of both
    *    summation order and engine float behavior,
    *  - `nd_estimate`: the raw HLL estimate `alpha_m * m^2 / sum`,
    *    derived from `s_scaled` with one cast, one division by an
    *    exact power of two, and one multiply — every step IEEE
    *    correctly-rounded, hence bit-identical on any engine that
    *    evaluates the same expression shape (the DuckDB oracle
    *    does; q56 hash-gates it).
    *
    * Like the count-min sketch above, the scale property is the
    * STATE bound: `count(DISTINCT key)` holds every distinct key in
    * the partial aggregate; this holds at most `m` registers per
    * group no matter the cardinality. The raw estimate is the
    * uncorrected formula — the standard small-range (linear
    * counting, needs `ln`) and large-range corrections are the
    * caller's policy; `n_regs` carries the empty-register count
    * they need. */
  def hyperloglog(df: DataFrame, termCol: String, groupCols: Seq[String],
                  p: Int = 6): DataFrame = {
    val gcols = groupCols.map(col)
    val registers = df
      .select(gcols :+ hllRegister(col(termCol), p).as("reg")
        :+ hllRank(col(termCol), p).as("rho"): _*)
      .groupBy(gcols :+ col("reg"): _*)
      .agg(max(col("rho")).as("maxrho"))
    hllFinalize(registers, groupCols, p)
  }

  /** HLL set algebra over groups — union and intersection estimates
    * for every unordered group pair, from ONE pass of register
    * state. This is the property that makes HLL (and not exact
    * distinct sets) the right state for corpus overlap questions:
    * registers of A∪B are the element-wise max of A's and B's
    * registers, so "how many users do every two event types share",
    * "how many documents do two crawl sources both contain" reduce
    * to algebra over `groups × m` integers — no re-scan per pair,
    * no exact per-key set survives the aggregation.
    *
    * Per pair (a < b by group value): `nd_a`, `nd_b` (the raw
    * estimates of each side), `nd_union` (finalized from the maxed
    * registers), and `nd_intersect_est = nd_a + nd_b − nd_union`
    * (inclusion–exclusion — derived from the three portable doubles
    * with two correctly-rounded ops, hence itself cross-engine
    * exact; can be ≤ 0 for disjoint sets, the standard artifact of
    * subtracting estimates, reported as-is).
    *
    * Plan shape: one corpus scan into per-group register maxima
    * (≤ groups·m rows — the same bounded state as [[hyperloglog]]),
    * then every join below runs on register tables, never on the
    * corpus. The pair frame is groups², which for sketch-algebra
    * use is a HANDFUL (event types, sources, languages); guarded so
    * an accidental high-cardinality group fails fast instead of
    * silently exploding quadratically. */
  def hllPairAlgebra(df: DataFrame, termCol: String, groupCol: String,
                     p: Int = 6, maxGroups: Int = 64): DataFrame = {
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
    val registers = df
      .select(col(groupCol).as("g"), hllRegister(col(termCol), p).as("reg"),
        hllRank(col(termCol), p).as("rho"))
      .groupBy(col("g"), col("reg")).agg(max(col("rho")).as("maxrho"))
      .localCheckpoint(true)
    hllPairAlgebraFromRegisters(registers, p, maxGroups)
  }

  /** Register-level core of [[hllPairAlgebra]]: consumes
    * `(g, reg, maxrho)` rows — the shape both the batch register
    * build above and a closed streaming window
    * (`EventStreams.hllRegistersWindowed`) emit, so streamed
    * register state composes into the same pair algebra
    * bit-for-bit (EventStreamsSpec pins it). */
  def hllPairAlgebraFromRegisters(registers: DataFrame,
                                  p: Int = 6, maxGroups: Int = 64): DataFrame = {
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
    val groups = registers.select(col("g")).distinct()
    val nGroups = groups.count()
    require(nGroups <= maxGroups,
      s"hllPairAlgebra: $nGroups groups exceeds maxGroups=$maxGroups — " +
        "pair algebra is quadratic in groups by design; raise the bound " +
        "only for genuinely small group domains")
    val singles = hllFinalize(registers, Seq("g"), p)
      .select(col("g"), col("nd_estimate"))
    val pairs = groups.select(col("g").as("g_a"))
      .crossJoin(broadcast(groups.select(col("g").as("g_b"))))
      .filter(col("g_a") < col("g_b"))
    val unionRegs = pairs
      .join(registers.withColumnRenamed("g", "g_a"), Seq("g_a"))
      .unionByName(pairs.join(registers.withColumnRenamed("g", "g_b"), Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("reg"), col("maxrho")))
      .groupBy(col("g_a"), col("g_b"), col("reg"))
      .agg(max(col("maxrho")).as("maxrho"))
    hllFinalize(unionRegs, Seq("g_a", "g_b"), p)
      .select(col("g_a"), col("g_b"), col("nd_estimate").as("nd_union"))
      .join(broadcast(singles.select(col("g").as("g_a"), col("nd_estimate").as("nd_a"))), Seq("g_a"))
      .join(broadcast(singles.select(col("g").as("g_b"), col("nd_estimate").as("nd_b"))), Seq("g_b"))
      .select(col("g_a"), col("g_b"), col("nd_a"), col("nd_b"), col("nd_union"),
        (col("nd_a") + col("nd_b") - col("nd_union")).as("nd_intersect_est"))
  }

  /** Approximate per-group percentiles from a fixed-bin scaled
    * histogram — the corpus-scale replacement for exact ordered
    * selection (q62), the way the LSH join replaces the quadratic
    * pair join. Exact selection must SORT every group's rows; the
    * sketch reduces each group to its histogram first, so per-group
    * work is O(distinct bins), not O(rows).
    *
    * Sketch state is integer-exact and mergeable per the CMS/HLL
    * recipe above: `bin = floor(value * binsPerUnit)` with
    * `binsPerUnit` a power of two, so the scaling multiply is an
    * exact IEEE op and the bin id is a deterministic BIGINT both
    * engines compute identically; histogram merge is `sum(cnt)` —
    * order-independent, distributive, map-side combined. The
    * estimate for percentile p is the LOWER EDGE of the bin holding
    * the rank-⌊(n-1)·p/100⌋ value (q62's discrete-rank convention),
    * so `est ≤ exact < est + 1/binsPerUnit` — a one-bin-width error
    * bound SketchesSpec pins against the exact path.
    *
    * Plan shape: one shuffle for the (group, bin) histogram, then a
    * windowed cumulative sum over BINS (bounded by value range ×
    * binsPerUnit, never by corpus rows) picks the percentile bins.
    * Null values are excluded, like every percentile convention. */
  def binnedPercentiles(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                        percentiles: Seq[Int], binsPerUnit: Int = 4): DataFrame = {
    val gcols = groupCols.map(col)
    // NaN must drop with null: floor(NaN) casts to a null bin that
    // would sort FIRST in the cumulative window — silently inflating
    // n and shifting every percentile (and DuckDB errors on the same
    // cast, so the engines would diverge rather than gate).
    val hist = df.filter(valueCol.isNotNull && !isnan(valueCol))
      .select(gcols :+ histogramBin(valueCol, binsPerUnit).as("bin"): _*)
      .groupBy(gcols :+ col("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
    histogramPercentiles(hist, groupCols, percentiles, binsPerUnit)
  }

  /** Bin id for the scaled histogram — shared by the batch sketch
    * above and any caller that bins upstream of
    * [[histogramPercentiles]], so their bins finalize identically. */
  def histogramBin(valueCol: Column, binsPerUnit: Int): Column = {
    require(binsPerUnit > 0 && (binsPerUnit & (binsPerUnit - 1)) == 0,
      "binsPerUnit must be a power of two so the bin scaling stays IEEE-exact")
    floor(valueCol * lit(binsPerUnit)).cast("long")
  }

  /** Bins one ungrouped histogram may hold on the driver. */
  private val maxSingleBins = 1 << 20

  /** Finalize `(groupCols..., bin, cnt)` histogram rows into
    * percentile estimates — the fold the batch sketch runs (the HLL
    * registers/finalize split applied to percentiles). Histograms
    * for the same group merge beforehand by summing `cnt` — which
    * the cumulative window does implicitly, so duplicate bin rows
    * (e.g. one per micro-batch) are fine as long as each count is
    * disjoint. With no group column the histogram's running counts are
    * a [[Stats.census]] on the driver (at most 2²⁰ bins). */
  def histogramPercentiles(hist: DataFrame, groupCols: Seq[String],
                           percentiles: Seq[Int], binsPerUnit: Int): DataFrame = {
    require(binsPerUnit > 0 && (binsPerUnit & (binsPerUnit - 1)) == 0,
      "binsPerUnit must be a power of two so the bin scaling stays IEEE-exact")
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 0 && p <= 100),
      "percentiles must be in [0, 100]")
    val gcols = groupCols.map(col)
    val cum =
      if (groupCols.isEmpty)
        // One histogram: its running and total counts are a census's
        // driver sums, never a window over the whole histogram.
        Stats.census(hist.groupBy(col("bin")).agg(sum(col("cnt")).as("cnt")), maxSingleBins,
          "histogramPercentiles", Stats.CensusSum.running("cum", "cnt", Nil, "bin"),
          Stats.CensusSum.total("n", "cnt", Nil))
      else hist
        .withColumn("cum", sum(col("cnt")).over(Window.partitionBy(gcols: _*).orderBy(col("bin"))))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(gcols: _*)))
    val aggs = percentiles.map { p =>
      (min(when(col("cum") >= expr(s"((n - 1) * $p) div 100") + 1, col("bin")))
        .cast("double") / lit(binsPerUnit.toDouble)).as(s"p${p}_est")
    } :+ max(col("n")).as("n")
    cum.groupBy(gcols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fit a Bloom filter on a key column — the membership sketch
    * completing the family (CMS counts, HLL cardinality, binned
    * percentiles, Bloom MEMBERSHIP).
    *
    * The fit collects the FILTER, never the keys: positions are
    * computed distributively (one codegen'd expression per key),
    * packed into 64-bit words by a per-word `bit_or` aggregate
    * (map-side combine bounds each task's state at `numBits/64`
    * entries), and the driver reads at most `numBits/64` rows — a
    * bound chosen by the CALLER, independent of corpus size. That is
    * the whole reason a Bloom filter is the standard 100-TB
    * decontamination/delta-ingest accelerator: a few MB of bitset
    * broadcast where the exact key set would be GBs. */
  def fitBloom(keys: DataFrame, keyCol: String,
               numBits: Int = 1 << 20, k: Int = 5): BloomModel = {
    require(numBits > 0 && numBits % 64 == 0, "numBits must be a positive multiple of 64")
    require(k >= 1 && k <= 64, "k must be in 1..64")
    val words = new Array[Long](numBits / 64)
    keys
      .select(explode(GraftFunctions.bloom_positions(col(keyCol), k, numBits)).as("p"))
      .select((col("p") / 64).cast("long").as("w"),
        expr("shiftleft(1L, cast(p % 64 AS int))").as("m"))
      .groupBy(col("w")).agg(bit_or(col("m")).as("word"))
      .collect()
      .foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    BloomModel(numBits, k, words)
  }

  /** Probe every row's key against a fitted filter: `(idCol, n_hit,
    * maybe_in_set)` as a pure stateless codegen projection — no
    * join, no shuffle, so it runs unchanged on a streaming frame.
    * `maybe_in_set = false` is exact absence. */
  def bloomScored(docs: DataFrame, model: BloomModel,
                  idCol: String = "doc_id", keyCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        GraftFunctions.bloom_membership(col(keyCol), model).as("__b"))
      .select(col(idCol),
        col("__b.n_hit").as("n_hit"),
        col("__b.maybe").as("maybe_in_set"))
}
