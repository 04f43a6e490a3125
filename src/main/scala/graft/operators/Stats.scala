package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Distributed statistics via sufficient-statistic aggregation —
  * the one-pass, map-side-combinable shape that scales: per group a
  * single aggregate collects exact sums, and the model parameters
  * are closed-form arithmetic over one tiny row per group. No
  * iteration, no per-group data movement beyond the partial sums.
  */
object Stats {

  /** One column [[collectCensus]] appends to every census row: per
    * `by` group (null keys form one group, as `partitionBy` does),
    * the sum of the long column `value` — the row count when `value`
    * is None — over the group's rows whose `order` key sorts at or
    * before this row's, peers included, or over the whole group when
    * `order` is None. Order keys are long or double columns, sorted
    * as Spark sorts them (ascending nulls first, descending nulls
    * last, NaN above every number). Sums are nullable longs, null
    * when every summed value is null; counts are non-null longs —
    * the types the windows they replace produced. */
  private[graft] final case class CensusSum(out: String, value: Option[String],
                                            by: Seq[String], order: Option[String],
                                            descending: Boolean)

  private[graft] object CensusSum {
    def running(out: String, value: String, by: Seq[String], order: String,
                descending: Boolean = false): CensusSum =
      CensusSum(out, Some(value), by, Some(order), descending)
    def total(out: String, value: String, by: Seq[String]): CensusSum =
      CensusSum(out, Some(value), by, None, descending = false)
    def count(out: String, by: Seq[String]): CensusSum =
      CensusSum(out, None, by, None, descending = false)
  }

  /** A census on the driver: the collected rows and their schema. */
  private[graft] final case class LocalCensus(schema: StructType, rows: Array[Row]) {
    def index(c: String): Int = schema.fieldIndex(c)
    /** These rows with one more long column. */
    def append(out: String, values: Array[Any], nullable: Boolean): LocalCensus =
      LocalCensus(schema.add(StructField(out, LongType, nullable)),
        rows.indices.map(i => Row.fromSeq(rows(i).toSeq :+ values(i))).toArray)
    def toDF(spark: SparkSession): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** The census primitive. Census-space operators (rank statistics,
    * life tables, percentile picks) reduce the corpus to a
    * `(keys…) → counts` census whose size is bounded by distinct
    * quantized values — a bound that holds by CONSTRUCTION only if
    * the operator enforces it: on a near-continuous value column the
    * census approaches corpus cardinality. So the census comes to the
    * driver in ONE [[Bounded.collectOrFail]]: at most `maxRows + 1`
    * rows ever reach the driver, and over `maxRows` the call fails
    * with `require`'s IllegalArgumentException naming `what`.
    *
    * `sums` are the census-space running sums and totals, computed
    * here in exact long arithmetic (`Math.addExact`: an overflow
    * throws, as ANSI `sum` does) and appended in order. The small
    * tail of each operator then runs as plain driver code or as
    * Spark expressions over [[LocalCensus.toDF]] — never as a window
    * over a census in one task. */
  private[graft] def collectCensus(df: DataFrame, maxRows: Long, what: String,
                                   sums: CensusSum*): LocalCensus = {
    require(maxRows >= 1, "maxRows must be positive")
    val rows = Bounded.collectOrFail(df, maxRows)(
      s"$what: more than $maxRows distinct census rows — quantize/bucket coarser upstream")
    sums.foldLeft(LocalCensus(df.schema, rows)) { (c, s) =>
      c.append(s.out, censusSum(c, s), nullable = s.value.isDefined)
    }
  }

  /** [[collectCensus]], handed back as a local frame. */
  private[graft] def census(df: DataFrame, maxRows: Long, what: String,
                            sums: CensusSum*): DataFrame =
    collectCensus(df, maxRows, what, sums: _*).toDF(df.sparkSession)

  /** Spark's sort order on an order key: nulls first, doubles with
    * -0.0 = 0.0 and NaN above every number. */
  private def compareOrder(a: Any, b: Any): Int = (a, b) match {
    case (null, _) | (_, null) => (if (a == null) 0 else 1) - (if (b == null) 0 else 1)
    case (x: java.lang.Double, y: java.lang.Double) =>
      if (x.doubleValue == y.doubleValue) 0 else java.lang.Double.compare(x, y)
    case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
  }

  private def censusSum(c: LocalCensus, s: CensusSum): Array[Any] = {
    val rows = c.rows
    val value = s.value.map { v =>
      require(c.schema(v).dataType == LongType, s"census sum over non-long column $v")
      c.index(v)
    }
    val order = s.order.map { o =>
      require(c.schema(o).dataType == LongType || c.schema(o).dataType == DoubleType,
        s"census order key $o must be long or double")
      c.index(o)
    }
    // Dense group ids. Floating keys are canonical (x + 0 turns -0.0
    // into 0.0; the bits of every NaN are one), so groups match
    // partitionBy's.
    val by = s.by.map(c.index)
    val ids = new java.util.HashMap[Seq[Any], Integer]()
    val gid = rows.map(r => ids.computeIfAbsent(by.map(k => r.get(k) match {
      case d: java.lang.Double => java.lang.Double.doubleToLongBits(d + 0.0)
      case f: java.lang.Float => java.lang.Float.floatToIntBits(f + 0.0f)
      case x => x
    }), _ => ids.size).intValue)
    val keys = order.fold(new Array[Any](rows.length))(o => rows.map(_.get(o)))
    def group(i: Int, j: Int): Int = Integer.compare(gid(i), gid(j))
    // descending reverses ascending-nulls-first into Spark's nulls last
    def peers(i: Int, j: Int): Int = (if (s.descending) -1 else 1) * compareOrder(keys(i), keys(j))
    val sorted = rows.indices.sortWith { (i, j) =>
      val g = group(i, j)
      (if (g != 0) g else peers(i, j)) < 0
    }
    val out = new Array[Any](rows.length)
    var acc: java.lang.Long = null
    for ((i, at) <- sorted.zipWithIndex) {
      if (at > 0 && group(sorted(at - 1), i) != 0) acc = null
      val x: java.lang.Long = value.fold[java.lang.Long](1L)(v =>
        if (rows(i).isNullAt(v)) null else rows(i).getLong(v))
      if (x != null) acc = if (acc == null) x else Math.addExact(acc, x)
      out(i) = acc
    }
    // order-key peers (the whole group without an order) share the
    // sum through the last of them
    for (at <- sorted.length - 2 to 0 by -1; (i, j) = (sorted(at), sorted(at + 1))
         if group(i, j) == 0 && peers(i, j) == 0) out(i) = out(j)
    out
  }

  /** Distribution-DRIFT monitor: Pearson's chi-square statistic of
    * each group's value histogram against the pooled distribution —
    * the "did this source/day change shape?" gate a production
    * pipeline runs before trusting new data. A large chi2 relative
    * to (n_bins − 1) flags a group whose distribution departs from
    * the corpus; the statistic (not a p-value) is emitted because
    * chi2 itself needs only +,−,×,÷ — all correctly rounded, hence
    * cross-engine exact — while a p-value's incomplete-gamma would
    * break the no-transcendentals gate rule.
    *
    * Construction: [[Sketches.histogramBin]] buckets values (shared
    * kernel with q72's percentile sketch, an exact IEEE scaling);
    * observed counts per (group, bin), pooled counts per bin, group
    * totals — all bounded, map-side-combined aggregates. Expected
    * `e = pooled_bin · n_group / N` and the per-cell term
    * `(o − e)²/e` are fixed-shape double arithmetic; zero-observed
    * cells (a bin the pooled corpus has but the group lacks)
    * CONTRIBUTE `e` each, so cells are completed by a
    * (groups × bins) cross of the two bounded censuses before a left
    * join of the observations. The final per-group sum runs in
    * DECIMAL(28,12) quantization (the [[graft.queries.Q.dsumSql]]
    * convention) so float summation order never enters the gate. */
  def chiSquareDrift(df: DataFrame, groupCol: String, valueCol: Column,
                     binsPerUnit: Int = 4): DataFrame = {
    val hist = df.filter(valueCol.isNotNull && !isnan(valueCol))
      .select(col(groupCol), Sketches.histogramBin(valueCol, binsPerUnit).as("bin"))
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("o"))
    val pooled = hist.groupBy(col("bin")).agg(sum(col("o")).as("pb"))
    val gtot = hist.groupBy(col(groupCol)).agg(sum(col("o")).as("ng"))
    val nTotal = hist.agg(sum(col("o")).as("nn"), count_distinct(col("bin")).as("n_bins"))
    val cells = gtot.crossJoin(broadcast(pooled))
      .join(hist, Seq(groupCol, "bin"), "left")
      .crossJoin(broadcast(nTotal))
    val e = col("pb").cast("double") * col("ng").cast("double") / col("nn").cast("double")
    val o = coalesce(col("o"), lit(0L)).cast("double")
    val term = (o - e) * (o - e) / e
    cells
      .select(col(groupCol), col("ng").as("n"), col("n_bins"), term.as("__t"))
      .groupBy(col(groupCol), col("n"), col("n_bins"))
      .agg(sum(col("__t").cast("decimal(28,12)")).cast("double").as("chi2"))
  }

  /** Pooled histogram collected as a broadcast-able baseline for
    * [[chiSquareVsBaseline]] — bins are bounded by value range ×
    * binsPerUnit, so the table is sketch-sized, never corpus-sized
    * (fail-fast guarded like every collectModel fit). */
  final case class HistogramBaseline(bins: Array[Long], counts: Array[Long]) {
    require(bins.length == counts.length && bins.nonEmpty, "empty baseline")
    val total: Long = counts.sum
  }

  /** Fit a [[HistogramBaseline]] on a reference corpus/period. */
  def fitHistogramBaseline(df: DataFrame, valueCol: Column, binsPerUnit: Int = 4,
                           maxBins: Int = 1 << 20): HistogramBaseline = {
    val rows = Bounded.collectOrFail(df.filter(valueCol.isNotNull && !isnan(valueCol))
      .groupBy(Sketches.histogramBin(valueCol, binsPerUnit).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bin"), maxBins)(s"more than $maxBins bins — raise binsPerUnit granularity")
    HistogramBaseline(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }

  /** Chi-square of already-binned group histograms against a FITTED
    * baseline — the fit-batch/score-anywhere half of
    * [[chiSquareDrift]]: the same cell completion and fixed-shape
    * term arithmetic, but expected shares come from the broadcast
    * model instead of the frame's own pooled margin, so the input
    * can be any `(group, bin, cnt)` histogram binned by
    * [[Sketches.histogramBin]] (drift monitoring of new data against
    * last week's shape). Duplicate `(group, bin)` rows merge first —
    * per-micro-batch re-emission is a documented-legal histogram
    * shape (see [[Sketches.histogramPercentiles]]) and split cells
    * would corrupt the squared terms. Observed bins ABSENT from the
    * baseline contribute NOTHING to chi2: expected counts condition
    * on the group's IN-MODEL mass, so unseen mass is signaled
    * exactly once, in `n_unseen`, instead of also smearing a
    * spurious deficit across every in-model cell. A group whose
    * mass is entirely unseen has no in-model distribution to test —
    * its chi2 is null. */
  def chiSquareVsBaseline(hist: DataFrame, groupCols: Seq[String],
                          binCol: String, cntCol: String,
                          model: HistogramBaseline): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    val sp = hist.sparkSession
    import sp.implicits._
    val modelDf = model.bins.zip(model.counts).toSeq.toDF(binCol, "__pb")
    val gcols = groupCols.map(col)
    val merged = hist.groupBy(gcols :+ col(binCol): _*)
      .agg(sum(col(cntCol)).as("__cnt"))
    val groups = merged.groupBy(gcols: _*).agg(sum(col("__cnt")).as("__ng"))
    val inModel = merged.join(broadcast(modelDf.select(col(binCol))), binCol)
    val unseen = merged.join(broadcast(modelDf.select(col(binCol))), Seq(binCol), "left_anti")
      .groupBy(gcols: _*).agg(sum(col("__cnt")).as("__unseen"))
    val inTotals = inModel.groupBy(gcols: _*).agg(sum(col("__cnt")).as("__ngm"))
    val cells = inTotals.crossJoin(broadcast(modelDf))
      .join(inModel, groupCols :+ binCol, "left")
    val e = col("__pb").cast("double") * col("__ngm").cast("double") / lit(model.total.toDouble)
    val o = coalesce(col("__cnt"), lit(0L)).cast("double")
    val term = (o - e) * (o - e) / e
    val chi2 = cells
      .select(gcols :+ term.as("__t"): _*)
      .groupBy(gcols: _*)
      .agg(sum(col("__t").cast("decimal(28,12)")).cast("double").as("chi2"))
    groups
      .join(chi2, groupCols, "left")
      .join(unseen, groupCols, "left")
      .select(gcols :+ col("__ng").as("n") :+ col("chi2") :+
        coalesce(col("__unseen"), lit(0L)).as("n_unseen"): _*)
  }

  /** One-pass column PROFILER — the ANALYZE / data-quality census a
    * pipeline runs on every new source before trusting it: per
    * column, row count, null count, exact distinct count, and
    * min/max (numeric columns as exact doubles; string columns as
    * strings — two channels so no cross-engine float formatting ever
    * enters the frame; each column fills one channel, the other is
    * null). Output is one row per column, so the profile of a
    * 1000-column table is a 1000-row frame, not a 4000-column one.
    *
    * Scale shape: a single scan. The multiple exact count-distincts
    * plan as one Expand pass (input multiplied by the aggregate
    * count) — exact is the right default for a profile gate; the
    * approximate twin at extreme width is [[Sketches]]' HLL per
    * column. The aggregate collapses to ONE row, and the per-column
    * unpivot is a projection of that row — no collect, no second
    * scan. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    import org.apache.spark.sql.types.{NumericType, StringType}
    val kinds = cols.map { c =>
      df.schema(c).dataType match {
        case _: NumericType => c -> true
        case StringType     => c -> false
        case other => throw new IllegalArgumentException(
          s"profileColumns supports numeric and string columns; $c is $other")
      }
    }
    val aggs = count(lit(1)).as("__n") +: kinds.flatMap { case (c, _) => Seq(
      count(col(c)).as(s"__nn_$c"),
      countDistinct(col(c)).as(s"__nd_$c"),
      min(col(c)).as(s"__mn_$c"),
      max(col(c)).as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = kinds.map { case (c, numeric) =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        (if (numeric) lit(null).cast("string") else col(s"__mn_$c").cast("string")).as("min_str"),
        (if (numeric) lit(null).cast("string") else col(s"__mx_$c").cast("string")).as("max_str"),
        (if (numeric) col(s"__mn_$c").cast("double") else lit(null).cast("double")).as("min_num"),
        (if (numeric) col(s"__mx_$c").cast("double") else lit(null).cast("double")).as("max_num"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** lcm(1..64) and its per-denominator quotients, precomputed as
    * DECIMAL literals: a pairwise slope num/den with den ≤ 64 maps to
    * the EXACT common-denominator integer num·(L/den), so ordering
    * slopes (the Theil–Sen median) is a plain decimal sort — no
    * float, no per-pair cross-multiplication. */
  private val slopeLcm: BigInt =
    (1 to 64).map(BigInt(_)).reduce((a, b) => a * b / a.gcd(b))
  private lazy val slopeLcmQuotients: Column = array(
    (1 to 64).map(d => lit(new java.math.BigDecimal((slopeLcm / d).bigInteger))): _*)

  /** Theil–Sen estimator per group: the MEDIAN of all pairwise
    * slopes (y2−y1)/(x2−x1), plus the median-residual intercept —
    * the robust companion to [[linearFit]]'s OLS (up to ~29% of the
    * points can be arbitrary outliers before the slope moves, where
    * one bad point drags a least-squares fit; Sen 1968). Everything
    * is EXACT integer/decimal arithmetic, so the output hash-gates:
    * slopes order by their lcm-scaled integer form (never a float
    * division), medians are lower-middle element PICKS (the
    * madOutliers convention), and the reported `slope_e4` /
    * `intercept_e4` are integer-DIV fixed-point — representation-
    * independent (equal fractions report equal e4 values whatever
    * pair the tie-ordered pick lands on).
    *
    * Input is one POINT per (group, x) — callers aggregate duplicate
    * x upstream (the q190 gate feeds a bucket census), with `xCol`
    * long and `yE4Col` an already-quantized fixed-point long.
    * Documented domain, enforced by in-plan raise_error (loud, never
    * silently wrong): per-group span max(x)−min(x) ≤ 64 (the lcm
    * table's reach — rebase/rebucket wider series upstream, the q71
    * x-rebase precedent), |y_e4| ≤ 4·10¹⁰ and |x| ≤ 10⁶ (keep every
    * product inside long/decimal(38) range), and at most
    * `maxPointsPerKey` points per group (the pair census is
    * quadratic per group: its windows buffer maxPoints²/2 rows in
    * one task — the documented per-key bound).
    *
    * Scale shape: one census-sized self-join per group, windows over
    * PAIR census rows only (never a corpus), one broadcast re-attach
    * of the per-group median slope. Groups with a single point have
    * no pair and drop. */
  def theilSen(df: DataFrame, groupCols: Seq[String],
               xCol: Column, yE4Col: Column,
               maxPointsPerKey: Int = 1024): DataFrame = {
    require(maxPointsPerKey >= 2, "maxPointsPerKey must be >= 2")
    val gcols = groupCols.map(col)
    val wKey = Window.partitionBy(gcols: _*)
    val pts = df
      .select((gcols :+ xCol.cast("long").as("__x") :+ yE4Col.cast("long").as("__y")): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .withColumn("__x", when(abs(col("__x")) <= 1000000L, col("__x"))
        .otherwise(raise_error(lit("theilSen: |x| > 1e6 — rebase x upstream")).cast("long")))
      .withColumn("__y", when(abs(col("__y")) <= 40000000000L, col("__y"))
        .otherwise(raise_error(lit("theilSen: |y_e4| > 4e10 — rescale y upstream")).cast("long")))
      .withColumn("__n", count(lit(1)).over(wKey))
      .withColumn("__n", when(col("__n") <= maxPointsPerKey, col("__n"))
        .otherwise(raise_error(
          lit(s"theilSen: a group exceeds $maxPointsPerKey points — aggregate coarser upstream")).cast("long")))
    val a = pts.select((gcols :+ col("__x").as("__x1") :+ col("__y").as("__y1")): _*)
    val b = pts.select((gcols :+ col("__x").as("__x2") :+ col("__y").as("__y2") :+ col("__n")): _*)
    val pairs = a.join(b, groupCols).filter(col("__x2") > col("__x1"))
      .withColumn("__num", col("__y2") - col("__y1"))
      .withColumn("__den", col("__x2") - col("__x1"))
      .withColumn("__den", when(col("__den") <= 64L, col("__den"))
        .otherwise(raise_error(
          lit("theilSen: a group spans more than 64 x steps — rebucket upstream")).cast("long")))
      .withColumn("__scaled", col("__num").cast("decimal(38,0)") *
        element_at(slopeLcmQuotients, col("__den").cast("int")))
    val wOrd = wKey.orderBy(col("__scaled"), col("__num"), col("__den"))
    val med = pairs
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
      .withColumn("__np", count(lit(1)).over(wKey))
      .filter(col("__rn") === expr("(__np + 1L) div 2L")) // Column./ is DOUBLE division
      .select((gcols :+ col("__num") :+ col("__den") :+ col("__np") :+ col("__n")): _*)
    val resid = pts.select((gcols :+ col("__x") :+ col("__y")): _*)
      .join(broadcast(med), groupCols)
      .withColumn("__rs", col("__y") * col("__den") - col("__num") * col("__x"))
      .withColumn("__rs", when(abs(col("__rs")) <= 900000000000000L, col("__rs"))
        .otherwise(raise_error(lit("theilSen: residual out of fixed-point range")).cast("long")))
    val wRs = wKey.orderBy(col("__rs"), col("__x"))
    resid
      .withColumn("__rrn", row_number().over(wRs).cast("long"))
      .filter(col("__rrn") === expr("(__n + 1L) div 2L"))
      .select((gcols :+ col("__n").as("n") :+ col("__np").as("n_pairs")
        :+ expr("__num * 10000L div __den").as("slope_e4")
        :+ expr("__rs * 10000L div __den").as("intercept_e4")): _*)
  }

  /** Mann–Kendall trend test per group — [[theilSen]]'s classical
    * companion (MK answers "IS there a monotone trend?", Theil–Sen
    * answers "how steep?"): `s_stat = Σ sign(y_j − y_i)` over all
    * x-ordered pairs, plus the tie-corrected variance SCALED BY 18
    * (`var18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5)` over tie groups of
    * size t) so every output is an exact integer — the z-score's
    * divide-and-sqrt is one consumer-side step, kept out of the
    * engine per the no-transcendentals gate rule. Same input
    * contract as theilSen (one point per (group, x), quantized y);
    * the sign census needs no lcm scaling or span bound, so the only
    * guard is the per-group point cap that bounds the quadratic pair
    * stage. Groups with one point drop (no pair). */
  def mannKendall(df: DataFrame, groupCols: Seq[String],
                  xCol: Column, yE4Col: Column,
                  maxPointsPerKey: Int = 1024): DataFrame = {
    require(maxPointsPerKey >= 2, "maxPointsPerKey must be >= 2")
    val gcols = groupCols.map(col)
    val pts = df
      .select((gcols :+ xCol.cast("long").as("__x") :+ yE4Col.cast("long").as("__y")): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(gcols: _*)))
      .withColumn("__n", when(col("__n") <= maxPointsPerKey, col("__n"))
        .otherwise(raise_error(
          lit(s"mannKendall: a group exceeds $maxPointsPerKey points — aggregate coarser upstream")).cast("long")))
    val a = pts.select((gcols :+ col("__x").as("__x1") :+ col("__y").as("__y1")): _*)
    val b = pts.select((gcols :+ col("__x").as("__x2") :+ col("__y").as("__y2") :+ col("__n")): _*)
    val s = a.join(b, groupCols).filter(col("__x2") > col("__x1"))
      .groupBy((gcols :+ col("__n")): _*)
      .agg(sum(signum(col("__y2") - col("__y1")).cast("long")).as("s_stat"))
    val ties = pts.groupBy((gcols :+ col("__y")): _*).agg(count(lit(1)).as("__t"))
      .groupBy(gcols: _*)
      .agg(sum(col("__t") * (col("__t") - 1L) * (lit(2L) * col("__t") + 5L)).as("__tie"))
    s.join(broadcast(ties), groupCols)
      .select((gcols :+ col("__n").as("n") :+ col("s_stat")
        :+ (col("__n") * (col("__n") - 1L) * (lit(2L) * col("__n") + 5L) -
          col("__tie")).as("var18")): _*)
  }

  /** Per-group simple linear regression (ordinary least squares) of
    * `yCol` on `xCol`, plus Pearson r²: returns one row per group
    * with `n`, `slope`, `intercept`, `r2`.
    *
    * Exactness contract (the q71 oracle hash-gates it): x and y are
    * cast to DECIMAL before summing, so the six sufficient sums
    * (n, Σx, Σy, Σx², Σxy, Σy²) are EXACT and order-independent —
    * the nondeterministic float-sum trap that makes naive
    * distributed regression unreproducible never opens. The
    * closed-form step then runs in doubles through correctly-rounded
    * IEEE ops only (casts, *, -, /), written in the same expression
    * shape on both engines, hence bit-identical results. Callers
    * should pre-center x (e.g. rebase epoch seconds to the corpus
    * era) so x² stays inside the declared decimal precision, and
    * note the decimal casts QUANTIZE the inputs: x to `xScale`
    * places (default 0 — integral predictors) and y to `yScale`
    * places, half-up. Pass wider scales for fractional inputs.
    *
    * Rows with a null x or y — including values that overflow the
    * declared decimal precision, which cast to null — are excluded
    * entirely: `n` and every sum cover exactly the observed (x, y)
    * pairs, the OLS
    * convention (counting nulls into n while null-skipping the sums
    * would silently skew every coefficient). Degenerate groups
    * (constant x, constant y, or a single row) yield null
    * slope/intercept/r² rather than ±Inf/NaN. */
  def linearFit(df: DataFrame, groupCols: Seq[String],
                xCol: Column, yCol: Column,
                xPrec: Int = 12, xScale: Int = 0,
                yPrec: Int = 18, yScale: Int = 2): DataFrame = {
    val gcols = groupCols.map(col)
    // try_cast + post-cast filter: a value that overflows
    // decimal(prec,scale) becomes null in BOTH ANSI and legacy modes
    // (a plain cast would throw under ANSI, null-out under legacy —
    // and the legacy null, filtered pre-cast, counted the row in n
    // while every sum null-skipped it: silently skewed
    // coefficients). Filtering on the cast values keeps n and the
    // sums over exactly the same rows; out-of-range pairs are
    // excluded like nulls, deterministically, in either mode.
    val x = xCol.try_cast(s"decimal($xPrec,$xScale)")
    val y = yCol.try_cast(s"decimal($yPrec,$yScale)")
    val agg = df.filter(x.isNotNull && y.isNotNull).groupBy(gcols: _*).agg(
      count(lit(1)).as("n"),
      sum(x).as("__sx"), sum(y).as("__sy"),
      sum(x * x).as("__sxx"), sum(x * y).as("__sxy"),
      sum(y * y).as("__syy"))
    val n = col("n").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val sxx = col("__sxx").cast("double")
    val sxy = col("__sxy").cast("double")
    val syy = col("__syy").cast("double")
    val dx = n * sxx - sx * sx
    val dy = n * syy - sy * sy
    val cov = n * sxy - sx * sy
    val slope = when(dx =!= 0.0, cov / dx)
    agg
      .withColumn("slope", slope)
      .withColumn("intercept", when(dx =!= 0.0, (sy - slope * sx) / n))
      .withColumn("r2", when(dx =!= 0.0 && dy =!= 0.0, cov * cov / (dx * dy)))
      .drop("__sx", "__sy", "__sxx", "__sxy", "__syy")
  }

  /** Per-group z-score outlier detection — the metric-anomaly scan
    * every telemetry/quality pipeline runs (flag documents with
    * aberrant length, events with aberrant value) as ONE aggregate +
    * one broadcast join back onto the scan.
    *
    * Same exactness recipe as [[linearFit]]: values quantize to
    * DECIMAL(`prec`,`scale`) (half-up, try_cast so overflow drops
    * the row in both ANSI and legacy modes), the per-group
    * sufficient sums (n, Σv, Σv²) are exact and order-independent,
    * and the derivation — mean `Σv/n`, sample variance
    * `(n·Σv² − (Σv)²)/(n·(n−1))`, `z = (v − mean)/sqrt(var)` — uses
    * only correctly-rounded IEEE ops (+ − * / sqrt), so z is
    * bit-identical on any engine that writes the same shape (no
    * pow/ln anywhere — that is why z-score gates cross-engine and
    * e.g. a log-normal fit would not).
    *
    * Returns the flagged rows only: `idCol`, group columns, `v` (the
    * quantized value as double), `z`. Degenerate groups (n < 2 or
    * zero variance) flag nothing. Scale shape: the stats frame is
    * one row per group (broadcast), the corpus is scanned twice
    * (sums, scoring) and never shuffled. */
  def zscoreOutliers(df: DataFrame, groupCols: Seq[String], idCol: String,
                     valueCol: Column, threshold: Double = 3.0,
                     prec: Int = 18, scale: Int = 2): DataFrame = {
    require(threshold > 0.0, "threshold must be positive")
    val gcols = groupCols.map(col)
    val v = valueCol.try_cast(s"decimal($prec,$scale)")
    val rows = df.filter(v.isNotNull)
      .select(col(idCol) +: (gcols :+ v.cast("double").as("v")): _*)
    val stats = df.filter(v.isNotNull).groupBy(gcols: _*).agg(
      count(lit(1)).as("__n"),
      sum(v).as("__sv"), sum(v * v).as("__svv"))
    val n = col("__n").cast("double")
    val sv = col("__sv").cast("double")
    val svv = col("__svv").cast("double")
    val mean = sv / n
    val varS = (n * svv - sv * sv) / (n * (n - lit(1.0d)))
    val prepared = stats
      .withColumn("__mean", mean)
      .withColumn("__sd", when(col("__n") >= 2 && varS > 0.0, sqrt(varS)))
      .select(gcols :+ col("__mean") :+ col("__sd"): _*)
    rows.join(broadcast(prepared), groupCols)
      .withColumn("z", (col("v") - col("__mean")) / col("__sd"))
      .filter(col("__sd").isNotNull && abs(col("z")) > threshold)
      .select(col(idCol) +: (gcols :+ col("v") :+ col("z")): _*)
  }

  /** ROBUST per-group outliers by median absolute deviation — the
    * heavy-tail-safe twin of [[zscoreOutliers]] (one extreme value
    * drags a mean/std fit toward itself and masks its own outliers;
    * the median/MAD pair has a 50% breakdown point). Flags
    * `|x − median| > threshold · MAD`. The median is the EXACT
    * lower-middle element (`rank = (n+1) div 2` ordered by value) —
    * an element PICK, not an interpolation, so every emitted number
    * is either a copied input double or one correctly-rounded
    * subtract/multiply/compare and the frame hash-gates bit-for-bit.
    * Values normalize through the same `decimal(prec,scale)` cast as
    * [[zscoreOutliers]].
    *
    * Scale shape (r13, the q144/q145 census move): a median is a
    * rank statistic, so each median pass needs only the per-group
    * VALUE DISTRIBUTION — one map-side-combinable `(group, value) →
    * count` census, a prefix sum over the census ordered by value,
    * and the element pick where the cumulative count crosses
    * `(n+1) div 2`. No window ever sorts corpus rows: the r12 shape
    * buffered a whole group in one task's sort (a hot group = the
    * q144 skew cliff), while the census holds at most
    * `distinct quantized values` rows per group — bounded by the
    * `decimal(prec,scale)` grid AND fail-fast at `maxBins` (the grid
    * alone bounds by value RANGE, which a fine-grained column can
    * blow past; the [[census]] collect makes the bound hold by
    * construction, and the prefix sums run on the driver). Median
    * censuses re-attach by broadcast. */
  def madOutliers(df: DataFrame, groupCols: Seq[String], idCol: String,
                  valueCol: Column, threshold: Double = 5.0,
                  prec: Int = 18, scale: Int = 2,
                  maxBins: Int = 1 << 20): DataFrame = {
    require(threshold > 0.0, "threshold must be positive")
    val gcols = groupCols.map(col)
    val v = valueCol.try_cast(s"decimal($prec,$scale)").cast("double")
    val rows = df.filter(v.isNotNull)
      .select(col(idCol) +: (gcols :+ v.as("v")): _*)
    // Bounded by CONSTRUCTION, not just by the decimal grid: the
    // decimal(prec,scale) cast bounds census size by value RANGE — a
    // fine-grained value column (deviations especially) can still
    // push distinct cells toward corpus cardinality. Fail fast at
    // maxBins instead (r13 verdict item 5).
    def medianOf(in: DataFrame, c: String, out: String): DataFrame =
      census(in.groupBy((gcols :+ col(c)): _*).agg(count(lit(1)).as("__c")),
        maxBins.toLong, "madOutliers (group, value) census",
        CensusSum.running("__cum", "__c", groupCols, c),
        CensusSum.total("__n", "__c", groupCols))
        // the census row holding global rank (n+1) div 2
        .filter(expr("__cum >= ((__n + 1) div 2) and __cum - __c < ((__n + 1) div 2)"))
        .select(gcols :+ col(c).as(out): _*)
    val withMed = rows
      .join(broadcast(medianOf(rows, "v", "med")), groupCols)
      .withColumn("__dev", abs(col("v") - col("med")))
    withMed
      .join(broadcast(medianOf(withMed, "__dev", "mad")), groupCols)
      .select(col(idCol) +: (gcols :+ col("v") :+ col("med") :+ col("mad") :+
        (col("__dev") > lit(threshold) * col("mad")).cast("long").as("is_outlier")): _*)
  }

  /** EXACT Spearman rank correlation — the robust (monotone,
    * outlier-immune) correlation beside [[linearFit]]'s Pearson-
    * family moments: Pearson over TIE-MID-RANKS of both variables.
    * Ranks are doubled mid-ranks `2·minrank + cnt − 1` (the
    * [[classAuc]] identity, so every rank is an exact LONG with no
    * 0.5 fractions) and the OLS sums are [[linearFit]]'s
    * decimal-exact shapes, so ρ = sign(slope)·√r² gates bit-for-bit
    * (the q115 assortativity spelling). Inputs must be LONGs
    * (quantize floats upstream); null pairs drop.
    *
    * Scale shape: a rank statistic only needs the VALUE DISTRIBUTION,
    * never per-row ranks — so the corpus is scanned ONCE into the
    * joint `(x, y) → count` census (map-side combinable, bounded by
    * distinct quantized pairs, fail-fast at `maxBins`), and
    * everything after runs in census space: per-variable mid-ranks
    * come from the pooled prefix sum `cum(v) = Σ_{v' ≤ v} n_{v'}`
    * and the per-value total `n_v`, both computed on the driver by
    * the [[census]] primitive, and the OLS sums are count-weighted.
    * No window ever partitions by a score value (the r12 verdict's
    * skew risk: one hot value used to serialize a corpus fraction
    * into a single task's sort — pinned at the q144/q145 gates).
    * Output is a single row: `(n, slope, intercept, r2, spearman)`. */
  def spearman(df: DataFrame, xCol: Column, yCol: Column,
               maxBins: Int = 1 << 20): DataFrame = {
    val scored = df.select(xCol.cast("long").as("__x"),
        yCol.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val weighted = census(
      scored.groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__c")),
      maxBins.toLong, "spearman (x, y) census",
      CensusSum.running("__cumx", "__c", Nil, "__x"), CensusSum.total("__nvx", "__c", Seq("__x")),
      CensusSum.running("__cumy", "__c", Nil, "__y"), CensusSum.total("__nvy", "__c", Seq("__y")))
      // 2·minrank + nv − 1 with minrank = cum − nv + 1  ⇒  2·cum − nv + 1
      .withColumn("rx2", lit(2L) * col("__cumx") - col("__nvx") + 1L)
      .withColumn("ry2", lit(2L) * col("__cumy") - col("__nvy") + 1L)
    // linearFit's exact decimal sums, count-weighted: Σ over census
    // cells of c·f(x, y) equals Σ over rows of f(x, y) exactly
    // (integer arithmetic, order-free), so the final doubles are
    // bit-identical to the per-row oracle replay.
    val x = col("rx2").try_cast("decimal(12,0)")
    val y = col("ry2").try_cast("decimal(18,2)")
    val c = col("__c")
    val agg = weighted.filter(x.isNotNull && y.isNotNull).agg(
      sum(c).as("n"),
      sum(x * c).as("__sx"), sum(y * c).as("__sy"),
      sum(x * x * c).as("__sxx"), sum(x * y * c).as("__sxy"),
      sum(y * y * c).as("__syy"))
    val nD = col("n").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val sxx = col("__sxx").cast("double")
    val sxy = col("__sxy").cast("double")
    val syy = col("__syy").cast("double")
    val dx = nD * sxx - sx * sx
    val dy = nD * syy - sy * sy
    val cov = nD * sxy - sx * sy
    val slope = when(dx =!= 0.0, cov / dx)
    agg
      .withColumn("slope", slope)
      .withColumn("intercept", when(dx =!= 0.0, (sy - slope * sx) / nD))
      .withColumn("r2", when(dx =!= 0.0 && dy =!= 0.0, cov * cov / (dx * dy)))
      .drop("__sx", "__sy", "__sxx", "__sxy", "__syy")
      .withColumn("spearman",
        when(col("slope") < 0, -sqrt(col("r2"))).otherwise(sqrt(col("r2"))))
  }

  /** EXACT one-vs-rest ROC-AUC per class, computed as the
    * Mann-Whitney U statistic with tie MID-ranks — the model-eval
    * primitive ("does this score separate class c from the rest?")
    * that normally gets approximated by sampling at scale, here
    * exact: AUC is a pure rank statistic, global ranks come from the
    * [[equiDepthBuckets]] blocked prefix machinery (no global
    * ROW_NUMBER), and ties contribute their doubled mid-rank
    * `2·minrank + cnt − 1` so every intermediate is an exact LONG;
    * the only float op is the final `U/2 / (n₊·n₋)` division, hence
    * the frame hash-gates. Scores must already be LONGs (quantize
    * floats with the q82 recipe upstream — keeping the op
    * integer-pure is what keeps it exact). Classes with an empty
    * complement yield null AUC.
    *
    * Scale shape: a rank statistic only needs the SCORE DISTRIBUTION
    * — so the corpus is scanned ONCE into the `(score, label) →
    * count` census (map-side combinable, bounded by distinct
    * quantized scores × classes, fail-fast at `maxBins`), and the
    * rest runs in census space: tie mid-ranks come from the pooled
    * prefix sum and per-score total the [[census]] primitive
    * computes on the driver, and the per-label U sums are
    * count-weighted. No per-row rank is ever materialized and no
    * window partitions by the score value (the r12 verdict's skew
    * risk: one hot score used to serialize a corpus fraction into a
    * single task — pinned at the q144 gate). */
  def classAuc(df: DataFrame, scoreCol: Column, labelCol: String,
               maxBins: Int = 1 << 20): DataFrame = {
    val scored = df.select(scoreCol.cast("long").as("__v"),
        col(labelCol).cast("long").as("__label"))
      .filter(col("__v").isNotNull && col("__label").isNotNull)
    // 2·minrank + nv − 1 with minrank = cum − nv + 1  ⇒  2·cum − nv + 1.
    // Count-weighted per-label sums: Σ_rows avg2(score) =
    // Σ_cells c·avg2(v) exactly (longs, order-free).
    val perLabel = census(
      scored.groupBy(col("__v"), col("__label")).agg(count(lit(1)).as("__c")),
      maxBins.toLong, "classAuc (score, label) census",
      CensusSum.running("__cum", "__c", Nil, "__v"), CensusSum.total("__nv", "__c", Seq("__v")))
      .groupBy(col("__label").as("label"))
      .agg(sum((lit(2L) * col("__cum") - col("__nv") + 1L) * col("__c")).as("__sum2"),
        sum(col("__c")).as("n_pos"))
    val total = perLabel.agg(sum(col("n_pos")).as("__n"))
    perLabel.crossJoin(broadcast(total))
      .select(col("label"), col("n_pos"), (col("__n") - col("n_pos")).as("n_neg"),
        (col("__sum2") - col("n_pos") * (col("n_pos") + 1L)).as("u2"))
      .withColumn("auc",
        when(col("n_neg") > 0L,
          col("u2").cast("double") /
            (lit(2.0d) * col("n_pos").cast("double") * col("n_neg").cast("double"))))
  }

  /** EXACT equi-depth bucketing (NTILE without the global sort):
    * every row's exact global rank in `(value, id)` order and its
    * k-quantile bucket `((rank−1)·k) div n` — the feature-binning /
    * balanced-range-split primitive. The rank is a [[GlobalRank]]:
    * every stage partition-parallel where the naive plan (the oracle)
    * funnels the corpus through one global ROW_NUMBER. Values
    * normalize through the [[zscoreOutliers]] decimal cast; rank
    * arithmetic is nonnegative integer only, so the frame hash-gates. */
  def equiDepthBuckets(df: DataFrame, idCol: String, valueCol: Column,
                       k: Int, prec: Int = 18, scale: Int = 2): DataFrame = {
    require(k > 0, "k must be positive")
    val v = valueCol.try_cast(s"decimal($prec,$scale)").cast("double")
    val rows = df.filter(v.isNotNull).select(col(idCol), v.as("v"))
    val (ranked, n) = GlobalRank(rows, Seq(col("v"), col(idCol)), "rank")
    require(n > 0, "empty input")
    ranked.select(col(idCol), col("v"), col("rank"),
      expr(s"((rank - 1) * $k) div ${n}L").as("bucket"))
  }

  /** Kaplan-Meier LIFE TABLE over right-censored durations — the
    * survival-analysis sufficient statistics ("how long until a
    * user converts / a job fails / a document is re-crawled", with
    * subjects that never convert CENSORED at observation end, not
    * dropped — dropping them is the classic bias). Input is one row
    * per subject: `(duration, event)` with `event = 1` if the
    * terminal event was observed and `0` if censored. Durations
    * bucket to `bucketWidth` (life tables are interval-grouped by
    * definition — and the bucket census is what bounds the global
    * pass), and each interval reports `(t, n_events, n_censored,
    * at_risk)` with `at_risk` = subjects whose duration reaches the
    * interval's start. Every column is an exact long, so the frame
    * hash-gates; the survival product `Π (1 − d/n)` is one fold the
    * consumer applies (float products are not cross-engine-portable
    * — the q77 no-transcendentals discipline).
    *
    * Scale shape: ONE map-side-combinable census over duration
    * buckets (corpus-sized scan, buckets-sized output, fail-fast at
    * `maxBuckets`), collected once by the [[census]] primitive, which
    * also computes the at-risk suffix sum on the driver. */
  def kmLifeTable(subjects: DataFrame, durationCol: Column, eventCol: Column,
                  bucketWidth: Long, maxBuckets: Long = 1L << 20): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(maxBuckets >= 1, "maxBuckets must be positive")
    census(
      subjects
        .select(durationCol.cast("long").as("__dur"), eventCol.cast("long").as("__e"))
        .filter(col("__dur").isNotNull && col("__dur") >= 0L && col("__e").isNotNull)
        .select(expr(s"__dur div ${bucketWidth}L").as("t"), col("__e"))
        .groupBy(col("t"))
        .agg(sum(col("__e")).as("n_events"),
          sum(lit(1L) - col("__e")).as("n_censored"))
        .withColumn("__m", col("n_events") + col("n_censored")),
      maxBuckets, s"kmLifeTable duration buckets at bucketWidth=$bucketWidth",
      CensusSum.running("at_risk", "__m", Nil, "t", descending = true))
      .select(col("t"), col("n_events"), col("n_censored"), col("at_risk"))
  }

  /** HILL TAIL-INDEX estimator — "how heavy is the tail" of a
    * positive size distribution (document lengths, posting sizes,
    * degree sequences): α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top-k
    * order statistics (Hill 1975). α ≤ 2 means infinite variance —
    * the regime where mean-based capacity planning (packing budgets,
    * partition sizing) silently lies and percentile-based planning
    * is mandatory; that's the decision this op feeds. In flog2q
    * integer logs: `inv16 = Σ (flog2q(xᵢ) − flog2q(x_{k+1}))` is in
    * 1/16-bit BASE-2 units (the base cancels inside each ratio but
    * NOT in the estimator's scale), so the natural-log conversion is
    * applied explicitly in exact fixed point:
    * `alpha_e4 = k·16·10⁴·14427 DIV (inv16·10⁴)` with
    * 14427/10⁴ = 1/ln2 to 4 decimals — alpha_e4 is natural-log
    * calibrated, and the α ≤ 2 ⇔ alpha_e4 ≤ 20000 reading is right.
    *
    * Scale shape: the top-(k+1) cut is one bounded TakeOrdered —
    * never a global sort — and the estimator is driver-free
    * arithmetic over k+1 rows. Ties at the threshold resolve by the
    * deterministic (value DESC, id) order both engines share. */
  def hillTailIndex(df: DataFrame, idCol: Column, sizeCol: Column,
                    k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val top = df
      .select(idCol.cast("long").as("__id"), sizeCol.cast("long").as("__x"))
      .filter(col("__x") >= 1L)
      .orderBy(col("__x").desc, col("__id").asc)
      .limit(k + 1)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__x").desc, col("__id").asc)))
    val thresh = top.filter(col("__rk") === k + 1)
      .select(col("__x").as("__xk"))
    top.filter(col("__rk") <= k)
      .crossJoin(broadcast(thresh))
      .agg(count(lit(1)).as("__n"), min("__xk").as("x_threshold"),
        sum(expr(
          s"${graft.operators.Curation.flog2qSql("__x")} - " +
            s"${graft.operators.Curation.flog2qSql("__xk")}")).as("inv16"))
      .select(col("__n").as("k_top"), col("x_threshold"), col("inv16"),
        when(col("inv16") > 0L,
          expr("CAST(__n * 160000 * 14427 DIV (inv16 * 10000) AS BIGINT)"))
          .otherwise(lit(null).cast("long")).as("alpha_e4"))
  }

  /** MUTUAL INFORMATION between two categorical columns — the
    * column-dependency statistic a data profiler publishes next to
    * [[profileColumns]]: MI = 0 ⟺ independent; high MI flags
    * redundant/derived columns and leaky features. Computed in the
    * flog2q integer-log pattern ([[inequality]]/[[jsDivergence]]):
    * `MI = Σ_xy p(xy)·log₂(N·c_xy / (r_x·c_y))`, each log a
    * difference of 1/16-bit integer log2s of EXACT products,
    * count-weighted and summed as longs; published in bits ×10⁴
    * with the same ±~300 quantization floor near independence
    * (small negatives = "indistinguishable from independent").
    * A 3e9 guard trips before `c_xy·N` can wrap.
    *
    * Scale shape: one (x, y) cell census + two marginal censuses,
    * all map-side combinable and category-bounded; the joint frame
    * joins marginals by key — never row-shaped after the census. */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol), col(yCol)).agg(count(lit(1)).as("__cxy"))
    val rx = cells.groupBy(xCol).agg(sum("__cxy").as("__rx"))
    val cy = cells.groupBy(yCol).agg(sum("__cxy").as("__cy"))
    val n = cells.agg(sum("__cxy").as("__n"))
      .withColumn("__n",
        when(col("__n") > 0L && col("__n") <= 3000000000L, col("__n"))
          .otherwise(raise_error(
            lit("mutualInformation: row count outside (0, 3e9] — the integer " +
              "log products would wrap")).cast("long")))
    val term = expr(
      s"""__cxy * (${graft.operators.Curation.flog2qSql("__cxy * __n")} -
                   ${graft.operators.Curation.flog2qSql("__rx * __cy")})""")
    cells.join(rx, xCol).join(cy, yCol).crossJoin(broadcast(n))
      .agg(count(lit(1)).as("n_cells"), first("__n").as("n_rows"),
        sum(term).as("__mi"))
      .withColumn("mi_e4",
        expr("CAST(__mi * 10000 DIV (16 * n_rows) AS BIGINT)"))
      .select(col("n_cells"), col("n_rows"), col("mi_e4"))
  }

  /** EXACT 1-D WASSERSTEIN (earth-mover) distance of each stratum's
    * value distribution against a baseline stratum — the transport
    * metric next to [[jsDivergence]] (which only sees mass overlap:
    * two disjoint spikes 1¢ apart and 10 $ apart look identical to
    * JSD, while W₁ = the distance the mass must MOVE — the right
    * lens for "did the price distribution shift, and by how much").
    * Values quantize to integer cents (`floor(v·100+½)` — exact and
    * shared with the oracle), and the closed form
    * `W₁ = Σ_support |cdf_g − cdf_b| · gap` becomes exact integer
    * arithmetic: `Σ |cum_g·n_b − cum_b·n_g| · gap` summed in
    * DECIMAL(38,0) (HUGEINT in the oracle — the q175 convention),
    * published as cents ×10⁴ per the exact final division.
    *
    * Scale shape: one (stratum, cents) census shuffle; everything
    * after runs on the support×strata grid (distinct cent values —
    * census-bounded, the jsDivergence shape), with cumulative and
    * gap windows partitioned per stratum over support VALUES. */
  def wasserstein1(df: DataFrame, groupCol: String, valueCol: Column,
                   baseline: String): DataFrame = {
    val cents = floor(valueCol * 100d + 0.5d).cast("long")
    val census = df
      .filter(valueCol.isNotNull && !isnan(valueCol))
      .groupBy(col(groupCol), cents.as("__x"))
      .agg(count(lit(1)).as("__c"))
    val spine = census.select("__x").distinct()
    val groups = census.select(groupCol).distinct()
    val grid = groups.crossJoin(spine)
      .join(census, Seq(groupCol, "__x"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__x").asc)
    val cum = grid
      .withColumn("__cum", sum("__c").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("__gap", coalesce(lead(col("__x"), 1).over(w) - col("__x"), lit(0L)))
    val masses = census.groupBy(groupCol).agg(sum("__c").as("__n"))
    val base = cum.filter(col(groupCol) === baseline)
      .select(col("__x"), col("__cum").as("__cumb"))
    val nb = masses.filter(col(groupCol) === baseline)
      .select(col("__n").as("__nb"))
    cum.filter(col(groupCol) =!= baseline)
      .join(base, "__x")
      .join(masses, groupCol).crossJoin(broadcast(nb))
      .groupBy(col(groupCol))
      .agg(first("__n").as("n_rows"), first("__nb").as("n_baseline"),
        sum(abs(col("__cum").cast("decimal(38,0)") * col("__nb") -
          col("__cumb").cast("decimal(38,0)") * col("__n")) * col("__gap"))
          .as("__num"))
      .withColumn("w1_cents_e4",
        expr("CAST(__num * 10000 DIV (CAST(n_rows AS DECIMAL(38,0)) * n_baseline) AS BIGINT)"))
      .select(col(groupCol), col("n_rows"), col("n_baseline"), col("w1_cents_e4"))
  }

  /** EXACT two-proportion A/B test — the 2×2 chi-squared statistic
    * `χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))` (equal to z² for
    * two proportions) computed in exact decimal arithmetic: the
    * cross-product square reaches ~10³⁶ for 10⁹-unit cohorts, so
    * the numerator chain rides DECIMAL(38,0) (Spark) / HUGEINT
    * (the DuckDB oracle) and lands as an exact ×10⁴ integer — a
    * SIGNIFICANCE DECISION that hash-gates, where a float χ² near
    * the 3.8415 critical value could flip between engines. Any zero
    * marginal → χ² = 0 (no evidence, not an error). A raise_error
    * guard trips beyond 3·10⁷ units — past it the ×10⁴ numerator
    * would exceed DECIMAL(38).
    *
    * Scale shape: ONE total aggregate over the unit frame (four
    * conditional sums, map-side combined) — the statistic itself is
    * driver-free arithmetic on one row. */
  def abTestChi2(units: DataFrame, inCohortA: Column, converted: Column): DataFrame =
    units
      .select(inCohortA.cast("boolean").as("__g"), converted.cast("boolean").as("__c"))
      .agg(
        sum(when(col("__g") && col("__c"), 1L).otherwise(0L)).as("conv_a"),
        sum(when(col("__g") && !col("__c"), 1L).otherwise(0L)).as("fail_a"),
        sum(when(!col("__g") && col("__c"), 1L).otherwise(0L)).as("conv_b"),
        sum(when(!col("__g") && !col("__c"), 1L).otherwise(0L)).as("fail_b"))
      .withColumn("__n",
        when(col("conv_a") + col("fail_a") + col("conv_b") + col("fail_b") <= 30000000L,
          col("conv_a") + col("fail_a") + col("conv_b") + col("fail_b"))
          .otherwise(raise_error(
            lit("abTestChi2: more than 3e7 units — the exact x1e4 chi2 " +
              "numerator would exceed DECIMAL(38)")).cast("long")))
      .withColumn("chi2_e4", expr(
        """CAST(CASE WHEN (conv_a + fail_a) = 0 OR (conv_b + fail_b) = 0
                       OR (conv_a + conv_b) = 0 OR (fail_a + fail_b) = 0 THEN 0
                ELSE CAST(__n AS DECIMAL(38,0))
                     * CAST(conv_a * fail_b - fail_a * conv_b AS DECIMAL(19,0))
                     * CAST(conv_a * fail_b - fail_a * conv_b AS DECIMAL(19,0))
                     * 10000
                     DIV (CAST(conv_a + fail_a AS DECIMAL(38,0))
                          * (conv_b + fail_b) * (conv_a + conv_b) * (fail_a + fail_b))
                END AS BIGINT)"""))
      .withColumn("significant_05", col("chi2_e4") >= 38415L)
      .select(col("conv_a"), col("fail_a"), col("conv_b"), col("fail_b"),
        col("chi2_e4"), col("significant_05"))

  /** CORPUS-BALANCE INEQUALITY metrics over a stratum-size
    * distribution — the one-row summary behind "is this mix
    * dominated by a few sources": exact GINI coefficient (sorted
    * cumulative form `G = (2·Σ i·x₍ᵢ₎ − (n+1)·ΣX) / (n·ΣX)`, every
    * term a long, ×10⁴ integer division) and THEIL index
    * (`T = Σ (xᵢ/X)·log₂(xᵢ·n/X)` — each log a difference of
    * [[graft.operators.Curation.flog2qSql]] integer log2s,
    * count-weighted, so it hash-gates where `ln` could not; in
    * BITS ×10⁴, max log₂ n). Both 0 on perfectly uniform strata —
    * Theil within the ±~300 flog2q quantization floor (small
    * negatives = "indistinguishable from uniform", the jsDivergence
    * convention).
    *
    * Scale shape: one census shuffle into a strata-sized frame; the
    * Gini rank is a [[GlobalRank]] over STRATA (sources/domains —
    * thousands), totals broadcast. Guard: stratum·n products stay inside longs
    * for any census below ~3e9 total — the jsDivergence guard
    * applies upstream of that scale. */
  def inequality(df: DataFrame, groupCol: String, sizeCol: Column): DataFrame = {
    val census = df.groupBy(groupCol).agg(sum(sizeCol).cast("long").as("__x"))
    val totals = census.agg(count(lit(1)).as("__n"), sum("__x").as("__t"))
      .withColumn("__t",
        when(col("__t") > 0L && col("__t") <= 3000000000L, col("__t"))
          .otherwise(raise_error(
            lit("inequality: total mass outside (0, 3e9] — rescale before " +
              "the long product bound")).cast("long")))
    val ranked = GlobalRank(census, Seq(col("__x").asc, col(groupCol).asc), "__i")._1
      .crossJoin(broadcast(totals))
    val theilTerm = expr(
      s"""CASE WHEN __x > 0 THEN __x * (
            ${graft.operators.Curation.flog2qSql("__x * __n")} -
            ${graft.operators.Curation.flog2qSql("__t")})
          ELSE 0 END""")
    ranked.agg(
        first("__n").as("n_groups"),
        first("__t").as("total"),
        sum(col("__i") * col("__x")).as("__ix"),
        sum(theilTerm).as("__th"))
      .select(col("n_groups"), col("total"),
        expr("CAST((2 * __ix - (n_groups + 1) * total) * 10000 DIV (n_groups * total) AS BIGINT)")
          .as("gini_e4"),
        expr("CAST(__th * 10000 DIV (16 * total) AS BIGINT)").as("theil_e4"))
  }

  /** Per-stratum JENSEN-SHANNON DIVERGENCE against the rest of the
    * corpus — "how different is this source's word distribution from
    * everything else": the corpus-governance metric behind mixture
    * rebalancing and odd-source triage (0 = identical, 1 bit = max).
    * Complements [[chiSquareDrift]] (hypothesis test on feature
    * histograms) with a bounded, symmetric information distance on
    * full token distributions.
    *
    * Integer-exact: with per-stratum counts c, rest d = g − c,
    * masses Cp/Cq, each KL term rewrites as a log of integer ratios
    * — `log2(p/m) = log2(2·c·Cq) − log2(c·Cq + d·Cp)` — taken
    * through the 1/16-bit [[graft.operators.Curation.flog2qSql]]
    * kernel, weighted by the integer count, summed exactly.
    * QUANTIZATION FLOOR: each flog2q truncates within 1/16 bit, so
    * near-identical distributions read as jsd_e4 ≈ 0 ± ~300 (±0.03
    * bit) — small NEGATIVE values mean "indistinguishable from
    * identical", not a bug; discrimination above the floor is
    * monotone (StatsSpec pins identical ≈ 0, disjoint ≈ 10⁴ = 1 bit,
    * and the ordering between).
    * `jsd_e4` = the two KL sums ÷ (32·mass) as exact integer
    * divisions ×10⁴ (16 for flog2q units, 2 for the JSD halves). A
    * raise_error guard trips before `count·mass` can exceed the
    * long product bound (ANSI-off Spark would wrap where DuckDB
    * errors — the divergence would otherwise be engine-dependent
    * exactly at overflow).
    *
    * Scale shape: one (stratum, token) census + one token census,
    * both map-side combinable and vocab-bounded; the KL frame is
    * strata × vocab via a broadcast-census join — never corpus-row
    * shaped. */
  def jsDivergence(docs: DataFrame, groupCol: String, tokensCol: Column): DataFrame = {
    val tok = docs.select(col(groupCol), explode(tokensCol).as("__w"))
    val sw = tok.groupBy(col(groupCol), col("__w")).agg(count(lit(1)).as("__c"))
    val wAll = sw.groupBy("__w").agg(sum("__c").as("__g"))
    val masses = sw.groupBy(groupCol).agg(sum("__c").as("__cp"))
    val grand = wAll.agg(sum("__g").as("__t"))
      .withColumn("__t",
        when(col("__t") <= 3000000000L, col("__t"))
          .otherwise(raise_error(
            lit("jsDivergence: corpus mass above 3e9 tokens — shard the census " +
              "or rescale before the long product bound"))
            .cast("long")))
    val strata = masses.crossJoin(broadcast(grand))
      .withColumn("__cq", col("__t") - col("__cp"))
    val grid = strata.crossJoin(broadcast(wAll))
      .join(sw, Seq(groupCol, "__w"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
      .withColumn("__d", col("__g") - col("__c"))
    val klpTerm = expr(
      s"""CASE WHEN __c > 0 THEN __c * (
            ${graft.operators.Curation.flog2qSql("2 * __c * __cq")} -
            ${graft.operators.Curation.flog2qSql("__c * __cq + __d * __cp")})
          ELSE 0 END""")
    val klqTerm = expr(
      s"""CASE WHEN __d > 0 THEN __d * (
            ${graft.operators.Curation.flog2qSql("2 * __d * __cp")} -
            ${graft.operators.Curation.flog2qSql("__d * __cp + __c * __cq")})
          ELSE 0 END""")
    grid.groupBy(col(groupCol))
      .agg(first(col("__cp")).as("mass"),
        sum(when(col("__c") > 0, 1L).otherwise(0L)).as("n_vocab"),
        sum(klpTerm).as("klp_fp"), sum(klqTerm).as("klq_fp"),
        first(col("__cq")).as("__cq"))
      .withColumn("jsd_e4",
        expr("CAST(klp_fp * 10000 DIV (32 * mass) + klq_fp * 10000 DIV (32 * __cq) AS BIGINT)"))
      .drop("__cq")
  }

  // ----------------------------------------------------------------
  // Nonparametric two-sample / sequence tier (r14 growth set #2).
  // Shared design: every statistic reduces to the per-group VALUE
  // DISTRIBUTION, so the corpus is scanned once into a map-side-
  // combinable `(group, value) → count` census, collected once under
  // its bound by the [[census]] primitive, which also computes the
  // prefix sums and totals on the driver; every emitted number
  // is an exact integer — no division, no sqrt, no transcendental
  // crosses the gate (the mannKendall var18 convention).
  // ----------------------------------------------------------------

  /** Two-sample census with per-group cumulative counts in value
    * order — the shared substrate of [[ksTwoSample]] and
    * [[cliffsDelta]]. One corpus pass builds the
    * `(group, value) → (count_A, count_B)` census, and the
    * [[census]] primitive collects it under `maxBins` and adds the
    * per-group prefix sums and totals on the driver. The 3e9
    * per-sample guard keeps every downstream `cum·n` cross-product
    * inside the long range (3e9² ≈ 9.0e18 < 2⁶³−1 ≈ 9.22e18). */
  private def twoSampleCum(df: DataFrame, groupCols: Seq[String],
                           inB: Column, valueCol: Column,
                           maxBins: Int, what: String): DataFrame = {
    val gcols = groupCols.map(col)
    val rows = df
      .select((gcols :+ inB.cast("boolean").as("__b")
        :+ valueCol.cast("long").as("__v")): _*)
      .filter(col("__v").isNotNull && col("__b").isNotNull)
    census(
      rows.groupBy((gcols :+ col("__v")): _*)
        .agg(sum(when(col("__b"), 0L).otherwise(1L)).as("__ca"),
          sum(when(col("__b"), 1L).otherwise(0L)).as("__cb")),
      maxBins.toLong, s"$what (group, value) census",
      CensusSum.running("__cuma", "__ca", groupCols, "__v"),
      CensusSum.running("__cumb", "__cb", groupCols, "__v"),
      CensusSum.total("__na", "__ca", groupCols), CensusSum.total("__nb", "__cb", groupCols))
      .withColumn("__na", when(col("__na") <= 3000000000L, col("__na"))
        .otherwise(raise_error(lit(
          s"$what: sample A above 3e9 rows — n_a*n_b would exceed the long bound")).cast("long")))
      .withColumn("__nb", when(col("__nb") <= 3000000000L, col("__nb"))
        .otherwise(raise_error(lit(
          s"$what: sample B above 3e9 rows — n_a*n_b would exceed the long bound")).cast("long")))
  }

  /** Two-sample Kolmogorov–Smirnov distance per group, in EXACT
    * integer form: `d_num = max over values v of
    * |cumA(v)·n_b − cumB(v)·n_a|`, so `D = d_num / (n_a·n_b)` is one
    * consumer-side division. The binning-free drift test beside the
    * chi2 (binned, pooled-reference) and Wasserstein (transport)
    * monitors: KS reads the largest CDF gap directly, is invariant
    * to monotone value transforms, and its statistic is a pure rank
    * functional — exactly the shape the census machinery computes
    * without ever ranking corpus rows. `inB` selects sample B
    * (rows with a null value or null membership drop); groups with
    * an empty side have no defined statistic and drop. */
  def ksTwoSample(df: DataFrame, groupCols: Seq[String],
                  inB: Column, valueCol: Column,
                  maxBins: Int = 1 << 20): DataFrame = {
    val gcols = groupCols.map(col)
    twoSampleCum(df, groupCols, inB, valueCol, maxBins, "ksTwoSample")
      .groupBy(gcols: _*)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(abs(col("__cuma") * col("__nb") - col("__cumb") * col("__na")))
          .as("d_num"))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
  }

  /** Cliff's delta per group, in EXACT integer form: `delta_num =
    * #(a > b) − #(a < b)` over all cross pairs (a from sample A, b
    * from sample B), so `δ = delta_num / (n_a·n_b)` — the ordinal
    * effect-size companion to [[ksTwoSample]] (KS asks "did the
    * distribution change shape?", δ asks "which sample stochastically
    * dominates, and by how much?"; δ = 2·AUC − 1 against
    * [[classAuc]] when the label is the sample membership). Computed
    * without the quadratic pair join: for each census cell of A at
    * value v, `#(b < v) = cumB(v) − cB(v)` and `#(b > v) =
    * n_b − cumB(v)`, so `delta_num = Σ_v cA(v)·((cumB(v) − cB(v)) −
    * (n_b − cumB(v)))` — one pass over census rows. Totals are
    * bounded at 3e9 per side so every product and the signed sum
    * stay inside the long range. */
  def cliffsDelta(df: DataFrame, groupCols: Seq[String],
                  inB: Column, valueCol: Column,
                  maxBins: Int = 1 << 20): DataFrame = {
    val gcols = groupCols.map(col)
    twoSampleCum(df, groupCols, inB, valueCol, maxBins, "cliffsDelta")
      .groupBy(gcols: _*)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum(col("__ca") * ((col("__cumb") - col("__cb")) -
          (col("__nb") - col("__cumb")))).as("delta_num"))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
  }

  /** Hodges–Lehmann two-sample SHIFT estimator per group: the median
    * of all pairwise differences `a − b` — the robust "how big is
    * the effect" location estimate that pairs with [[cliffsDelta]]'s
    * "how consistent is it" (one wild day moves a mean difference
    * arbitrarily; the pairwise-difference median shrugs it off).
    * EXACT: inputs are quantized longs, the pick is the lower-middle
    * element of the weighted pairwise-difference multiset (the
    * theilSen/madOutliers convention — `cumweight` crosses
    * `(N+1) div 2`, N = n_a·n_b), and only the difference VALUE is
    * emitted, so equal-diff ties are representation-independent.
    *
    * Scale shape: each side collapses to its value census first
    * (the [[census]] primitive at `maxBinsPerSide`, which also adds
    * the per-group side totals on the driver), so the pair stage is
    * |censusA|·|censusB| ≤ maxBinsPerSide² CENSUS CELLS per group
    * (weights multiply: a pair cell covers cA·cB row pairs), never
    * row pairs — the documented quadratic bound, default ≤ 2048² ≈
    * 4.2M cells per group in the pick window's sort. Per-side totals
    * are guarded at 3e9 so N and every cumweight fit in a long. */
  def hodgesLehmannShift(df: DataFrame, groupCols: Seq[String],
                         inB: Column, valueCol: Column,
                         maxBinsPerSide: Int = 2048): DataFrame = {
    val gcols = groupCols.map(col)
    val wAll = Window.partitionBy(gcols: _*)
    val rows = df
      .select((gcols :+ inB.cast("boolean").as("__b")
        :+ valueCol.cast("long").as("__v")): _*)
      .filter(col("__v").isNotNull && col("__b").isNotNull)
    def side(b: Boolean, vname: String, cname: String, label: String) =
      census(
        rows.filter(col("__b") === b)
          .groupBy((gcols :+ col("__v")): _*).agg(count(lit(1)).as(cname)),
        maxBinsPerSide.toLong, s"hodgesLehmannShift sample $label census",
        CensusSum.total("__tot", cname, groupCols))
        .withColumn("__tot", when(col("__tot") <= 3000000000L, col("__tot"))
          .otherwise(raise_error(lit(
            s"hodgesLehmannShift: sample $label above 3e9 rows — N = n_a*n_b would exceed the long bound")).cast("long")))
        .withColumnRenamed("__v", vname)
    val a = side(b = false, "__va", "__ca", "A")
      .withColumnRenamed("__tot", "n_a")
    val bb = side(b = true, "__vb", "__cb", "B")
      .withColumnRenamed("__tot", "n_b")
    val pairs = a.join(bb, groupCols)
      .withColumn("__diff", col("__va") - col("__vb"))
      .withColumn("__w", col("__ca") * col("__cb"))
    // (diff, va) is unique per group (unique va per A cell ⇒ unique
    // vb = va − diff), so the ROWS cumulative frame is deterministic.
    val wOrd = wAll.orderBy(col("__diff"), col("__va"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pairs
      .withColumn("__cumw", sum(col("__w")).over(wOrd))
      .withColumn("__tw", sum(col("__w")).over(wAll))
      .filter(expr("__cumw >= ((__tw + 1) div 2) and __cumw - __w < ((__tw + 1) div 2)"))
      .select((gcols :+ col("n_a") :+ col("n_b")
        :+ col("__diff").as("shift")): _*)
  }

  /** Wald–Wolfowitz RUNS TEST sufficient statistics per group: order
    * the series by `xCol`, dichotomize at the per-group median
    * (exact lower-middle census pick, the [[madOutliers]]
    * convention), DROP values equal to the median (the standard
    * treatment), and count `n_above`, `n_below` and the number of
    * sign runs. Too few runs ⇒ clustering/trend, too many ⇒
    * oscillation; the z-score against `E[R] = 2·n₁·n₂/(n₁+n₂) + 1`
    * is one consumer-side step (kept out of the engine — sqrt). All
    * outputs are exact integers. Input is one observation per
    * (group, x); `maxPointsPerKey` fail-fasts the per-group order
    * window (the mannKendall contract — aggregate coarser upstream),
    * and `n` reports the pre-drop point count. Groups whose values
    * all equal the median have no runs and drop. */
  def runsTest(df: DataFrame, groupCols: Seq[String],
               xCol: Column, valueCol: Column,
               maxPointsPerKey: Int = 8192): DataFrame = {
    require(maxPointsPerKey >= 2, "maxPointsPerKey must be >= 2")
    val gcols = groupCols.map(col)
    val wAll = Window.partitionBy(gcols: _*)
    val pts = df
      .select((gcols :+ xCol.cast("long").as("__x")
        :+ valueCol.cast("long").as("__v")): _*)
      .filter(col("__x").isNotNull && col("__v").isNotNull)
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__n", when(col("__n") <= maxPointsPerKey, col("__n"))
        .otherwise(raise_error(lit(
          s"runsTest: a group exceeds $maxPointsPerKey points — aggregate coarser upstream")).cast("long")))
    // Median census pick — census rows ≤ points per group, so the
    // point cap above bounds this window too.
    val wOrd = wAll.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = pts.groupBy((gcols :+ col("__v")): _*).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(wOrd))
      .withColumn("__tot", sum(col("__c")).over(wAll))
      .filter(expr("__cum >= ((__tot + 1) div 2) and __cum - __c < ((__tot + 1) div 2)"))
      .select((gcols :+ col("__v").as("__med")): _*)
    val s = pts.join(broadcast(med), groupCols)
      .filter(col("__v") =!= col("__med"))
      .withColumn("__sgn", (col("__v") > col("__med")).cast("long"))
    val wX = wAll.orderBy(col("__x"))
    s.withColumn("__prev", lag(col("__sgn"), 1).over(wX))
      .groupBy(gcols: _*)
      .agg(max(col("__n")).as("n"),
        sum(col("__sgn")).as("n_above"),
        sum(lit(1L) - col("__sgn")).as("n_below"),
        sum(when(col("__prev").isNull || col("__prev") =!= col("__sgn"), 1L)
          .otherwise(0L)).as("runs"))
  }

  /** EXACT autocorrelation function per group at lags 1..`maxLag`,
    * in n-scaled integer form — the seasonality/persistence
    * diagnostic beside the trend tests ([[mannKendall]] asks "is it
    * drifting?", the ACF asks "does it echo itself, and at what
    * period?"). Scaling every term by n removes the mean's division:
    * with `dev_t = n·y_t − Σy` (an exact long under the guards),
    * `acf(k) = Σ_pairs dev_t·dev_{t+k} / Σ_t dev_t²` equals the
    * classical estimator exactly, and the emitted `acf_e6 =
    * (num·10⁶) div den` is one integer division — truncation toward
    * zero on BOTH engines (Spark IntegralDivide ≡ DuckDB `//`,
    * checked on negatives). Pairs join on `x + k`, so calendar gaps
    * pair only true k-step-apart observations and `n_pairs` reports the
    * effective overlap per lag.
    *
    * Domain (raise_error-guarded, loud): |y| ≤ 1e10 and at most
    * `maxPointsPerKey` ≤ 4096 points per group — then |dev| ≤
    * 2·4096·1e10 < 2⁶³ as a long, den ≤ n·dev² < 2.8e31 and
    * num·10⁶ < 2.8e37 inside decimal(38,0)/HUGEINT. Quantize coarser
    * upstream for wider series. Constant groups (den = 0) drop. */
  def autocorr(df: DataFrame, groupCols: Seq[String],
               xCol: Column, yCol: Column,
               maxLag: Int = 7, maxPointsPerKey: Int = 4096): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64, "maxLag must be in [1, 64]")
    require(maxPointsPerKey >= 2 && maxPointsPerKey <= 4096,
      "maxPointsPerKey must be in [2, 4096] — the decimal(38,0) headroom bound")
    val gcols = groupCols.map(col)
    val wAll = Window.partitionBy(gcols: _*)
    val pts = df
      .select((gcols :+ xCol.cast("long").as("__x")
        :+ yCol.cast("long").as("__y")): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .withColumn("__y", when(abs(col("__y")) <= 10000000000L, col("__y"))
        .otherwise(raise_error(lit(
          "autocorr: |y| > 1e10 — quantize/rescale y upstream")).cast("long")))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__n", when(col("__n") <= maxPointsPerKey, col("__n"))
        .otherwise(raise_error(lit(
          s"autocorr: a group exceeds $maxPointsPerKey points — aggregate coarser upstream")).cast("long")))
      .withColumn("__s", sum(col("__y")).over(wAll))
      .withColumn("__dev", col("__n") * col("__y") - col("__s"))
    val den = pts.groupBy(gcols: _*)
      .agg(sum(col("__dev").cast("decimal(38,0)") *
        col("__dev").cast("decimal(38,0)")).as("__den"),
        max(col("__n")).as("n"))
      .filter(col("__den") > 0)
    val a = pts
      .select((gcols :+ col("__x") :+ col("__dev").as("__da")): _*)
      .withColumn("lag_k", explode(sequence(lit(1L), lit(maxLag.toLong))))
    val b = pts.select((groupCols.map(c => col(c).as(s"__b_$c"))
      :+ col("__x").as("__xb") :+ col("__dev").as("__db")): _*)
    val cond = groupCols.map(c => col(c) === col(s"__b_$c")).reduce(_ && _) &&
      (col("__xb") === col("__x") + col("lag_k"))
    a.join(b, cond)
      .groupBy((gcols :+ col("lag_k")): _*)
      .agg(sum(col("__da").cast("decimal(38,0)") *
        col("__db").cast("decimal(38,0)")).as("__num"),
        count(lit(1)).as("n_pairs"))
      .join(broadcast(den), groupCols)
      .select((gcols :+ col("lag_k") :+ col("n") :+ col("n_pairs")
        :+ expr("CAST((__num * 1000000) div __den AS BIGINT)").as("acf_e6")): _*)
  }

  /** Two-sample Cramér–von Mises criterion per group —
    * [[ksTwoSample]]'s integral-form partner: KS reads the single
    * LARGEST CDF gap (one bad quantile dominates), CvM sums SQUARED
    * gaps over every pooled observation, so diffuse shape drift that
    * never opens one big gap still registers. Quantized-by-
    * construction integer form (the flog2q precedent — the
    * quantization is part of the operator's definition, so the frame
    * hash-gates): per census cell the normalized gap
    * `g_e6 = (cumA·n_b − cumB·n_a)·10⁶ div (n_a·n_b)` (truncation
    * toward zero — identical Spark div / DuckDB `//` semantics,
    * checked on negatives), and
    * `cvm_e12 = Σ (cA+cB)·g_e6² div (n_a+n_b)` — the classical
    * T = (1/N)·Σ_pooled (F_a−F_b)² with each CDF gap carried at 1e-6
    * resolution, so cvm_e12 ∈ [0, 10¹²] fits a BIGINT. Bounds: the
    * [[twoSampleCum]] 3e9-per-side guard keeps `gap` in long range;
    * gap·10⁶ and the weighted square-sum run in decimal(38,0)
    * (≤ 9e24 and ≤ 6e21 under the guard). Empty-side groups drop. */
  def cvmTwoSample(df: DataFrame, groupCols: Seq[String],
                   inB: Column, valueCol: Column,
                   maxBins: Int = 1 << 20): DataFrame = {
    val gcols = groupCols.map(col)
    twoSampleCum(df, groupCols, inB, valueCol, maxBins, "cvmTwoSample")
      .withColumn("__gap",
        col("__cuma") * col("__nb") - col("__cumb") * col("__na"))
      // Empty-side groups are dropped below, but the division must
      // not evaluate for them first (ANSI divide-by-zero).
      .withColumn("__g",
        when(col("__na") > 0L && col("__nb") > 0L,
          expr("(CAST(__gap AS decimal(38,0)) * 1000000) div (__na * __nb)"))
          .otherwise(lit(0L)))
      .groupBy(gcols: _*)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum((col("__ca") + col("__cb")).cast("decimal(38,0)") *
          col("__g") * col("__g")).as("__t"))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .select((gcols :+ col("n_a") :+ col("n_b")
        :+ expr("CAST(__t div (n_a + n_b) AS BIGINT)").as("cvm_e12")): _*)
  }

  /** Kruskal–Wallis rank-sum sufficient statistics — the k-sample
    * generalization of the two-sample rank tests ("do ANY of the k
    * groups' value distributions differ in location?"): per group
    * the EXACT doubled mid-rank sum over the POOLED ranking
    * (`r2sum = Σ 2·midrank(v)`, doubled mid-ranks are exact longs by
    * the classAuc identity 2·cum − t + 1), plus group size `n_g`,
    * pooled `n` and the pooled tie term `tie3 = Σ t³−t`. The H
    * statistic — `H = [12/(N(N+1))·Σ (r2sum/2)²/n_g − 3(N+1)] /
    * (1 − tie3/(N³−N))` — is one consumer-side step (its divisions
    * stay out of the engine, the mannKendall var18 convention).
    *
    * Scale shape: one pooled `(group, value)` census (map-side
    * combinable), collected under `maxBins` by the [[census]]
    * primitive, which also computes the pooled prefix sum and
    * per-value total behind each mid-rank; count-weighted sums per
    * group. N is guarded at 2e6 so `tie3 ≤ N³` stays in long
    * range — rescale or pre-aggregate wider corpora upstream. */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: Column,
                    maxBins: Int = 1 << 20): DataFrame = {
    val vals = df
      .select(col(groupCol).as("__g"), valueCol.cast("long").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    val joint = census(
      vals.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c")),
      maxBins.toLong, "kruskalWallis (group, value) census",
      CensusSum.running("__cum", "__c", Nil, "__v"), CensusSum.total("__nv", "__c", Seq("__v")))
    val totals = joint.groupBy(col("__v")).agg(sum(col("__c")).as("__nv"))
      .agg(sum(col("__nv")).as("n"),
        sum(col("__nv") * (col("__nv") * col("__nv") - 1L)).as("tie3"))
      .withColumn("n", when(col("n") <= 2000000L, col("n"))
        .otherwise(raise_error(lit(
          "kruskalWallis: pooled N above 2e6 — tie3 = Σ t³−t would exceed the long bound; pre-aggregate upstream")).cast("long")))
    joint
      .groupBy(col("__g").as(groupCol))
      .agg(sum(col("__c")).as("n_g"),
        sum(col("__c") * (lit(2L) * col("__cum") - col("__nv") + 1L)).as("r2sum"))
      .crossJoin(broadcast(totals))
  }

  /** Kendall tau-b concordance sufficient statistics per group
    * between two quantized variables: over all unordered observation
    * pairs, `c_minus_d = #concordant − #discordant` (the exact
    * sign-product sum), plus the tie pair-counts the tau-b
    * denominator needs — `tie_x = Σ tx(tx−1)/2`, `tie_y = Σ
    * ty(ty−1)/2` — so `τ_b = c_minus_d / √((n(n−1)/2 − tie_x)·
    * (n(n−1)/2 − tie_y))` is one consumer-side step. [[mannKendall]]
    * is exactly this with x = time (no x-ties); tau-b is the
    * between-METRICS version where both variables tie freely (its
    * raison d'être). Input is one observation per (group, idx) with
    * `idxCol` a unique per-group index (the pair join's dedup order);
    * `maxPointsPerKey` fail-fasts the quadratic per-group pair stage
    * (the theilSen bound). Groups with one point drop. */
  def kendallTauB(df: DataFrame, groupCols: Seq[String], idxCol: Column,
                  xCol: Column, yCol: Column,
                  maxPointsPerKey: Int = 1024): DataFrame = {
    require(maxPointsPerKey >= 2, "maxPointsPerKey must be >= 2")
    val gcols = groupCols.map(col)
    val wAll = Window.partitionBy(gcols: _*)
    val pts = df
      .select((gcols :+ idxCol.cast("long").as("__i")
        :+ xCol.cast("long").as("__x") :+ yCol.cast("long").as("__y")): _*)
      .filter(col("__i").isNotNull && col("__x").isNotNull && col("__y").isNotNull)
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__n", when(col("__n") <= maxPointsPerKey, col("__n"))
        .otherwise(raise_error(lit(
          s"kendallTauB: a group exceeds $maxPointsPerKey points — aggregate coarser upstream")).cast("long")))
    val a = pts.select((gcols :+ col("__i").as("__i1")
      :+ col("__x").as("__x1") :+ col("__y").as("__y1")): _*)
    val b = pts.select((gcols :+ col("__i").as("__i2") :+ col("__x").as("__x2")
      :+ col("__y").as("__y2") :+ col("__n")): _*)
    val s = a.join(b, groupCols).filter(col("__i2") > col("__i1"))
      .groupBy((gcols :+ col("__n")): _*)
      .agg(sum(signum(col("__x2") - col("__x1")).cast("long") *
        signum(col("__y2") - col("__y1")).cast("long")).as("c_minus_d"))
    def tiePairs(c: String, out: String): DataFrame =
      pts.groupBy((gcols :+ col(c)): _*).agg(count(lit(1)).as("__t"))
        .groupBy(gcols: _*)
        .agg(sum(col("__t") * (col("__t") - 1L)).as(out))
        .withColumn(out, expr(s"$out div 2L"))
    s.join(broadcast(tiePairs("__x", "tie_x")), groupCols)
      .join(broadcast(tiePairs("__y", "tie_y")), groupCols)
      .select((gcols :+ col("__n").as("n") :+ col("c_minus_d")
        :+ col("tie_x") :+ col("tie_y")): _*)
  }

  /** Distribution-SHAPE moments per group — mean, population
    * variance, skewness g₁ and excess kurtosis g₂ — the profiling
    * columns [[zscoreOutliers]]/q125 stop short of (mean/std say
    * nothing about asymmetry or tail weight; a quality gate that
    * clips at ±3σ behaves very differently on a skewed or
    * heavy-tailed column). Raw power sums (E[v⁴] − 4mE[v³] + …) are
    * the classically cancellation-prone form — for a tight
    * distribution far from zero (values 10⁵ ± 1) the e4 ≈ 10²⁰
    * terms cancel to m4 ≈ 1 and every significant double bit is
    * lost — so the sums are taken over PRE-CENTERED values instead
    * (r14 ADVICE): pass 1 computes the exact integer per-group
    * anchor `mu0 = Σv div n` (truncation toward zero, identical on
    * both engines), broadcast-joins it back, and pass 2 takes EXACT
    * integer power sums of `w = v − mu0` in decimal(38,0). The
    * shifted mean |Σw/n| < 1, so central-moment cancellation is
    * O(spread), not O(magnitude); variance/skewness/kurtosis are
    * shift-invariant and `mean = mu0 + Σw/n` recovers the original
    * location. The closed form then runs in correctly-rounded double
    * ops written in the same expression shape on both engines —
    * including `sqrt`, which IEEE 754 requires correctly rounded
    * (the zscoreOutliers precedent; `m2·sqrt(m2)` replaces the
    * non-correctly-rounded `pow(m2,1.5)`). Input values must be
    * quantized longs with |v| ≤ 10⁵ (guarded loud) so |w| ≤ 2·10⁵
    * and Σw⁴ stays inside decimal(38,0) at 3e9 rows; degenerate
    * groups (m2 = 0 or n = 0 after null drop) yield nulls. Scale
    * shape: two scans, two map-side-combined tiny shuffles, and a
    * broadcast join of the per-group anchor frame — the corpus
    * itself is never shuffled. */
  def momentStats(df: DataFrame, groupCols: Seq[String],
                  valueCol: Column): DataFrame = {
    val gcols = groupCols.map(col)
    val v0 = valueCol.cast("long")
    val rows = df.filter(v0.isNotNull)
      .select((gcols :+ v0.as("__v")): _*)
      .withColumn("__v", when(abs(col("__v")) <= 100000L, col("__v"))
        .otherwise(raise_error(lit(
          "momentStats: |v| > 1e5 — quantize coarser upstream (Σw⁴ range)")).cast("long")))
    // Null-safe anchor join: a null group key forms a group under
    // groupBy (and in the oracle's GROUP BY), so the join-back must
    // not drop it the way a plain equi-join would.
    val anchor = rows.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("__sv"))
      .withColumn("__mu0", expr("__sv div n"))
      .drop("__sv")
      .select((groupCols.map(c => col(c).as(s"__g_$c"))
        :+ col("n") :+ col("__mu0")): _*)
    val joinCond = groupCols.map(c => col(c) <=> col(s"__g_$c"))
      .reduce(_ && _)
    val shifted = rows.join(broadcast(anchor), joinCond)
      .drop(groupCols.map(c => s"__g_$c"): _*)
      .withColumn("__w", (col("__v") - col("__mu0")).cast("decimal(38,0)"))
    val agg = shifted.groupBy(gcols: _*).agg(
      max(col("n")).as("n"),
      max(col("__mu0")).as("__mu0"),
      sum(col("__w")).as("__sw"),
      sum(col("__w") * col("__w")).as("__sww"),
      sum(col("__w") * col("__w") * col("__w")).as("__swww"),
      sum(col("__w") * col("__w") * col("__w") * col("__w")).as("__swwww"))
    val nD = col("n").cast("double")
    val m = col("__sw").cast("double") / nD
    val e2 = col("__sww").cast("double") / nD
    val e3 = col("__swww").cast("double") / nD
    val e4 = col("__swwww").cast("double") / nD
    val m2 = e2 - m * m
    val m3 = e3 - lit(3.0d) * m * e2 + lit(2.0d) * m * m * m
    val m4 = e4 - lit(4.0d) * m * e3 + lit(6.0d) * m * m * e2 -
      lit(3.0d) * m * m * m * m
    agg
      .withColumn("mean", col("__mu0").cast("double") + m)
      .withColumn("variance", m2)
      .withColumn("skewness", when(m2 > 0.0d, m3 / (m2 * sqrt(m2))))
      .withColumn("kurtosis_ex", when(m2 > 0.0d, m4 / (m2 * m2) - lit(3.0d)))
      .drop("__mu0", "__sw", "__sww", "__swww", "__swwww")
  }

  /** Cross-correlation function — ONE row per UNORDERED pair of
    * series (lexicographic a < b) at lags −maxLag..maxLag; the lag
    * sign encodes direction, ccf(A,B,k) = ccf(B,A,−k), so the
    * symmetric span covers both orderings without duplicate rows —
    * the lead–lag diagnostic completing [[autocorr]] (ACF asks "does
    * a series echo ITSELF?"; CCF asks "does series A lead series B,
    * and by how many steps?" — a peak at positive lag k means A at
    * time t co-moves with B at t+k, i.e. A LEADS B). Same n-scaled
    * exact-integer deviation trick as
    * autocorr (`dev = n·y − Σy` per series, guards identical); the
    * emitted `ccf = num / sqrt(den_a·den_b)` runs in correctly-
    * rounded doubles spelled identically on both engines (sqrt is
    * IEEE-correctly-rounded — the momentStats/zscore precedent), and
    * is scale-invariant, so the per-series n-scalings cancel.
    * Pairs join on `x + lag`, so calendar gaps pair only true
    * k-step-apart observations; constant series (den = 0) drop. */
  def crossCorr(df: DataFrame, seriesCol: String,
                xCol: Column, yCol: Column,
                maxLag: Int = 7, maxPointsPerKey: Int = 4096): DataFrame = {
    require(maxLag >= 0 && maxLag <= 64, "maxLag must be in [0, 64]")
    require(maxPointsPerKey >= 2 && maxPointsPerKey <= 4096,
      "maxPointsPerKey must be in [2, 4096] — the decimal(38,0) headroom bound")
    val wAll = Window.partitionBy(col("__s"))
    val pts = df
      .select(col(seriesCol).as("__s"), xCol.cast("long").as("__x"),
        yCol.cast("long").as("__y"))
      .filter(col("__s").isNotNull && col("__x").isNotNull && col("__y").isNotNull)
      .withColumn("__y", when(abs(col("__y")) <= 10000000000L, col("__y"))
        .otherwise(raise_error(lit(
          "crossCorr: |y| > 1e10 — quantize/rescale y upstream")).cast("long")))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__n", when(col("__n") <= maxPointsPerKey, col("__n"))
        .otherwise(raise_error(lit(
          s"crossCorr: a series exceeds $maxPointsPerKey points — aggregate coarser upstream")).cast("long")))
      .withColumn("__sum", sum(col("__y")).over(wAll))
      .withColumn("__dev", col("__n") * col("__y") - col("__sum"))
    val den = pts.groupBy(col("__s"))
      .agg(sum(col("__dev").cast("decimal(38,0)") *
        col("__dev").cast("decimal(38,0)")).as("__den"))
      .filter(col("__den") > 0)
    val a = pts.select(col("__s").as("series_a"), col("__x"),
        col("__dev").as("__da"))
      .withColumn("lag_k", explode(sequence(lit(-maxLag.toLong), lit(maxLag.toLong))))
    val b = pts.select(col("__s").as("series_b"), col("__x").as("__xb"),
      col("__dev").as("__db"))
    val num = a.join(b,
        col("series_a") < col("series_b") &&
          col("__xb") === col("__x") + col("lag_k"))
      .groupBy(col("series_a"), col("series_b"), col("lag_k"))
      .agg(sum(col("__da").cast("decimal(38,0)") *
        col("__db").cast("decimal(38,0)")).as("__num"),
        count(lit(1)).as("n_pairs"))
    num
      .join(broadcast(den.select(col("__s").as("series_a"),
        col("__den").as("__dena"))), "series_a")
      .join(broadcast(den.select(col("__s").as("series_b"),
        col("__den").as("__denb"))), "series_b")
      .select(col("series_a"), col("series_b"), col("lag_k"), col("n_pairs"),
        (col("__num").cast("double") /
          sqrt(col("__dena").cast("double") * col("__denb").cast("double")))
          .as("ccf"))
  }

  /** Isotonic (monotone non-decreasing) calibration of a binary
    * label against a binned score — the model-calibration step
    * ("does score 0.8 really mean 80%?") that logistic/Platt fits
    * approximate parametrically and PAVA solves exactly. One
    * `(bin) → (count, positives)` census, collected under `maxBins`
    * by the [[census]] primitive, then pool-adjacent-violators on the
    * driver over at most `maxBins` cells in exact fractions. The
    * emitted value is `iso_e9 = (pool positives·10⁹) div pool count`,
    * EXACTLY `trunc_e9(PAVA)` (the spec pins this against a
    * sequential PAVA replay). `n` at 3e9 keeps `pos·10⁹` in long
    * range. Output: one row per occupied bin with `(bin, n, pos,
    * iso_e9)`, iso_e9 non-decreasing in bin. */
  def isotonicCalibrate(df: DataFrame, scoreBinCol: Column,
                        labelCol: Column, maxBins: Int = 1024): DataFrame = {
    val rows = df
      .select(scoreBinCol.cast("long").as("__b"), labelCol.cast("long").as("__l"))
      .filter(col("__b").isNotNull && col("__l").isNotNull)
      .withColumn("__l",
        when(col("__l") === 0L || col("__l") === 1L, col("__l"))
          .otherwise(raise_error(lit(
            "isotonicCalibrate: label must be 0/1")).cast("long")))
    val cen = collectCensus(
      rows.groupBy(col("__b")).agg(count(lit(1)).as("__c"), sum(col("__l")).as("__p")),
      maxBins.toLong, "isotonicCalibrate score-bin census",
      CensusSum.total("__n", "__c", Nil))
    val (b, c, p) = (cen.index("__b"), cen.index("__c"), cen.index("__p"))
    val order = cen.rows.indices.sortBy(i => cen.rows(i).getLong(b))
    // Pools as (first position in `order`, count, positives); a new
    // cell merges into the pool before it while that pool's average
    // exceeds its own.
    val pools = scala.collection.mutable.ArrayBuffer.empty[(Int, BigInt, BigInt)]
    for ((i, at) <- order.zipWithIndex) {
      var pool = (at, BigInt(cen.rows(i).getLong(c)), BigInt(cen.rows(i).getLong(p)))
      while (pools.nonEmpty && pools.last._3 * pool._2 > pool._3 * pools.last._2) {
        val prev = pools.remove(pools.size - 1)
        pool = (prev._1, prev._2 + pool._2, prev._3 + pool._3)
      }
      pools += pool
    }
    val poolN, poolPos = new Array[Any](order.size)
    for (((start, n, pos), k) <- pools.zipWithIndex;
         at <- start until pools.lift(k + 1).fold(order.size)(_._1)) {
      poolN(order(at)) = n.toLong
      poolPos(order(at)) = pos.toLong
    }
    cen.append("__pn", poolN, nullable = false).append("__pp", poolPos, nullable = false)
      .toDF(df.sparkSession)
      .select(col("__b").as("bin"), col("__c").as("n"), col("__p").as("pos"),
        when(col("__n") <= 3000000000L, expr("(__pp * 1000000000L) div __pn"))
          .otherwise(raise_error(lit(
            "isotonicCalibrate: above 3e9 rows — pos*1e9 would exceed the long bound")).cast("long"))
          .as("iso_e9"))
  }

  /** Winsorization — clip each value into its group's [pLo, pHi]
    * percentile band, the outlier treatment that PRESERVES rows
    * where [[madOutliers]]/[[zscoreOutliers]] flag-and-drop (a
    * training pipeline usually wants the row, just not its wild
    * tail value). Percentile picks use the q72/q62 census rank
    * convention (`cum ≥ (n−1)·p div 100 + 1`, value = the census
    * cell that crosses), so both bounds are exact element picks
    * re-attached by broadcast, and the output is one corpus-shaped
    * projection with `(value, clipped, is_clipped)` — no window
    * ever sees a corpus row. */
  def winsorize(df: DataFrame, groupCols: Seq[String], idCol: String,
                valueCol: Column, pLo: Int = 5, pHi: Int = 95,
                maxBins: Int = 1 << 20): DataFrame = {
    require(pLo >= 0 && pHi <= 100 && pLo < pHi, "need 0 <= pLo < pHi <= 100")
    val gcols = groupCols.map(col)
    val v = valueCol.cast("long")
    val rows = df.filter(v.isNotNull)
      .select(col(idCol) +: (gcols :+ v.as("__v")): _*)
    val cum = census(
      rows.groupBy((gcols :+ col("__v")): _*).agg(count(lit(1)).as("__c")),
      maxBins.toLong, "winsorize (group, value) census",
      CensusSum.running("__cum", "__c", groupCols, "__v"), CensusSum.total("__n", "__c", groupCols))
    def pick(p: Int, out: String): DataFrame = cum
      .filter(col("__cum") >= expr(s"((__n - 1) * $p) div 100 + 1") &&
        col("__cum") - col("__c") < expr(s"((__n - 1) * $p) div 100 + 1"))
      .select((gcols :+ col("__v").as(out)): _*)
    rows
      .join(broadcast(pick(pLo, "__lo")), groupCols)
      .join(broadcast(pick(pHi, "__hi")), groupCols)
      .withColumn("clipped", greatest(col("__lo"), least(col("__hi"), col("__v"))))
      .select(col(idCol) +: (gcols :+ col("__v").as("value") :+ col("clipped") :+
        (col("clipped") =!= col("__v")).cast("long").as("is_clipped")): _*)
  }

  /** Quantile normalization — map every value onto the POOLED
    * distribution at its within-group quantile, the batch-effect
    * correction that makes per-source score distributions comparable
    * before mixing (two sources whose quality scorers drift still
    * rank-agree; after normalization their thresholds mean the same
    * thing). Per row: within-group min-rank `r` (equal values share
    * r, so the map is deterministic), target pooled rank
    * `t = (r−1)·N div n_g + 1` (1→1, n_g→≤N, monotone), and the
    * pooled census cell whose [cum−cnt+1, cum] span covers t. All
    * ranks come from the one `(group, value)` census, collected
    * under `maxBins` by the [[census]] primitive, which adds the
    * within-group and pooled prefix sums on the driver — a rank
    * statistic never ranks corpus rows (the spearman scale shape).
    * Pooled cells cover contiguous rank intervals, so the cell owning
    * target rank t is the one with the LARGEST start ≤ t: a binary
    * search over the cells' starts. The result re-attaches by
    * broadcast. */
  def quantileNormalize(df: DataFrame, groupCols: Seq[String], idCol: String,
                        valueCol: Column, maxBins: Int = 1 << 20): DataFrame = {
    val gcols = groupCols.map(col)
    val v = valueCol.cast("long")
    val rows = df.filter(v.isNotNull)
      .select(col(idCol) +: (gcols :+ v.as("__v")): _*)
    val cen = collectCensus(
      rows.groupBy((gcols :+ col("__v")): _*).agg(count(lit(1)).as("__c")),
      maxBins.toLong, "quantileNormalize (group, value) census",
      CensusSum.running("__cum", "__c", groupCols, "__v"), CensusSum.total("__ng", "__c", groupCols),
      CensusSum.running("__pcum", "__c", Nil, "__v"), CensusSum.total("__pc", "__c", Seq("__v")),
      CensusSum.total("__nn", "__c", Nil))
    def at(c: String): Row => Long = { val i = cen.index(c); _.getLong(i) }
    val (cv, cc, cum, ng, pcum, pc, nn) =
      (at("__v"), at("__c"), at("__cum"), at("__ng"), at("__pcum"), at("__pc"), at("__nn"))
    // (pooled start rank, value), one per distinct value, in rank order
    val cells = cen.rows.map(r => (pcum(r) - pc(r) + 1L, cv(r))).distinct.sortBy(_._1)
    val starts = cells.map(_._1)
    val qn: Array[Any] = cen.rows.map { r =>
      // past the guard below (r−1)·N could overflow: leave the value
      // to the guard's raise_error
      if (nn(r) > 3000000000L) null
      else {
        val t = Math.multiplyExact(cum(r) - cc(r), nn(r)) / ng(r) + 1L
        val hit = java.util.Arrays.binarySearch(starts, t)
        cells(if (hit >= 0) hit else -hit - 2)._2
      }
    }
    val mapped = cen.append("__qn", qn, nullable = true).toDF(df.sparkSession)
      .select((gcols :+ col("__v") :+
        when(col("__nn") <= 3000000000L, col("__qn"))
          .otherwise(raise_error(lit(
            "quantileNormalize: above 3e9 rows — (r−1)·N would exceed the long bound")).cast("long"))
          .as("qnorm")): _*)
    rows.join(broadcast(mapped), groupCols :+ "__v")
      .select(col(idCol) +: (gcols :+ col("__v").as("value") :+ col("qnorm")): _*)
  }

  /** ONE-vs-REST Kolmogorov–Smirnov distance for EVERY group in one
    * pass — "which source's distribution drifts from the rest of the
    * corpus?" asked for all sources at once, where [[ksTwoSample]]
    * compares two labeled samples. Exact integer form: `d_num_g =
    * max_v |cumA_g(v)·N − cumP(v)·n_g|` with `D = d_num /
    * (n_g·(N−n_g))` one consumer-side division.
    *
    * The naive evaluation needs the gap at every POOLED value per
    * group (a groups × pooled-values grid); this computes it on the
    * group's OWN census cells only: between a group's cells its CDF
    * is flat while the pooled CDF grows, so `f(v) = cumA·N − cumP·n_g`
    * strictly decreases within each segment and |f| attains its
    * extremes exactly at (a) each group cell AFTER its step and (b)
    * the pooled state just BEFORE each group cell (`cumA−c`,
    * `cumP−pc`); head and tail segments are covered by (b) of the
    * first cell and (a) of the last (f ends at 0). So the whole
    * statistic reads off the `(group, value)` census joined with the
    * pooled census — census-sized work, no grid, no corpus window.
    * N is guarded at 3e9 so every `cum·N` product stays in long
    * range; groups covering the whole corpus (empty rest) drop. */
  def ksOneVsRest(df: DataFrame, groupCol: String, valueCol: Column,
                  maxBins: Int = 1 << 20): DataFrame = {
    val rows = df
      .select(col(groupCol).as("__g"), valueCol.cast("long").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    census(
      rows.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c")),
      maxBins.toLong, "ksOneVsRest (group, value) census",
      CensusSum.running("__cumA", "__c", Seq("__g"), "__v"), CensusSum.total("__ng", "__c", Seq("__g")),
      CensusSum.running("__cumP", "__c", Nil, "__v"), CensusSum.total("__pc", "__c", Seq("__v")),
      CensusSum.total("__nn", "__c", Nil))
      .withColumn("__nn", when(col("__nn") <= 3000000000L, col("__nn"))
        .otherwise(raise_error(lit(
          "ksOneVsRest: above 3e9 rows — cum*N would exceed the long bound")).cast("long")))
      .withColumn("__f1",
        abs(col("__cumA") * col("__nn") - col("__cumP") * col("__ng")))
      .withColumn("__f0",
        abs((col("__cumA") - col("__c")) * col("__nn") -
          (col("__cumP") - col("__pc")) * col("__ng")))
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("__ng")).as("n_g"),
        max(col("__nn") - col("__ng")).as("n_rest"),
        max(greatest(col("__f1"), col("__f0"))).as("d_num"))
      .filter(col("n_rest") > 0L)
  }

  /** Histogram-based decision-stump SPLIT FINDER per group — the
    * XGBoost-approx / CART primitive ("which value threshold best
    * separates the positives?") computed entirely on the
    * `(group, value) → (count, positives)` census: candidate splits
    * are census cells, prefix sums give each side's class counts,
    * and the maximized objective is the Gini-purity score
    * `S = (pos_l² + neg_l²)/n_l + (pos_r² + neg_r²)/n_r` (weighted
    * Gini impurity = `n_g − S`, so argmax S ⟺ min impurity; a pure
    * split reads S = n_g). S carries as `S_e9 = (A·n_r + B·n_l)·10⁹
    * div (n_l·n_r)` — exact integer arithmetic in decimal(38,0)
    * under the 3e9 row guard, truncation identical cross-engine —
    * and ties break toward the SMALLEST split value. Splits are
    * "left = values ≤ v"; the last cell (empty right side) is not a
    * candidate; single-cell groups drop. Labels must be 0/1. */
  def bestSplit(df: DataFrame, groupCols: Seq[String],
                valueCol: Column, labelCol: Column,
                maxBins: Int = 1 << 20): DataFrame = {
    val gcols = groupCols.map(col)
    val rows = df
      .select((gcols :+ valueCol.cast("long").as("__v")
        :+ labelCol.cast("long").as("__l")): _*)
      .filter(col("__v").isNotNull && col("__l").isNotNull)
      .withColumn("__l",
        when(col("__l") === 0L || col("__l") === 1L, col("__l"))
          .otherwise(raise_error(lit("bestSplit: label must be 0/1")).cast("long")))
    val cum = census(
      rows.groupBy((gcols :+ col("__v")): _*)
        .agg(count(lit(1)).as("__c"), sum(col("__l")).as("__p")),
      maxBins.toLong, "bestSplit (group, value) census",
      CensusSum.running("__cc", "__c", groupCols, "__v"),
      CensusSum.running("__cp", "__p", groupCols, "__v"),
      CensusSum.total("__ng", "__c", groupCols), CensusSum.total("__pg", "__p", groupCols))
      .withColumn("__ng", when(col("__ng") <= 3000000000L, col("__ng"))
        .otherwise(raise_error(lit(
          "bestSplit: above 3e9 rows per group — the cubic score products would exceed decimal(38,0)")).cast("long")))
      .filter(col("__cc") < col("__ng")) // last cell: empty right side
    val scored = cum
      .withColumn("__nl", col("__cc"))
      .withColumn("__nr", col("__ng") - col("__cc"))
      .withColumn("__a",
        col("__cp").cast("decimal(38,0)") * col("__cp") +
          (col("__cc") - col("__cp")).cast("decimal(38,0)") * (col("__cc") - col("__cp")))
      .withColumn("__b",
        (col("__pg") - col("__cp")).cast("decimal(38,0)") * (col("__pg") - col("__cp")) +
          (col("__nr") - (col("__pg") - col("__cp"))).cast("decimal(38,0)") *
            (col("__nr") - (col("__pg") - col("__cp"))))
      .withColumn("__s",
        expr("CAST(((__a * __nr + __b * __nl) * 1000000000L) div (__nl * __nr) AS BIGINT)"))
    scored
      .groupBy(gcols: _*)
      .agg(max(struct(col("__s"), (-col("__v")).as("__nv"), col("__v").as("split_v"),
        col("__nl").as("n_left"), col("__nr").as("n_right"),
        col("__cp").as("pos_left"), col("__ng").as("n"),
        col("__pg").as("pos"))).as("__best"))
      .select((gcols :+ col("__best.split_v") :+ col("__best.n_left")
        :+ col("__best.n_right") :+ col("__best.pos_left")
        :+ col("__best.n") :+ col("__best.pos")
        :+ col("__best.__s").as("score_e9")): _*)
  }

  /** Population Stability Index per group — the industry-standard
    * "did the score distribution shift between A and B?" monitor
    * beside the shape tests (chi2 weights squared gaps, KS/CvM read
    * CDFs; PSI's `Σ (p_A − p_B)·ln(p_A/p_B)` is the scorecard
    * convention with the 0.1/0.25 rule-of-thumb bands). EXACT
    * fixed-point form on the `(group, bin) → (count_A, count_B)`
    * census with add-one smoothing over the group's occupied bins
    * (`p = (c+1)/(n+B)` — empty-on-one-side bins must not produce a
    * log of zero): per bin
    * `q = (sA·dB − sB·dA)·10⁶ div (dA·dB)` (the probability gap at
    * 1e-6, truncation identical cross-engine) and
    * `dlog = flog2q(sA·dB) − flog2q(sB·dA)` (the 1/16-bit integer
    * log2 of the probability ratio), and `psi_fp = Σ q·dlog` — units
    * of 10⁶·16·log2, so `PSI_nats = psi_fp·ln2/16e6` is one
    * consumer-side multiply. The flog2q quantization floor means
    * near-identical bins contribute ±small terms (the jsDivergence
    * floor note); discrimination above the floor is monotone.
    * Guards: per-side totals ≤ 1e9 keep `s·d` products in long
    * range. Groups with an empty side drop (PSI against nothing is
    * undefined). */
  def psiDrift(df: DataFrame, groupCols: Seq[String],
               inB: Column, binCol: Column,
               maxBins: Int = 1 << 20): DataFrame = {
    val gcols = groupCols.map(col)
    val rows = df
      .select((gcols :+ inB.cast("boolean").as("__b")
        :+ binCol.cast("long").as("__v")): _*)
      .filter(col("__v").isNotNull && col("__b").isNotNull)
    val guard = (c: String, side: String) =>
      when(col(c) <= 1000000000L, col(c)).otherwise(raise_error(lit(
        s"psiDrift: sample $side above 1e9 rows — smoothed products would exceed the long bound")).cast("long"))
    val g = census(
      rows.groupBy((gcols :+ col("__v")): _*)
        .agg(sum(when(col("__b"), 0L).otherwise(1L)).as("__ca"),
          sum(when(col("__b"), 1L).otherwise(0L)).as("__cb")),
      maxBins.toLong, "psiDrift (group, bin) census",
      CensusSum.total("__na", "__ca", groupCols), CensusSum.total("__nb", "__cb", groupCols),
      CensusSum.count("__bins", groupCols))
      .withColumn("__na", guard("__na", "A"))
      .withColumn("__nb", guard("__nb", "B"))
      .withColumn("__da", col("__na") + col("__bins"))
      .withColumn("__db", col("__nb") + col("__bins"))
      .withColumn("__sa", col("__ca") + 1L)
      .withColumn("__sb", col("__cb") + 1L)
      .withColumn("__q",
        expr("((CAST(__sa AS decimal(38,0)) * __db - CAST(__sb AS decimal(38,0)) * __da) " +
          "* 1000000) div (__da * __db)"))
      .withColumn("__dlog",
        expr(s"${Curation.flog2qSql("__sa * __db")} - ${Curation.flog2qSql("__sb * __da")}"))
    g.groupBy(gcols: _*)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(col("__bins")).as("n_bins"),
        sum(col("__q") * col("__dlog")).as("psi_fp"))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
  }

  /** Cohen's kappa per group — chance-corrected agreement between
    * two label columns (a predictor vs a gold column, two
    * annotators, two dedup pipelines): raw accuracy rewards a rater
    * who always answers the majority class, κ subtracts the
    * agreement chance would produce. EXACT integer form on the
    * confusion census: `agree = Σ diagonal`, `pe_num = Σ_label
    * rowTotal·colTotal` (chance agreement × N²), and
    * `kappa_e6 = (agree·N − pe_num)·10⁶ div (N² − pe_num)` — signed
    * truncating division, identical cross-engine. Scale shape: one
    * `(group, a, b)` confusion census (the [[census]] primitive's
    * bounded collect — label vocabularies are small by nature), marginals as census
    * aggregates, every product guarded inside long/decimal range by
    * the 3e9 per-group cap. Degenerate groups (both raters constant
    * and identical: N² = pe_num) emit null kappa. */
  def cohenKappa(df: DataFrame, groupCols: Seq[String],
                 aCol: Column, bCol: Column,
                 maxBins: Int = 1 << 20): DataFrame = {
    val gcols = groupCols.map(col)
    val rows = df
      .select((gcols :+ aCol.cast("string").as("__a")
        :+ bCol.cast("string").as("__b")): _*)
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val cells = census(
      rows.groupBy((gcols :+ col("__a") :+ col("__b")): _*)
        .agg(count(lit(1)).as("__c")),
      maxBins.toLong, "cohenKappa (group, a, b) census")
    val ra = cells.groupBy((gcols :+ col("__a").as("__l")): _*)
      .agg(sum(col("__c")).as("__r"))
    val cb = cells.groupBy((gcols :+ col("__b").as("__l")): _*)
      .agg(sum(col("__c")).as("__k"))
    val pe = ra.join(cb, groupCols :+ "__l")
      .groupBy(gcols: _*)
      .agg(sum(col("__r") * col("__k")).as("__peNum"))
    val base = cells.groupBy(gcols: _*)
      .agg(sum(col("__c")).as("n"),
        sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L)).as("n_agree"))
      .withColumn("n", when(col("n") <= 3000000000L, col("n"))
        .otherwise(raise_error(lit(
          "cohenKappa: above 3e9 rows per group — N² would exceed the long bound")).cast("long")))
    // LEFT join + zero-fill: with fully disjoint label sets the
    // marginal join is empty and pe_num is legitimately 0 — the
    // group must not drop.
    base.join(broadcast(pe), groupCols, "left")
      .withColumn("__peNum", coalesce(col("__peNum"), lit(0L)))
      .withColumn("kappa_e6",
        when(col("n") * col("n") =!= col("__peNum"),
          expr("CAST(((CAST(n_agree AS decimal(38,0)) * n - __peNum) * 1000000) " +
            "div (n * n - __peNum) AS BIGINT)")))
      .select((gcols :+ col("n") :+ col("n_agree")
        :+ col("__peNum").as("pe_num") :+ col("kappa_e6")): _*)
  }

  /** V-optimal histogram — the k-segment partition of a value census
    * that MINIMIZES total within-segment SSE (Jagadish et al., VLDB
    * '98: the histogram an optimizer actually wants, vs equi-width/
    * equi-depth's convenience cuts), solved EXACTLY by the classic
    * O(k·B²) dynamic program over census positions — the optimal
    * counterpart of [[graft.operators.Temporal]]'s greedy binary
    * segmentation (q189), and the same "the oracle replays the whole
    * trajectory" contract: interval costs are truncated exact
    * rationals (`sse_q = (n·Σv² − (Σv)²) div n` over exact decimal
    * sums — the zero-float SSE identity, already e²-granular for
    * e-quantized inputs; plain truncation rather than an e6 rescale
    * keeps every emitted and DP-summed cost inside BIGINT for
    * n·var(v) < 2⁶³), the DP's min-plus
    * recurrence ties break to the SMALLEST split position, and the
    * backtrack is deterministic, so the emitted segment table
    * hash-gates bit-for-bit.
    *
    * Scale shape: ONE corpus shuffle builds the (bin) census; the
    * [[census]] primitive collects it under `maxBins`, and the B²/2
    * interval costs, the k DP layers and the backtrack run on the
    * driver in exact arithmetic (BigInt costs, `Math.addExact`
    * totals — an overflow throws, as the ANSI plan did). Headroom:
    * |v| ≤ 10⁷ (guarded) and n ≤ 10¹² keep n·Σv² inside
    * decimal(38,0).
    *
    * Emits one row per segment: `(segment, start_bin, end_bin,
    * n_seg, sse_q)`, positions mapped back to bin values. */
  def vOptimalHist(df: DataFrame, binCol: Column, valueQ: Column,
                   k: Int, maxBins: Long = 1024): DataFrame = {
    require(k >= 1 && k <= 16, "k must be in [1, 16]")
    val rows = df
      .filter(binCol.isNotNull && valueQ.isNotNull)
      .select(binCol.cast("long").as("__bin"), valueQ.cast("long").as("__v"))
      .withColumn("__v", when(abs(col("__v")) <= 10000000L, col("__v"))
        .otherwise(raise_error(lit(
          "vOptimalHist: |v| > 1e7 — quantize coarser upstream (n·Σv² range)")).cast("long")))
    val cen = collectCensus(rows.groupBy(col("__bin"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast("decimal(38,0)")).as("__s"),
        sum(col("__v").cast("decimal(38,0)") * col("__v")).as("__q")),
      maxBins, "vOptimalHist")
    val Seq(bi, ni, si, qi) = Seq("__bin", "__n", "__s", "__q").map(cen.index)
    val bins = cen.rows.sortBy(_.getLong(bi))
    val b = bins.length
    require(b >= k, s"vOptimalHist: only $b occupied bins for k=$k segments")
    // Prefix sums over census positions; position 0 is the empty prefix.
    def prefix(v: Row => BigInt): Array[BigInt] = bins.scanLeft(BigInt(0))((acc, r) => acc + v(r))
    val cn = prefix(r => BigInt(r.getLong(ni)))
    val cs = prefix(r => BigInt(r.getDecimal(si).toBigInteger))
    val cq = prefix(r => BigInt(r.getDecimal(qi).toBigInteger))
    // cost(a)(e − a − 1): the truncated SSE of positions a+1..e —
    // `(n·Σv² − (Σv)²) div n` — cast to BIGINT, which throws on overflow.
    val cost = Array.tabulate(b) { a =>
      Array.tabulate(b - a) { d =>
        val e = a + d + 1
        val n = cn(e) - cn(a)
        val sse = (n * (cq(e) - cq(a)) - (cs(e) - cs(a)).pow(2)) / n
        if (!sse.isValidLong) throw new ArithmeticException(
          s"vOptimalHist: segment cost $sse overflows BIGINT")
        sse.toLong
      }
    }
    def c(a: Int, e: Int): Long = cost(a)(e - a - 1)
    // total(i): least cost of the first i positions in t segments;
    // split(t)(i): the last split of that optimum — the SMALLEST j on ties.
    var total = Array.tabulate(b + 1)(i => if (i == 0) 0L else c(0, i))
    val split = Array.ofDim[Int](k + 1, b + 1)
    for (t <- 2 to k) {
      val next = new Array[Long](b + 1)
      for (i <- t to b) {
        var best = -1
        for (j <- t - 1 until i) {
          val cand = Math.addExact(total(j), c(j, i))
          if (best < 0 || cand < next(i)) { best = j; next(i) = cand }
        }
        split(t)(i) = best
      }
      total = next
    }
    // Backtrack the boundary chain b_k = B, b_{t-1} = split_t(b_t).
    var boundary = b
    val segs = (k to 1 by -1).map { t =>
      val j = split(t)(boundary)
      val seg = Row(t.toLong, bins(j).get(bi), bins(boundary - 1).get(bi),
        (cn(boundary) - cn(j)).toLong, c(j, boundary))
      boundary = j
      seg
    }.reverse
    df.sparkSession.createDataFrame(segs.asJava, StructType(Seq(
      StructField("segment", LongType, nullable = false),
      cen.schema("__bin").copy(name = "start_bin"), cen.schema("__bin").copy(name = "end_bin"),
      StructField("n_seg", LongType), StructField("sse_q", LongType))))
  }

  /** Delete-one-bucket jackknife variance of a group's mean — the
    * RNG-free uncertainty bar for pipeline metrics (a bootstrap
    * needs random resamples and so can never hash-gate; the
    * jackknife's d leave-one-out replicates are a DETERMINISTIC
    * function of the bucket census). Per group: buckets (e.g. days)
    * carry exact integer sums `s_i` and counts `n_i`; each replicate
    * mean θ_i = (S − s_i)/(N − n_i) is e9-quantized by ONE integral
    * division (`θq_i = (s·10⁵·(S−s_i)) div (N−n_i)` for e4-quantized
    * values — exact, so Σθq and Σθq² are order-free), and the
    * jackknife variance (d−1)/d · Σ(θ_i − θ̄)² comes out as
    * `var_e6 = ((d−1)·(d·Σθq² − (Σθq)²)) div (d²·10¹²)` — every
    * step an integer, ONE fused division (an intermediate `div d²`
    * is ~10²³ and Spark's IntegralDivide returns LONG — the
    * two-step form overflowed), bit-identical cross-engine. Groups need ≥ 2 buckets
    * and every replicate a nonempty remainder (N > n_i — guaranteed
    * when d ≥ 2 and all n_i ≥ 1).
    *
    * Scale shape: one corpus shuffle builds the (group, bucket)
    * census; the [[census]] primitive collects it under
    * `maxBuckets` and adds the per-group bucket count and totals on
    * the driver; everything after is census-space aggregates. */
  def jackknifeMeanVar(df: DataFrame, groupCols: Seq[String],
                       bucketCol: Column, valueQ: Column,
                       maxBuckets: Long = 65536): DataFrame = {
    val gcols = groupCols.map(col)
    val census0 = df
      .filter(valueQ.isNotNull && bucketCol.isNotNull)
      .groupBy((gcols :+ bucketCol.as("__b")): _*)
      .agg(count(lit(1)).as("__ni"), sum(valueQ.cast("long")).as("__si"))
    val rep = census(census0, maxBuckets, "jackknifeMeanVar",
      CensusSum.count("__d", groupCols), CensusSum.total("__N", "__ni", groupCols),
      CensusSum.total("__S", "__si", groupCols))
      .filter(col("__d") >= 2)
      .withColumn("__thq", expr(
        "(CAST((__S - __si) AS decimal(38,0)) * 100000) div CAST(__N - __ni AS decimal(38,0))"))
    rep.groupBy(gcols: _*)
      .agg(max(col("__d")).as("d"), max(col("__N")).as("n"),
        sum(col("__thq").cast("decimal(38,0)")).as("__sth"),
        sum(col("__thq").cast("decimal(38,0)") * col("__thq").cast("decimal(38,0)"))
          .as("__sth2"))
      .withColumn("theta_bar_q", expr("CAST(__sth div d AS BIGINT)"))
      // ONE division: Spark's IntegralDivide returns LONG, so the
      // two-step `div d² div 1e12` overflows on the ~1e23
      // intermediate (caught by the sf0.001 gate: negative
      // variances); trunc composition makes the fused divisor exact.
      .withColumn("jk_var_e6", expr(
        "CAST(((d - 1) * (d * __sth2 - __sth * __sth)) div " +
          "(CAST(d AS decimal(38,0)) * d * 1000000000000) AS BIGINT)"))
      .select((gcols :+ col("d") :+ col("n") :+ col("theta_bar_q")
        :+ col("jk_var_e6")): _*)
  }
}
