package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively. */
object Temporal {

  /** Backward as-of join: for every left row, the single right row
    * with the greatest `timeCol` at or before the left row's time,
    * matched within `keyCol` — the "latest snapshot as of this
    * event" join of feature stores and slowly-changing dimensions.
    * Left rows with no prior right row keep null payload columns
    * (left-outer semantics).
    *
    * Implementation is the union + carry-forward shape, not a
    * per-row probe: tag and union both inputs, sort within each key
    * by (time, side) — right rows first at equal timestamps, so a
    * same-instant snapshot matches inclusively — and carry the last
    * non-null right payload forward with a running `last(ignoreNulls)`
    * window. ONE shuffle on the key, a partitioned (never global)
    * window, and no join explosion: each right row is touched once
    * regardless of how many left rows it serves — where a naive
    * non-equi join (`l.ts >= r.ts` + max-per-key) builds every
    * (left, earlier-right) pair first, quadratic per key.
    *
    * Ties among right rows sharing (key, time): the LAST in
    * `tieCols` order wins, so pass a unique column (an event id) to
    * make the match deterministic — the operator cannot invent a
    * tiebreak the caller's data doesn't have. Payload columns are
    * emitted as `prefix + name`; they must not collide with left
    * column names after prefixing. */
  def asofJoinBackward(left: DataFrame, right: DataFrame,
                       keyCol: String, timeCol: String,
                       payloadCols: Seq[String],
                       prefix: String = "asof_",
                       tieCols: Seq[String] = Nil): DataFrame = {
    require(payloadCols.nonEmpty, "asofJoinBackward needs at least one payload column")
    val leftCols = left.columns.toSeq
    // Per-index typed tie columns (null on the left side) rather
    // than one packed string: string packing cannot distinguish
    // ("x", null) from (null, "x"), and a value containing the
    // separator collides — typed columns keep the ordering total
    // whenever the tie tuple itself is unique.
    val tieTypes = tieCols.map(c => right.schema(c).dataType)
    val l = left.select(Seq(
      col(keyCol).as("__k"), col(timeCol).as("__t"), lit(1).as("__side"),
      struct(leftCols.map(col): _*).as("__l"),
      lit(null).cast(right.select(payloadCols.map(col): _*).schema).as("__r")) ++
      tieCols.indices.map(i => lit(null).cast(tieTypes(i)).as(s"__tie$i")): _*)
    val r = right
      // Null join keys never match under SQL join semantics (the
      // gate's ASOF oracle included): a null-key right row must not
      // become the carried snapshot for null-key left rows, which
      // Window.partitionBy would otherwise group together.
      .filter(col(keyCol).isNotNull)
      .select(Seq(
        col(keyCol).as("__k"), col(timeCol).as("__t"), lit(0).as("__side"),
        lit(null).cast(left.schema).as("__l"),
        struct(payloadCols.map(col): _*).as("__r")) ++
        tieCols.indices.map(i => col(tieCols(i)).as(s"__tie$i")): _*)
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc +: col("__side").asc +:
        tieCols.indices.map(i => col(s"__tie$i").asc_nulls_last): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val out = leftCols.map(c => col(s"__l.$c").as(c)) ++
      payloadCols.map(c => col(s"__match.$c").as(s"$prefix$c"))
    matched.select(out: _*)
  }

  /** Forward as-of join — [[asofJoinBackward]] mirrored in time: for
    * every left row, the single right row with the SMALLEST `timeCol`
    * at or after it, per key — "the next reading / the next
    * scheduled event from here", the lookahead every
    * time-to-next-event feature needs. Implemented BY the backward
    * operator on negated times (the order-reversal is exact on
    * longs), so the union + carry-forward scale shape — one key
    * shuffle, partitioned window, each right row touched once — and
    * the null-key / same-instant-inclusive semantics are inherited,
    * not re-implemented. Ties among right rows sharing (key, time)
    * resolve to the LARGEST `tieCols` tuple (the backward
    * operator's last-wins under negation); pass a unique id for
    * determinism. If `payloadCols` carries the time column itself,
    * it is negated back on the way out. */
  def asofJoinForward(left: DataFrame, right: DataFrame,
                      keyCol: String, timeCol: String,
                      payloadCols: Seq[String],
                      prefix: String = "asof_",
                      tieCols: Seq[String] = Nil): DataFrame = {
    val out = asofJoinBackward(
        left.withColumn(timeCol, -col(timeCol)),
        right.withColumn(timeCol, -col(timeCol)),
        keyCol, timeCol, payloadCols, prefix, tieCols)
      .withColumn(timeCol, -col(timeCol))
    if (payloadCols.contains(timeCol))
      out.withColumn(s"$prefix$timeCol", -col(s"$prefix$timeCol"))
    else out
  }

  /** SCD2 (slowly-changing-dimension type 2) history build: each
    * input row becomes a version row carrying `version` (1-based per
    * key), `valid_from` (its own time) and `valid_to` (the NEXT
    * version's time, null while current) — half-open intervals, so
    * an as-of probe `valid_from <= t < valid_to` pairs exactly one
    * version per instant and composes with [[asofJoinBackward]] and
    * [[intervalJoin]]. The standard warehouse move of turning an
    * event log into a queryable dimension history.
    *
    * One shuffle on the key; lead + row_number share one partitioned
    * sort. Determinism needs a TOTAL order: pass unique `tieCols`
    * (an event id) when keys can carry same-instant rows. */
  def scd2(rows: DataFrame, keyCol: String, timeCol: String,
           tieCols: Seq[String] = Nil): DataFrame = {
    val order = col(timeCol).asc +: tieCols.map(col(_).asc)
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    rows
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from", col(timeCol))
      .withColumn("valid_to", lead(col(timeCol), 1).over(w))
  }

  /** Gap-based batch sessionization: assigns every row a per-key
    * 1-based `session_idx`, where a new session starts whenever the
    * time since the key's previous row exceeds `gap` (same units as
    * `timeCol` — epoch micros, nanos, any total-ordered numeric).
    * The batch twin of `EventStreams.sessionize`: the streaming op
    * bounds state with watermarks; this one is a single shuffle on
    * the key plus two partitioned window passes (lag, running sum)
    * — never a global window, so it scales with the key count, not
    * the corpus.
    *
    * Same-instant rows: the session-open flag lands on an arbitrary
    * peer, but the running sum uses a RANGE frame (peers included),
    * so every tied row sees the same cumulative value — the
    * assignment is deterministic even though the tie order isn't.
    * Null times sort first within their key (a session of their
    * own) under Spark's ASC default (NULLS FIRST); DuckDB's ASC
    * default is NULLS LAST (since v0.8), so an oracle formulation
    * over data with null times must spell `NULLS FIRST` explicitly
    * — or filter null times upstream — to stay engine-portable.
    * Null keys group together on both engines. The same caveat
    * applies to every window-ordered oracle here (q54/q61/q62/q64);
    * the shipped test data has no null event times, so the gates
    * don't currently exercise it. */
  def sessionize(df: DataFrame, keyCol: String, timeCol: String,
                 gap: Long, sessionCol: String = "session_idx"): DataFrame = {
    require(gap > 0, "gap must be positive")
    val byTime = Window.partitionBy(col(keyCol)).orderBy(col(timeCol))
    // First row of a key: lag is null, the comparison is null, the
    // otherwise-branch opens session 1 — no special case needed.
    val opens = when(
      col(timeCol) - lag(col(timeCol), 1).over(byTime) <= lit(gap), lit(0L))
      .otherwise(lit(1L))
    df.withColumn("__open", opens)
      .withColumn(sessionCol,
        sum(col("__open")).over(
          byTime.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__open")
  }

  /** Point-in-interval (range) join: every (point, interval) pair
    * with `startCol <= point < endCol` — intervals half-open, the
    * convention that keeps adjacent intervals non-overlapping.
    *
    * A raw range join has no equi-key, so Catalyst's only plans are
    * broadcast-nested-loop or cartesian — quadratic scans at corpus
    * scale. This operator BUCKETIZES: each interval explodes into
    * one row per `bucketWidth`-sized time bucket it covers, each
    * point maps to the single bucket containing it, and the join
    * becomes a hash-partitioned EQUI-join on the bucket id followed
    * by the exact containment refinement. A point lies in exactly
    * one bucket, so each qualifying pair meets exactly once — no
    * dedup pass. Cost scales with sum(interval_span / bucketWidth)
    * copies on the build side; pick `bucketWidth` near the typical
    * interval length so most intervals explode into 1-2 copies
    * (the replication-factor trade every range-join bucketization
    * makes; Databricks' range-join hint does the same under the
    * hood). Skewed buckets (rush-hour pileups) are AQE's skew-join
    * problem, already handled.
    *
    * Both columns must be numeric (epoch micros/nanos, offsets —
    * anything with a total order under `<=`). */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
                   pointCol: String, startCol: String, endCol: String,
                   bucketWidth: Long, equiKeys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    // Exact integral FLOOR division: `/` on longs is double division
    // in Spark and corrupts epoch-nano values above 2^53, and `div`
    // alone truncates toward zero (wrong bucket for negative times).
    // Subtracting the nonnegative pmod first makes the numerator an
    // exact multiple, so `div` is exact floor division at any
    // magnitude and sign.
    def bucketize(e: String): Column =
      expr(s"(($e) - pmod(($e), ${bucketWidth}L)) div ${bucketWidth}L")
    val p = points.withColumn("__b", bucketize(s"`$pointCol`"))
    val iv = intervals
      // Degenerate/inverted intervals (end <= start) can match
      // nothing, and MUST be dropped before the explode: Spark's
      // sequence(a, b) auto-steps DOWNWARD when b < a, so a single
      // corrupted row with swapped bounds would otherwise explode
      // into (start-end)/bucketWidth phantom copies.
      .filter(col(startCol) < col(endCol))
      .withColumn("__b",
        // end is exclusive: an interval ending exactly on a bucket
        // boundary does not reach into that bucket.
        explode(sequence(bucketize(s"`$startCol`"), bucketize(s"`$endCol` - 1"))))
    // Extra equi-keys (a user id, a shard) join INSIDE the shuffle
    // key, so candidates are per-(bucket, key) instead of
    // bucket-wide — the difference between a time-slice cross
    // product and a per-entity one on a high-cardinality key.
    p.join(iv, "__b" +: equiKeys)
      .filter(col(startCol) <= col(pointCol) && col(pointCol) < col(endCol))
      .drop("__b")
  }

  /** LAST-TOUCH ATTRIBUTION, batch form of the streaming
    * [[graft.streaming.EventStreams.attributionJoin]] + arg-max: for
    * every click, the single most recent impression by the same key
    * within `[click − horizon, click]` (ties on the timestamp break
    * to the smallest impression id). The marketing/causal bookkeeping
    * join every event pipeline ends up needing; "first-touch" is the
    * same plan with the struct order flipped.
    *
    * Scale shape: the candidate match rides [[intervalJoin]] with the
    * key in the equi-join (bucketized band join — never a
    * key-only join whose per-user candidate lists a time filter then
    * prunes), and the per-click arg-max is an AGGREGATE
    * (`min(struct(-imp_ts, imp_id))`), not a window — no per-click
    * sort, no skew cliff on a hot user. Output: one row per
    * attributed click. */
  def lastTouchAttribution(impressions: DataFrame, clicks: DataFrame,
                           keyCol: String, idCol: String, tsCol: String,
                           horizon: Long, bucketWidth: Long): DataFrame = {
    require(horizon > 0, "horizon must be positive")
    val iv = impressions.select(col(keyCol), col(idCol).as("imp_id"),
      col(tsCol).as("imp_ts"), col(tsCol).as("__start"),
      // half-open [start, end): end = imp_ts + horizon + 1 keeps the
      // click == imp_ts + horizon boundary INSIDE the window, the
      // inclusive contract the streaming twin uses.
      (col(tsCol) + horizon + 1L).as("__end"))
    val p = clicks.select(col(keyCol), col(idCol).as("click_id"),
      col(tsCol).as("click_ts"))
    intervalJoin(p, iv, "click_ts", "__start", "__end", bucketWidth,
        equiKeys = Seq(keyCol))
      .groupBy(col("click_id"))
      .agg(min(col(keyCol)).as(keyCol), min(col("click_ts")).as("click_ts"),
        min(struct((-col("imp_ts")).as("nt"), col("imp_id").as("i"))).as("best"))
      .select(col("click_id"), col(keyCol), col("click_ts"),
        col("best.i").as("imp_id"), (-col("best.nt")).as("imp_ts"))
  }

  /** LINEAR multi-touch attribution — [[lastTouchAttribution]]'s
    * winner-takes-all credit spread evenly instead: every same-key
    * impression inside `[click − horizon, click]` receives
    * `1 / n_candidates` of the click (the position-based variants are
    * the same plan with a different weight projection). One row per
    * (click, impression) pair, so the output carries the full
    * assist graph budget reallocation needs, not just the winner.
    *
    * Scale shape: the SAME bucketized per-key [[intervalJoin]]
    * candidate match as last-touch, then one clicks-keyed count
    * aggregate re-attached by equi-join (candidates-sized, never
    * corpus-sized; AQE broadcasts the census when clicks are few).
    * Credit is ONE correctly-rounded division, so the frame
    * hash-gates. */
  def linearAttribution(impressions: DataFrame, clicks: DataFrame,
                        keyCol: String, idCol: String, tsCol: String,
                        horizon: Long, bucketWidth: Long): DataFrame = {
    require(horizon > 0, "horizon must be positive")
    val iv = impressions.select(col(keyCol), col(idCol).as("imp_id"),
      col(tsCol).as("imp_ts"), col(tsCol).as("__start"),
      (col(tsCol) + horizon + 1L).as("__end"))
    val p = clicks.select(col(keyCol), col(idCol).as("click_id"),
      col(tsCol).as("click_ts"))
    val cand = intervalJoin(p, iv, "click_ts", "__start", "__end", bucketWidth,
        equiKeys = Seq(keyCol))
      .select(col("click_id"), col(keyCol), col("click_ts"),
        col("imp_id"), col("imp_ts"))
    val counts = cand.groupBy(col("click_id")).agg(count(lit(1)).as("__n"))
    cand.join(counts, "click_id")
      .select(col("click_id"), col(keyCol), col("click_ts"),
        col("imp_id"), col("imp_ts"),
        (lit(1.0d) / col("__n").cast("double")).as("credit"))
  }

  /** Per-entity event-TRANSITION matrix — the path-analysis census
    * behind "what do users do next": for every consecutive pair of
    * events of the same key (ordered by time, ties by `tieCol`),
    * count the (from_type, to_type) transition and derive the
    * row-conditional probability `p = n / Σ n(from)`. The Markov-
    * chain sufficient statistics of the event stream; funnels (q86)
    * ask about one fixed path, this measures all of them.
    *
    * Scale shape: ONE shuffle — the `lead` window partitions by the
    * entity key (bounded per-key state, the q54 sessionize exchange),
    * then a map-side-combinable (from, to) census whose output is
    * bounded by |type|² rows; the per-from totals attach back by
    * broadcast. The probability is a single correctly-rounded
    * division, so the frame hash-gates cross-engine. */
  def transitionMatrix(events: DataFrame, keyCol: String, typeCol: String,
                       tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val t = events
      .select(col(keyCol), col(typeCol), col(tsCol), col(tieCol))
      .withColumn("__nxt", lead(col(typeCol), 1).over(w))
      .filter(col("__nxt").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__nxt").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = t.groupBy(col("from_type")).agg(sum(col("n")).as("__tn"))
    t.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("__tn").cast("double")).as("p"))
  }

  /** Interval × interval overlap join: every (left, right) pair of
    * NON-EMPTY intervals with `lStart < rEnd AND rStart < lEnd`
    * (half-open overlap), plus the caller's extra equi-keys (a user
    * id, a shard) ANDed in. An empty interval (`start >= end`)
    * denotes no time span and matches nothing — the half-open SET
    * semantics, under which the raw predicate above only coincides
    * for positive-length inputs; empties are dropped before the
    * explode (which would otherwise step `sequence()` downward, the
    * same hazard [[intervalJoin]] documents). Same
    * bucketization as [[intervalJoin]], with the classic
    * exactly-once refinement: a pair overlapping across several
    * shared buckets is kept only in the bucket containing
    * `greatest(lStart, rStart)` — the first instant of the overlap,
    * which by construction lies in exactly one bucket of each side —
    * so no dedup pass ever runs. Replication cost is
    * `span / bucketWidth` copies per side, the same knob as
    * [[intervalJoin]]. */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
                          lStart: String, lEnd: String,
                          rStart: String, rEnd: String,
                          bucketWidth: Long,
                          extraKeys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def bucketize(e: String): Column =
      expr(s"(($e) - pmod(($e), ${bucketWidth}L)) div ${bucketWidth}L")
    def exploded(df: DataFrame, s: String, e: String): DataFrame = df
      .filter(col(s) < col(e))
      .withColumn("__b", explode(sequence(bucketize(s"`$s`"), bucketize(s"`$e` - 1"))))
    val l = exploded(left, lStart, lEnd)
    val r = exploded(right, rStart, rEnd)
    l.join(r, Seq("__b") ++ extraKeys)
      .filter(col(lStart) < col(rEnd) && col(rStart) < col(lEnd))
      .filter(col("__b") === bucketize(s"greatest(`$lStart`, `$rStart`)"))
      .drop("__b")
  }

  /** Ordered-funnel completion per key: how far each key advanced
    * through `steps` (event types that must occur in order, each at
    * a time STRICTLY after the previous stage's completion — a
    * same-instant next step does not count, which also makes the
    * result independent of tie order). Returns one row per key that
    * has at least one step-event: `(keyCol, steps_completed,
    * t_complete)` — the stage count reached and the completion time
    * of the last stage reached (null at stage 0). Greedy
    * earliest-match is provably the chained-minima semantics
    * (t1 = min t of step 1; t_{i+1} = min t of step i+1 with
    * t > t_i), which is exactly how the q86 oracle replays it.
    *
    * Scale shape: irrelevant event types drop BEFORE the shuffle, so
    * the one hash exchange moves only step events; per-key state is
    * the collected (t, type) list — bounded by a key's step-event
    * count, same bound as [[sessionize]]'s per-key window. The fold
    * over the sorted list is a per-row HOF (interpreted — fine at
    * per-key list sizes; a hot corpus-wide funnel would move it into
    * a codegen kernel, the TopShingleRun rule). */
  def funnel(events: DataFrame, keyCol: String, timeCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val stepArr = array(steps.map(lit): _*)
    val acc0 = struct(lit(0).as("stage"), lit(Long.MinValue).as("t"))
    val folded = aggregate(
      sort_array(col("evs")),
      acc0,
      (acc, ev) => when(
        acc("stage") < lit(steps.size) &&
          ev("ty") === element_at(stepArr, acc("stage") + 1) &&
          ev("t") > acc("t"),
        struct((acc("stage") + 1).as("stage"), ev("t").as("t")))
        .otherwise(acc))
    events
      .filter(col(typeCol).isin(steps: _*))
      .select(col(keyCol), struct(col(timeCol).as("t"), col(typeCol).as("ty")).as("ev"))
      .groupBy(col(keyCol))
      .agg(collect_list(col("ev")).as("evs"))
      .select(col(keyCol), folded.as("f"))
      .select(col(keyCol),
        col("f.stage").as("steps_completed"),
        when(col("f.stage") > 0, col("f.t")).as("t_complete"))
  }

  /** Windowed ordered funnel (the ClickHouse-`windowFunnel` family,
    * anchored variant): like [[funnel]], but every later stage must
    * also land within `window` time units of the chain's FIRST step
    * — conversion only counts if the whole journey fits the window.
    * The anchor is the earliest step-1 event (greedy, like the base
    * funnel); a chain whose window expires does not restart at a
    * later step-1 event — the deterministic, chained-minima-
    * replayable policy (a restarting variant needs per-level
    * timestamp state and is not expressible as minima; documented
    * trade, not an oversight). Equivalence: t1 = min t of step 1;
    * t_{i+1} = min t of step i+1 with t > t_i AND t − t1 ≤ window —
    * which is exactly how the q110 oracle replays it.
    *
    * Returns `(keyCol, steps_completed, t_start, t_complete)` —
    * `t_start` the anchor (null at stage 0), `t_complete` the last
    * stage's time. Same scale shape as [[funnel]]: irrelevant types
    * drop before the one shuffle, per-key state bounded by the
    * key's step-event count. */
  def windowFunnel(events: DataFrame, keyCol: String, timeCol: String,
                   typeCol: String, steps: Seq[String], window: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    require(window > 0, "window must be positive")
    val stepArr = array(steps.map(lit): _*)
    val acc0 = struct(lit(0).as("stage"), lit(Long.MinValue).as("t"),
      lit(Long.MinValue).as("anchor"))
    val folded = aggregate(
      sort_array(col("evs")),
      acc0,
      (acc, ev) => when(
        acc("stage") < lit(steps.size) &&
          ev("ty") === element_at(stepArr, acc("stage") + 1) &&
          ev("t") > acc("t") &&
          (acc("stage") === 0 || ev("t") - acc("anchor") <= lit(window)),
        struct((acc("stage") + 1).as("stage"), ev("t").as("t"),
          when(acc("stage") === 0, ev("t")).otherwise(acc("anchor")).as("anchor")))
        .otherwise(acc))
    events
      .filter(col(typeCol).isin(steps: _*))
      .select(col(keyCol), struct(col(timeCol).as("t"), col(typeCol).as("ty")).as("ev"))
      .groupBy(col(keyCol))
      .agg(collect_list(col("ev")).as("evs"))
      .select(col(keyCol), folded.as("f"))
      .select(col(keyCol),
        col("f.stage").as("steps_completed"),
        when(col("f.stage") > 0, col("f.anchor")).as("t_start"),
        when(col("f.stage") > 0, col("f.t")).as("t_complete"))
  }

  /** Cohort retention: bucket every key by its FIRST-seen period
    * (cohort), then count distinct keys active per (cohort, period
    * offset) — the standard retention triangle. `periodWidth` is in
    * the time column's own unit; period index is floor division
    * (negative-safe), so epoch times before 0 bucket correctly.
    *
    * Scale shape: first-seen is one map-side-combinable min-agg
    * (keys-sized output); activity re-joins it by key (equi-join —
    * AQE broadcasts the first-seen side when keys are few), then one
    * distinct + count whose state is bounded by keys × active
    * periods. Nothing driver-side, output bounded by cohorts ×
    * offsets. */
  def cohortRetention(events: DataFrame, keyCol: String, timeCol: String,
                      periodWidth: Long): DataFrame = {
    require(periodWidth > 0, "periodWidth must be positive")
    def period(e: String): Column =
      expr(s"(($e) - pmod(($e), ${periodWidth}L)) div ${periodWidth}L")
    val firstSeen = events
      .groupBy(col(keyCol))
      .agg(min(col(timeCol)).as("__t0"))
      .select(col(keyCol), period("__t0").as("cohort"))
    events
      .select(col(keyCol), period(timeCol).as("__p"))
      .join(firstSeen, Seq(keyCol))
      .select(col(keyCol), col("cohort"), (col("__p") - col("cohort")).as("week_offset"))
      .distinct()
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Fixed-width time-bucket resample with gap-fill and
    * last-observation-carried-forward: aggregate `valCol` into
    * `bucketNs`-wide buckets per key, generate the FULL bucket spine
    * from each key's first to last observed bucket, and fill the
    * empty buckets with the most recent observed value — the
    * downsample-then-densify step every time-series feature pipeline
    * runs before windowed models (which assume a gapless regular
    * grid). Emits one row per (key, bucket) on the spine:
    * `value_filled` (decimal-exact bucket sum, carried forward over
    * gaps) and `n_obs` (0 on filled gaps). The first spine bucket is
    * observed by construction, so `value_filled` is never null.
    *
    * Exactness: the per-bucket sum is [[graft.queries.Q.dsumSql]]'s
    * decimal-cast sum (order-independent), and the carry-forward
    * COPIES doubles rather than computing — so the frame hash-gates.
    *
    * Scale shape: one map-side-combinable aggregate shuffling
    * (key, bucket) groups — never raw events; a keys-sized bounds
    * frame; spine densification as a per-key `sequence` explode
    * whose length is capped by `maxBucketsPerKey` via an in-plan
    * `raise_error` guard (no driver-side job, no second scan — the
    * systematicSample fail-fast convention, in-lineage because the
    * bound must hold per key, not in aggregate); and one
    * key-partitioned (never global) running window for the fill.
    * A key whose span exceeds the cap fails fast with the offending
    * key named, instead of materializing an unbounded spine. */
  def resampleLocf(events: DataFrame, keyCol: String, timeCol: String,
                   valCol: String, bucketNs: Long,
                   maxBucketsPerKey: Long = 1L << 20): DataFrame = {
    require(bucketNs > 0, "bucketNs must be positive")
    require(maxBucketsPerKey > 0, "maxBucketsPerKey must be positive")
    val buckets = events
      .select(col(keyCol), expr(s"(`$timeCol`) div ${bucketNs}L").as("bucket"),
        col(valCol))
      .groupBy(col(keyCol), col("bucket"))
      .agg(sum(col(valCol).cast("decimal(28,8)")).cast("double").as("__v"),
        count(lit(1)).as("__n"))
    val bounds = buckets
      .groupBy(col(keyCol))
      .agg(min(col("bucket")).as("__lo"), max(col("bucket")).as("__hi"))
      .withColumn("__hi",
        when(col("__hi") - col("__lo") < maxBucketsPerKey, col("__hi"))
          .otherwise(raise_error(concat(
            lit(s"resampleLocf: key "), col(keyCol).cast("string"),
            lit(s" spans >= $maxBucketsPerKey buckets - raise bucketNs")))
            .cast("long")))
    val spine = bounds.select(col(keyCol),
      explode(sequence(col("__lo"), col("__hi"))).as("bucket"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(buckets, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), col("bucket"),
        last(col("__v"), ignoreNulls = true).over(w).as("value_filled"),
        coalesce(col("__n"), lit(0L)).as("n_obs"))
  }

  /** One-sided CUSUM change-point detection per key — the classic
    * sequential drift monitor ("did this source's quality metric
    * shift up?") made DISTRIBUTED and exact through the prefix-sum
    * identity: the textbook recurrence `S_k = max(0, S_{k-1} + x_k −
    * drift)` is not associative, but it equals `P_k − min_{j≤k} P_j`
    * where `P` is the running prefix sum of `(x − drift)` — two
    * stacked key-partitioned window functions, no sequential state.
    * Values quantize to longs upstream (`drift` in the same units),
    * so the statistic is integer-exact and hash-gates; rows where
    * `cusum > threshold` flag an upward shift.
    *
    * Scale shape: ONE shuffle — both windows share the same
    * key-partitioned (time, tie) order, so Catalyst plans a single
    * exchange + sort with bounded per-key running state (the q54/q61
    * sessionize/rolling shape). */
  def cusum(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
            valueCol: Column, drift: Long, threshold: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(keyCol), col(tsCol), col(tieCol),
        (valueCol.cast("long") - drift).as("__d"))
      .filter(col("__d").isNotNull)
      .withColumn("__p", sum(col("__d")).over(w))
      .withColumn("cusum",
        col("__p") - least(min(col("__p")).over(w), lit(0L)))
      .select(col(keyCol), col(tsCol), col(tieCol), col("cusum"),
        (col("cusum") > threshold).as("alarm"))
  }

  /** EXACT half-life-decayed popularity — the recency-weighted count
    * behind trending detection and crawl re-visit priority, made
    * hash-gateable by doing the decay in POWERS OF TWO at bucket
    * granularity: an event in a bucket `age` buckets before the
    * corpus's newest bucket weighs `2^(maxAge − age)` (so one bucket
    * of aging exactly halves the weight, the half-life = bucketNs
    * contract), buckets older than `maxAge` contribute zero (the
    * cut tail is < 2^-maxAge of a fresh event anyway). Every weight
    * is an integer shift of an exact count — no `exp()`, no float
    * fold — so scores compare bit-for-bit cross-engine; consumers
    * wanting the conventional scale divide by `2^maxAge` once.
    *
    * Scale shape: ONE map-side-combinable (key, bucket) census, a
    * one-row global max-bucket broadcast, and a keys-sized weighted
    * re-aggregate — nothing corpus-sized after the first shuffle.
    * Overflow ledger: counts·2^maxAge·buckets must stay < 2^63 —
    * the default maxAge 32 leaves 2^31 headroom over per-bucket
    * counts, fail-fast guarded. */
  def decayedCounts(events: DataFrame, keyCols: Seq[String], tsCol: String,
                    bucketNs: Long, maxAge: Int = 32): DataFrame = {
    require(bucketNs > 0, "bucketNs must be positive")
    require(maxAge >= 0 && maxAge <= 40, "maxAge must be in [0, 40]")
    val census = events
      .select((keyCols.map(col) :+
        expr(s"(`$tsCol`) div ${bucketNs}L").as("__b")): _*)
      .groupBy((keyCols :+ "__b").map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val top = census.agg(max(col("__b")).as("__top"))
    census.crossJoin(broadcast(top))
      .withColumn("__age", (col("__top") - col("__b")).cast("int"))
      .filter(col("__age") <= maxAge)
      .withColumn("__cg",
        when(col("__c") < (Long.MaxValue >> (maxAge + 8)), col("__c"))
          .otherwise(raise_error(
            lit(s"decayedCounts: a bucket count is too large for maxAge=$maxAge weights"))
            .cast("long")))
      .withColumn("__w",
        expr(s"__cg * shiftleft(cast(1 as bigint), $maxAge - __age)"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__w")).as("decayed_q"), count(lit(1)).as("n_buckets"))
  }

  /** FREQUENT SESSION-PATH mining — "what are the common first-N
    * event journeys": the sequence-discovery step above
    * [[transitionMatrix]]'s one-step Markov view (a funnel you
    * DISCOVER rather than declare, q86/q110 check funnels you
    * already know). Each session's first `pathLen` events (by time,
    * id tiebreak) join into a path string; the path census ranks by
    * (sessions DESC, path).
    *
    * Scale shape: sessionization is the q54 partitioned window; the
    * first-N cut goes through the bounded [[TopK]] typed aggregator
    * — each partition reduces to ≤ pathLen events per session
    * BEFORE the shuffle, so a hot session never builds an unbounded
    * `collect_list` (the posting-list hazard) — and the path
    * assembly collects exactly pathLen structs per group. The final
    * census is map-side combinable with a TakeOrdered(k) cut.
    *
    * Ordering rides TopK's double score: a raise_error guard trips
    * if `timeCol` exceeds 2⁵² (micros fit for ~142 millennia; epoch
    * NANOS would silently lose ordering precision — pass micros). */
  def frequentSessionPaths(events: DataFrame, keyCol: String, timeCol: String,
                           idCol: String, typeCol: String, gap: Long,
                           pathLen: Int = 5, k: Int = 20): DataFrame = {
    require(pathLen >= 1 && pathLen <= 64, "pathLen must be in [1, 64]")
    val guarded = events.withColumn("__t",
      when(abs(col(timeCol)) < (1L << 52), col(timeCol))
        .otherwise(raise_error(
          lit(s"frequentSessionPaths: $timeCol exceeds 2^52 — pass epoch " +
            "MICROS, nanos would lose ordering precision in the TopK score"))
          .cast("long")))
    val sess = sessionize(guarded, keyCol, "__t", gap)
    val scored = sess.select(
      concat(col(keyCol).cast("string"), lit(":"), col("session_idx").cast("string"))
        .as("__sk"),
      col(idCol), (-col("__t").cast("double")).as("__ord"))
    val top = TopK.perGroup(scored, "__sk", idCol, "__ord", pathLen)
    val typed = top.join(
      events.select(col(idCol).as("neighbor_id"), col(typeCol)), "neighbor_id")
    typed
      .groupBy("__sk")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rank"), col(typeCol)))),
          s => s.getField(typeCol)), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(k)
  }

  /** SEASONAL-BASELINE anomaly report over a bucketed count series —
    * seasonality-aware where [[graft.operators.Stats.madOutliers]]
    * is global and [[cusum]] is drift-directional: each bucket's
    * count compares against the mean of ITS OWN season slot (hour
    * of day, day of week — any `period`-cyclic position), so a
    * nightly lull is not an anomaly and a nightly spike is.
    *
    * Exactness: the slot mean is the rational `num/den` kept as two
    * longs; residual and profile publish as ×10⁴ integer divisions,
    * and the anomaly test `|x·den − num| · 10 > num · thresholdE1`
    * multiplies through by `den` so NO division ever rounds a
    * comparison — exact on any input.
    *
    * Scale shape: one bucket census shuffle over the events, one
    * slot-profile aggregation over BUCKETS (thousands of rows), and
    * a broadcast join of the profile back to buckets. Only observed
    * buckets participate (an entirely empty hour contributes no
    * row, and does not drag its slot mean). */
  def seasonalBaseline(events: DataFrame, tsCol: String, bucketNs: Long,
                       period: Int, thresholdE1: Long = 5L): DataFrame = {
    require(bucketNs > 0, "bucketNs must be positive")
    val buckets = bucketCounts(events, tsCol, bucketNs)
    scoreSeasonal(buckets, seasonalProfile(buckets, period), period, thresholdE1)
  }

  /** Bucketed count series `(bucket, n)`: `ts div bucketNs`
    * buckets with their event counts. */
  def bucketCounts(events: DataFrame, tsCol: String, bucketNs: Long): DataFrame = {
    require(bucketNs > 0, "bucketNs must be positive")
    events
      .select(expr(s"(`$tsCol`) div ${bucketNs}L").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
  }

  /** Per-slot rational mean profile `(slot, num, den)` of a bucketed
    * count series — the FIT half of the seasonal split (fit on the
    * standing corpus in batch, score live windows forever). */
  def seasonalProfile(buckets: DataFrame, period: Int): DataFrame = {
    require(period > 0, "period must be positive")
    buckets
      .withColumn("slot", pmod(col("bucket"), lit(period.toLong)))
      .groupBy("slot")
      .agg(sum("n").as("num"), count(lit(1)).as("den"))
  }

  /** The SCORE half: bucket counts against a (possibly
    * independently fit) slot profile — [[seasonalBaseline]]'s report
    * and any other `(bucket, n)` series score through it.
    * Buckets whose slot is absent from the profile drop (nothing to
    * compare against — a fit period mismatch, surfaced by row
    * count, not a silent 0 residual). */
  def scoreSeasonal(buckets: DataFrame, profile: DataFrame, period: Int,
                    thresholdE1: Long = 5L): DataFrame =
    buckets
      .withColumn("slot", pmod(col("bucket"), lit(period.toLong)))
      .join(broadcast(profile), "slot")
      .select(col("bucket"), col("slot"), col("n"),
        expr("CAST(num * 10000 DIV den AS BIGINT)").as("profile_e4"),
        expr("CAST((n * den - num) * 10000 DIV den AS BIGINT)").as("resid_e4"),
        (abs(col("n") * col("den") - col("num")) * lit(10L) >
          col("num") * lit(thresholdE1)).as("anomalous"))

  /** Per-key bucketed fixed-point value series `(keys…, bucket,
    * v_e4)` — the shared census the decomposition/changepoint pair
    * reduces the corpus to in one aggregate. `v_e4` is the exact sum
    * of FLOOR(value·1e4 + 0.5) longs (half-up at the 4th decimal —
    * floor-of-shifted is rounding-rule-free across engines where a
    * decimal cast is not), so every downstream statistic is integer
    * arithmetic and hash-gates bit-for-bit. Census size is bounded
    * by keys × calendar range / bucket width — never the corpus. */
  private def valueCensus(events: DataFrame, keyCols: Seq[String],
                          tsCol: String, valueCol: Column,
                          bucketNs: Long): DataFrame = {
    require(bucketNs > 0, "bucketNs must be positive")
    val gcols = keyCols.map(col)
    events
      .filter(valueCol.isNotNull)
      .select((gcols :+ expr(s"(`$tsCol`) div ${bucketNs}L").as("bucket")
        :+ floor(valueCol * lit(10000d) + lit(0.5d)).cast("long").as("__v")): _*)
      .groupBy((gcols :+ col("bucket")): _*)
      .agg(sum(col("__v")).as("v_e4"))
  }

  /** Classical additive seasonal decomposition over a per-key
    * bucketed series: `value = trend + seasonal(phase) + residual`,
    * entirely in exact fixed-point longs.
    *
    *  - trend: centered moving average over `period` CONSECUTIVE
    *    observed buckets (integer DIV — both engines truncate toward
    *    zero); null at series edges and across gaps (the window must
    *    hold exactly `period` rows spanning exactly `period − 1`
    *    buckets), never silently computed over a hole.
    *  - seasonal: per (key, bucket % period) integer mean of the
    *    detrended values — the classical per-phase average, without
    *    the optional re-centering step (documented variant; the
    *    oracle replays the same definition).
    *  - residual: `v − trend − seasonal`, null wherever trend is.
    *
    * `period` must be ODD (a centered window needs a middle row; the
    * even-period classical form needs half-weight ends, which is a
    * different estimator). Scale shape: one census aggregate, then a
    * per-key window over CENSUS rows (bounded by keys × calendar,
    * never the corpus — the q62/q138 posture) and one broadcast
    * phase-profile re-attach. */
  def seasonalDecompose(events: DataFrame, keyCols: Seq[String],
                        tsCol: String, valueCol: Column, bucketNs: Long,
                        period: Int, maxBins: Int = 1 << 20): DataFrame = {
    require(period >= 3 && period % 2 == 1, "period must be odd and >= 3")
    val half = period / 2
    val gcols = keyCols.map(col)
    // Bounded by CONSTRUCTION (the q62/q138 convention): the census
    // is calendar-bounded for sane bucket widths, but a degenerate
    // bucketNs makes it corpus-sized — fail fast. The local frame the
    // census comes back as serves the trend window + phase profile
    // double-consume.
    val census = Stats.census(
      valueCensus(events, keyCols, tsCol, valueCol, bucketNs),
      maxBins.toLong, "seasonalDecompose (keys, bucket) census")
    val win = Window.partitionBy(gcols: _*).orderBy(col("bucket"))
      .rowsBetween(-half, half)
    val t = census
      .withColumn("__cnt", count(lit(1)).over(win))
      .withColumn("__span", max(col("bucket")).over(win) - min(col("bucket")).over(win))
      .withColumn("__wsum", sum(col("v_e4")).over(win))
      .withColumn("trend_e4",
        when(col("__cnt") === period && col("__span") === (period - 1),
          expr(s"__wsum div ${period}L")))
      .drop("__cnt", "__span", "__wsum")
      .withColumn("phase", pmod(col("bucket"), lit(period.toLong)))
    val profile = t.filter(col("trend_e4").isNotNull)
      .groupBy((gcols :+ col("phase")): _*)
      .agg(sum(col("v_e4") - col("trend_e4")).as("__dsum"),
        count(lit(1)).as("__dcnt"))
      .withColumn("seasonal_e4", expr("__dsum div __dcnt"))
      .select((gcols :+ col("phase") :+ col("seasonal_e4")): _*)
    t.join(broadcast(profile), keyCols :+ "phase", "left")
      .select((gcols :+ col("bucket") :+ col("phase") :+ col("v_e4")
        :+ col("trend_e4")
        :+ col("seasonal_e4")
        :+ (col("v_e4") - col("trend_e4") - col("seasonal_e4")).as("resid_e4")): _*)
  }

  /** Single changepoint per key on the bucketed series, by the CUSUM
    * max-deviation statistic: split after prefix index k maximizing
    * `|n·S_k − k·S_n|` — the maximum deviation of the prefix sum
    * from its linear interpolant, the classical CUSUM/KS-style
    * location estimator ([[cusum]]'s offline argmax twin; q155 is
    * the online alarm). The score is exact DECIMAL(38,0) arithmetic
    * (the HUGEINT convention — a long product would wrap silently in
    * Spark where DuckDB errors), the argmax is one max-of-struct
    * aggregate with the smallest-k tiebreak encoded as `−k`, and the
    * reported segment means are integer DIV. Keys with a single
    * bucket have no interior split and drop.
    *
    * Scale shape: census aggregate → per-key prefix-sum window over
    * CENSUS rows (bounded by calendar) → one aggregate; the corpus
    * is touched once. */
  def changepoint(events: DataFrame, keyCols: Seq[String], tsCol: String,
                  valueCol: Column, bucketNs: Long,
                  maxBins: Int = 1 << 20): DataFrame =
    binarySegmentation(events, keyCols, tsCol, valueCol, bucketNs,
      depth = 1, maxBins = maxBins)
      .withColumn("delta_e4", col("right_mean_e4") - col("left_mean_e4"))
      .drop("seg")

  /** One level of CUSUM max-deviation splitting over a
    * `(keys…, seg, bucket, v_e4)` census — shared by [[changepoint]]
    * (depth 1) and [[binarySegmentation]]. Segments with a single
    * bucket have no interior split and drop. */
  private def splitOnce(census: DataFrame, gcols: Seq[Column]): DataFrame = {
    val segKeys = gcols :+ col("seg")
    val wOrd = Window.partitionBy(segKeys: _*).orderBy(col("bucket"))
    val wAll = Window.partitionBy(segKeys: _*)
    // Internal columns are __-prefixed: a bare name here (an early
    // version used "k") is silently CAPTURED by the wAll window when
    // a caller key column shares the name — the later window specs
    // re-resolve by name against the frame with the replacement
    // column, every (replaced-value, seg) partition collapses to one
    // row, and the k < n filter empties the output.
    census
      .withColumn("__sk", sum(col("v_e4")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__k", row_number().over(wOrd).cast("long"))
      .withColumn("__sn", sum(col("v_e4")).over(wAll))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__k") < col("__n"))
      .withColumn("__score",
        abs(col("__n").cast("decimal(38,0)") * col("__sk") -
          col("__k").cast("decimal(38,0)") * col("__sn")))
      .groupBy(segKeys: _*)
      .agg(max(struct(col("__score"), (-col("__k")).as("negk"), col("bucket"),
        col("__k").as("k"), col("__n").as("n"),
        col("__sk").as("s_k"), col("__sn").as("s_n"))).as("__b"))
      .select((segKeys :+ col("__b.bucket").as("split_bucket")
        :+ col("__b.k").as("n_left")
        :+ (col("__b.n") - col("__b.k")).as("n_right")
        :+ expr("__b.s_k div __b.k").as("left_mean_e4")
        :+ expr("(__b.s_n - __b.s_k) div (__b.n - __b.k)").as("right_mean_e4")): _*)
  }

  /** Iterated binary segmentation: [[changepoint]]'s split applied
    * recursively `depth` levels — split each key's series, then split
    * each resulting segment again, the classical multi-changepoint
    * construction. Output is one row per FOUND split, labeled by its
    * segment path (`T` = the whole series, `TL`/`TR` = left/right of
    * the root split, and so on); segments too small to split (fewer
    * than two buckets) simply produce no row, so the output is the
    * realized split TREE, not a padded grid.
    *
    * Scale shape: the corpus reduces to the bounded per-key bucket
    * census ONCE ([[Stats.census]]'s bounded collect — every level
    * re-reads the local frame, not the corpus lineage); each level is a
    * census-space window + argmax aggregate + a broadcast re-attach
    * of at most keys × 2^level split rows. Depth is capped at 16 —
    * 2^16 segments per key is far past any honest use, and the cap
    * keeps the plan from growing unboundedly. */
  def binarySegmentation(events: DataFrame, keyCols: Seq[String],
                         tsCol: String, valueCol: Column, bucketNs: Long,
                         depth: Int = 2, maxBins: Int = 1 << 20): DataFrame = {
    require(depth >= 1 && depth <= 16, "depth must be in [1, 16]")
    val reserved = Set("seg", "bucket", "v_e4", "split_bucket",
      "n_left", "n_right", "left_mean_e4", "right_mean_e4")
    require(!keyCols.exists(reserved), s"key columns may not use the reserved names $reserved")
    val gcols = keyCols.map(col)
    var census = Stats.census(
      valueCensus(events, keyCols, tsCol, valueCol, bucketNs),
      maxBins.toLong, "binarySegmentation (keys, bucket) census")
      .withColumn("seg", lit("T"))
    var out: DataFrame = null
    for (_ <- 1 to depth) {
      val splits = splitOnce(census, gcols)
      out = if (out == null) splits else out.unionByName(splits)
      census = census
        .join(broadcast(splits.select(
          (gcols :+ col("seg") :+ col("split_bucket")): _*)),
          keyCols :+ "seg")
        .withColumn("seg", concat(col("seg"),
          when(col("bucket") <= col("split_bucket"), lit("L")).otherwise(lit("R"))))
        .drop("split_bucket")
    }
    out
  }
}
