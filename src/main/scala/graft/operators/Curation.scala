package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{GraftFunctions, HashFunctions, TextFunctions}

/** Corpus-curation operators a training-data pipeline runs between
  * "raw corpus" and "training shards": benchmark decontamination,
  * deterministic stratified sampling, and token-budget sequence
  * packing. All three are designed scan-first: decontamination's
  * only shuffle is over the (small) hit set, sampling is a pure
  * filter, and packing shuffles once on its shard key.
  */
object Curation {

  /** Benchmark decontamination: per-document count of distinct word
    * `n`-gram shingles shared with an evaluation set, plus the
    * resulting flag. The standard pre-training hygiene step — drop
    * (or audit) training documents that contain verbatim benchmark
    * n-grams.
    *
    * Scale shape: eval sets are benchmark-sized (thousands of docs),
    * so their distinct shingle hashes are BROADCAST — the corpus side
    * is a scan + generate + broadcast hash semi-join with no
    * corpus-wide shuffle; only the per-doc hit counts (bounded by
    * matched docs, not corpus size) aggregate, and the final flag
    * join fans counts back over the corpus by id. Shingles are
    * compared by their 60-bit md5-hex form ([[GraftFunctions
    * .shingle_hex_tokens]]) — 8-ish-byte keys instead of full n-gram
    * strings in the broadcast and the join. */
  def flagContaminated(docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val shingles: Column =
      explode(array_distinct(
        GraftFunctions.shingle_hex_tokens(TextFunctions.tokens(col(textCol)), n)))
    val evalShingles = evalDocs.select(shingles.as("sh")).distinct()
    val hits = docs.select(col(idCol), shingles.as("sh"))
      .join(broadcast(evalShingles), "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_eval_shingles"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_eval_shingles"), lit(0L)).as("n_eval_shingles"),
        (coalesce(col("n_eval_shingles"), lit(0L)) > 0).as("contaminated"))
  }

  /** VOCABULARY GROWTH curve (Heaps' law diagnostic) — cumulative
    * distinct vocabulary vs corpus position at `checkpoints` evenly
    * spaced cuts of the id order: the corpus-health curve that says
    * whether new data still brings new language (a flattening curve
    * means diminishing coverage returns; a superlinear one means
    * noise/boilerplate influx). Exact, not sketched — and WITHOUT
    * running `checkpoints` distinct-counts: each word's FIRST
    * occurrence position is one census (`min(id)` per word), first
    * occurrences bucket into checkpoint bands, and the cumulative
    * over the band spine IS the distinct count at every cut
    * simultaneously. Token mass accumulates on the same spine.
    *
    * Scale shape: one word census shuffle (map-side combinable
    * min/count) + one doc census, both collapsing into ≤
    * `checkpoints` rows; the spine's running sums are driver work
    * ([[Stats.census]]). ids must be
    * non-negative; cuts are `(maxId+1)·k/checkpoints` so the last
    * band always closes the corpus. */
  def vocabGrowth(docs: DataFrame, idCol: String, tokensCol: Column,
                  checkpoints: Int = 10): DataFrame = {
    require(checkpoints >= 1 && checkpoints <= 1000, "checkpoints in [1, 1000]")
    val spark = docs.sparkSession
    val tok = docs.select(col(idCol).cast("long").as("__id"),
      explode(tokensCol).as("__w"))
    val bounds = docs.agg((max(col(idCol)).cast("long") + 1L).as("__n"))
    def band(idExpr: String): Column =
      least(expr(s"$idExpr * ${checkpoints}L DIV __n"), lit(checkpoints - 1L))
        .cast("long")
    val firstSeen = tok.groupBy("__w").agg(min("__id").as("__first"))
      .crossJoin(broadcast(bounds))
      .groupBy(band("__first").as("band"))
      .agg(count(lit(1)).as("new_words"))
    val tokensPer = tok.groupBy("__id").agg(count(lit(1)).as("__t"))
      .crossJoin(broadcast(bounds))
      .groupBy(band("__id").as("band"))
      .agg(sum("__t").as("n_tokens"), count(lit(1)).as("n_docs"))
    val spine = spark.range(checkpoints).select(col("id").as("band"))
      .join(firstSeen, Seq("band"), "left")
      .join(tokensPer, Seq("band"), "left")
      .select(col("band"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("new_words"), lit(0L)).as("new_words"))
    def cum(out: String, value: String) = Stats.CensusSum.running(out, value, Nil, "band")
    Stats.census(spine, checkpoints, "vocabGrowth band spine",
      cum("cum_docs", "n_docs"), cum("cum_tokens", "n_tokens"), cum("vocab", "new_words"))
  }

  /** Quality SELECTION CURVE — "if I keep only documents scoring at
    * least this bucket, how much data survives": the
    * threshold-choice dashboard behind every quality-filtered
    * pretraining mix (plotting kept-token fraction against the
    * cutoff is how the keep-rate is actually picked). Scores are
    * integer ×10⁴ bucketed into `bins` fixed-width bands, CLAMPED at
    * both ends (a negative score lands in bin 0 and an over-range
    * score in the top bin, so no document ever silently drops from
    * the survival mass; empty interior bands emit zero rows — a gap
    * in the histogram is information);
    * each band reports its own mass and the SURVIVAL mass at that
    * threshold (suffix-cumulative docs/tokens and the exact ×10⁴
    * surviving-token fraction).
    *
    * Scale shape: one corpus census shuffle into ≤ `bins` rows;
    * the BAND spine's suffix sums and total are driver work
    * ([[Stats.census]]) — nothing after the census is
    * corpus-shaped. */
  def selectionCurve(docs: DataFrame, scoreE4: Column, sizeCol: Column,
                     bins: Int = 10, widthE4: Long = 1000L): DataFrame = {
    require(bins >= 1 && bins <= 1000, "bins must be in [1, 1000]")
    require(widthE4 >= 1, "widthE4 must be positive")
    val census = docs
      .select(scoreE4.cast("long").as("__s"), sizeCol.cast("long").as("__n"))
      .withColumn("bin",
        greatest(lit(0L), least(expr(s"__s DIV ${widthE4}L"), lit(bins - 1L))))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("__n").as("n_tokens"))
    val banded = docs.sparkSession.range(bins).select(col("id").as("bin"))
      .join(census, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    def surv(out: String, value: String) =
      Stats.CensusSum.running(out, value, Nil, "bin", descending = true)
    Stats.census(banded, bins, "selectionCurve band spine",
        surv("surv_docs", "n_docs"), surv("surv_tokens", "n_tokens"),
        Stats.CensusSum.total("__tt", "n_tokens", Nil))
      .withColumn("surv_frac_e4",
        expr("CAST(surv_tokens * 10000 DIV GREATEST(__tt, 1) AS BIGINT)"))
      .drop("__tt")
  }

  /** RENDEZVOUS (highest-random-weight) shard assignment — the
    * topology-stable alternative to [[shuffleShard]]'s `hash MOD n`:
    * each row goes to `argmax over shards of h(shard, id)`, so when
    * a shard leaves, ONLY the rows that lived on it move (their
    * runner-up wins; every other row's argmax is untouched) — where
    * MOD n reassigns ~(n−1)/n of the corpus on any resize. The
    * property every incremental ingest / distributed cache placement
    * needs; Thaler & Ravishankar 1998.
    *
    * Pure stateless projection (the shard score array is
    * `shards`-bounded per row, md5-derived, no shuffle at all);
    * argmax tiebreak = smallest shard id via struct max over
    * `(h, −shard)`. */
  def rendezvousShard(docs: DataFrame, shards: Int,
                      idCol: String = "doc_id"): DataFrame = {
    require(shards >= 1, "rendezvousShard needs at least one shard")
    val scored = array((0 until shards).map(s =>
      struct(
        graft.functions.HashFunctions.h60(
          concat(lit(s"hrw:$s:"), col(idCol).cast("string"))).as("h"),
        lit(-s).as("sneg"))): _*)
    docs.select(col(idCol),
      (-array_max(scored).getField("sneg")).cast("long").as("shard"))
  }

  /** PER-USER CONTRIBUTION (sensitivity) census — the clipping-bound
    * question a differential-privacy release asks first: "how many
    * rows can one user move an aggregate by". Per partition key:
    * user count, the MAX per-user contribution (the worst-case
    * sensitivity Δf of a count release), and the exact p95
    * contribution — the clip bound that caps outlier users while
    * keeping 95% of users uncensored (contribution bounding, the
    * standard pre-DP step). All exact longs; p95 position is
    * `ceil(0.95·n) = (19n+19) DIV 20`.
    *
    * Scale shape: one (key, user) census shuffle, collapsed to a
    * (key, contribution) HISTOGRAM before any window — the
    * cumulative runs over distinct contribution VALUES per key
    * (bounded by max contribution, not by user count), never a
    * per-user global window. */
  def contributionCensus(events: DataFrame, keyCol: String,
                         userCol: String): DataFrame = {
    val uc = events.groupBy(col(keyCol), col(userCol))
      .agg(count(lit(1)).as("__c"))
    val hist = uc.groupBy(col(keyCol), col("__c"))
      .agg(count(lit(1)).as("__nu"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__c").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist.withColumn("__cum", sum("__nu").over(w))
    val tot = hist.groupBy(col(keyCol))
      .agg(sum("__nu").as("n_users"), max("__c").as("max_contrib"))
    // p95 = smallest contribution whose cumulative user count reaches
    // 95%: for integer cum, `cum >= ceil(19n/20)` ⟺ `20·cum >= 19·n`.
    val p95 = cum.join(tot, keyCol)
      .filter(col("__cum") * 20L >= col("n_users") * 19L)
      .groupBy(col(keyCol)).agg(min("__c").as("p95_contrib"))
    tot.join(p95, keyCol)
      .select(col(keyCol), col("n_users"), col("max_contrib"), col("p95_contrib"))
  }

  /** K-ANONYMITY / l-DIVERSITY census — the privacy gate a dataset
    * release runs over its quasi-identifier columns: every
    * equivalence class (unique QI combination) reports its size
    * (k-anonymity: re-identification hides among n records, so
    * n < k means the class must be suppressed or generalized before
    * release) and its count of distinct sensitive values
    * (l-diversity: a k-anonymous class whose members all share one
    * sensitive value still leaks it — the homogeneity attack).
    * `risk_e4` = 10⁴/n exact integer division, the worst-case
    * re-identification probability of the class.
    *
    * Scale shape: ONE groupBy shuffle on the QI key with exact
    * count-distinct inside each class (classes are the grouping
    * unit, so the distinct is per-group bounded, never global). */
  def kAnonymityReport(df: DataFrame, qiCols: Seq[String],
                       sensitiveCol: Column, k: Long, l: Long): DataFrame =
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitiveCol).as("n_sensitive"))
      .select(qiCols.map(col) ++ Seq(col("n"), col("n_sensitive"),
        (col("n") >= k).as("k_anonymous"),
        (col("n_sensitive") >= l).as("l_diverse"),
        expr("CAST(10000 DIV n AS BIGINT)").as("risk_e4")): _*)

  /** Temperature-based mixture APPORTIONMENT — the "sample source i
    * proportional to size^α" recipe every LLM data mix uses (α < 1
    * upweights small/rare sources; GPT-3 / multilingual-corpus
    * style), made EXACTLY reproducible: weights are
    * `FLOOR(sqrt(size)·10⁶)` longs (α fixed at 0.5 because IEEE-754
    * `sqrt` is correctly rounded in both engines where a generic
    * `pow` is not), and the integer budget is apportioned by
    * largest-remainder (Hare): `base = B·w DIV ΣW`, the `B - Σbase`
    * leftover going to the largest `B·w MOD ΣW` (source-name
    * tiebreak). Every step is exact long arithmetic — allocations
    * sum to B by construction on any input.
    *
    * Scale shape: one map-side-combined census shuffle over the
    * corpus; everything after runs on the strata table (sources /
    * domains — thousands at most), where the one-row totals frame is
    * broadcast and the remainder rank is a [[GlobalRank]] over strata,
    * never corpus rows and never one task. */
  def temperatureAllocate(docs: DataFrame, groupCol: String, sizeCol: Column,
                          budget: Long): DataFrame = {
    val census = docs.groupBy(groupCol)
      .agg(sum(sizeCol).cast("long").as("n_tokens"))
      .withColumn("w_fp", floor(sqrt(col("n_tokens").cast("double")) * lit(1e6d)).cast("long"))
    val totals = census.agg(sum("w_fp").as("__tw")).withColumn("__budget", lit(budget))
    val based = census.crossJoin(broadcast(totals))
      .select(col(groupCol), col("n_tokens"), col("w_fp"),
        (col("__budget") * col("w_fp")).as("__num"), col("__tw"), col("__budget"))
      .withColumn("base", expr("__num DIV __tw"))
      .withColumn("rem", expr("__num % __tw"))
    val leftover = based.agg((first("__budget") - sum("base")).as("__left"))
    GlobalRank(based, Seq(col("rem").desc, col(groupCol).asc), "__rk")._1
      .crossJoin(broadcast(leftover))
      .select(col(groupCol), col("n_tokens"), col("w_fp"),
        (col("base") + when(col("__rk") <= col("__left"), 1L).otherwise(0L))
          .as("alloc"))
  }

  /** Per-eval-document MEMORIZATION-RISK report — the reverse
    * direction of [[flagContaminated]]: instead of dropping train
    * docs that leak eval content, it grades each EVAL doc by how
    * much of it the training corpus already contains (the fraction
    * of its distinct word n-grams present anywhere in train) — the
    * overlap statistic an eval-integrity audit publishes before
    * trusting a benchmark score.
    *
    * Scale shape: eval shingles are benchmark-sized and broadcast;
    * the training corpus is scanned ONCE and semi-joined against
    * them (only eval-matching shingles survive the probe, so the
    * distinct that follows is O(eval), not O(train)); the per-doc
    * membership join is then broadcast-small on both sides. No
    * train-side shuffle anywhere. `overlap_e4` is exact integer
    * division ×10⁴; tiers: high ≥ 0.5, medium ≥ 0.1. */
  def memorizationRisk(trainDocs: DataFrame, evalDocs: DataFrame, n: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val shingles: Column =
      explode(array_distinct(
        GraftFunctions.shingle_hex_tokens(TextFunctions.tokens(col(textCol)), n)))
    val evalSh = evalDocs.select(col(idCol), shingles.as("sh"))
    val evalShAll = evalSh.select("sh").distinct()
    val present = trainDocs.select(shingles.as("sh"))
      .join(broadcast(evalShAll), Seq("sh"), "leftsemi")
      .distinct()
      .withColumn("hit", lit(1L))
    evalSh
      .join(broadcast(present), Seq("sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .withColumn("overlap_e4",
        expr("CAST(n_overlap * 10000 DIV n_shingles AS BIGINT)"))
      .withColumn("risk",
        when(col("overlap_e4") >= 5000L, lit("high"))
          .when(col("overlap_e4") >= 1000L, lit("medium"))
          .otherwise(lit("low")))
  }

  /** Fit half of the stream-deployable decontamination split:
    * collect the eval set's distinct shingle hexes into a bounded
    * [[graft.functions.ShingleSetModel]] (eval sets are
    * benchmark-sized — thousands of docs — so the table is O(eval
    * shingles), the same boundedness [[flagContaminated]]'s
    * broadcast relies on). */
  def collectEvalShingles(evalDocs: DataFrame, n: Int = 3,
                          textCol: String = "text"): graft.functions.ShingleSetModel =
    graft.functions.ShingleSetModel(n, evalDocs
      .select(explode(array_distinct(
        GraftFunctions.shingle_hex_tokens(TextFunctions.tokens(col(textCol)), n))).as("sh"))
      .distinct().collect().map(_.getString(0)))

  /** Score half: per-doc distinct eval-shingle hits + flag, as a
    * PURE stateless codegen projection (shingle hashing fused with
    * the membership probe — no explode, no join, no shuffle), so it
    * runs identically on batch frames and unbounded streams. Same
    * output contract as [[flagContaminated]]; parity is spec-pinned. */
  def contaminationScoredWithModel(docs: DataFrame,
                                   model: graft.functions.ShingleSetModel,
                                   idCol: String = "doc_id",
                                   textCol: String = "text"): DataFrame = {
    val hits = GraftFunctions.eval_shingle_hits(
      TextFunctions.tokens(col(textCol)), model)
    docs.select(col(idCol), hits.as("n_eval_shingles"),
      (hits > 0).as("contaminated"))
  }

  /** Politeness-scheduled crawl frontier — the batch planner for the
    * reference pipeline's rate-limited fetcher (per-host concurrency
    * semaphores): given a frontier of requests with a host key and a
    * deterministic FIFO discovery order, assign every request to a
    * dispatch wave such that
    *  - no host appears more than `maxPerHost` times in one
    *    politeness ROUND (`round = (host_seq − 1) div maxPerHost`),
    *  - each round dispatches in global BATCHES of at most
    *    `waveCapacity` requests (the fetcher fleet's total
    *    concurrency), FIFO by (host, host_seq) within the round.
    *
    * Output per request: `host_seq` (1-based position in its host's
    * queue), `round`, `batch` (0-based within the round), i.e. the
    * (round, batch) pair is the dispatch wave. Pure window
    * arithmetic — integer-exact, replayable on any engine.
    *
    * Scale shape: two partitioned windows (by host, then by round) —
    * both shuffle the frontier once on bounded keys; no global
    * window (the within-round order is partitioned by round, whose
    * size is ≤ hosts × maxPerHost). A global greedy scheduler is
    * inherently sequential; this two-level relaxation is the
    * distributed-planning standard and keeps every wave feasible by
    * construction. */
  def crawlSchedule(frontier: DataFrame, hostCol: String, orderCol: String,
                    maxPerHost: Int, waveCapacity: Int): DataFrame = {
    require(maxPerHost >= 1 && waveCapacity >= 1,
      "maxPerHost and waveCapacity must be >= 1")
    val byHost = Window.partitionBy(col(hostCol)).orderBy(col(orderCol))
    val byRound = Window.partitionBy(col("round"))
      .orderBy(col(hostCol), col("host_seq"))
    frontier
      .withColumn("host_seq", row_number().over(byHost).cast("long"))
      .withColumn("round", expr(s"(host_seq - 1) div $maxPerHost"))
      .withColumn("__rn", row_number().over(byRound).cast("long"))
      .withColumn("batch", expr(s"(__rn - 1) div $waveCapacity"))
      .drop("__rn")
  }

  /** Deterministic stratified sampling: keep a row iff
    * `h60(salt:id) mod 1e6 < fraction(stratum) * 1e6`. A pure
    * codegen'd filter — no shuffle, no RNG, no sampling state — so
    * it scales as a scan, re-runs reproducibly (same salt -> same
    * sample), and composes with pushdown. Strata missing from
    * `fractions` are dropped (fraction 0). This is the
    * language/quality-rebalancing step of a corpus pipeline, shaped
    * so the oracle can replay the exact selection. */
  def sampleStratified(docs: DataFrame, strataCol: Column,
                       fractions: Map[String, Double],
                       idCol: String = "doc_id", salt: String = "strat"): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      "sampling fractions must be in [0, 1]")
    val thresholds = map(fractions.toSeq.flatMap { case (k, f) =>
      Seq(lit(k), lit(math.floor(f * 1000000.0).toLong))
    }: _*)
    val bucket = pmod(
      HashFunctions.h60(concat(lit(s"$salt:"), col(idCol).cast("string"))),
      lit(1000000L))
    docs.filter(bucket < coalesce(element_at(thresholds, strataCol), lit(0L)))
  }

  /** Token-budget sequence packing: greedy next-fit of documents
    * into training sequences of at most `maxTokens` tokens,
    * sharded for parallelism. Returns one row per document:
    * `(id, shard, seq_id, n_tokens)` where `seq_id` numbers the
    * packed sequences within a shard (a document longer than the
    * budget gets a sequence of its own).
    *
    * Distribution: shard = `id mod shards` (deterministic and
    * oracle-replayable; ids are assumed roughly uniform — a skewed
    * id space would use a hash here), one repartition on the shard
    * key, per-shard order by id, then a single sequential
    * mapPartitions pass — the same one-shuffle stateful-scan shape
    * as [[SentenceGrouping]]. Packing is inherently sequential
    * WITHIN a shard; sharding is what makes it parallel, and the
    * shard count is the parallelism knob. */
  def packSequences(docs: DataFrame, maxTokens: Long, shards: Int = 32,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(shards > 0, "shards must be positive")
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("shard", LongType, nullable = false),
      StructField("seq_id", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false)))
    val sized = docs.select(
        col(idCol).cast("long").as(idCol),
        pmod(col(idCol).cast("long"), lit(shards.toLong)).as("shard"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .repartition(math.min(shards, 200), col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    sized.mapPartitions { rows =>
      // A partition holds one or more complete shards (hash(shard)
      // mod partitions can collide); counters reset on shard change.
      var shard = Long.MinValue
      var seq = 0L
      var cum = 0L
      var first = true
      rows.map { r =>
        val (id, sh, w) = (r.getLong(0), r.getLong(1), r.getLong(2))
        if (first || sh != shard) { shard = sh; seq = 0L; cum = w; first = false }
        else if (cum + w > maxTokens) { seq += 1L; cum = w }
        else cum += w
        Row(id, sh, seq, w)
      }
    }(enc)
  }

  /** PII patterns shared by [[redactPii]] and its oracle: emails,
    * NANP-style phone numbers, and dotted-quad IPs. Deliberately
    * lookaround-free and backreference-free so Java regex (Spark)
    * and RE2 (DuckDB, Go tooling) match byte-for-byte — the same
    * dialect-intersection rule the sentence splitter follows. Order
    * matters: emails first, so a username that embeds digits is not
    * half-eaten by the phone pass. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[a-zA-Z]", "<EMAIL>"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"))

  /** PII redaction — the scrub step between crawl and training
    * shards. Pure projection (chained codegen'd regexp_replace, no
    * shuffle); returns the redacted text plus a per-category match
    * count so the pipeline can audit redaction rates per source.
    * Each category is counted on the text AS THE PASS SEES IT —
    * after the earlier categories' replacements — so the counts are
    * exactly the replacements performed: a span matching two
    * patterns (an email whose host parses as an IP) is counted once,
    * by the category that actually scrubbed it, never twice. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val (out, counts) = PiiPatterns.foldLeft((col(textCol), List.empty[Column])) {
      case ((c, acc), (name, re, token)) =>
        val n = size(regexp_extract_all(c, lit(re), lit(0)))
          .cast("long").as(s"n_$name")
        (regexp_replace(c, re, token), n :: acc)
    }
    docs.withColumns(
      PiiPatterns.map { case (n, _, _) => s"n_$n" }.zip(counts.reverse).toMap)
      .withColumn(textCol, out)
  }

  /** Per-document repetition statistics — the Gopher/C4 repetition
    * quality gate: the fraction of duplicate lines and the share of
    * the most frequent word bigram. Both are computed INSIDE the
    * row as codegen'd array expressions (sort + linear fold for the
    * max run), so the whole gate is a scan projection: no explode,
    * no per-document shuffle, nothing that grows with corpus size.
    * Ratios come back as exact (numerator, denominator) longs so
    * callers — and the cross-engine oracle — choose their own
    * quantization. Lines are `lineSep`-separated (one character);
    * bigrams come from the house space-split tokens of the RUNNING
    * text — line breaks fold back to spaces first, so a bigram may
    * straddle a line boundary, exactly as the pre-line-split text
    * read. */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      lineSep: String = "\n"): DataFrame = {
    require(lineSep.length == 1, "lineSep must be a single character")
    repetitionStatsFromParts(docs, idCol,
      split(col(textCol), java.util.regex.Pattern.quote(lineSep)),
      split(translate(col(textCol), lineSep, " "), " "))
  }

  /** Array-native core of [[repetitionStats]], for callers that
    * already hold (or can build more cheaply than a regex pass) the
    * line and token arrays — q59 constructs its two-word lines
    * directly from the token array, skipping a match-dense
    * regexp_replace over every document. */
  def repetitionStatsFromParts(docs: DataFrame, idCol: String,
                               lines: Column, toks: Column): DataFrame = {
    // The bigram census runs in the codegen'd TopShingleRun kernel:
    // one md5 per bigram (the 60-bit class the SQL oracle replays),
    // a primitive long sort, one run scan. The first cut — a
    // sorted-array HOF fold with a struct accumulator — was the
    // scan's hot loop (interpreted per-element expression eval +
    // struct churn); the kernel is ~4x cheaper and keeps the
    // operator a pure projection.
    docs.select(
      col(idCol),
      size(lines).cast("long").as("n_lines"),
      (size(lines) - size(array_distinct(lines))).cast("long").as("n_dup_lines"),
      greatest(size(toks) - 1, lit(0)).cast("long").as("n_bigrams"),
      GraftFunctions.top_shingle_run(toks, 2).as("top_bigram_count"))
  }

  /** Deterministic bottom-k (KMV) sample per stratum: the k rows
    * with the SMALLEST salted md5 hash of their id — a uniform
    * FIXED-SIZE sample without RNG, complementing
    * [[sampleStratified]]'s fixed-RATE filter. Same-salt re-runs
    * reproduce the sample exactly, and growing the corpus only
    * displaces rows whose hash exceeds the new k-th minimum (the
    * k-minimum-values property; the k-th hash also estimates the
    * stratum's distinct-id count, KMV's classic second life).
    *
    * Scale shape: ranking rides the bounded [[TopK]] typed
    * Aggregator — each partition reduces to ≤k candidates per
    * stratum BEFORE the exchange, so the shuffle moves
    * O(strata × k) rows, never the corpus (the window-rank plan
    * re-shuffles every row). The hash is the first 48 bits of the
    * md5 — 48 and not 60 because the candidate channel carries sims
    * as doubles, and 48-bit integers round-trip a double exactly
    * (2^48 < 2^53) while 60-bit ones do not; ties (a 48-bit
    * collision) break on id ascending, deterministically, on both
    * engines. */
  def bottomKSample(docs: DataFrame, strataCol: String, k: Int,
                    idCol: String = "doc_id", salt: String = "boka"): DataFrame = {
    require(k > 0, "k must be positive")
    val hk = conv(substring(
        md5(concat(lit(s"$salt:"), col(idCol).cast("string"))), 1, 12), 16, 10)
      .cast("long")
    TopK.perGroup(
        docs.select(col(strataCol), col(idCol),
          (-hk.cast("double")).as("__nh")),
        strataCol, idCol, "__nh", k)
      .select(col(strataCol), col("neighbor_id").as(idCol),
        col("rank").cast("long").as("rank"),
        (-col("sim_raw")).cast("long").as("sample_hash"))
  }

  /** LEAKAGE-SAFE train/val/test split: assign every document to a
    * split by hashing its duplicate-GROUP representative, not the
    * document itself — two copies of the same content can then never
    * land in different splits, which is the eval-contamination
    * failure mode a per-doc hash split silently commits (a val
    * document whose duplicate sits in train is a leaked answer).
    * Groups here are exact-duplicate classes (the
    * [[Dedup.exactByFingerprint]] canonical fingerprint); a stricter
    * pipeline passes near-dup component ids from
    * [[Dedup.connectedComponents]] through the same rep-hash rule.
    * Buckets 0–7/8/9 of the 10-way salted hash give the standard
    * 80/10/10; same salt → same split forever (the no-RNG
    * convention), so later corpus top-ups never reshuffle history.
    *
    * Scale shape: one fingerprint aggregate (map-side combined) +
    * one equi-join of the group-rep table back onto the corpus on
    * the fingerprint — the same single-shuffle shape as the dedup it
    * rides. */
  def leakageSafeSplit(docs: DataFrame, salt: String = "split",
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = TextFunctions.canonicalFingerprint(col(textCol))
    val reps = docs.select(fp.as("__fp"), col(idCol))
      .groupBy(col("__fp")).agg(min(col(idCol)).as("group_rep"))
    val bucket = pmod(
      HashFunctions.h60(concat(lit(s"$salt:"), col("group_rep").cast("string"))),
      lit(10L))
    docs.select(col(idCol), fp.as("__fp"))
      .join(reps, "__fp")
      .select(col(idCol), col("group_rep"),
        when(bucket <= 7, lit("train"))
          .when(bucket === 8, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  /** Token-weighted SYSTEMATIC sampling: walk the corpus in doc-id
    * order and pick every document that covers a `step`-th token
    * boundary — the classic systematic (every-k-th-unit) sample, by
    * TOKEN mass rather than row count, so long documents are
    * proportionally more likely to be picked and the sample's token
    * total tracks `corpus_tokens / step` exactly. Deterministic, no
    * RNG (the [[bottomKSample]]/[[sampleStratified]] convention);
    * complements them with the only sampling design here whose
    * inclusion probability is proportional to size.
    *
    * The primitive underneath is an EXACT GLOBAL PREFIX SUM in id
    * order, from [[GlobalRank]]: partition-parallel at every stage,
    * where the naive plan — one global `Window.orderBy(id)` — funnels
    * the corpus through a single partition. Selection is then pure
    * integer arithmetic on nonnegative longs (`div` agrees with the
    * oracle's floor division there): a doc is picked iff
    * `cum div step > (cum - w) div step`. */
  def systematicSampleByTokens(docs: DataFrame, step: Long,
                               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(step > 0, "step must be positive")
    val sized = docs.select(col(idCol).cast("long").as(idCol),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
    // The walk order — and the oracle's RANGE-frame cumulative sum —
    // is only well-defined when ids are unique; a duplicated id would
    // make which copy crosses a boundary run-dependent. The check
    // rides the rank's bucket census.
    val (ranked, _) = GlobalRank(sized, Seq(col(idCol)), "__rank",
      runningSum = Some("n_tokens" -> "cum_tokens"),
      uniqueLead = Some(
        s"duplicate values in id column `$idCol` — systematic sampling needs a unique walk order"))
    ranked
      .filter(expr(s"(cum_tokens div $step) > ((cum_tokens - n_tokens) div $step)"))
      .select(col(idCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Token-budget domain mixing — the data-mixing step of a corpus
    * build: derive a per-domain keep-rate from the domain's OWN token
    * mass (`rate = min(1, budget / domain_tokens)`), then apply it as
    * the same deterministic md5-bucket filter [[sampleStratified]]
    * uses. Over-represented domains are downsampled toward the
    * budget; domains already under it pass whole. Unlike
    * [[sampleStratified]], the rates are DERIVED, not configured —
    * this is "cap every domain at N tokens", the standard rebalance
    * before mixing heterogeneous crawls.
    *
    * Two passes over the corpus by construction (a rate that depends
    * on a global aggregate cannot be known mid-scan): pass 1
    * aggregates per-domain token sums — map-side combine collapses
    * each partition to one row per domain, so the shuffle moves
    * O(domains) rows; pass 2 re-scans, joins the domain→threshold
    * table (broadcast — domain cardinality is small by definition)
    * and filters. No corpus-wide shuffle in either pass.
    *
    * Float portability: the only non-integer step is
    * `least(1.0, budget/tokens) * 1e6` — IEEE division and
    * multiplication are correctly rounded, hence bit-identical across
    * engines when the expression shape matches (the established
    * oracle rule); `floor` then lands on an exact integer threshold.
    * Rows whose domain is null are dropped (no budget row to join).
    */
  def mixByTokenBudget(docs: DataFrame, domainCol: String, tokenBudget: Long,
                       idCol: String = "doc_id", textCol: String = "text",
                       salt: String = "mix"): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    val sized = docs.select(col(idCol), col(domainCol),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
    val thresholds = sized.groupBy(col(domainCol))
      .agg(sum(col("n_tokens")).as("domain_tokens"))
      .select(col(domainCol),
        floor(least(lit(1.0d),
            lit(tokenBudget.toDouble) / col("domain_tokens").cast("double"))
          * lit(1000000.0d)).cast("long").as("mix_threshold"))
    val bucket = pmod(
      HashFunctions.h60(concat(lit(s"$salt:"), col(idCol).cast("string"))),
      lit(1000000L))
    sized.join(broadcast(thresholds), Seq(domainCol))
      .filter(bucket < col("mix_threshold"))
      .select(col(idCol), col(domainCol), col("n_tokens"), col("mix_threshold"))
  }

  /** Deterministic corpus shuffle-shard: assign every document a
    * pseudo-random shard and an in-shard position from a salted md5
    * hash — the "global shuffle before writing training shards" step
    * that decorrelates document order (crawl order is heavily
    * clustered by site/time, and adjacent training sequences should
    * not be). No RNG: same salt → same permutation, so a re-run
    * (or an incremental top-up) reproduces shard layouts exactly.
    *
    * One shuffle total: the window partitions by shard — exactly the
    * exchange a shard writer needs anyway — and the in-shard
    * `(hash, id)` sort is the per-partition external sort Spark
    * already performs for a sorted write. `shards` is the
    * parallelism/file-count knob: size it so a shard fits an
    * executor's spill budget at the target corpus (the hash is
    * uniform, so shards balance to corpus/shards rows ± noise; no
    * skew handling needed by construction). */
  def shuffleShard(docs: DataFrame, shards: Int, idCol: String = "doc_id",
                   salt: String = "shuf"): DataFrame = {
    require(shards > 0, "shards must be positive")
    val h = HashFunctions.h60(concat(lit(s"$salt:"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("shuffle_hash"), col(idCol))
    docs.select(col(idCol), h.as("shuffle_hash"))
      .withColumn("shard", pmod(col("shuffle_hash"), lit(shards.toLong)))
      .select(col(idCol), col("shard"),
        (row_number().over(w) - 1).cast("long").as("pos"),
        col("shuffle_hash"))
  }

  /** Fixed-size token-window chunking with stride — the map-only
    * prep step between curation and embedding in a retrieval
    * pipeline (every chunk of `chunkSize` tokens starts `stride`
    * tokens after the previous one; `chunkSize - stride` tokens of
    * overlap preserve cross-boundary context). Emits one row per
    * `(doc, window)` with the chunk ordinal, token offset, length,
    * and re-joined text.
    *
    * Pure codegen projection + generator: `sequence` builds the
    * start offsets, `posexplode` emits them, `slice`/`array_join`
    * cut the window — no shuffle anywhere, chunks inherit the scan's
    * partitioning (at 100 TB this runs at parquet-scan speed, and
    * the chunk stream feeds straight into the embedding stage).
    * The last window may be shorter than `chunkSize`; a window
    * starting past the end is never emitted (starts stop at n-1).
    * `stride > chunkSize` is allowed and means SAMPLED chunking:
    * the `stride - chunkSize` tokens after each window are skipped
    * by design (cheap sparse coverage), not covered — callers who
    * need every token in some chunk must keep stride <= chunkSize.
    * Tokenization is the engine-wide single-space split
    * ([[graft.functions.TextFunctions.tokens]], = DuckDB
    * `string_split`), under which an empty text is one empty token —
    * one empty chunk, same on both engines. */
  def chunkTokens(docs: DataFrame, chunkSize: Int, stride: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkSize >= 1, "chunkSize must be >= 1")
    require(stride >= 1, "stride must be >= 1")
    val toks = TextFunctions.tokens(col(textCol))
    docs
      .select(col(idCol), toks.as("toks"), size(toks).as("n"))
      .select(col(idCol), col("toks"),
        posexplode(sequence(lit(0), col("n") - 1, lit(stride))))
      .select(
        col(idCol),
        col("pos").cast("int").as("chunk_id"),
        col("col").cast("int").as("tok_start"),
        size(slice(col("toks"), col("col") + 1, lit(chunkSize))).as("n_toks"),
        array_join(slice(col("toks"), col("col") + 1, lit(chunkSize)), " ").as("chunk_text"))
  }

  /** CONTENT-DEFINED chunking (FastCDC/rsync family at token
    * granularity) — the complement of [[chunkTokens]]' fixed
    * windows: a cut lands after every k-gram that hashes to
    * `0 mod divisor`, so boundaries depend only on local content and
    * an edit early in a document shifts one boundary instead of
    * re-aligning every window. That stability is exactly what makes
    * chunk-level dedup STORAGE work: unchanged regions of two
    * document versions produce identical `(chunk_text, chunk_hash)`
    * rows, and a groupBy on `chunk_hash` collapses them corpus-wide.
    * Expected chunk length ≈ `divisor` tokens (+ k). One Generator
    * kernel pass per row ([[graft.functions.CdcChunks]]), no
    * shuffle; the 15-hex md5 spelling matches the shingle family so
    * the oracle replays cuts and hashes in SQL. */
  def cdcChunks(docs: DataFrame, k: Int = 3, divisor: Int = 64,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      GraftFunctions.cdc_chunks(TextFunctions.tokens(col(textCol)), k, divisor))

  /** Sequential Poisson sampling (Ohlsson): a size-k sample whose
    * inclusion probability is approximately PROPORTIONAL to each
    * row's weight — rank every row by `priority = u / w` (u a
    * per-row uniform, w the weight) and keep the k smallest. The
    * probability-proportional-to-size design the sampling tier was
    * missing: [[sampleStratified]]/[[bottomKSample]] are uniform
    * within strata and [[systematicSampleByTokens]] is exhaustive
    * every-k-th-token — this one answers "give me 1000 docs, long
    * docs proportionally more likely", the standard
    * inspection/eval-set draw over a weight-skewed corpus.
    *
    * Determinism and exactness: u is the 48-bit salted md5 prefix —
    * 48 and not 60 because a 48-bit integer round-trips a double
    * exactly (the [[bottomKSample]] rationale) — and the priority is
    * ONE correctly-rounded division of two exactly-converted longs,
    * so priorities are bit-identical cross-engine; ties break on id.
    * No RNG (same salt → same sample under re-runs and top-ups,
    * rows-that-stay keep their priority — Ohlsson's coordination
    * property, which makes repeated monitoring draws comparable).
    *
    * Scale shape: zero-weight rows are filtered in-scan, then ONE
    * `TakeOrdered(k)` — each partition reduces to ≤k candidates
    * before a single bounded exchange; no global sort, no window,
    * nothing corpus-sized leaves the scan stage (plan-pinned). */
  def sequentialPoissonSample(docs: DataFrame, k: Int, weightCol: String,
                              idCol: String = "doc_id",
                              salt: String = "spps"): DataFrame = {
    require(k > 0, "k must be positive")
    val u = conv(substring(
        md5(concat(lit(s"$salt:"), col(idCol).cast("string"))), 1, 12), 16, 10)
      .cast("long")
    docs.select(col(idCol), col(weightCol).cast("long").as("weight"),
        u.as("__u"))
      .filter(col("weight") > 0L)
      .select(col(idCol), col("weight"),
        (col("__u").cast("double") / col("weight").cast("double")).as("priority"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** GLOBAL paragraph-level dedup with document reconstruction — the
    * sub-document dedup granularity production pipelines (Dolma,
    * RefinedWeb) run between exact-doc and near-dup passes: a
    * boilerplate paragraph (nav bar, license header, cookie banner)
    * repeated across millions of documents survives doc-level
    * fingerprinting (every HOST document is unique) yet dominates
    * the trained model's samples. Every distinct paragraph keeps its
    * FIRST occurrence in `(doc, position)` order; later copies —
    * including repeats inside one document — drop, and each document
    * is re-assembled from its surviving paragraphs in original
    * order. Emits `(id, n_paras, n_kept, text)` with `text` null
    * when nothing survived (the "drop empty docs" filter is then a
    * trivial predicate downstream).
    *
    * The caller supplies the paragraph split as an array column
    * (`split(text, '\n\n')` in production; fixed token windows on
    * corpora without layout) — the dedup semantics are independent
    * of what a "paragraph" is.
    *
    * Scale shape: one explode scan → a map-side-combinable
    * `min(first-occurrence key)` census per distinct paragraph —
    * and NOTHING joins back onto the exploded corpus: the winner's
    * `(doc, idx)` UNPACKS from the packed key itself, so the kept
    * set, the per-document ordered re-concat (the q38 sorted-struct
    * aggregate) and the kept counts all derive from the census
    * output (one row per distinct paragraph), while `n_paras` is a
    * string-free `size(paragraphs)` projection. The r12 formulation
    * re-joined every exploded instance to its census row for the
    * keep flag — a second para-keyed shuffle of the whole instance
    * set that carried the strings both ways (21× the oracle's
    * constant at sf0.1). Nothing is ever quadratic: a paragraph
    * repeated n× contributes n census inputs but ONE census row.
    * The first-occurrence key packs `(id, idx)` into one long
    * (`id · maxParasPerDoc + idx`) so the census min is a
    * primitive-long aggregate, not a struct compare; an in-plan
    * `raise_error` fails fast if a document exceeds
    * `maxParasPerDoc` paragraphs or has a negative id (the packing
    * needs `id ≥ 0` for order and unpack correctness) instead of
    * silently mis-ordering. */
  def paragraphDedup(docs: DataFrame, paragraphs: Column,
                     idCol: String = "doc_id", sep: String = " ",
                     maxParasPerDoc: Long = 100000L): DataFrame = {
    require(maxParasPerDoc >= 1, "maxParasPerDoc must be positive")
    // Doc ids are assumed DISTINCT (one row per document — the
    // operator's contract): a duplicated id would join its census row
    // onto the same kept group once per occurrence. Null ARRAY
    // ELEMENTS are not paragraphs: they neither win a census group
    // nor count toward n_paras (the join-on-para formulation this
    // key-unpack replaced dropped them implicitly; the explicit
    // filter keeps that semantics).
    // Materialize the exploded windows ONCE (r19, guide §2.4): the
    // winner census and the per-doc instance census both need them,
    // and `paragraphs` is typically an expensive derivation
    // (tokenize + window-assemble per doc) that two independent
    // subtrees would each pay in full — measured as ~half of q148's
    // wall. The frame is (id, idx, para) — the same rows the winner
    // shuffle carries anyway.
    val p = docs.select(col(idCol), posexplode(paragraphs).as(Seq("idx", "para")))
      .filter(col("para").isNotNull)
      .localCheckpoint(true)
    val keyed = p.withColumn("__k",
      when(col("idx") >= maxParasPerDoc || col(idCol).cast("long") < 0L,
        raise_error(lit(s"paragraphDedup: a document exceeds $maxParasPerDoc paragraphs or has a negative id"))
          .cast("long"))
        .otherwise(col(idCol).cast("long") * maxParasPerDoc + col("idx")))
    // One row per DISTINCT paragraph; (doc, idx) of the first
    // occurrence unpack from the key.
    val winners = keyed.groupBy(col("para")).agg(min(col("__k")).as("__w"))
      .select(col("para"), expr(s"__w div ${maxParasPerDoc}L").as("__id"),
        expr(s"__w % ${maxParasPerDoc}L").as("idx"))
    val kept = winners.groupBy(col("__id"))
      .agg(count(lit(1)).as("__nk"),
        array_join(transform(
            array_sort(collect_list(struct(col("idx"), col("para")))),
            x => x.getField("para")), sep).as("text"))
    // Instance counts come from the SAME materialized explode (r19):
    // counting post-filter rows per doc equals the old
    // size(filter(paragraphs, isNotNull)) — null elements are gone,
    // and a doc with zero surviving paragraphs contributes no rows
    // (the join-on-para drop semantics, previously an explicit
    // filter(n_paras > 0)).
    val census = p.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras"))
    census.join(kept, census(idCol).cast("long") === kept("__id"), "left")
      .select(census(idCol), col("n_paras"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"), col("text"))
  }

  /** Fixed-point log2 in 1/16-bit steps of a POSITIVE integer SQL
    * expression — `16·(bitlen−1)` plus the 4 bits after the MSB as a
    * linear fraction: monotone, exact integer arithmetic only
    * (`length(bin(x))` and a shift are portable), so scores built
    * from it hash-gate where `ln()` never could. The resolution
    * trade is honest: within a factor-2 octave the fraction is
    * linear and truncated to 1/16 (max error ~0.15 bits), which
    * ranks near-identically to true log2 everywhere it matters for
    * importance WEIGHTING. For arguments of 5+ bits the mantissa is
    * taken as `x >> (bitlen-5)` — identical to `(x*16) >> (bitlen-1)`
    * but free of the `x*16` overflow above 2^59, so the full positive
    * long range is exact (callers' guards cap PRODUCTS like cxy*n
    * well below 2^63, and this form never silently wraps inside that
    * envelope). */
  private[graft] def flog2qSql(x: String): String =
    s"((CASE WHEN length(bin($x)) >= 5 THEN ($x) >> (length(bin($x)) - 5) " +
      s"ELSE (($x) * 16) >> (length(bin($x)) - 1) END) + 16 * length(bin($x)) - 32)"

  /** DSIR-style hashed-n-gram importance weights (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score every raw document by how much more likely
    * its n-grams are under the TARGET distribution than under the
    * raw corpus — the principled "make my crawl look like Wikipedia"
    * selector. Features are hashed n-gram BUCKETS (the paper's
    * hashed generative model); per document,
    * `score_q = Σ_g [ f(c_t(g)+1) − f(c_r(g)+1) + f(T_r+1) − f(T_t+1) ]`
    * with `f` the 1/16-bit integer log2 [[flog2qSql]] — the +1s are
    * add-one smoothing, the totals term normalizes the two census
    * masses, and every term is an exact long so the frame
    * hash-gates (resample downstream ∝ score, e.g. via
    * [[sequentialPoissonSample]]). n-gram MULTIPLICITY counts, per
    * the generative model.
    *
    * Scale shape: both censuses are `buckets`-bounded aggregates
    * (map-side combined — that boundedness is WHY DSIR hashes), the
    * score join is corpus-ngrams × BROADCAST census, and the totals
    * ride the same broadcast. Three scans of the corpus text total
    * (raw census, score; target census scans its own subset) — the
    * price of keeping everything one-pass-aggregate shaped. */
  def dsirImportance(docs: DataFrame, target: DataFrame, n: Int = 2,
                     buckets: Int = 8192, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(n >= 1, "n must be positive")
    require(buckets >= 2, "buckets must be >= 2")
    // Fused bucket kernel: one MessageDigest + integer mod per gram
    // (bit-identical to the hex→conv→pmod chain the oracle replays;
    // differential-pinned in FeaturesSpec).
    def grams(df: DataFrame, keep: Column*): DataFrame =
      df.select((keep :+ explode(GraftFunctions.shingle_bucket_tokens(
          TextFunctions.tokens(col(textCol)), n, buckets)).as("__b")): _*)
    val tcen = grams(target).groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val rcen = grams(docs).groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    val model = rcen.join(tcen, Seq("__b"), "left")
      .select(col("__b"), col("__cr"), coalesce(col("__ct"), lit(0L)).as("__ct"))
    val totals = rcen.agg(sum(col("__cr")).as("__tr"))
      .crossJoin(tcen.agg(coalesce(sum(col("__ct")), lit(0L)).as("__tt")))
    val delta = expr(
      s"${flog2qSql("__ct + 1")} - ${flog2qSql("__cr + 1")} + " +
        s"${flog2qSql("__tr + 1")} - ${flog2qSql("__tt + 1")}")
    val scored = grams(docs, col(idCol))
      .join(broadcast(model), "__b")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"), sum(delta).as("score_q"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("score_q"), lit(0L)).as("score_q"))
  }

  /** Fit a [[graft.functions.DsirModel]]: the two
    * [[dsirImportance]] bucket censuses brought to the driver as
    * DENSE arrays (bounded at `buckets` entries by construction —
    * the collectModel convention), so scoring becomes a stateless
    * codegen'd projection deployable on a stream. */
  def collectDsirModel(docs: DataFrame, target: DataFrame, n: Int = 2,
                       buckets: Int = 8192,
                       textCol: String = "text"): graft.functions.DsirModel = {
    require(n >= 1, "n must be positive")
    require(buckets >= 2, "buckets must be >= 2")
    def census(df: DataFrame): Array[Long] = {
      val out = new Array[Long](buckets)
      df.select(explode(GraftFunctions.shingle_hex_tokens(
          TextFunctions.tokens(col(textCol)), n)).as("__sh"))
        .select(pmod(conv(col("__sh"), 16, 10).cast("long"),
          lit(buckets.toLong)).as("__b"))
        .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
        .collect().foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
      out
    }
    val cr = census(docs)
    val ct = census(target)
    graft.functions.DsirModel(n, buckets, ct, cr, cr.sum, ct.sum)
  }

  /** Score any frame — batch or STREAMING — under a batch-fit
    * [[graft.functions.DsirModel]]: a join-free one-scan codegen
    * projection (the CharLm/QualityClassifier deployment shape),
    * bit-identical to [[dsirImportance]]'s census-join plan on the
    * fit corpus (spec-pinned). */
  def dsirScoredWithModel(docs: DataFrame, model: graft.functions.DsirModel,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        graft.functions.GraftFunctions.dsir_score(
          TextFunctions.tokens(col(textCol)), model).as("__s"))
      .select(col(idCol), col("__s.n_ngrams").as("n_ngrams"),
        col("__s.score_q").as("score_q"))

  /** Fixed-size non-overlapping token windows as a paragraph split
    * for corpora without layout structure — the [[paragraphDedup]]
    * companion when there is no `\n\n` to split on. The final window
    * may be shorter. */
  def tokenWindows(textCol: Column, windowTokens: Int): Column = {
    require(windowTokens >= 1, "windowTokens must be positive")
    val toks = TextFunctions.tokens(textCol)
    when(size(toks) <= 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0),
          ceil(size(toks).cast("double") / windowTokens).cast("int") - 1),
        i => array_join(slice(toks, i * windowTokens + 1, lit(windowTokens)), " ")))
  }

  /** Unigram surprisal scoring — the CCNet-style "perplexity filter"
    * quality signal in exact integer form: every document scored by
    * the total surprisal of its tokens under the CORPUS unigram
    * distribution, `Σ_occurrences (log₂ T − log₂ c(tok))` in the
    * 1/16-bit integer log2 units of [[flog2qSql]] (bits/token =
    * surprisal_fp / 16 / n_tokens consumer-side). Low bits/token =
    * repetitive/templated text, high = rare-token soup — the two
    * tails a perplexity filter drops. No smoothing needed: every
    * scored token is in the census by construction, so counts are
    * ≥ 1 and the per-token term is ≥ 0. Exact longs end to end —
    * the frame hash-gates.
    *
    * Scale shape: one explode → token census (map-side combined,
    * vocabulary-bounded) → equi-join of the exploded corpus back to
    * the census on the token key (co-partitioned shuffle join — at
    * web scale the vocabulary outgrows a broadcast, so the join IS
    * the right primitive) → per-doc sum (one more shuffle on the
    * id). The census total attaches as a broadcast scalar. */
  def unigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("__tok"))
    val census = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    val tot = census.agg(sum(col("__c")).as("__tt"))
    toks.join(census, "__tok")
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        expr(s"${flog2qSql("__tt")} - ${flog2qSql("__c")}").as("__surp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__surp")).as("surprisal_fp"))
  }

  /** Class-based TF-IDF top terms (BERTopic's c-TF-IDF): the `topK`
    * terms that CHARACTERIZE each class (source, cluster, language)
    * — high in-class frequency × corpus-wide rarity — in exact
    * integers: `score_fp = c(class, term) · (flog2q(f(term) + A) −
    * flog2q(f(term)))`, the paper's `tf · log(1 + A/f)` with
    * A = total tokens div n_classes (the average class mass) and
    * f = the term's corpus-wide occurrence count, in 1/16-bit log2
    * units. Frequency-form idf rather than presence-form df: on a
    * small shared vocabulary a presence idf degenerates to 0 for
    * every term (measured: the sf0.1 corpus has every vocab term in
    * all 20 sources), while log(1 + A/f) stays positive and still
    * down-weights ubiquitous terms smoothly. Ranking is (score_fp
    * DESC, term ASC), fully deterministic — the frame hash-gates.
    *
    * Scale shape: one explode → (class, term) census (map-side
    * combined, vocabulary × classes bounded); df and n_classes are
    * census-space aggregates re-attached by an equi-join on term +
    * a broadcast scalar; the top-k window runs over the census,
    * never corpus rows. */
  def classTfidfTerms(docs: DataFrame, classCol: String, topK: Int = 8,
                      textCol: String = "text"): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val toks = docs
      .filter(col(classCol).isNotNull)
      .select(col(classCol).as("__cls"),
        explode(split(col(textCol), " ")).as("__t"))
    val census = toks.groupBy(col("__cls"), col("__t"))
      .agg(count(lit(1)).as("__c"))
    val tf = census.groupBy(col("__t"))
      .agg(sum(col("__c")).as("__f"))
    val avgMass = census.agg(
        sum(col("__c")).as("__tot"), countDistinct(col("__cls")).as("__ncls"))
      .withColumn("__a", expr("__tot div __ncls"))
      .select(col("__a"))
    val scored = census.join(tf, "__t")
      .crossJoin(broadcast(avgMass))
      .withColumn("__idf",
        expr(s"${flog2qSql("__f + __a")} - ${flog2qSql("__f")}"))
      .withColumn("score_fp", col("__c") * col("__idf"))
      .filter(col("score_fp") > 0)
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__cls"))
          .orderBy(col("score_fp").desc, col("__t"))))
      .filter(col("rank") <= topK)
      .select(col("__cls").as(classCol), col("__t").as("term"),
        col("__c").as("n"), col("__f").as("f_corpus"),
        col("score_fp"), col("rank").cast("long").as("rank"))
  }

  /** Iterative proportional fitting (IPF / raking, the classic
    * contingency-table balancer; Sinkhorn's algorithm on counts) of
    * the corpus mix over two strata axes — the constrained partner
    * of [[temperatureAllocate]]'s one-axis apportionment: "reweight
    * (source × lang) cells so every SOURCE gets an equal share of
    * the training mix while each LANG keeps its observed share" —
    * the two-marginal version of the DoReMi-style mix question,
    * solved by the textbook alternating row/col scaling. `rounds`
    * alternating passes (row pass: scale each row to the uniform
    * row target; col pass: scale each column back to its observed
    * total), in EXACT e6 fixed-point: cells carry as e6-scaled
    * exact integers and every scaling is one integer multiply by the
    * e6 target followed by one integral division by the current
    * marginal (`div` ≡ DuckDB `//` on nonnegative operands), so the
    * trajectory — including truncation — is bit-identical
    * cross-engine and the gate hashes the full fitted table. A
    * zeroed marginal (every cell of a line truncated to 0) emits 0
    * for that line's cells rather than dividing by zero.
    *
    * Scale shape: ONE corpus shuffle builds the (row, col, n)
    * census (map-side combined), which comes to the driver through
    * one [[Bounded.collectOrFail]] at `maxCells` — an oversized census
    * fails before it reaches one task — and the 2×`rounds` scaling
    * passes run there in exact `BigInt` (truncating division of
    * nonnegative operands is `decimal(38,0)` `div`). The fitted table
    * returns as a local frame.
    * Headroom: cell ≤ total·10⁶ and the per-pass product
    * cell·target_e6 ≤ (total·10⁶)² needs total ≤ 10¹² rows inside
    * decimal(38,0) — guarded loud, as the oracle's arithmetic needs. */
  def ipfRake(df: DataFrame, rowCol: String, colCol: String,
              rounds: Int = 4, maxCells: Int = 4096): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "rounds must be in [1, 16]")
    require(maxCells >= 1, "maxCells must be positive")
    val census = df
      .filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).as(rowCol), col(colCol).as(colCol))
      .agg(count(lit(1)).as("n"))
    val cells = Bounded.collectOrFail(census, maxCells)(
      s"ipfRake: census exceeds $maxCells cells — coarsen the strata upstream")
    val n = cells.map(r => BigInt(r.getLong(2)))
    require(n.sum <= 1000000000000L,
      "ipfRake: total > 1e12 — e6 fixed-point headroom (decimal(38,0)) exceeded")
    val (rows, cols) = (cells.map(_.get(0)), cells.map(_.get(1)))
    // each cell's line marginal: the sum of `v` over cells sharing its key
    def marginal(keys: Array[Any], v: Array[BigInt]): Array[BigInt] = {
      val by = keys.indices.groupMapReduce(keys(_))(v(_))(_ + _)
      keys.map(by)
    }
    val e6 = BigInt(1000000)
    val rowTarget = if (cells.isEmpty) BigInt(0) else n.sum * e6 / rows.distinct.length
    val colTarget = marginal(cols, n).map(_ * e6)
    def scale(cell: Array[BigInt], keys: Array[Any], target: Int => BigInt): Array[BigInt] = {
      val m = marginal(keys, cell)
      cell.indices.map(i => if (m(i) > 0) cell(i) * target(i) / m(i) else BigInt(0)).toArray
    }
    var cell = n.map(_ * e6)
    for (_ <- 1 to rounds)
      cell = scale(scale(cell, rows, _ => rowTarget), cols, colTarget)
    df.sparkSession.createDataFrame(
      cells.indices.map(i => Row.fromSeq(cells(i).toSeq :+ cell(i).toLong)).asJava,
      census.schema.add(StructField("mix_e6", LongType, nullable = true)))
  }

  /** Blocklist / keyword-filter hits via Aho–Corasick
    * ([[graft.functions.AhoCorasick]]) — one row per (doc, pattern)
    * with ≥1 occurrence, OVERLAPPING counts. The curation shape this
    * serves: literal blocklists (URLs, phrases, contamination
    * canaries) routinely reach 10⁴–10⁵ entries, where the chained
    * per-pattern regex of [[redactPii]] degenerates to one scan per
    * pattern; the automaton matches ALL patterns in one
    * O(chars + hits) pass per document regardless of blocklist size.
    *
    * Scale shape: the automaton is built ONCE on the driver
    * (O(Σ|pattern|) nodes) and ships via `sparkContext.broadcast`
    * (once per executor, not per task) — the broadcast-model
    * convention of the fitted classifiers; scoring
    * is a stateless per-row projection (stream-deployable like the
    * other fit-batch/score-forever kernels), and only (doc, pattern)
    * pairs with hits survive the explode. */
  def blocklistHits(docs: DataFrame, patterns: Seq[String],
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pats = patterns.toArray
    val acBc = docs.sparkSession.sparkContext.broadcast(
      new graft.functions.AhoCorasick(pats))
    val hitsUdf = udf((t: String) => if (t == null) null else acBc.value.countHits(t))
    val patLit = array(pats.map(lit): _*)
    docs.select(col(idCol), posexplode(hitsUdf(col(textCol))).as(Seq("__i", "n_hits")))
      .filter(col("n_hits") > 0)
      .select(col(idCol), element_at(patLit, col("__i") + 1).as("pattern"),
        col("n_hits"))
  }

  /** DoReMi-style domain mix-weight optimizer (Xie et al., "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * NeurIPS 2023) — the loss-FEEDBACK member of the mixing family:
    * q76/q163's temperature and token-budget mixes reweight by SIZE,
    * this reweights by per-domain EXCESS LOSS, upweighting domains
    * the current mixture models worst. Deterministic fixed-point
    * variant of the paper's Group-DRO loop:
    *
    *  - per-domain loss = mean token surprisal under the corpus
    *    unigram model in [[flog2qSql]] 1/16-bit log2 integer units
    *    (the q218 proxy standing in for the paper's proxy-model
    *    loss — the trait-style seam here is the LOSS COLUMN, not a
    *    callback: feed any per-domain integer loss census in);
    *  - per round: reference loss = the current mixture's weighted
    *    mean (integer div), excess = max(0, loss − ref),
    *    multiplicative update w ← w · (1e6 + η·excess) renormalized
    *    to e9 by floored integer division — the linearized
    *    exp(η·excess) of multiplicative weights, exact in integers
    *    (the q215 Sinkhorn discipline applied to the DRO loop).
    *
    * Every quantity is an exact integer (normalization products run
    * in BigInt on the driver and HUGEINT in the oracle), so the full
    * (round, domain, excess, weight) TRAJECTORY hash-gates via
    * unrolled round CTEs (the q60 pattern). Driver state is one row
    * per domain (maxDomains-guarded limit probe — the model-fit
    * convention); the loss census is fully distributed: explode →
    * vocab-bounded token census → census join-back → per-domain sums.
    * Scale: at 100 TB the census join is the same one q218 ships;
    * rounds touch only the n_domains-row census. */
  def doremiMixWeights(docs: DataFrame, domainCol: String = "source",
                       rounds: Int = 4, eta: Long = 10000L,
                       maxDomains: Int = 4096,
                       textCol: String = "text"): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "rounds must be in [1, 16]")
    require(eta >= 0, "eta must be non-negative")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(col(domainCol).as("__d"), explode(split(col(textCol), " ")).as("__tok"))
    val census = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    val tot = census.agg(sum(col("__c")).as("__tt"))
    val domLoss = toks.join(census, "__tok")
      .crossJoin(broadcast(tot))
      .select(col("__d"),
        expr(s"${flog2qSql("__tt")} - ${flog2qSql("__c")}").as("__surp"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("__n"), sum(col("__surp")).as("__s"))
      .select(col("__d"), expr("__s div __n").as("__loss"))
    val probe = Bounded.collectOrFail(domLoss, maxDomains)(
      s"doremiMixWeights: more than $maxDomains domains — coarsen the domain key")
    // Deterministic order so the floored normalizations replay.
    val doms = probe.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val n = doms.length
    if (n == 0) return Seq.empty[(Long, String, Long, Long)]
      .toDF("round", domainCol, "excess_fp", "weight_e9")
    var w: Array[BigInt] = Array.fill(n)(BigInt(1000000000L / n))
    val out = Seq.newBuilder[(Long, String, Long, Long)]
    for (t <- 1 to rounds) {
      val wsum = w.sum
      val mixRef = (w.iterator.zip(doms.iterator.map(_._2))
        .map { case (wi, li) => wi * li }.sum / wsum).toLong
      val excess = doms.map { case (_, li) => math.max(0L, li - mixRef) }
      val raw = w.iterator.zip(excess.iterator)
        .map { case (wi, ei) => wi * (BigInt(1000000L) + BigInt(ei) * eta) }.toArray
      val rawSum = raw.sum
      w = raw.map(r => r * BigInt(1000000000L) / rawSum)
      for (i <- 0 until n)
        out += ((t.toLong, doms(i)._1, excess(i), w(i).toLong))
    }
    out.result().toDF("round", domainCol, "excess_fp", "weight_e9")
  }
}
