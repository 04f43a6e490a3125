package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Physical/logical plan assertions: the optimizations the engine's
  * scale story depends on must actually appear in the plans —
  * pushdown and pruning at the parquet scan, broadcast for small
  * dimensions, partial top-k aggregation instead of windows in the
  * ANN paths, and no unbounded single-partition window anywhere. */
class PlanSpec extends SparkSuite {

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
  private def physical(name: String): String = q(name).queryExecution.executedPlan.toString
  private def optimized(name: String): LogicalPlan = q(name).queryExecution.optimizedPlan

  test("q02 pushes contains-filters into the parquet scan") {
    val p = physical("q02_filter_contains")
    assert(p.contains("PushedFilters:"), p.take(2000))
    assert(p.contains("StringContains"), p.take(2000))
  }

  test("q02 prunes the scan to the projected columns") {
    val p = physical("q02_filter_contains")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("p_partkey") && read.contains("p_retailprice"))
    // part has 9 columns; the scan must not read unprojected ones.
    assert(!read.contains("p_size") && !read.contains("p_comment"))
  }

  test("q06's range predicates reach the scan") {
    val p = physical("q06_revenue_delta")
    // plan strings truncate long filter lists — match the prefix only
    assert(p.contains("PushedFilters: [IsNotNull"))
    assert(p.contains("GreaterThanOrEqual("))
  }

  test("q03 and q07 broadcast their dimension tables") {
    assert(physical("q03_shipping_priority").contains("BroadcastHashJoin"))
    assert(physical("q07_revenue_by_nation").contains("BroadcastHashJoin"))
  }

  test("q05 anti join stays a join, not a subquery re-scan") {
    assert(physical("q05_customers_no_orders").contains("LeftAnti"))
  }

  test("ANN top-k is a partial aggregate, not a window shuffle") {
    // q30/q32: ranking must run through the bounded Aggregator.
    for (name <- Seq("q30_knn_cosine", "q32_ann_lsh")) {
      val wins = optimized(name).collect { case w: LWindow => w }
      assert(wins.isEmpty, s"$name still contains a Window operator")
      assert(physical(name).contains("ObjectHashAggregate"), s"$name lacks the typed top-k aggregate")
    }
  }

  test("q74 bottom-k sampling is a partial aggregate, not a window shuffle") {
    // The KMV sample must reduce to ≤k candidates per stratum per
    // partition BEFORE the exchange — the oracle's row_number
    // formulation is exactly the plan this operator exists to avoid.
    val wins = optimized("q74_sample_bottomk").collect { case w: LWindow => w }
    assert(wins.isEmpty, "q74 still contains a Window operator")
    assert(physical("q74_sample_bottomk").contains("ObjectHashAggregate"),
      "q74 lacks the typed top-k aggregate")
  }

  test("q33 has no unbounded single-partition window") {
    // Any Window without partitioning must sit above a GlobalLimit —
    // i.e. it only ever sees a bounded row set (the centroid seeds),
    // never the corpus.
    val wins = optimized("q33_ann_ivf").collect { case w: LWindow => w }
    for (w <- wins if w.partitionSpec.isEmpty) {
      val limited = w.child.collectFirst { case g: GlobalLimit => g }.isDefined
      assert(limited, s"unpartitioned Window over unbounded input:\n$w")
    }
  }

  test("jaccard join plans contain no Window node on either strategy") {
    // q22 resolves to the bitmask all-pairs path at this SF (31-token
    // vocabulary); q43's shingle vocabulary and q46's Zipfian word
    // vocabulary force the prefix path. All must stay window-free:
    // the round-4 rewrite replaced the row_number prefix ranking with
    // a hash aggregate, and this pins that property so the
    // sort-exchange form can't sneak back.
    for (name <- Seq("q22_simjoin_jaccard", "q43_simjoin_ngram", "q46_simjoin_words")) {
      val wins = optimized(name).collect { case w: LWindow => w }
      assert(wins.isEmpty, s"$name contains a Window operator")
    }
  }

  test("q46 takes the prefix path with equi-join candidates, no cartesian product") {
    // The Zipfian word corpus must route to prefixFilteredPairs: the
    // candidate join is an equi-join on the packed token hash (plus
    // length/positional bounds), never a nested-loop over rep pairs
    // (the bitmask path's shape, correct only under its ≤64-token
    // vocabulary probe) and never a cartesian product.
    val p = physical("q46_simjoin_words")
    assert(!p.contains("CartesianProduct"), "cartesian product in q46")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "q46 routed to the bitmask nested-loop path — the probe mis-fired")
    assert(p.contains("xxhash64"), "packed token-hash join key missing")
  }

  test("dedup signature projection contains no shuffle") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, RepartitionOperation}
    val docs = Tables.documents(spark, sfDir)
    val plan = operators.Dedup.minhashSignatures(docs, 64).queryExecution.optimizedPlan
    val shuffles = plan.collect {
      case a: Aggregate => a
      case j: Join => j
      case r: RepartitionOperation => r
    }
    assert(shuffles.isEmpty, "signatures must be a pure narrow projection")
  }

  test("q48 decontamination semi-joins the corpus against a BROADCAST eval side") {
    // The corpus side must stream: eval shingles arrive by broadcast,
    // never by shuffling the exploded corpus shingles against a
    // shuffled eval side.
    val p = physical("q48_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval shingles not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus-side shingles were shuffled for a sort-merge join")
  }

  test("q53 range join is a bucketized equi-join, never a nested loop") {
    // The whole point of the bucketization: Catalyst's only plans
    // for a raw `s <= t AND t < e` join are nested-loop/cartesian.
    val p = physical("q53_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "range join fell back to nested loop")
    assert(!p.contains("CartesianProduct"), "range join planned as cartesian")
  }

  test("q54 sessionize: partitioned windows only, one hash shuffle") {
    // The session assignment must never fall into a global window;
    // the two window passes (lag, running sum) share the user_id
    // partitioning, so exactly one hash exchange feeds them.
    val wins = optimized("q54_sessionize").collect { case w: LWindow => w }
    assert(wins.nonEmpty, "sessionize lost its windows")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "sessionize planned an unpartitioned window over the corpus")
    val hashEx = "hashpartitioning".r.findAllIn(physical("q54_sessionize")).size
    assert(hashEx <= 2, s"sessionize shuffled more than windows+agg need ($hashEx)")
  }

  test("q55 keyword search is scan + top-k — no shuffle at all") {
    // Scoring is a pure array projection and the top-20 cut is
    // TakeOrderedAndProject (per-partition partial limits), so the
    // corpus never shuffles.
    val p = physical("q55_keyword_search")
    assert(p.contains("TakeOrderedAndProject"), "top-k lost the partial-limit plan")
    assert(!p.contains("Exchange"), s"keyword search introduced a shuffle:\n${p.take(2000)}")
  }

  test("q57 LSH near-dup join is equi-join only, ids-only candidates") {
    val p = physical("q57_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"), "near-dup fell back to nested loop")
    assert(!p.contains("CartesianProduct"), "near-dup planned as cartesian")
  }

  test("q50 stratified sampling is a pure scan + filter — zero exchanges") {
    // Drop the final presentation orderBy (not part of the operator)
    // and assert the sample itself adds no shuffle of any kind.
    import graft.operators.Curation
    import org.apache.spark.sql.functions.col
    val sampled = Curation.sampleStratified(
      Tables.documents(spark, sfDir), col("lang"),
      Map("en" -> 0.25, "de" -> 0.5, "fr" -> 1.0, "es" -> 0.1))
    val p = sampled.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"sampling introduced a shuffle:\n${p.take(2000)}")
    assert(p.contains("Filter"), "sampling must be a filter over the scan")
  }

  test("q76 mixing joins a BROADCAST threshold table — no corpus-side shuffle join") {
    val p = physical("q76_mix_token_budget")
    assert(p.contains("BroadcastHashJoin"), s"threshold join must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), "corpus must not sort-merge against the tiny rate table")
  }

  test("q77 familiarity scoring broadcasts the bigram model, never shuffles occurrences") {
    val p = physical("q77_chargram_familiarity")
    assert(p.contains("BroadcastHashJoin"), s"model join must broadcast:\n${p.take(2000)}")
    // The per-occurrence explode must not reach any exchange: the only
    // shuffled relations are the model (charset² rows) and the
    // per-document partial aggregates.
    assert(!p.contains("SortMergeJoin"), "occurrence-level sort-merge join would shuffle the corpus per character")
  }

  test("q92/q93 exact-substring: no window over the anchor hash — frequency is an agg + semi join") {
    // A count-over-Window.partitionBy(h) buffers every occurrence of
    // one k-gram hash in a single task (a boilerplate k-gram with 10⁷
    // corpus hits = one-task OOM at 100 TB). The frequency gate must
    // instead be groupBy(h).count + semi join back: windows in these
    // plans may partition only by the document id (the run-coalescing
    // pass), never by the anchor hash.
    for (name <- Seq("q92_exact_substring_spans", "q93_drop_repeated_spans")) {
      val wins = optimized(name).collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$name lost its per-doc run window")
      for (w <- wins) {
        assert(w.partitionSpec.nonEmpty, s"$name has an unpartitioned window")
        val partCols = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
        assert(!partCols.contains("h"),
          s"$name windows over the anchor hash — hot-anchor single-task buffering:\n$w")
      }
      assert(physical(name).contains("LeftSemi"),
        s"$name frequency gate lost its semi join")
    }
  }

  test("q94 classifier: scoring is a zero-join codegen projection") {
    // Since r10 the gate scores through the collected census
    // (WordNgramScore expression): the scoring plan must be scan →
    // project → filter → sort with NO join, NO explode/Generate, NO
    // window, and NO aggregation — one corpus scan, everything
    // whole-stage-codegen'd. (The census fit runs eagerly at plan
    // build; only the scoring lineage is what executes here.)
    val wins = optimized("q94_quality_classifier").collect { case w: LWindow => w }
    assert(wins.isEmpty, "q94 contains a Window operator")
    val p = physical("q94_quality_classifier")
    assert(!p.contains("Join"), s"q94 scoring must not join:\n${p.take(2000)}")
    assert(!p.contains("Generate"), s"q94 scoring must not explode:\n${p.take(2000)}")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"q94 scoring must not aggregate:\n${p.take(2000)}")
    assert(p.contains("wordngramscore") || p.contains("WordNgramScore") ||
      p.contains("word_ngram_score"), s"q94 must score via the codegen expression:\n${p.take(2000)}")
  }

  test("q103 PQ: queries broadcast, corpus never shuffled before the top-k aggregate") {
    // The ADC scan must be corpus-scan → broadcast-join(queries) →
    // partial top-k: the only Exchanges allowed are the broadcast of
    // the query side and the by-query_id exchange of BOUNDED top-k
    // aggregate states (plus the final presentation sort). A
    // corpus-side hash Exchange before aggregation would mean the
    // pair stream is being shuffled — the shape that dies at 100 TB.
    val p = physical("q103_pq_ann")
    assert(p.contains("BroadcastExchange"), s"q103 must broadcast the query side:\n${p.take(2000)}")
    val aggIdx = p.indexOf("ObjectHashAggregate")
    assert(aggIdx >= 0, s"q103 must select top-k via the bounded typed aggregate:\n${p.take(2000)}")
    val belowAgg = p.substring(p.lastIndexOf("ObjectHashAggregate"))
    assert(!belowAgg.replace("BroadcastExchange", "").contains("Exchange"),
      s"q103 shuffles below the partial top-k aggregate:\n${p.take(3000)}")
    assert(!p.contains("Window "), s"q103 must not rank via a window:\n${p.take(2000)}")
  }

  test("q78 shuffle-shard: the window's partition-by-shard is the plan's only exchange") {
    import graft.operators.Curation
    val out = Curation.shuffleShard(Tables.documents(spark, sfDir), shards = 8)
    val p = out.queryExecution.executedPlan.toString
    val exchanges = "(?m)^[-+:\\s]*Exchange".r.findAllIn(p).size
    assert(p.contains("Window"), "sharding ranks through a window")
    assert(exchanges <= 1, s"shuffle-shard must shuffle exactly once:\n${p.take(2000)}")
  }

  test("q105 triangles: equi-joins only — no cartesian, no nested loop, no window") {
    // Degree-ordered orientation keeps every join an equi-join on
    // edge keys; a cartesian/NL here would be the quadratic wedge
    // materialization the orientation exists to prevent.
    val p = physical("q105_triangle_count")
    assert(!p.contains("CartesianProduct"), "triangle census planned a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "triangle census fell back to nested loop")
    assert(!p.contains("Window "), "triangle census must not rank via a window")
  }

  test("q109 z-score: stats re-join is a BROADCAST, corpus never shuffles") {
    // One bounded aggregate + broadcast of the per-group stats back
    // onto the scan — the corpus-side plan must carry no hash
    // exchange except the (group-count-bounded) aggregate's own.
    val p = physical("q109_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), s"q109 must broadcast the stats side:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), "q109 shuffled the corpus to join one-row-per-group stats")
    assert(!p.contains("Window "), "q109 must not use a window")
  }

  test("q111 code dedup: one equi-join on the code key, no cartesian fallback") {
    val p = physical("q111_pq_code_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"compressed-domain dedup lost its equi-join on codes:\n${p.take(2000)}")
  }

  test("q113 quality gate: scoring is one scan — zero joins, no exchange but the sort") {
    // Both models fit driver-side before the plan is built, so the
    // returned frame must be scan + codegen projections + the
    // presentation sort — the shape that deploys unchanged on a
    // stream.
    val p = physical("q113_quality_gate")
    assert(!p.contains("Join"), s"ensemble scoring must not join:\n${p.take(2000)}")
    val exchanges = "(?m)^[-+:\\s]*Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"ensemble scoring shuffled beyond the sort:\n${p.take(2000)}")
  }

  test("q112 ingest planner: partitioned windows only over the deduped frontier") {
    val wins = optimized("q112_ingest_planner").collect { case w: LWindow => w }
    assert(wins.nonEmpty, "planner lost its schedule windows")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "planner fell into an unpartitioned window over the frontier")
  }

  test("q122 systematic sample: the prefix sum is block-partitioned, never a global window") {
    // The whole point of the GlobalRank prefix sum: the corpus-sized
    // window runs partitioned by id bucket; only bucketed windows may
    // appear, and the offsets attach by broadcast join.
    val wins = optimized("q122_systematic_sample").collect { case w: LWindow => w }
    assert(wins.nonEmpty, "sampler lost its running-sum window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "systematic sampler fell into a single-partition global window")
    assert(physical("q122_systematic_sample").contains("BroadcastHashJoin"),
      "block offsets must attach by broadcast")
  }

  test("q117 z-order census: one scan, broadcast stats, one bucket aggregate shuffle") {
    val p = physical("q117_zorder_layout")
    assert(!p.contains("Window"), "zone-map census must not window")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "global min/max must attach by broadcast")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 2, s"expected the lineitem scan + the 1-row stats scan, got $scans:\n${p.take(1500)}")
  }

  test("q131 resample: fill windows are key-partitioned, never global") {
    val wins = optimized("q131_resample_locf").collect { case w: LWindow => w }
    assert(wins.nonEmpty, "resample lost its carry-forward window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "LOCF fill fell into a single-partition global window")
  }

  test("q132 PPS sample is one TakeOrdered — no global sort, no window") {
    val p = physical("q132_pps_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"PPS sample must reduce per-partition before one bounded exchange:\n${p.take(1500)}")
    assert(!p.contains("Window"), "PPS sample must not window")
  }

  test("q138/q139 rank statistics: windows partitioned, never a global ROW_NUMBER") {
    // q138's medians are census picks whose prefix sums run on the
    // driver, so it may have no window at all — but never an
    // unpartitioned one.
    val q138 = optimized("q138_mad_outliers").collect { case w: LWindow => w }
    assert(q138.forall(_.partitionSpec.nonEmpty),
      "q138_mad_outliers fell into a single-partition global window")
    val wins = optimized("q139_equidepth_buckets").collect { case w: LWindow => w }
    assert(wins.nonEmpty, "q139_equidepth_buckets lost its rank windows")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "q139_equidepth_buckets fell into a single-partition global window")
    assert(physical("q139_equidepth_buckets").contains("BroadcastHashJoin"),
      "bin offsets must attach by broadcast")
  }

  test("q144/q145 rank statistics run in census space — no window partitioned by a score value") {
    // The r12 formulation computed tie mid-ranks with
    // Window.partitionBy(score-value): one hot score = a corpus
    // fraction serialized into a single task's sort buffer (the r8
    // exact-substring hot-anchor shape). The census formulation
    // computes the mid-rank prefix sums on the driver over the
    // bounded census, so neither plan holds any window.
    for (name <- Seq("q144_class_auc", "q145_spearman")) {
      val wins = optimized(name).collect { case w: LWindow => w }
      assert(wins.isEmpty, s"$name windows again:\n${wins.mkString("\n")}")
    }
  }

  /** The optimized plan of every action `name`'s DataFrame build
    * runs eagerly (bounded collects, checkpoints), then of the frame
    * itself. */
  private def buildAndFinalPlans(name: String): Seq[LogicalPlan] = {
    val seen = new ConcurrentLinkedQueue[LogicalPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.optimizedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val df = q(name)
      // listener events are async and in order: once a sentinel
      // action has reported, every build action before it has too
      val sentinel = s"plan_sentinel_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      spark.range(1).toDF(sentinel).collect()
      eventually(timeout(30.seconds)) {
        assert(seen.asScala.exists(_.output.exists(_.name == sentinel)))
      }
      seen.asScala.toSeq :+ df.queryExecution.optimizedPlan
    } finally spark.listenerManager.unregister(l)
  }

  test("every registered row: no unpartitioned window unless a GlobalLimit is beneath it") {
    // The q33 rule over every registered query, in the frame's plan
    // and in every action its build runs: a global rank or prefix sum
    // is a GlobalRank and a census's sums are driver work — never a
    // single-partition window over unbounded input.
    val bad = for {
      name <- SparkEntry.queries.keys.toSeq.sorted
      plan <- buildAndFinalPlans(name)
      w <- plan.collect { case w: LWindow => w }
      if w.partitionSpec.isEmpty && w.child.collectFirst { case g: GlobalLimit => g }.isEmpty
    } yield name
    assert(bad.isEmpty, s"unpartitioned Window over unbounded input in ${bad.distinct.mkString(", ")}")
  }

  test("q136 link prediction: equi-joins only — no cartesian, no window") {
    // At test scale q136 runs the wedge-census kernel, which has no
    // join at all; the declarative census it routes to above the
    // kernel bound (forced here with maxKernelEdges = 0) carries the
    // join-shape properties.
    val k = physical("q136_link_predict")
    assert(!k.contains("Cartesian") && !k.contains("NestedLoop") && !k.contains("Window"),
      k.take(1500))
    val p = graft.operators.Graph.linkPrediction(
        graft.queries.PipelineQueries.syntheticEdges(spark, sfDir), "src", "dst",
        maxKernelEdges = 0)
      .orderBy("u", "v").queryExecution.executedPlan.toString
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"),
      s"wedge census must stay an equi-join:\n${p.take(1500)}")
    assert(!p.contains("Window"), "link prediction must not window")
    assert(p.contains("LeftAnti"), "existing edges must leave via an anti join")
  }

  test("q135 covariance: one aggregator scan — no pair join, no explode before the agg") {
    val p = physical("q135_covariance")
    assert(!p.contains("Join"),
      s"covariance must never pair-join the corpus (that is the oracle's naive plan):\n${p.take(1500)}")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected one embeddings scan, got $scans")
  }

  test("q238 emits in doc_id order: no Exchange above its global Sort") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    // q238 sorts below its decode chain and has no terminal orderBy:
    // its output order holds only while nothing above the Sort
    // repartitions. Run it so the check sees AQE's final plan.
    val df = q("q238_wav_audit")
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // Operators from the root down to the first global Sort, looking
    // through AQE's query stages to the plans they wrap.
    def pathToSort(p: SparkPlan): Option[Seq[SparkPlan]] = p match {
      case s: SortExec if s.global => Some(Nil)
      case s: QueryStageExec => pathToSort(s.plan)
      case _ => p.children.iterator.flatMap(pathToSort).nextOption().map(p +: _)
    }
    val above = pathToSort(plan).getOrElse(fail(s"q238 lost its global Sort:\n$plan"))
    assert(!above.exists(_.isInstanceOf[Exchange]),
      s"an Exchange sits above q238's global Sort:\n$plan")
  }

  test("q133 snapshot diff: fingerprints in-scan, one full-outer equi-join, no cartesian") {
    val p = physical("q133_snapshot_diff")
    assert(p.contains("FullOuter"), s"diff lost its full-outer join:\n${p.take(1500)}")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"),
      "diff must stay an equi-join")
    // Compare columns are reduced to the md5 before the exchange: no
    // payload column may appear in a shuffle's output attribute list.
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("o_orderpriority"), "scan must read compare columns")
    assert(!read.contains("o_orderdate"), "scan must prune unused columns")
  }
}
