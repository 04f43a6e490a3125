package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate / exact nearest-neighbor search over an embedding
  * column (`array<float>`).
  *
  * Scale design:
  *  - Norms are precomputed once per row in a narrow projection.
  *  - The exact path broadcasts the (small) query set, so the "cross
  *    join" is a broadcast nested loop over each corpus partition —
  *    no shuffle of the corpus.
  *  - Top-k is a bounded typed Aggregator ([[TopK]]): each partition
  *    reduces to at most k candidates per query before the exchange,
  *    so the shuffle moves O(queries × k) rows — a `row_number`
  *    window would re-shuffle every scored row.
  *  - The LSH path buckets vectors by random-hyperplane sign bits so
  *    each query only scans its own bucket(s); the IVF path assigns
  *    the corpus to its nearest centroid with a map-side fold over a
  *    broadcast centroid array — no window, no shuffle of the corpus
  *    beyond the final per-query top-k merge.
  */
object Similarity {

  /** Corpus with cast-to-double embedding and precomputed L2 norm. */
  def prepared(embeddings: DataFrame,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddings.select(
      col(idCol),
      asDouble(col(vecCol)).as("vec"),
      l2Norm(asDouble(col(vecCol))).as("norm"))

  /** Per-query top-k of a scored frame, then presentation columns.
    * Ranking happens on the raw similarity with id tiebreak; `sim`
    * is rounded to 6 dp for cross-engine stability. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    TopK.perGroup(scored, "query_id", "cand_id", "sim_raw", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim_raw"), 6).as("sim"))

  /** Exact top-k cosine neighbors for each query vector (brute
    * force). Queries are broadcast; the corpus is scanned once.
    *
    * The n×|q| scoring expansion and the map-side top-k partial both
    * run INSIDE the corpus partitions, so an audit-scale corpus that
    * arrives as one small file (one scan partition) would serialize
    * the whole quadratic stage on one core. [[spreadSmall]] probes
    * the partition count — no job, just physical planning — and
    * pre-spreads only when the scan is narrower than the session
    * parallelism; a 100 TB corpus already has thousands of scan
    * partitions and keeps its no-corpus-shuffle plan. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id"): DataFrame = {
    val c = spreadSmall(prepared(corpus, idCol))
    val q = prepared(queries, idCol)
      .select(col(idCol).as("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"))
    val scored = c.join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("cand_id"),
        cosinePrenormed(dot(col("vec"), col("qvec")), col("norm"), col("qnorm")).as("sim_raw"))
    rankTopK(scored, k)
  }

  /** Round-robin the frame across the configured shuffle width IF its
    * plan would execute with fewer partitions — parallelism insurance
    * for per-row expensive downstream work (a broadcast cross-score,
    * a per-row decode) when the input is a single small file. Wide
    * inputs pass through untouched, so the 100 TB path never pays a
    * shuffle for this.
    *
    * The probe is STRICTLY plan-only: it walks the non-adaptive
    * physical plan and never touches `df.rdd` — under AQE (default
    * on), building the RDD finalizes the adaptive plan, which
    * SUBMITS AND AWAITS every upstream shuffle stage, and that work
    * is not reused by the later real execution (the r12 q46/q90
    * double-synthesis cost, generalized). Stream-side parallelism is
    * the min over leaves outside broadcast/shuffled slots: a file
    * scan counts its files, a checkpointed/RDD leaf reads its
    * partition count off the existing RDD (no job), unknown leaves
    * conservatively pass through.
    *
    * The probed `sparkPlan` is PRE-EnsureRequirements: implicit
    * exchanges (the shuffle an aggregate or sort-merge join will
    * receive, the broadcast exchange under a broadcast join) are not
    * in the tree yet. So the walk reasons from each node's
    * requiredChildDistribution instead of from exchange nodes: a
    * child slot demanding a real (non-broadcast) distribution gets a
    * conf-wide shuffle at preparation time — width-resetting — and a
    * broadcast slot never drives stream parallelism. (Explicit
    * repartitions DO appear as ShuffleExchangeLike even pre-prep and
    * keep their arm.) */
  private[graft] def spreadSmall(df: DataFrame): DataFrame = {
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    if (streamParts(df.queryExecution.sparkPlan) < width) df.repartition(width) else df
  }

  private def streamParts(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, UnspecifiedDistribution}
    p match {
      case _: ShuffleExchangeLike => Int.MaxValue // explicit repartition: conf-wide
      case s: FileSourceScanExec =>
        math.max(s.relation.location.inputFiles.length, 1) // metadata only, no job
      case r: RDDScanExec => r.rdd.getNumPartitions // checkpoint leaf: RDD already exists
      case r: ExternalRDDScanExec[_] => r.rdd.getNumPartitions
      case _: LocalTableScanExec => 1
      case _: LeafExecNode => Int.MaxValue // unknown leaf: pass through untouched
      case o if o.children.isEmpty => Int.MaxValue
      case o =>
        o.children.zip(o.requiredChildDistribution).map {
          case (_, _: BroadcastDistribution) => Int.MaxValue // build side drops out
          case (c, UnspecifiedDistribution) => streamParts(c)
          case _ => Int.MaxValue // EnsureRequirements will shuffle this slot conf-wide
        }.min
    }
  }

  /** Mutual k-NN graph: the undirected pairs where EACH endpoint
    * ranks the other inside its own top-k — the reciprocity filter
    * that turns a directed kNN list into the edge set density
    * clustering (DBSCAN-family), SemDeDup-style grouping and
    * hubness-robust retrieval all start from (an asymmetric "b is
    * near a" alone is exactly how hub vectors pollute neighbor
    * graphs: the hub ranks nobody back). Input is ANY direction-
    * ranked kNN frame `(query_id, neighbor_id, rank)` — exact
    * [[bruteForceTopK]] output at audit scale, [[lshTopK]]/IVF
    * output as the 100-TB path — so mutuality composes with every
    * ANN tier instead of hard-wiring one.
    *
    * Scale shape: ONE self-equi-join of the kNN edge list on the
    * reversed pair key — n·k rows a side, never the corpus — with
    * the `u < v` orientation cut deduplicating each undirected edge.
    * Output is integer-only (both ranks), so the gate needs no
    * float hedge.
    *
    * Both join sides read the SAME `knn` lineage, so an expensive
    * producer runs once per side unless the caller materializes it
    * first (q142 localCheckpoints its brute-force scorer). */
  def mutualKnn(knn: DataFrame): DataFrame = {
    val fwd = knn.filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("u"), col("neighbor_id").as("v"),
        col("rank").cast("long").as("rank_uv"))
    val rev = knn.filter(col("query_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("u"), col("query_id").as("v"),
        col("rank").cast("long").as("rank_vu"))
    fwd.join(rev, Seq("u", "v"))
      .select(col("u"), col("v"), col("rank_uv"), col("rank_vu"))
  }

  /** Margin-based candidate pair mining — the bitext/semantic-pair
    * criterion of Artetxe & Schwenk 2019 ("Margin-based Parallel
    * Corpus Mining with Multilingual Sentence Embeddings"): a raw
    * cosine is meaningless in hubby embedding spaces, so each
    * candidate similarity is RATIO-NORMALIZED by the average of both
    * endpoints' own k-NN neighborhoods —
    * `margin(a,b) = 2k·cos(a,b) / (Σ topk_B(a) + Σ topk_A(b))` —
    * and each left-side vector keeps only its best-margin partner
    * above `minMargin`.
    *
    * Input is ANY scored cross-side frame `(a_id, b_id, sim_raw)` —
    * an exact broadcast cross-score at audit scale, an LSH/IVF
    * candidate set at 100 TB — so the miner composes with every ANN
    * tier (same design as [[mutualKnn]]). Scale shape: two bounded
    * [[TopK.perGroup]] cuts (O(n·k) rows out of the scorer, never a
    * window over all scores), two fixed-point neighborhood sums, and
    * two id-keyed joins of O(n·k) frames. The sums quantize each sim
    * with `FLOOR(sim·10⁸)` into exact longs: floor of a double is
    * rounding-rule-free (a decimal CAST is not — Spark HALF_UP vs
    * DuckDB's banker's rounding flipped 6-dp margins on
    * half-boundary sims), so the order-insensitive integer sum and
    * the margin doubles derived from it are bit-identical across
    * engines. Requires ≥ k vectors per side so every neighborhood
    * has exactly k members (the ratio denominator).
    */
  def marginMine(scored: DataFrame, k: Int, minMargin: Double): DataFrame = {
    val fwd = TopK.perGroup(scored, "a_id", "b_id", "sim_raw", k)
      .select(col("a_id"), col("neighbor_id").as("b_id"), col("sim_raw"))
    val bwd = TopK.perGroup(
        scored.select(col("b_id"), col("a_id"), col("sim_raw")),
        "b_id", "a_id", "sim_raw", k)
      .select(col("b_id"), col("sim_raw"))
    val sumA = fwd.groupBy("a_id")
      .agg(sum(floor(col("sim_raw") * lit(1e8d)).cast("long")).as("nbr_a"))
    val sumB = bwd.groupBy("b_id")
      .agg(sum(floor(col("sim_raw") * lit(1e8d)).cast("long")).as("nbr_b"))
    val margins = fwd
      .join(sumA, "a_id").join(sumB, "b_id")
      .select(col("a_id"), col("b_id"), col("sim_raw"),
        (lit(2.0d * k) * col("sim_raw") * lit(1e8d) /
          (col("nbr_a") + col("nbr_b")).cast("double")).as("margin_raw"))
    val best = TopK.perGroup(margins, "a_id", "b_id", "margin_raw", 1)
      .select(col("a_id"), col("neighbor_id").as("b_id"),
        col("sim_raw").as("margin_raw"))
    best
      .join(margins.select("a_id", "b_id", "sim_raw"), Seq("a_id", "b_id"))
      .filter(col("margin_raw") >= minMargin)
      .select(col("a_id"), col("b_id"),
        round(col("sim_raw"), 6).as("sim"),
        round(col("margin_raw"), 6).as("margin"))
  }

  /** Sampled RECALL AUDIT of the LSH ANN path against exact ground
    * truth — the evaluation loop a production ANN deployment runs
    * continuously: approximate indexes silently lose recall as the
    * corpus drifts (bucket occupancy shifts, hot regions form), and
    * the audit is how that is caught before retrieval quality decays.
    * For each probe query: exact top-k (brute force over the corpus
    * — affordable because the PROBE SET is sampled-small, not the
    * corpus), the LSH top-k, and `n_hit / k` recall@k. Both inputs
    * are deterministic here, so the audit frame itself hash-gates —
    * the rare property that makes an ANN *quality metric* a
    * correctness gate. Queries with zero hits still emit (recall 0),
    * left-join completed.
    *
    * Scale shape: the exact side is one corpus scan × broadcast
    * probes with the bounded TopK cut; the LSH side is the indexed
    * path being audited; the comparison joins two O(probes × k)
    * frames. Cost scales with the probe sample, never the corpus². */
  def lshRecallAudit(corpus: DataFrame, queries: DataFrame, k: Int,
                     dim: Int, nPlanes: Int, nTables: Int,
                     idCol: String = "vec_id"): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k, idCol)
      .select(col("query_id"), col("neighbor_id"))
    val ann = lshAnn(corpus, queries, k, dim, nPlanes, nTables, idCol)
      .select(col("query_id").as("__aq"), col("neighbor_id").as("__an"))
    val hits = exact.join(ann,
        col("query_id") === col("__aq") && col("neighbor_id") === col("__an"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    // recall@k denominates by the GROUND-TRUTH size, not k: a probe
    // with fewer than k eligible neighbors (tiny corpus, filtered
    // stratum) can still score a perfect 1.0 instead of tripping a
    // recall gate spuriously.
    val truth = exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_truth"))
    queries.select(col(idCol).as("query_id"))
      .join(truth, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"),
        when(coalesce(col("n_truth"), lit(0L)) > 0L,
          coalesce(col("n_hit"), lit(0L)).cast("double") /
            col("n_truth").cast("double")).as("recall"))
  }

  /** k-NN LABEL-CONSISTENCY audit — the mislabel detector of the
    * confident-learning family: a point whose nearest neighbors
    * overwhelmingly carry a DIFFERENT label is either mislabeled or
    * sits on a class boundary, and both deserve review before
    * training. Per vector: its label, how many of its top-k cosine
    * neighbors agree, the exact ×10⁴ agreement fraction, and a
    * suspect flag below `suspectBelowE4`.
    *
    * Composable like [[mutualKnn]]: input is any ranked kNN frame —
    * exact [[bruteForceTopK]] at audit scale, LSH/IVF candidates at
    * 100 TB — joined twice against the id→label relation (both
    * joins O(n·k) row-sided). Deterministic inputs → the audit
    * hash-gates. */
  def labelConsistency(knn: DataFrame, labels: DataFrame, k: Int,
                       idCol: String = "vec_id", labelCol: String = "label",
                       suspectBelowE4: Long = 4000L): DataFrame = {
    val ql = labels.select(col(idCol).as("query_id"), col(labelCol).as("__ql"))
    val nl = labels.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl"))
    knn.select(col("query_id"), col("neighbor_id"))
      .join(ql, "query_id").join(nl, "neighbor_id")
      .groupBy(col("query_id"), col("__ql"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__ql") === col("__nl"), 1L).otherwise(0L)).as("n_same"))
      .withColumn("agree_e4",
        expr("CAST(n_same * 10000 DIV n_neighbors AS BIGINT)"))
      .select(col("query_id").as(idCol), col("__ql").as(labelCol),
        col("n_same"), col("n_neighbors"), col("agree_e4"),
        (col("agree_e4") < suspectBelowE4).as("suspect"))
  }

  /** MATRYOSHKA truncation-quality audit — "how much retrieval do I
    * lose if I keep only the first `dims` dimensions": the storage/
    * speed decision every MRL-style embedding deployment makes
    * (half the dims = half the index bytes and FLOPs), graded as
    * overlap@k between full-dimension exact top-k and
    * truncated-then-renormalized exact top-k. The sibling of
    * [[lshRecallAudit]] on the OTHER approximation axis: that one
    * audits indexing loss, this audits representation loss — the
    * combined budget is what production tunes.
    *
    * Deterministic inputs make the audit frame hash-gate; recall@k
    * denominates by ground-truth size (the lshRecallAudit rule) and
    * `recall_e4` is exact integer division. Scale shape: two
    * broadcast-probe corpus scans with bounded TopK cuts + one
    * O(probes·k) join. */
  def truncationAudit(corpus: DataFrame, queries: DataFrame, k: Int,
                      dims: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1, "dims must be positive")
    def sliced(df: DataFrame): DataFrame =
      df.select(col(idCol), slice(col(vecCol), 1, dims).as(vecCol))
    val exact = bruteForceTopK(corpus, queries, k, idCol)
      .select(col("query_id"), col("neighbor_id"))
    val trunc = bruteForceTopK(sliced(corpus), sliced(queries), k, idCol)
      .select(col("query_id").as("__tq"), col("neighbor_id").as("__tn"))
    val hits = exact.join(trunc,
        col("query_id") === col("__tq") && col("neighbor_id") === col("__tn"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    val truth = exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_truth"))
    queries.select(col(idCol).as("query_id"))
      .join(truth, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"))
      .withColumn("recall_e4",
        when(col("n_truth") > 0L,
          expr("CAST(n_hit * 10000 DIV n_truth AS BIGINT)")).otherwise(lit(0L)))
  }

  /** LATE-INTERACTION scoring (the ColBERT / MaxSim family): query
    * and document are BAGS of token vectors, and the pair score is
    * `Σ over query tokens of max over doc tokens of cos(qt, dt)` —
    * every query token finds its best-matching document token, so
    * partial topical overlap scores higher than single-vector cosine
    * allows. Here both sides' "token vectors" are the `nTok`
    * contiguous `subDim`-slices of the embedding column (the fixture
    * carries one vector per row; a real late-interaction corpus
    * stores per-token vectors and the operator is unchanged in
    * shape).
    *
    * Scale shape: queries broadcast, corpus scanned once with all
    * nTok slices and their norms precomputed in the same narrow
    * projection, the nTok×nTok cosine grid evaluated as a codegen'd
    * expression tree (`greatest` per query token, one left-to-right
    * sum — exactly replayable arithmetic: max is order-exact and
    * every add/div is correctly rounded, which is why a MaxSim gate
    * crosses engines while a softmax-style late interaction would
    * not), and the per-query top-k cut by the bounded [[TopK]]
    * aggregate. Precondition: no all-zero slice (a zero norm would
    * divide by zero); holds for real embedding output.
    *
    * At 100 TB this runs as the re-rank stage behind an ANN
    * shortlist (q107's two-stage shape) — MaxSim over the full
    * corpus is a research-cluster job, MaxSim over a shortlist is
    * the production serving shape. */
  def maxSimTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nTok: Int = 8, subDim: Int = 8, dim: Int = 64,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && nTok >= 1 && subDim >= 1, "k, nTok, subDim must be positive")
    // Out-of-range slices of a short vector would be EMPTY, giving
    // 0-norm tokens and 0/0 = NaN scores that silently poison the
    // top-k ordering — fail fast instead (the lshAnn dim contract).
    require(nTok * subDim <= dim,
      s"nTok*subDim = ${nTok * subDim} exceeds the declared dim $dim")
    def sliced(df: DataFrame, p: String, outId: String): DataFrame = {
      val v = asDouble(col(vecCol))
      val cols = (0 until nTok).flatMap { i =>
        val s = slice(v, i * subDim + 1, subDim)
        Seq(s.as(s"${p}v$i"), l2Norm(s).as(s"${p}n$i"))
      }
      df.select(col(idCol).as(outId) +: cols: _*)
    }
    val c = sliced(corpus, "c", "cand_id")
    val q = sliced(queries, "q", "query_id")
    val score = (0 until nTok).map { i =>
      val cosines = (0 until nTok).map { j =>
        cosinePrenormed(dot(col(s"qv$i"), col(s"cv$j")),
          col(s"qn$i"), col(s"cn$j"))
      }
      if (cosines.sizeIs == 1) cosines.head else greatest(cosines: _*)
    }.reduceLeft(_ + _)
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), score.as("sim_raw"))
    rankTopK(scored, k)
  }

  /** Contrastive TRIPLET MINING — the training-pair construction
    * step for embedding-model fine-tuning: for every anchor, the
    * single nearest SAME-label candidate (the positive) and the
    * `kNeg` highest-cosine DIFFERENT-label candidates (the hard
    * negatives — the near-misses that actually carry gradient, vs
    * random negatives a trained model already separates).
    *
    * One corpus scan: anchors broadcast, every candidate scored
    * once, and the (anchor, role) pair packed into a single group
    * key (`anchor*2 + role-bit`) so positives and negatives fall out
    * of ONE bounded [[TopK]] aggregate — each partition reduces to
    * ≤kNeg candidates per (anchor, role) before the exchange, the
    * same O(anchors × k) shuffle as [[bruteForceTopK]]. At corpus
    * scale the same composition runs behind an ANN shortlist
    * (q107's two-stage shape) instead of the full scan; the brute
    * pass here is the exact-oracle baseline. A null-label candidate
    * never label-matches, so it mines as a negative. */
  def tripletMine(corpus: DataFrame, anchors: DataFrame, kNeg: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    require(kNeg >= 1, "kNeg must be positive")
    val c = corpus.select(col(idCol), asDouble(col(vecCol)).as("vec"),
      l2Norm(asDouble(col(vecCol))).as("norm"), col(labelCol).as("__clabel"))
    val q = anchors.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qvec"),
      l2Norm(asDouble(col(vecCol))).as("qnorm"), col(labelCol).as("__qlabel"))
    val scored = c.join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("cand_id"),
        cosinePrenormed(dot(col("vec"), col("qvec")), col("norm"), col("qnorm"))
          .as("sim_raw"),
        coalesce(col("__clabel") === col("__qlabel"), lit(false)).as("is_pos"))
      .withColumn("gk",
        col("query_id") * 2L + when(col("is_pos"), lit(0L)).otherwise(lit(1L)))
    TopK.perGroup(scored, "gk", "cand_id", "sim_raw", kNeg)
      .select(
        shiftright(col("gk"), 1).as("query_id"),
        when(pmod(col("gk"), lit(2L)) === 0L, lit("pos")).otherwise(lit("neg"))
          .as("role"),
        col("rank").cast("long").as("rank"),
        col("neighbor_id"),
        round(col("sim_raw"), 6).as("sim"))
      .filter(col("role") === "neg" || col("rank") === 1L)
  }

  /** All pairs with cosine >= threshold (exact, self-join).
    * Quadratic — appropriate as ground truth and for bounded
    * partitions; the LSH variant below is the scale path. */
  def nearDupPairs(embeddings: DataFrame, threshold: Double,
                   idCol: String = "vec_id"): DataFrame = {
    val p = prepared(embeddings, idCol)
    // Streamed side pre-spread: the n²/2 scoring expansion runs inside
    // the streamed partitions (see [[bruteForceTopK]]), and this exact
    // path only ever runs on audit-scale corpora that may be one file.
    val a = spreadSmall(
      p.select(col(idCol).as("vec_a"), col("vec").as("va"), col("norm").as("na")))
    val b = p.select(col(idCol).as("vec_b"), col("vec").as("vb"), col("norm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim_raw", cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("sim_raw") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 6).as("sim"))
  }

  /** Size-guarded near-duplicate pairs: exact [[nearDupPairs]] for
    * corpora up to `maxExactRows`, [[nearDupPairsLsh]] above it —
    * the q22 `maxClusterIds` routing pattern applied to the one
    * remaining quadratic plan. The probe is a [[Bounded.fits]]
    * limited count (never a full count), so a 100 TB
    * corpus pays one cheap partial scan and routes to the bucketed
    * path; only a corpus that could actually afford the exact
    * self-join runs it. Both branches emit the same
    * (vec_a, vec_b, sim) schema; above the bound the result is the
    * LSH candidates' EXACT cosine refinement, so the only deviation
    * from ground truth is a missed pair at ~1e-10 probability (see
    * [[nearDupPairsLsh]]'s recall math).
    *
    * Default bound 16384: the exact path then evaluates at most
    * ~1.3e8 candidate pairs (n²/2) — seconds on a single executor
    * wave, and far below where the LSH path's recall trade becomes
    * worth it. */
  def nearDupPairsAuto(embeddings: DataFrame, threshold: Double, dim: Int,
                       nPlanes: Int = 6, nTables: Int = 16,
                       maxExactRows: Int = 16384,
                       idCol: String = "vec_id"): DataFrame = {
    if (Bounded.fits(embeddings, maxExactRows)) nearDupPairs(embeddings, threshold, idCol)
    else nearDupPairsLsh(embeddings, threshold, dim, nPlanes, nTables, idCol)
  }

  /** LSH-bucketed approximate nearest neighbor over `nTables`
    * independent random-hyperplane tables: each vector lands in one
    * bucket per table, a query scans the union of its buckets, and a
    * true neighbor is missed only if it hashes apart in EVERY table.
    * Deterministic (planes derive from md5) but approximate; recall
    * vs the exact q30 is pinned in SimilaritySpec. The corpus-side
    * explode multiplies the index by nTables — the standard LSH
    * memory-for-recall trade — while each probe still touches only
    * nTables buckets, not the corpus. */
  def lshAnn(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int, nPlanes: Int,
             nTables: Int = 8, idCol: String = "vec_id"): DataFrame = {
    val c = prepared(corpus, idCol)
      .select(col(idCol), col("vec"), col("norm"),
        explode(hyperplaneBuckets(col("vec"), dim, nPlanes, nTables)).as("tb"))
    val q = prepared(queries, idCol)
      .select(col(idCol).as("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"),
        explode(hyperplaneBuckets(col("vec"), dim, nPlanes, nTables)).as("tb"))
    // tb is a packed (table << 32 | bucket) long — a plain equi-join key.
    val scored = c.join(broadcast(q), Seq("tb"))
      .filter(col(idCol) =!= col("query_id"))
      // a pair colliding in several tables must score once, not once
      // per table
      .select(col("query_id"), col(idCol).as("cand_id"), col("vec"), col("norm"),
        col("qvec"), col("qnorm"))
      .dropDuplicates("query_id", "cand_id")
      .select(col("query_id"), col("cand_id"),
        cosinePrenormed(dot(col("vec"), col("qvec")), col("norm"), col("qnorm")).as("sim_raw"))
    rankTopK(scored, k)
  }

  /** LSH-bucketed near-duplicate pairs — the corpus-scale path for
    * which [[nearDupPairs]] is the quadratic ground truth: vectors
    * that share at least one hyperplane bucket in any of `nTables`
    * tables become candidate pairs, and only candidates pay the
    * exact cosine refinement. A true near-dup pair is missed only if
    * it splits in EVERY table: with 6 planes the per-table collision
    * rate is (1 - acos(sim)/pi)^6 — ~0.76 at sim = 0.99 (16-table
    * miss rate ~1e-10) and ~0.89 at sim ≈ 0.998 (miss < 1e-15) — so
    * recall is effectively total at the top of the near-dup band and
    * still ~1 - 1e-10 at the 0.99 threshold itself.
    *
    * Shuffle shape: the bucket self-join moves only (bucket, id)
    * pairs — never the vectors — and the refinement joins vectors
    * back by id, so the wide rows ride exactly two narrow equi-joins
    * instead of an nTables-times-exploded shuffle. Deterministic
    * end to end (md5-derived hyperplanes), so an oracle can replay
    * bucket membership exactly — q57 hash-gates it. */
  def nearDupPairsLsh(embeddings: DataFrame, threshold: Double,
                      dim: Int, nPlanes: Int = 6, nTables: Int = 16,
                      idCol: String = "vec_id"): DataFrame = {
    val prep = prepared(embeddings, idCol)
    val buck = prep.select(col(idCol),
      explode(hyperplaneBuckets(col("vec"), dim, nPlanes, nTables)).as("tb"))
    // A pair colliding in several tables must surface once: distinct
    // on the id pair before any vector is fetched.
    val cand = buck.select(col("tb"), col(idCol).as("vec_a"))
      .join(buck.select(col("tb"), col(idCol).as("vec_b")), Seq("tb"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    refinePairs(cand, prep, threshold, idCol)
  }

  /** Exact-cosine refinement of an ids-only `(vec_a, vec_b)`
    * candidate frame: vectors rejoin by id (two narrow equi-joins —
    * wide rows never ride the candidate shuffle), pairs below
    * `threshold` drop. Shared tail of every blocked/bucketed
    * near-dup path. */
  private def refinePairs(cand: DataFrame, prep: DataFrame, threshold: Double,
                          idCol: String): DataFrame = {
    val a = prep.select(col(idCol).as("vec_a"), col("vec").as("va"), col("norm").as("na"))
    val b = prep.select(col(idCol).as("vec_b"), col("vec").as("vb"), col("norm").as("nb"))
    cand.join(a, "vec_a").join(b, "vec_b")
      .withColumn("sim_raw", cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("sim_raw") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 6).as("sim"))
  }

  /** Semantic-blocked near-duplicate pairs — centroid blocking as
    * the third corpus-scale near-dup path beside the hyperplane-LSH
    * bucketing of [[nearDupPairsLsh]] (the SemDeDup recipe: cluster
    * the embedding space, compare only within clusters). Every
    * vector is assigned to its `nAssign` nearest of `nCentroids`
    * hash-seeded centroids with a map-side fold over the broadcast
    * centroid array — no window, no corpus shuffle — and only
    * same-block id pairs pay the exact cosine refinement.
    *
    * Recall: a pair is missed only if the two vectors share NONE of
    * their assigned blocks; `nAssign = 2` catches the
    * cluster-boundary pairs that top-1 assignment splits (the
    * multi-probe idea applied to indexing). Unlike the LSH path the
    * miss rate is data-dependent, not a hyperplane probability — the
    * SimilaritySpec pins full twin recall on the synthetic-near-dup
    * corpus and containment in the exact ground truth.
    *
    * Scale: block size ≈ nAssign·n/nCentroids, so the in-block
    * self-join is quadratic only in the block — size `nCentroids`
    * with the corpus (≈√n keeps total candidate work ≈ n·nAssign²·
    * n/nCentroids ≈ linear·√n); the candidate join moves ids only,
    * vectors rejoin by id ([[refinePairs]]). Deterministic
    * end-to-end (hash-seeded centroids, ordered tie-breaks), so an
    * oracle replays block membership exactly — q79 hash-gates it. */
  def semanticBlockedPairs(embeddings: DataFrame, threshold: Double,
                           nCentroids: Int = 16, nAssign: Int = 2,
                           idCol: String = "vec_id"): DataFrame = {
    require(nAssign == 1 || nAssign == 2, "nAssign must be 1 or 2")
    val c = prepared(embeddings, idCol)
    val centArr = centroidArray(c, nCentroids, idCol)
    // Top-2 centroids in one fold: a two-slot accumulator replayed
    // by the oracle's row_number(ORDER BY sim DESC, centroid_id).
    // Strict > everywhere + ascending centroid order in `cents`
    // means ties keep the earlier centroid, matching that ordering.
    val sentinel = struct(lit(Int.MaxValue).as("centroid_id"),
      lit(Double.NegativeInfinity).as("csim"))
    val assigned = c.crossJoin(broadcast(centArr))
      .withColumn("top2", aggregate(
        col("cents"),
        struct(sentinel.as("s1"), sentinel.as("s2")),
        (acc, cent) => {
          val s = cosinePrenormed(dot(col("vec"), cent("cvec")), col("norm"), cent("cnorm"))
          val cur = struct(cent("centroid_id").as("centroid_id"), s.as("csim"))
          when(s > acc("s1")("csim"), struct(cur.as("s1"), acc("s1").as("s2")))
            .when(s > acc("s2")("csim"), struct(acc("s1").as("s1"), cur.as("s2")))
            .otherwise(acc)
        }))
    val blockIds =
      if (nAssign == 1) array(col("top2.s1.centroid_id"))
      else array(col("top2.s1.centroid_id"), col("top2.s2.centroid_id"))
    // Block rows carry their vector and refine INLINE (r16): with k
    // ≪ √n hash-seeded blocks the id-pair candidate set is Σ n_c² ≈
    // n²·nAssign²/k pairs, and shuffling it through the
    // distinct-before-refine tail ([[refinePairs]]) was this
    // operator's whole cost (q79: ~34M id pairs through an exchange
    // vs ~33k fat rows here). Pairs stream through the codegen'd
    // cosine + threshold without ever shuffling; only survivors
    // (rare at 0.99) reach the distinct that collapses
    // duplicate-block hits — same emitted set, because `sim` is
    // deterministic per pair. Identical trade to
    // [[semanticBlockedPairsWithModel]], now shared.
    val blocks = assigned
      .select(col(idCol), col("vec"), col("norm"),
        explode(blockIds).as("cluster_id"))
      .filter(col("cluster_id") =!= lit(Int.MaxValue)) // unfilled slot (nCentroids < 2)
    inlineRefinedBlockPairs(blocks, threshold, idCol)
  }

  /** Salted inline-refined pairs within fat block rows
    * `(idCol, vec, norm, cluster_id)`: side A is salted by id hash
    * into `saltBuckets` slices and side B replicated across them, so
    * per-block work spreads over saltBuckets × k tasks instead of k
    * (the low-cardinality-key treatment); the cosine + threshold run
    * inside the join's codegen, and only surviving pairs reach the
    * distinct that collapses duplicate-block hits. Deterministic
    * (id-hash salt) — output-invariant. Shared tail of the semantic
    * blocking paths. */
  private def inlineRefinedBlockPairs(blocks0: DataFrame, threshold: Double,
                                      idCol: String, saltBuckets: Int = 8): DataFrame = {
    // Both join sides consume `blocks`, and Catalyst re-executes a
    // multi-consumer subtree once per consumer — here that subtree is
    // the whole upstream fit+assign (seed scan, broadcast fold,
    // explode). One eager localCheckpoint of the fat block rows
    // (n·nAssign rows) halves the upstream job count (r18 q79 probe).
    val blocks = blocks0.localCheckpoint(true)
    val a = blocks.select(col("cluster_id"),
      pmod(xxhash64(col(idCol)), lit(saltBuckets)).as("salt"),
      col(idCol).as("vec_a"), col("vec").as("va"), col("norm").as("na"))
    val b = blocks.select(col("cluster_id"), explode(
        sequence(lit(0L), lit(saltBuckets - 1L))).as("salt"),
      col(idCol).as("vec_b"), col("vec").as("vb"), col("norm").as("nb"))
    a.join(b, Seq("cluster_id", "salt"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim_raw", cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("sim_raw") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 6).as("sim"))
      .distinct()
  }

  /** [[semanticBlockedPairs]] with TRAINED centroids — the full
    * SemDeDup recipe: block by a fitted [[Clustering.KMeansModel]]
    * (Lloyd-refined clusters follow the density of the embedding
    * space, so blocks are tighter and boundary splits rarer than
    * with the hash seeds) and pay exact cosine refinement only
    * inside blocks. Assignment is the model's own squared-Euclidean
    * metric, each vector routed to its `nAssign` nearest centroids
    * via one per-row sort of k plan-literal (dist, cid) structs —
    * lexicographic struct order IS the `ORDER BY dist, cluster_id`
    * rule, so an oracle replays block membership exactly (q84
    * hash-gates it end-to-end, training included). Same candidate
    * and refinement tail as the other blocked paths: only same-block
    * id pairs shuffle, vectors rejoin by id ([[refinePairs]]). */
  def semanticBlockedPairsWithModel(embeddings: DataFrame, threshold: Double,
                                    model: Clustering.KMeansModel, nAssign: Int = 2,
                                    idCol: String = "vec_id"): DataFrame = {
    require(nAssign >= 1, "nAssign must be >= 1")
    // `v`/`vv` aliases satisfy [[Clustering.distStructs]]'s frame
    // contract — the ONE copy of the distance expression, shared with
    // the trainer so the metric can never drift between fit and use.
    val c = prepared(embeddings, idCol)
      .withColumn("vv", dot(col("vec"), col("vec")))
    val dists = Clustering.distStructs(model.toCentroids)
    // Block rows carry their vector: the within-block self-join
    // verifies INLINE (dot + threshold inside the join) instead of
    // materializing an id-pair candidate set. The id-pair tail
    // ([[refinePairs]]) shuffles every candidate pair through a
    // distinct before refining — with k ≪ √n blocks (q84's k = 8 over
    // ~14k vectors ⇒ ~46M candidate pairs) that distinct IS the
    // query's cost, and at production k = √n the within-block pair
    // count Σ n_c² ≈ n^1.5 still dwarfs the n·nAssign·dim fat rows
    // this shape shuffles instead. Pairs stream through the codegen'd
    // cosine + filter without ever shuffling; only survivors (rare at
    // 0.99) reach the distinct that collapses duplicate-cluster hits.
    // `sim` is deterministic per pair, so distinct-after-refine emits
    // exactly the rows the distinct-before-refine plan did.
    val blocks = c
      .withColumn("v", col("vec"))
      .select(col(idCol), col("vec"), col("norm"),
        explode(slice(array_sort(array(dists: _*)), 1, nAssign)).as("a"))
      .select(col(idCol), col("vec"), col("norm"), col("a.cid").as("cluster_id"))
    inlineRefinedBlockPairs(blocks, threshold, idCol)
  }

  /** One-row frame holding the broadcastable centroid array `cents`
    * for a prepared corpus: `nCentroids` hash-selected seed vectors,
    * numbered by their (hash, id) sort position.
    *
    * Deterministic "training": seeds are picked by id hash with
    * `orderBy(...).limit(n)` — a global top-n via per-partition
    * partial limits. Numbering happens WITHOUT a window: the seeds
    * are about to be collected into one broadcastable array anyway,
    * so sort that array (struct order = cid asc, id asc — (cid, id)
    * is unique, deeper fields never compared) and let the array
    * index BE the centroid id. Removes the unpartitioned WindowExec
    * entirely (row_number().over(orderBy(...)) moved the — bounded,
    * but warning-spamming — seed set to a single partition; a
    * partitionBy(lit(0)) declaration gets constant-folded away). */
  private def centroidArray(c: DataFrame, nCentroids: Int, idCol: String): DataFrame =
    c.withColumn("cid", pmod(col(idCol) * 2654435761L, lit(1000000007L)))
      .orderBy(col("cid"), col(idCol))
      .limit(nCentroids)
      .agg(sort_array(collect_list(
        struct(col("cid"), col(idCol), col("vec"), col("norm")))).as("seedArr"))
      .select(transform(col("seedArr"), (s, i) =>
        struct(
          (i + 1).as("centroid_id"),
          s.getField("vec").as("cvec"),
          s.getField("norm").as("cnorm"))).as("cents"))

  /** Nearest-centroid assignment of a prepared frame against the
    * one-row broadcast centroid array: a fold over `cents` inside a
    * projection (max cosine, ties to the smaller centroid id) — the
    * corpus never shuffles. Shared by [[ivfAnn]] and the incremental
    * [[ivfIndex]]/[[ivfMergeDelta]] maintenance path. */
  private def assignToCentroids(c: DataFrame, centArr: DataFrame,
                                idCol: String): DataFrame =
    c.crossJoin(broadcast(centArr))
      .withColumn("best", aggregate(
        col("cents"),
        struct(lit(Int.MaxValue).as("centroid_id"), lit(Double.NegativeInfinity).as("csim")),
        (acc, cent) => {
          val s = cosinePrenormed(dot(col("vec"), cent("cvec")), col("norm"), cent("cnorm"))
          when(s > acc("csim") ||
               (s === acc("csim") && cent("centroid_id") < acc("centroid_id")),
            struct(cent("centroid_id").as("centroid_id"), s.as("csim")))
            .otherwise(acc)
        }))
      .select(col(idCol), col("vec"), col("norm"), col("best.centroid_id").as("centroid_id"))

  /** Query-side probe + inverted-list scoring tail shared by
    * [[ivfAnn]] (self-built assignment) and [[ivfAnnWithIndex]]
    * (externally maintained assignment): queries rank the broadcast
    * centroids and keep their `nProbe` closest lists; candidates
    * score only within probed lists. */
  private def probeAndScore(cAssigned: DataFrame, centArr: DataFrame,
                            queries: DataFrame, k: Int, nProbe: Int,
                            idCol: String): DataFrame =
    probeAndScoreRaw(cAssigned, centArr, queries, k, nProbe, idCol)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim_raw"), 6).as("sim"))

  /** Query-side probe + inverted-list scoring tail, ending at the
    * bounded per-query top-k with RAW sims — [[probeAndScore]] adds
    * the presentation round; [[ivfServeSharded]] calls this directly
    * so the round is applied ONCE, after the cross-shard merge. */
  private def probeAndScoreRaw(cAssigned: DataFrame, centArr: DataFrame,
                               queries: DataFrame, k: Int, nProbe: Int,
                               idCol: String): DataFrame = {
    // Row form of the same centroids, for the query-side probe join.
    val centroids = centArr
      .select(explode(col("cents")).as("c"))
      .select(col("c.centroid_id").as("centroid_id"),
        col("c.cvec").as("cvec"), col("c.cnorm").as("cnorm"))
    // Queries probe their nProbe nearest centroids; the window runs
    // over queries × nCentroids rows only (queries are few).
    val q = prepared(queries, idCol).withColumnRenamed(idCol, "query_id")
    val qScored = q.join(broadcast(centroids), lit(true))
      .withColumn("csim", cosinePrenormed(dot(col("vec"), col("cvec")), col("norm"), col("cnorm")))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("centroid_id").asc)
    val qAssigned = qScored
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"), col("centroid_id"))

    val scored = cAssigned.join(broadcast(qAssigned), Seq("centroid_id"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("cand_id"),
        cosinePrenormed(dot(col("vec"), col("qvec")), col("norm"), col("qnorm")).as("sim_raw"))
    TopK.perGroup(scored, "query_id", "cand_id", "sim_raw", k)
  }

  /** IVF-style ANN: corpus is assigned to the nearest of `nCentroids`
    * deterministic seed centroids (hash-selected corpus vectors);
    * queries probe their `nProbe` closest centroids. Classic
    * inverted-file layout: the corpus is partitioned by centroid id,
    * so a query touches ~nProbe/nCentroids of the data.
    *
    * Centroid selection is `orderBy(...).limit(n)` — a global top-n
    * via per-partition partial limits — and corpus assignment is a
    * fold over the broadcast centroid array inside a projection, so
    * no step ever moves the corpus into a single partition (the old
    * unpartitioned-Window form did exactly that). */
  def ivfAnn(corpus: DataFrame, queries: DataFrame, k: Int,
             nCentroids: Int, nProbe: Int,
             idCol: String = "vec_id"): DataFrame = {
    val c = prepared(corpus, idCol)
    val centArr = centroidArray(c, nCentroids, idCol)
    probeAndScore(assignToCentroids(c, centArr, idCol), centArr,
      queries, k, nProbe, idCol)
  }

  /** IVF ANN serving over an EXTERNALLY MAINTAINED index — the
    * query half of the incremental-maintenance loop ([[ivfIndex]] /
    * [[ivfMergeDelta]]): the `(id, centroid_id)` index frame (e.g. a
    * merged standing+delta table) attaches to the vector table BY ID
    * — assignment is never recomputed at query time, which is the
    * point of maintaining the index — and queries probe the same
    * frozen `centroids` model the index was built under. Results
    * over a merged index are identical to [[ivfAnn]] rebuilt from
    * scratch under the same frozen centroids (assignment
    * determinism; q237 gates exactly this equality). */
  def ivfAnnWithIndex(corpus: DataFrame, index: DataFrame, centroids: DataFrame,
                      queries: DataFrame, k: Int, nProbe: Int,
                      idCol: String = "vec_id"): DataFrame =
    probeAndScore(prepared(corpus, idCol).join(index, Seq(idCol)),
      centroids, queries, k, nProbe, idCol)

  /** Frozen IVF centroid model of a corpus (the one-row broadcastable
    * `cents` array of [[ivfAnn]]'s deterministic hash-selected
    * seeds) — the reusable artifact the incremental maintenance path
    * assigns against. Fit ONCE on the standing corpus; [[ivfIndex]]
    * and [[ivfMergeDelta]] take it as a parameter precisely so a
    * delta can be folded in WITHOUT refit. */
  def ivfCentroids(corpus: DataFrame, nCentroids: Int,
                   idCol: String = "vec_id"): DataFrame =
    centroidArray(prepared(corpus, idCol), nCentroids, idCol)

  /** Inverted-file index frame `(id, centroid_id)` of `vectors`
    * under a FROZEN centroid model — one broadcast-fold projection,
    * no shuffle, no refit. */
  def ivfIndex(vectors: DataFrame, centroids: DataFrame,
               idCol: String = "vec_id"): DataFrame =
    assignToCentroids(prepared(vectors, idCol), centroids, idCol)
      .select(col(idCol), col("centroid_id"))

  /** Incremental ANN index maintenance (r17, the vector-tier
    * analogue of q81's delta ingest): merge a DELTA of new vectors
    * into an existing IVF index without refitting the centroids —
    * the daily shape of a production vector store, where rebuilding
    * the index over the full corpus for every arrival batch is the
    * wrong asymptotic entirely.
    *
    * The standing `index` frame is appended UNTOUCHED (no
    * recompute, no shuffle of standing rows — at 100 TB it is a
    * parquet table that simply gains a partition); only the delta
    * pays assignment, as a stateless broadcast-fold projection
    * against the frozen model, which also makes this deployable on
    * an unbounded vector STREAM (fit once in batch, score every
    * arriving row unchanged). Equivalent by construction
    * to re-indexing standing ∪ delta under the same frozen model
    * (spec-pinned), because assignment is deterministic per row.
    * The PQ twin needs no new operator: `Quantization.encodePq`
    * already encodes a delta under frozen codebooks; union the
    * encoded frames the same way. Periodic refit when drift
    * accumulates is a POLICY above this operator (compare
    * [[Clustering.fit]] inertia on a sample), not part of the merge. */
  def ivfMergeDelta(index: DataFrame, delta: DataFrame, centroids: DataFrame,
                    idCol: String = "vec_id"): DataFrame =
    index.unionByName(ivfIndex(delta, centroids, idCol))

  /** SHARDED IVF ANN serving (r18) — the documented escape hatch of
    * [[ivfServeBroadcast]]'s fit guard made concrete: when the
    * standing index outgrows one executor-resident broadcast, split
    * it into `nShards` disjoint centroid groups (a deterministic
    * hash of `centroid_id` — whole inverted lists never straddle
    * shards), serve each shard independently (any per-shard
    * mechanism; here the declarative [[ivfAnnWithIndex]] join over
    * the shard's sub-index), and MERGE by re-ranking the union of
    * per-shard top-k under the same (sim DESC, id ASC) rule. Exact
    * by construction: each global top-k member is its own shard's
    * top-≤k, so the union contains the global top-k and the merge
    * re-rank recovers it — q243 gates merged ≡ single-index against
    * q237's oracle. At 1000 executors each shard is a broadcast-
    * sized sub-index and queries fan out nShards ways; the merge
    * moves only queries × k × nShards narrow rows. */
  def ivfServeSharded(corpus: DataFrame, index: DataFrame, centroids: DataFrame,
                      queries: DataFrame, k: Int, nProbe: Int, nShards: Int,
                      idCol: String = "vec_id"): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val shardOf = pmod(xxhash64(col("centroid_id")), lit(nShards))
    val served = (0 until nShards).map { sh =>
      val shardIdx = index.filter(shardOf === sh)
      // Probe the FULL frozen centroid model (probe selection must
      // see every centroid — only the scored lists are sharded).
      probeAndScoreRaw(prepared(corpus, idCol).join(shardIdx, Seq(idCol)),
        centroids, queries, k, nProbe, idCol)
    }.reduce(_ unionByName _)
    // Merge re-rank over the bounded union (queries × k × nShards).
    rankTopK(served.select(col("query_id"), col("neighbor_id").as("cand_id"),
      col("sim_raw")), k)
  }

  /** IVF ANN serving as a STATELESS broadcast probe (r18, the serve
    * half of the fit-batch/score-stream convention — the vector-tier
    * sibling of [[Dedup.corpusTriageScored]]): the indexed corpus
    * (vectors + frozen assignments, e.g. [[ivfMergeDelta]] output)
    * and the frozen centroid model are collected under a fail-fast
    * fit guard, packed into flat primitive arrays grouped by
    * inverted list, and broadcast once per executor; each QUERY row
    * — batch frame or unbounded stream, this is one projection with
    * no state store, no stream-side shuffle, no watermark — probes
    * its `nProbe` nearest centroids and scores only those lists.
    *
    * Bit-parity with [[ivfAnnWithIndex]] (q240 gates it against
    * q237's oracle): centroid scores and candidate similarities use
    * the same left-to-right double accumulation as the codegen
    * [[graft.functions.HashOps.dot]], the same `dot/(norm·cnorm)`
    * operand order, the same (csim DESC, centroid_id ASC) probe
    * rule and (sim DESC, cand_id ASC) top-k rule; the final 6-dp
    * round is applied as the same Column `round` outside the kernel.
    *
    * At 100 TB the standing index outgrows broadcast — the guard
    * fails fast and the honest deployments are the sharded-serve
    * (partition queries × index shards, merge top-k) or the batch
    * [[ivfAnnWithIndex]] join; this kernel targets the serving-tier
    * sizes where one executor-resident index is the right trade
    * (the HNSW/FAISS single-node serving assumption). */
  def ivfServeBroadcast(corpus: DataFrame, index: DataFrame, centroids: DataFrame,
                        queries: DataFrame, k: Int, nProbe: Int,
                        idCol: String = "vec_id",
                        maxFitRows: Int = 262144): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be positive")
    val indexed = prepared(corpus, idCol).join(index, Seq(idCol))
    require(Bounded.fits(indexed, maxFitRows),
      s"ivfServeBroadcast: indexed corpus exceeds $maxFitRows rows — serve " +
        "sharded (partition queries × index shards, merge top-k) or use the " +
        "batch ivfAnnWithIndex join")
    // Row form of the frozen model: (centroid_id, cvec, cnorm).
    val centRows = centroids
      .select(explode(col("cents")).as("c"))
      .select(col("c.centroid_id"), col("c.cvec"), col("c.cnorm"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    // Inverted lists packed per centroid: ids, norms, flat vectors.
    val byCent = indexed.select(col("centroid_id"), col(idCol), col("vec"), col("norm"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cid, rows) =>
        val n = rows.length
        val d = if (n == 0) 0 else rows(0).getSeq[Double](2).length
        val ids = new Array[Long](n)
        val norms = new Array[Double](n)
        val flat = new Array[Double](n * d)
        var i = 0
        while (i < n) {
          ids(i) = rows(i).getLong(1)
          norms(i) = rows(i).getDouble(3)
          val v = rows(i).getSeq[Double](2)
          var j = 0
          while (j < d) { flat(i * d + j) = v(j); j += 1 }
          i += 1
        }
        cid -> (ids, norms, flat, d)
      }
    val bc = corpus.sparkSession.sparkContext.broadcast((centRows, byCent))
    val probe = udf { (queryId: Long, vec: scala.collection.Seq[Double], norm: Double) =>
      if (vec == null) Array.empty[(Long, Double)]
      else {
        val (cents, lists) = bc.value
        val q = vec.toArray
        // Orderings use java.lang.Double.compare, NOT primitive `>`:
        // Spark's double sort order places NaN greatest (a zero-norm
        // vector yields NaN sims), and a primitive comparison would
        // silently drop NaN candidates the declarative route keeps —
        // the bit-parity contract covers that edge too (r18 review).
        // nProbe nearest centroids: csim DESC, centroid_id ASC —
        // cents is id-sorted, so a strictly-greater insertion keeps
        // the tie rule.
        val nFill = math.min(nProbe, cents.length)
        val pIds = new Array[Int](nFill)
        val pSims = Array.fill(nFill)(Double.NegativeInfinity)
        var pUsed = 0
        cents.foreach { case (cid, cvec, cnorm) =>
          var acc = 0.0d
          var i = 0
          while (i < cvec.length) { acc += q(i) * cvec(i); i += 1 }
          val csim = acc / (norm * cnorm)
          var pos = math.min(pUsed, nFill)
          while (pos > 0 && java.lang.Double.compare(csim, pSims(pos - 1)) > 0) pos -= 1
          if (pos < nFill) {
            var m = nFill - 1
            while (m > pos) { pSims(m) = pSims(m - 1); pIds(m) = pIds(m - 1); m -= 1 }
            pSims(pos) = csim; pIds(pos) = cid
            if (pUsed < nFill) pUsed += 1
          }
        }
        // Exact top-k over the probed lists: sim DESC, cand_id ASC.
        val topS = Array.fill(k)(Double.NegativeInfinity)
        val topId = Array.fill(k)(Long.MaxValue)
        var used = 0
        pIds.take(pUsed).foreach { cid =>
          lists.get(cid).foreach { case (ids, norms, flat, d) =>
            var i = 0
            while (i < ids.length) {
              if (ids(i) != queryId) {
                var acc = 0.0d
                var j = 0
                val off = i * d
                while (j < d) { acc += q(j) * flat(off + j); j += 1 }
                val s = acc / (norm * norms(i))
                var pos = math.min(used, k)
                while (pos > 0 && {
                  val c = java.lang.Double.compare(s, topS(pos - 1))
                  c > 0 || (c == 0 && ids(i) < topId(pos - 1))
                }) pos -= 1
                if (pos < k) {
                  var m = k - 1
                  while (m > pos) { topS(m) = topS(m - 1); topId(m) = topId(m - 1); m -= 1 }
                  topS(pos) = s; topId(pos) = ids(i)
                  if (used < k) used += 1
                }
              }
              i += 1
            }
          }
        }
        topS.zip(topId).take(used).map { case (s, id) => (id, s) }
      }
    }
    val q = prepared(queries, idCol).withColumnRenamed(idCol, "query_id")
    q.select(col("query_id"),
        posexplode(probe(col("query_id"), col("vec"), col("norm"))))
      .select(col("query_id"), col("col._1").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("col._2"), 6).as("sim"))
  }

  /** One MMR selection: `(rank, id, relevance, mmr_score)`. */
  final case class MmrPick(rank: Int, id: Long, relevance: Double, mmrScore: Double)

  /** Maximal-marginal-relevance diversification (Carbonell &
    * Goldstein 1998) — the re-rank-for-diversity tail of the
    * retrieval tier (shortlist → exact re-rank [q107] → fuse [q116]
    * → DIVERSIFY): greedily pick k results maximizing
    * `λ·sim(q, d) − (1−λ)·max_{s∈picked} sim(d, s)`, ties by id.
    * λ = 1 degenerates to plain relevance ranking (spec-pinned);
    * lower λ trades relevance for novelty — the dedup instinct
    * applied to result lists.
    *
    * Scale/execution contract: greedy selection is inherently
    * sequential in k, so this runs on a COLLECTED shortlist — the
    * caller bounds it (`maxShortlist` guard, the collectModel
    * convention), and the distributed work is the shortlist
    * construction ([[bruteForceTopK]]/`Quantization.adcTopK`)
    * upstream. Spec-gated (TextRank.bm25TopK precedent): the greedy
    * trace is not SQL-expressible, so parity is pinned against an
    * independent in-test reference, not a DuckDB oracle. */
  def mmrSelect(shortlist: DataFrame, queryVec: Seq[Double], k: Int,
                lambda: Double = 0.7, maxShortlist: Int = 1024,
                idCol: String = "vec_id", vecCol: String = "embedding"): Seq[MmrPick] = {
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val rows = Bounded.collectOrFail(
      shortlist.select(col(idCol).cast("long"), asDouble(col(vecCol))), maxShortlist)(
      s"mmrSelect shortlist exceeds $maxShortlist rows — diversification is " +
        "O(k·n) driver work by design; shrink the shortlist upstream")
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0d; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val q = queryVec.toArray
    val qn = math.sqrt(dotA(q, q))
    val cands = rows.map { r =>
      val v = r.getSeq[Double](1).toArray
      (r.getLong(0), v, math.sqrt(dotA(v, v)))
    }.sortBy(_._1)
    val rel = cands.map { case (id, v, n) => id -> dotA(v, q) / (n * qn) }.toMap
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
    val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
    var remaining = cands.toBuffer
    while (out.length < k && remaining.nonEmpty) {
      val (id, v, n) = remaining.minBy { case (cid, cv, cn) =>
        val nov = if (picked.isEmpty) 0.0d
          else picked.map { case (_, pv, pn) => dotA(cv, pv) / (cn * pn) }.max
        (-(lambda * rel(cid) - (1.0d - lambda) * nov), cid)
      }
      val nov = if (picked.isEmpty) 0.0d
        else picked.map { case (_, pv, pn) => dotA(v, pv) / (n * pn) }.max
      out += MmrPick(out.length + 1, id, rel(id), lambda * rel(id) - (1.0d - lambda) * nov)
      picked += ((id, v, n))
      remaining = remaining.filterNot(_._1 == id)
    }
    out.toSeq
  }

  /** k-center coreset by farthest-point sampling (the 2-approximation
    * greedy for the k-center objective; Gonzalez 1985) — the
    * DIVERSITY selector next to the similarity family: iteratively
    * pick the point FARTHEST (max-min squared L2) from everything
    * selected so far, from a deterministic seed (minimum id), ties →
    * smaller id. The selection is a pure function of the corpus, so
    * the oracle replays it as k unrolled (distance → argmax) CTE
    * rounds and the gate hashes the trajectory: d² is spelled
    * `naa − 2·dot + nbb` with precomputed self-dots (the q30
    * bit-stable recipe — identical expression trees both engines),
    * and each round's min-distance column is a LEAST chain whose
    * value is selection-order independent (IEEE min over NaN-free
    * values).
    *
    * Scale shape: each round is ONE corpus scan against the k
    * already-picked centers as LITERAL vectors (no join, no
    * shuffle) plus a top-1 cut; only the argmax row (1 row/round) is
    * collected — bounded driver state, the kmeans/PQ fit precedent.
    * k scans for k picks; the corpus never shuffles and never holds
    * the k·n distance matrix. */
  def kCenterCoreset(corpus: DataFrame, k: Int,
                     idCol: String = "vec_id"): DataFrame = {
    require(k >= 1 && k <= 256, "k must be in [1, 256]")
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val p = corpus.select(col(idCol), asDouble(col("embedding")).as("v"))
      .withColumn("naa", dot(col("v"), col("v")))
    def d2To(vec: Array[Double], naa: Double): org.apache.spark.sql.Column =
      col("naa") - lit(2.0d) * dot(col("v"), typedLit(vec.toSeq)) + lit(naa)
    val first = p.orderBy(col(idCol)).limit(1)
      .select(col(idCol), col("v"), col("naa")).collect()
    if (first.isEmpty) return Seq.empty[(Long, Long, Option[Double])]
      .toDF("rank", idCol, "d2_at_pick")
    var centers = List((first.head.getLong(0),
      first.head.getSeq[Double](1).toArray, first.head.getDouble(2)))
    val picks = scala.collection.mutable.ArrayBuffer(
      (1L, centers.head._1, Option.empty[Double]))
    var i = 2
    while (i <= k) {
      val md = centers.map { case (_, cv, cn) => d2To(cv, cn) }
        .reduce((a, b) => least(a, b))
      val sel = p.filter(!col(idCol).isin(centers.map(_._1): _*))
        .withColumn("__md", md)
        .orderBy(col("__md").desc, col(idCol))
        .limit(1)
        .select(col(idCol), col("v"), col("naa"), col("__md"))
        .collect()
      if (sel.isEmpty) i = k + 1
      else {
        val r = sel.head
        centers = (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)) :: centers
        picks += ((i.toLong, r.getLong(0), Some(r.getDouble(3))))
        i += 1
      }
    }
    picks.toSeq.map { case (rk, id, d) => (rk, id, d) }
      .toDF("rank", idCol, "__d")
      .select(col("rank"), col(idCol), round(col("__d"), 6).as("d2_at_pick"))
      .orderBy("rank")
  }

  /** Graph-ANN beam search — the navigable-small-world probe shape
    * (HNSW's layer-0 walk) next to the LSH/IVF/PQ family: FIT builds
    * a k-NN neighbor graph once (each node → its `m` best cosine
    * neighbors, exact under the size guard; at corpus scale feed the
    * same top-m cut of LSH/IVF candidate pairs — the graph build is
    * the fit step, the walk never changes), PROBE walks it with a
    * width-`beam` best-first search from a deterministic entry point
    * (the minimum id): each hop expands the beam's out-neighbors,
    * scores ONLY those ≤ beam·m + beam candidates against the query,
    * and keeps the `beam` best by (sim DESC, id) — after `hops`
    * bounded hops the final candidate pool ranks into top-`k`. No
    * visited-set (a deliberate simplification from HNSW's ef-search:
    * the walk is a pure function of (graph, entry, query), which is
    * what makes it expressible as `hops` unrolled CTEs and
    * hash-gateable).
    *
    * Scale shape: the FIT is size-guarded (the [[nearDupPairsAuto]]
    * discipline — at corpus scale substitute LSH/IVF candidate
    * pairs); the PROBE is HNSW's own serving shape: graph (n·m ids)
    * and vectors broadcast to executors, QUERIES partitioned across
    * tasks, each walk a per-row kernel — millions of queries scale
    * out linearly and nothing shuffles. Beam quality vs exact top-k
    * is pinned as recall in SimilaritySpec, the q32/q33 discipline
    * for approximate paths. */
  def graphAnnBeam(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                   m: Int = 8, beam: Int = 4, hops: Int = 3,
                   idCol: String = "vec_id",
                   maxFitRows: Int = 16384): DataFrame = {
    require(m >= 1 && beam >= 1 && hops >= 1 && k >= 1,
      "m, beam, hops, k must be positive")
    require(Bounded.fits(corpus, maxFitRows),
      s"graphAnnBeam: corpus exceeds $maxFitRows rows — build the neighbor " +
        "graph from LSH/IVF candidate pairs upstream and pass it explicitly")
    val c = prepared(corpus, idCol)
    // FIT: exact per-node top-m neighbor list, materialized once.
    // The guard bounds the fit corpus, so it collects into one flat
    // primitive array (≤ maxFitRows·dim doubles, ~8 MB at the cap —
    // the kmeans/PQ bounded-model-state precedent) and broadcasts;
    // each task then scores its rows against the array in a tight
    // double[] loop with an insertion top-m, same (sim DESC, id ASC)
    // tie rule as the oracle's row_number. The declarative
    // alternative — broadcast nested-loop join into the top-k
    // aggregator — pays ~100 ns/pair of join/aggregator machinery on
    // the n² pair stream (measured 2.6-3.4 s end-to-end at sf0.1,
    // 25M pairs); the kernel is the same arithmetic with none of it.
    val fitRows = spreadSmall(c).collect()
    val nFit = fitRows.length
    val fitIds = new Array[Long](nFit)
    val fitNorms = new Array[Double](nFit)
    val fitDim = if (nFit == 0) 0 else fitRows(0).getSeq[Double](1).length
    val fitFlat = new Array[Double](nFit * fitDim)
    locally {
      var r = 0
      while (r < nFit) {
        fitIds(r) = fitRows(r).getLong(0)
        fitNorms(r) = fitRows(r).getDouble(2)
        val v = fitRows(r).getSeq[Double](1)
        var dd = 0
        while (dd < fitDim) { fitFlat(r * fitDim + dd) = v(dd); dd += 1 }
        r += 1
      }
    }
    val bc = corpus.sparkSession.sparkContext
      .broadcast((fitIds, fitNorms, fitFlat, fitDim))
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val adj = spreadSmall(c).mapPartitions { rows =>
      val (bIds, bNorms, bFlat, d) = bc.value
      val nn = bIds.length
      rows.flatMap { row =>
        val i = row.getLong(0)
        val v = row.getSeq[Double](1).toArray
        val nrm = row.getDouble(2)
        val topS = Array.fill(m)(Double.NegativeInfinity)
        val topJ = Array.fill(m)(Long.MaxValue)
        var jj = 0
        while (jj < nn) {
          if (bIds(jj) != i) {
            var acc = 0.0d
            var kk = 0
            val off = jj * d
            while (kk < d) { acc += v(kk) * bFlat(off + kk); kk += 1 }
            val s = acc / (nrm * bNorms(jj))
            var pos = m
            while (pos > 0 && (s > topS(pos - 1) ||
              (s == topS(pos - 1) && bIds(jj) < topJ(pos - 1)))) pos -= 1
            if (pos < m) {
              var mv = m - 1
              while (mv > pos) {
                topS(mv) = topS(mv - 1); topJ(mv) = topJ(mv - 1); mv -= 1
              }
              topS(pos) = s; topJ(pos) = bIds(jj)
            }
          }
          jj += 1
        }
        (0 until m).iterator
          .filter(x => topS(x) != Double.NegativeInfinity)
          .map(x => (i, topJ(x)))
      }
    }.toDF("__i", "__j")
    // PROBE: HNSW's serving shape — graph and vectors ride to the
    // executors (the graph is n·m ids, bounded by the fit guard; an
    // in-memory graph is HNSW's own serving assumption), QUERIES
    // partition across tasks, and each query's whole walk runs in
    // one tight kernel. The declarative alternative (per-hop
    // broadcast frontier joins + rank windows) is semantically
    // identical but schedules ~4 jobs per hop — measured 2.0-3.0 s
    // of pure job-count floor at sf0.1 vs ~0.7 s for this shape.
    // Millions of queries scale out linearly; the walk never
    // shuffles anything.
    val adjPairs = adj.as[(Long, Long)].collect()
    val idxOf = new java.util.HashMap[Long, Int](nFit * 2)
    locally {
      var r = 0
      while (r < nFit) { idxOf.put(fitIds(r), r); r += 1 }
    }
    val adjIdx = Array.fill(nFit)(Array.empty[Int])
    locally {
      val grouped = adjPairs.groupBy(_._1)
      for ((i, ps) <- grouped; ii = idxOf.get(i))
        adjIdx(ii) = ps.map(p => idxOf.get(p._2).intValue()).toArray
    }
    val entryIdx = if (nFit == 0) -1 else {
      var best = 0
      var r = 1
      while (r < nFit) { if (fitIds(r) < fitIds(best)) best = r; r += 1 }
      best
    }
    val bcAdj = corpus.sparkSession.sparkContext.broadcast((adjIdx, entryIdx))
    val qPrepared = prepared(queries, idCol)
    qPrepared.mapPartitions { rows =>
      val (bIds, bNorms, bFlat, d) = bc.value
      val (bAdj, bEntry) = bcAdj.value
      rows.flatMap { row =>
        val qid = row.getLong(0)
        val qv = row.getSeq[Double](1).toArray
        val qn = row.getDouble(2)
        def score(ix: Int): Double = {
          var acc = 0.0d
          var kk = 0
          val off = ix * d
          while (kk < d) { acc += bFlat(off + kk) * qv(kk); kk += 1 }
          acc / (bNorms(ix) * qn)
        }
        if (bEntry < 0) Iterator.empty
        else {
          var beamIdx = Array(bEntry)
          var lastScoredPool: Array[(Double, Int)] = null
          for (_ <- 1 to hops) {
            val cand = new java.util.TreeSet[Integer]()
            beamIdx.foreach { b => cand.add(b); bAdj(b).foreach(cand.add(_)) }
            val it = cand.iterator()
            val pool = new Array[(Double, Int)](cand.size())
            var w = 0
            while (it.hasNext) { val ix = it.next(); pool(w) = (score(ix), ix); w += 1 }
            // (sim DESC, id ASC) — the oracle's row_number order.
            val sorted = pool.sortBy { case (s, ix) => (-s, bIds(ix)) }
            lastScoredPool = sorted
            beamIdx = sorted.take(beam).map(_._2)
          }
          lastScoredPool.iterator
            .filter { case (_, ix) => bIds(ix) != qid }
            .take(k)
            .zipWithIndex
            .map { case ((s, ix), r0) => (qid, bIds(ix), (r0 + 1).toLong, s) }
        }
      }
    }.toDF("query_id", "neighbor_id", "rank", "__s")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__s"), 6).as("sim"))
  }

  /** Pluggable CROSS-ENCODER seam (r16) — the reranking boundary
    * where a production retrieval stack calls a (query, document)
    * scoring model on the first stage's short-list: the
    * [[graft.operators.Qc.Transcriber]] pattern applied to retrieval.
    * The engine owns candidate generation (ANN tiers), the text
    * join-back, and the bounded top-k; the model is injected. */
  trait CrossEncoder extends Serializable {
    def score(query: String, doc: String): Double
  }

  /** Deterministic lexical stand-in for the cross-encoder boundary
    * (the declared-mock convention of the Transcriber/ViNormalize
    * seams): distinct-unigram overlap F1 = 2·|Q∩D| / (|Q|+|D|),
    * e9-truncated so the score is an exact integer in disguise and
    * the whole rerank hash-gates cross-engine. A real deployment
    * swaps in a model-backed encoder; the plan is identical. */
  object LexicalOverlapEncoder extends CrossEncoder {
    override def score(query: String, doc: String): Double = {
      val q = query.split(' ').iterator.filter(_.nonEmpty).toSet
      val d = doc.split(' ').iterator.filter(_.nonEmpty).toSet
      if (q.isEmpty || d.isEmpty) 0.0
      else math.floor(2.0e9 * (q & d).size / (q.size + d.size)) / 1e9
    }
  }

  /** Rerank a first-stage candidate short-list with a [[CrossEncoder]]:
    * texts rejoin by id (two narrow equi-joins — the candidate frame
    * moves ids only, the [[refinePairs]] discipline), every
    * (query, candidate) pair is scored in one projection, and the
    * per-query top-k cut is the bounded [[TopK]] partial aggregate —
    * the exchange moves O(queries × k) rows no matter the short-list
    * width. Scale note: cross-encoder inference is O(pairs) model
    * calls, which is exactly why it only ever sees the short-list —
    * the ANN tiers exist to keep `candidates` at queries × kShort.
    * Ties break (score desc, cand_id asc), the q30 rank convention. */
  def crossEncoderRerank(candidates: DataFrame, texts: DataFrame,
                         encoder: CrossEncoder, k: Int,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val scoreUdf = udf((q: String, d: String) =>
      if (q == null || d == null) 0.0 else encoder.score(q, d))
    val qt = texts.select(col(idCol).as("query_id"), col(textCol).as("__qtext"))
    val ct = texts.select(col(idCol).as("cand_id"), col(textCol).as("__ctext"))
    val scored = candidates.select("query_id", "cand_id")
      .join(qt, "query_id")
      .join(ct, "cand_id")
      .select(col("query_id"), col("cand_id"),
        scoreUdf(col("__qtext"), col("__ctext")).as("sim_raw"))
    TopK.perGroup(scored, "query_id", "cand_id", "sim_raw", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("sim_raw").as("score"))
  }

  /** Cross-encoder DISTILLATION labels (r18 growth — the Margin-MSE
    * recipe of Hofstätter et al. 2020 / RocketQA's teacher-label
    * pass): rerank the first-stage short-list with the TEACHER
    * [[CrossEncoder]], take its top-1 as the positive and the next
    * `nNeg` as hard negatives, and emit one training triple per
    * (query, positive, negative) with the teacher's score margin —
    * the label file a student bi-encoder distills from. The margin
    * is exact when the encoder's scores are (like
    * [[LexicalOverlapEncoder]]'s e9-floored F1) integers in
    * disguise. The positive attaches to each negative row with ONE
    * window (`first` over the teacher rank, keyed like the top-k
    * aggregate so no extra exchange) — a pos/neg self-join
    * formulation would re-execute the whole retrieve+rerank subtree
    * per side or pay a checkpoint cut. */
  def crossEncoderDistillLabels(candidates: DataFrame, texts: DataFrame,
                                encoder: CrossEncoder, nNeg: Int,
                                idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame = {
    require(nNeg >= 1, "nNeg must be >= 1")
    val reranked = crossEncoderRerank(candidates, texts, encoder, k = nNeg + 1,
        idCol, textCol)
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    reranked
      .withColumn("pos_id", first(col("neighbor_id")).over(w))
      .withColumn("__pos_score", first(col("score")).over(w))
      .filter(col("rank") > 1)
      .select(col("query_id"), col("pos_id"), col("neighbor_id").as("neg_id"),
        (col("rank") - 1).cast("long").as("neg_rank"),
        (col("__pos_score") - col("score")).as("margin"))
  }
}
