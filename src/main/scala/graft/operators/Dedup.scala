package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, TextFunctions}

/** Document deduplication operators for large-scale corpus curation:
  * exact, MinHash+LSH, SimHash, and an exact set-similarity join.
  *
  * Scale design (the point of each choice):
  *  - Signatures (minhash/simhash/fingerprints) are computed with
  *    per-row codegen'd kernels over the token array — one narrow
  *    projection, zero shuffles, embarrassingly parallel.
  *  - Identical-set collapse first, always: every pairwise algorithm
  *    runs over distinct-set representatives, and ONE aggregate
  *    feeds signatures, candidates, verification, and member
  *    expansion, so the corpus scan happens once.
  *  - LSH banding turns the quadratic all-pairs problem into an
  *    equi-join on band keys — the only shuffle is hash-partitioned
  *    by band key, and Catalyst/AQE handle skewed buckets.
  *  - The exact similarity join picks its physical strategy from
  *    probed data statistics: a popcount bitmask nested-loop when
  *    the vocabulary fits in 64 bits (prefix filtering degenerates
  *    there), PPJoin-style prefix + positional filtering with exact
  *    verification otherwise.
  */
object Dedup {

  /** EDIT-DISTANCE near-dup join with prefix blocking — the fuzzy
    * tier below the set-similarity family: Jaccard/MinHash see BAGS
    * of tokens (reordering is free), Levenshtein sees the exact
    * character sequence, which is what catches OCR noise, typo'd
    * re-posts and template fills the set view calls identical-or-
    * unrelated. Candidates come from record-linkage PREFIX BLOCKING
    * (equal first-`blockTokens`-words key — a deterministic,
    * SQL-replayable block), verification is both engines' native
    * `levenshtein` capped at `maxEdits`. Emits `(doc_a, doc_b,
    * edits)` per surviving pair.
    *
    * Scale shape: one equi-self-join on the block key — candidates
    * are quadratic PER BLOCK only, the standard record-linkage
    * trade, and a boilerplate prefix (every doc opening with the
    * same 8 words) would silently run n²: the in-plan census guard
    * fails fast past `maxBlockSize` instead. Recall is the blocking
    * trade, also standard: an edit INSIDE the prefix moves the pair
    * out of the block — callers needing edit-anywhere recall union a
    * second pass blocked on a suffix or length key. */
  def editDistanceNearDup(docs: DataFrame, maxEdits: Int,
                          blockTokens: Int = 8, maxBlockSize: Long = 4096L,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxEdits >= 0, "maxEdits must be nonnegative")
    require(blockTokens >= 1, "blockTokens must be >= 1")
    require(maxBlockSize >= 2, "maxBlockSize must be >= 2")
    val keyed = docs.select(col(idCol), col(textCol),
      array_join(slice(TextFunctions.tokens(col(textCol)), 1, blockTokens), " ")
        .as("__blk"))
    val guard = keyed.groupBy(col("__blk")).agg(count(lit(1)).as("__bn"))
      .withColumn("__bn",
        when(col("__bn") <= maxBlockSize, col("__bn"))
          .otherwise(raise_error(concat(
            lit(s"editDistanceNearDup: a prefix block exceeds $maxBlockSize docs"),
            lit(" - raise blockTokens or pre-collapse exact duplicates")))
            .cast("long")))
    // The filter keeps `__bn` REFERENCED: an unused guard column
    // would be pruned by Catalyst and the raise_error silently
    // optimized away (counts are >= 1, so the predicate never drops
    // a row — it exists to force the guard's evaluation).
    val blocked = keyed.join(guard, "__blk").filter(col("__bn") >= 1L)
    // Streamed side pre-spread (see [[Similarity.spreadSmall]]): the
    // per-pair levenshtein runs inside the streamed partitions of the
    // broadcast block-join, and an audit-scale corpus that arrives as
    // one parquet file would run every verification on one core.
    val a = Similarity.spreadSmall(
      blocked.select(col("__blk").as("__blk_a"), col(idCol).as("doc_a"),
        col(textCol).as("__ta")))
    val b = blocked.select(col("__blk").as("__blk_b"), col(idCol).as("doc_b"),
      col(textCol).as("__tb"))
    // Predicate ORDER is load-bearing: the id orientation and the
    // O(1) length prune (|len(a) − len(b)| > maxEdits already
    // implies distance > maxEdits) sit IN the join condition, so the
    // hash join emits each unordered pair once and pre-pruned —
    // stacked .filter()s used to merge with the orientation check
    // LAST, running the ~0.4 ms/call levenshtein on BOTH
    // orientations of every candidate (measured 4× the total time).
    val joined = a.join(b,
      col("__blk_a") === col("__blk_b") &&
        col("doc_a") < col("doc_b") &&
        abs(length(col("__ta")) - length(col("__tb"))) <= maxEdits)
    // Trimmed banded kernel ([[GraftFunctions.bounded_levenshtein]]):
    // candidates out of a blocking join are near-IDENTICAL strings,
    // and the builtin's band walks both FULL strings even when they
    // differ only in a short suffix — the kernel trims the shared
    // prefix/suffix first so the DP runs over the edit region only
    // (bit-compatible with the builtin, differential-pinned; bails
    // to -1 past the cap like the builtin's threshold overload).
    // The explode(array(..)) generator is a deliberate PUSHDOWN
    // BARRIER: a plain filter on a projected `edits` alias gets
    // substituted back into the join condition, evaluating the
    // levenshtein twice per pair (condition + projection); a
    // predicate on generator output cannot push below its Generate,
    // so the distance runs exactly once per emitted pair.
    joined
      .select(col("doc_a"), col("doc_b"),
        explode(array(GraftFunctions.bounded_levenshtein(
          col("__ta"), col("__tb"), maxEdits).cast("long"))).as("edits"))
      .filter(col("edits") >= 0L)
  }

  /** Exact dedup by order-invariant content fingerprint: survivors =
    * min doc id per canonical token-set fingerprint. */
  def exactByFingerprint(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), TextFunctions.canonicalFingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Cross-source duplication matrix: for every pair of sources, the
    * number of distinct content fingerprints both contain — the
    * curation diagnostic behind "which crawls re-crawl each other"
    * (run before [[exactByFingerprint]] collapses them, its per-pair
    * attribution is gone after).
    *
    * Scale shape: one shuffle builds the distinct `(fp, source)`
    * relation — map-side combine collapses same-partition repeats
    * first — then the fp self-join emits at most `sources²/2` pairs
    * PER FINGERPRINT (bounded by source cardinality, not by how many
    * documents share the fingerprint: a million-copy template costs
    * the same rows as a two-copy one), and the final aggregate has at
    * most `sources²/2` keys. Source here is crawl/domain-CLASS
    * granularity (tens to thousands); at per-domain granularity
    * (millions) the same shape works but the pair count is
    * `pairs-of-domains-actually-sharing`, and a hot-fp cap like
    * [[lshCandidates]]' would be the guard to add. */
  def crossSourceDupMatrix(docs: DataFrame, srcCol: String = "source",
                           textCol: String = "text"): DataFrame = {
    val d = docs
      .select(TextFunctions.canonicalFingerprint(col(textCol)).as("fp"), col(srcCol))
      .distinct()
    d.as("a").join(d.as("b"),
        col("a.fp") === col("b.fp") && col(s"a.$srcCol") < col(s"b.$srcCol"))
      .select(col(s"a.$srcCol").as("src_a"), col(s"b.$srcCol").as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** MinHash signature (array of k minima) per document — one
    * projection, no shuffle, one md5 per token (codegen'd
    * [[graft.functions.MinHashSig]]; the earlier column-tree form
    * recomputed the interpreted md5 up to k times per token). */
  def minhashSignatures(docs: DataFrame, k: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      GraftFunctions.minhash_sig(TextFunctions.tokens(col(textCol)), k).as("sig"))

  /** Hot-band bound used by [[nearDupComponents]]: a band at the cap
    * contributes at most ~maxBandSize²/2 ≈ 5×10⁵ pairs (the last
    * all-pairs band) and every band beyond it only maxBandSize-1
    * star pairs — per-band work is bounded no matter how templated
    * the corpus. NOT the default for the pair-level APIs
    * ([[lshCandidates]]/[[minhashNearDupPairs]]): their contract is
    * "all pairs above threshold", and a silent cap would degrade
    * completeness without opt-in — the cap is something a caller
    * chooses. */
  val DefaultMaxBandSize = 1024

  /** LSH candidate pairs from banded minhash signatures.
    * `bands * rowsPerBand` must equal the signature length. The
    * result is distinct (docA < docB) pairs that collide in at least
    * one band.
    *
    * Band keys are `xxhash64(band_idx, sig_slice)` — an 8-byte join
    * key instead of a ~300-byte stringified band. A 64-bit hash
    * collision between different bands can only ADD a candidate
    * pair, and every candidate is exactly verified downstream, so
    * recall and output are unaffected.
    *
    * Hot-band guard (OPT-IN via `maxBandSize`; default uncapped so
    * the "all colliding pairs" contract holds exactly): identical-set
    * collapse upstream removes exact duplicates, but a cluster of
    * NEAR-identical documents (templated pages differing by a token)
    * still shares bands, and the band self-join is quadratic in band
    * size — AQE can split a skewed partition but cannot reduce the
    * pair count. With a cap set, bands larger than `maxBandSize`
    * switch from all-pairs to STAR pairs: (band-min id, member)
    * only — O(m) pairs per band instead of O(m²), while keeping
    * every member of the hot band connected to one representative,
    * so component-style dedup (collapse the cluster, keep one) still
    * sees the whole cluster ([[nearDupComponents]] opts in with
    * [[DefaultMaxBandSize]] for exactly this reason). The recall
    * trade, deterministic and documented like `maxClusterIds`: a
    * non-star pair (b,c) inside a hot band surfaces only if some
    * OTHER band ≤ the cap contains it, so "all pairs above
    * threshold" completeness degrades to "all members reachable from
    * the band representative" within hot bands. When capped, the
    * band-frequency probe is a window count over the same hash
    * partitioning the self-join needs anyway — no extra shuffle of
    * the banded rows; uncapped, no window runs at all. */
  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                    idCol: String = "doc_id",
                    maxBandSize: Int = Int.MaxValue): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
    }
    val exploded = sigs.select(col(idCol), explode(array(bandKeys: _*)).as("band"))
    if (maxBandSize == Int.MaxValue) {
      // Uncapped (default, exact): no band-frequency window at all —
      // the plan is the plain band self-join.
      exploded.as("a")
        .join(exploded.as("b"),
          col("a.band") === col("b.band") && col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
        .distinct()
    } else {
      val w = Window.partitionBy("band")
      val banded = exploded
        .select(col(idCol), col("band"),
          count(lit(1)).over(w).as("bf"), min(col(idCol)).over(w).as("band_min"))
      val cool = banded.filter(col("bf") <= maxBandSize)
      val a = cool.as("a")
      val b = cool.as("b")
      val allPairs = a
        .join(b, col("a.band") === col("b.band") && col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      // band_min is the band's minimum, so band_min < id already holds
      // for every non-representative member — pair order is canonical
      // without least/greatest.
      val starPairs = banded
        .filter(col("bf") > maxBandSize && col(idCol) =!= col("band_min"))
        .select(col("band_min").as("doc_a"), col(idCol).as("doc_b"))
      allPairs.unionByName(starPairs).distinct()
    }
  }

  /** Identical-token-set collapse: one representative row per
    * distinct set. Real corpora (and this one) contain large
    * clusters of exact duplicates; running any pairwise algorithm on
    * members instead of set-representatives multiplies every
    * downstream cost by the squared cluster size.
    *
    * One row per fp carrying the min member id, sorted distinct
    * tokens, set size, AND the sorted member-id array — everything
    * downstream (signatures, prefix build, verification, member
    * expansion) consumes this single aggregate, so the scan +
    * fingerprint projection runs once and Spark's ReuseExchange
    * dedupes the one shuffle across all consumers. The earlier
    * (members, reps) pair re-ran the scan per members branch.
    *
    * Scale bound: the `ids` array buffers one duplicate cluster's
    * member ids in a single row (~8 MB per million members). Fine up
    * to clusters of ~10⁷; a corpus where ONE identical document
    * recurs hundreds of millions of times needs the id list kept as
    * rows (join-based expansion) instead — that shape trades two
    * extra scans for unbounded cluster size.
    * [[jaccardSimilarityJoin]] exposes that switch as
    * `maxClusterIds`: when its cluster-size probe exceeds the bound,
    * the pipeline collapses without the ids array and expands member
    * pairs through [[expandPairsViaJoin]]. */
  def collapseIdentical(docs: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    collapse(docs, idCol, textCol, withIds = true)

  /** [[collapseIdentical]] without the member-id array: state per
    * group is O(doc size), never O(cluster size) — the collapse shape
    * for corpora with unbounded duplicate clusters. Member ids stay
    * as (fp, id) rows ([[memberRows]]) and pair expansion joins them
    * back ([[expandPairsViaJoin]]). */
  private def collapseIdenticalNoIds(docs: DataFrame,
                                     idCol: String, textCol: String): DataFrame =
    collapse(docs, idCol, textCol, withIds = false)

  /** Single source of truth for both collapse shapes — the
    * projection and grouping MUST stay identical between them or the
    * maxClusterIds path silently computes pairs over a different
    * fingerprint/token definition than the default path. */
  private def collapse(docs: DataFrame, idCol: String, textCol: String,
                       withIds: Boolean): DataFrame = {
    val aggs =
      Seq(min(col(idCol)).as(idCol), first(col("toks")).as("toks")) ++
        (if (withIds) Seq(sort_array(collect_list(col(idCol))).as("ids")) else Nil)
    docs.select(
        col(idCol),
        TextFunctions.canonicalFingerprint(col(textCol)).as("fp"),
        array_sort(array_distinct(TextFunctions.tokens(col(textCol)))).as("toks"))
      .groupBy(col("fp"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("n_toks", size(col("toks")))
  }

  /** One (fp, member id) row per input document — the row-form id
    * list the join-based expansion consumes. A second scan of the
    * input by design: that is the trade that removes the per-cluster
    * array bound. */
  private def memberRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      TextFunctions.canonicalFingerprint(col(textCol)).as("fp"),
      col(idCol).as("mid"))

  /** Expand verified representative pairs back to member pairs:
    * within-group pairs (identical sets, Jaccard exactly 1.0) plus
    * cross-group pairs (every member combination of a verified rep
    * pair inherits its Jaccard — identical sets have identical
    * similarity to everything). Generate-only within expansion
    * (chained explodes) and broadcastable id-array joins for the
    * cross channel; output cardinality is the answer's own size,
    * never an intermediate blow-up. */
  private def expandPairs(reps: DataFrame, repPairs: DataFrame): DataFrame = {
    val within = reps
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0d).as("jaccard"))
    val cross = repPairs
      .join(reps.select(col("fp").as("fp_a"), col("ids").as("ids_a")), "fp_a")
      .join(reps.select(col("fp").as("fp_b"), col("ids").as("ids_b")), "fp_b")
      .select(explode(col("ids_a")).as("id_a"), col("ids_b"), col("jaccard"))
      .select(col("id_a"), explode(col("ids_b")).as("id_b"), col("jaccard"))
      .select(
        least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"),
        col("jaccard"))
    within.unionByName(cross)
  }

  /** [[expandPairs]] with member ids as rows instead of arrays: the
    * within channel is a per-cluster self-join on fp and the cross
    * channel joins each side of a verified rep pair to its member
    * rows. Output cardinality is identical to [[expandPairs]] (the
    * answer's own size); no single row ever holds a cluster, so
    * cluster size is unbounded. Costs two joins more than the array
    * form — that is the trade, and why it is the fallback strategy
    * rather than the default. */
  private def expandPairsViaJoin(members: DataFrame, repPairs: DataFrame): DataFrame = {
    val x = members.as("x")
    val y = members.as("y")
    val within = x.join(y, col("x.fp") === col("y.fp") && col("x.mid") < col("y.mid"))
      .select(col("x.mid").as("doc_a"), col("y.mid").as("doc_b"), lit(1.0d).as("jaccard"))
    val cross = repPairs
      .join(members.select(col("fp").as("fp_a"), col("mid").as("id_a")), "fp_a")
      .join(members.select(col("fp").as("fp_b"), col("mid").as("id_b")), "fp_b")
      .select(
        least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"),
        col("jaccard"))
    within.unionByName(cross)
  }

  /** SAMPLED recall audit of the MinHash-LSH candidate stage against
    * exact Jaccard ground truth — the text-dedup sibling of
    * [[Similarity.lshRecallAudit]], and the evaluation loop a
    * production dedup deployment runs continuously: banding recall
    * is a FUNCTION OF THE CORPUS's similarity distribution (the
    * S-curve only promises asymptotics), so the honest number comes
    * from replaying both stages on a sample and counting. Per
    * 0.1-wide Jaccard bucket at or above `threshold`: how many true
    * pairs exist, how many the banding surfaced, and their ratio —
    * the curve that tells you whether (bands, rowsPerBand) still fit
    * the corpus. Both stages are deterministic md5 machinery, so the
    * audit frame itself hash-gates (the q127 property).
    *
    * Scale shape: run it on a SAMPLE (the caller filters) — the
    * exact side is the audit's cost, and sampling is what makes a
    * recall estimate affordable, exactly as q127's ANN audit probes
    * sampled queries. Both stages then join on the pair key and
    * reduce to at most 10 bucket rows. */
  def minhashRecallAudit(docs: DataFrame, threshold: Double,
                         bands: Int, rowsPerBand: Int,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val exact = jaccardSimilarityJoin(docs, threshold, idCol, textCol)
    val sigs = minhashSignatures(docs, bands * rowsPerBand, idCol, textCol)
    val cands = lshCandidates(sigs, bands, rowsPerBand, idCol)
      .withColumn("__f", lit(1L))
    exact.join(cands, Seq("doc_a", "doc_b"), "left")
      .groupBy(floor(col("jaccard") * 10d).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("__f")), lit(0L)).as("n_found"))
      .withColumn("recall",
        col("n_found").cast("double") / col("n_true").cast("double"))
  }

  /** MinHash+LSH near-duplicate pairs, exactly verified at
    * `threshold`, over identical-set collapsed representatives.
    *
    * Candidates are the union of two channels:
    *  - LSH banding over rep signatures — banding must be tuned to
    *    the threshold (S-curve midpoint ≈ (1/bands)^(1/rowsPerBand));
    *    the default bands=2 × rowsPerBand=32 targets t≈0.99, where a
    *    moderately-similar s=0.9 pair collides with only p≈0.067, so
    *    the candidate set stays near-linear.
    *  - the same-fingerprint channel, which catches exact duplicates
    *    with probability 1 — the dominant duplicate class never
    *    depends on banding probability at all (and is expanded
    *    directly with Jaccard 1.0, skipping verification).
    */
  def minhashNearDupPairs(docs: DataFrame, threshold: Double,
                          bands: Int = 2, rowsPerBand: Int = 32,
                          idCol: String = "doc_id", textCol: String = "text",
                          maxBandSize: Int = Int.MaxValue): DataFrame = {
    val reps = collapseIdentical(docs, idCol, textCol)
    val sigs = reps.select(col("fp"), GraftFunctions.minhash_sig(col("toks"), bands * rowsPerBand).as("sig"))
      .withColumnRenamed("fp", idCol) // band on fp: the rep's identity IS its set
    val cands = lshCandidates(sigs, bands, rowsPerBand, idCol, maxBandSize)
      .select(col("doc_a").as("fp_a"), col("doc_b").as("fp_b"))
    val verified = verifyJaccardByFp(cands, reps, threshold)
    expandPairs(reps, verified)
  }

  /** Verify candidate (fp_a, fp_b) pairs against rep token sets. No
    * forced broadcast: reps scales with distinct-set count, so the
    * right plan depends on the corpus — AQE converts these joins to
    * broadcast at runtime when the measured rep size is small (it is
    * at every test SF), and falls back to shuffle joins when a 100 TB
    * corpus makes reps executor-sized. */
  private def verifyJaccardByFp(candidates: DataFrame, reps: DataFrame,
                                threshold: Double): DataFrame =
    candidates
      .join(reps.select(col("fp").as("fp_a"), col("toks").as("toks_a"), col("n_toks").as("n_a")), "fp_a")
      .join(reps.select(col("fp").as("fp_b"), col("toks").as("toks_b"), col("n_toks").as("n_b")), "fp_b")
      .withColumn("ov", GraftFunctions.sorted_intersect_count(col("toks_a"), col("toks_b")))
      .withColumn("jaccard_raw", col("ov") / (col("n_a") + col("n_b") - col("ov")))
      .filter(col("jaccard_raw") >= threshold && col("jaccard_raw") < 1.0d)
      .select(col("fp_a"), col("fp_b"), (floor(col("jaccard_raw") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("jaccard"))

  /** Incremental ingestion triage: classify a SMALL new batch
    * (`delta`, e.g. today's crawl) against the standing corpus as
    * `exact` (same canonical token set as some corpus doc), `near`
    * (Jaccard ≥ threshold with some corpus doc), or `accepted` —
    * with the best matching corpus id and quantized similarity. The
    * direction every production dedup actually runs daily: the
    * corpus is orders of magnitude larger than the batch, so
    * corpus-vs-corpus machinery (q22/q21) is the wrong shape.
    *
    * Scale contract: THE CORPUS IS NEVER SHUFFLED. Every corpus-side
    * step is a scan projection joined against BROADCAST delta
    * structures — fingerprints for the exact tier; PPJoin-style
    * lexicographic prefixes (slice of the already-sorted distinct
    * token array: no frequency aggregate, any common total order
    * satisfies the prefix theorem) with length-window + positional
    * filters for the near tier; candidates verified exactly via
    * [[graft.functions.SortedIntersectCount]] on the token arrays.
    * Only candidate ids and per-delta aggregates shuffle, all
    * bounded by the (small) delta and its match counts. A delta that
    * exceeds `maxBroadcastDelta` (probed, never assumed) drops the
    * broadcast hints and the same joins run shuffled — correct at
    * any size, just no longer corpus-shuffle-free. */
  def deltaIngest(corpus: DataFrame, delta: DataFrame, threshold: Double,
                  idCol: String = "doc_id", textCol: String = "text",
                  maxBroadcastDelta: Int = 1 << 20): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0, "threshold must be in (0, 1)")
    // Contract guard, probed not assumed (the q31/q22 routing rule):
    // a "delta" above maxBroadcastDelta rows stops being broadcast
    // material. The tiers then run as ordinary shuffled equi-joins —
    // the corpus pays its shuffle and the no-corpus-shuffle contract
    // degrades gracefully instead of OOMing an executor on a
    // corpus-sized broadcast. The probe is a bounded limited scan —
    // but it RE-EXECUTES the delta's lineage (the broadcast later
    // executes it again): a caller whose delta is an expensive
    // derived frame (not a plain scan) should .persist() or
    // materialize it before calling, or the derivation runs twice.
    val parts = deltaNearParts(corpus, delta, threshold, idCol, textCol, maxBroadcastDelta)
    import parts.{dPrep, cPrep, candidates}
    def b(df: DataFrame): DataFrame = if (parts.smallDelta) broadcast(df) else df

    // Exact tier: corpus fingerprints against the broadcast delta's.
    val exact = corpus
      .select(col(idCol).as("match_id"), TextFunctions.canonicalFingerprint(col(textCol)).as("fp"))
      .join(b(dPrep.select(col("dn_id"), col("fp"))), Seq("fp"))
      .groupBy(col("dn_id")).agg(min(col("match_id")).as("exact_match_id"))

    // Exact verification: token arrays rejoin by id. The candidate
    // set is bounded by the delta's MATCH COUNTS, not the delta
    // itself (one templated delta doc can near-match an unbounded
    // slice of the corpus), so it gets NO forced broadcast — AQE
    // converts the join to broadcast at runtime when the candidates
    // are actually small, and falls back to a shuffle instead of a
    // driver OOM when they are not. The delta side stays hinted.
    val verified = cPrep.join(candidates, Seq("cn_id"))
      .join(b(dPrep.select(col("dn_id"), col("dtoks"), col("dn"))), Seq("dn_id"))
      .withColumn("ov", GraftFunctions.sorted_intersect_count(col("ctoks"), col("dtoks")))
      .withColumn("jr", col("ov") / (col("cn") + col("dn") - col("ov")))
      .filter(col("jr") >= threshold)
    val best = verified
      .groupBy(col("dn_id"))
      .agg(max(struct(col("jr"), (-col("cn_id")).as("negid"))).as("b"))
      .select(col("dn_id"), col("b.jr").as("best_jr"), (-col("b.negid")).as("near_match_id"))

    // Both attachment frames are delta-bounded (≤ one row per delta
    // doc), so broadcast is correct by the op's own contract — and
    // keeps the whole plan exchange-free on the corpus lineage.
    delta.select(col(idCol).as("dn_id"))
      .join(b(exact), Seq("dn_id"), "left")
      .join(b(best), Seq("dn_id"), "left")
      .select(col("dn_id").as(idCol),
        when(col("exact_match_id").isNotNull, lit("exact"))
          .when(col("near_match_id").isNotNull, lit("near"))
          .otherwise(lit("accepted")).as("status"),
        coalesce(col("exact_match_id"), col("near_match_id")).as("match_id"),
        when(col("exact_match_id").isNotNull, lit(1.0d))
          .when(col("near_match_id").isNotNull,
            floor(col("best_jr") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("jaccard"))
  }

  /** [[deltaIngest]]'s shared prep frames and near-tier candidate
    * stage (pure code motion) — CandidateLinearitySpec counts
    * `candidates` with the production plan. */
  private[graft] final case class DeltaParts(smallDelta: Boolean, dPrep: DataFrame,
                                             cPrep: DataFrame, candidates: DataFrame)

  private[graft] def deltaNearParts(corpus: DataFrame, delta: DataFrame, threshold: Double,
                                    idCol: String, textCol: String,
                                    maxBroadcastDelta: Int): DeltaParts = {
    val smallDelta = Bounded.fits(delta, maxBroadcastDelta)
    def b(df: DataFrame): DataFrame = if (smallDelta) broadcast(df) else df
    val toksOf = array_sort(array_distinct(TextFunctions.tokens(col(textCol))))
    val dPrep = delta.select(col(idCol).as("dn_id"), toksOf.as("dtoks"),
      size(toksOf).as("dn"), TextFunctions.canonicalFingerprint(col(textCol)).as("fp"))
    val cPrep = corpus.select(col(idCol).as("cn_id"), toksOf.as("ctoks"), size(toksOf).as("cn"))

    // Near tier, candidates: prefix tokens (n - ceil(t*n) + 1
    // lexicographically-smallest) of each side must intersect for a
    // qualifying pair; hash join key (collisions only ADD candidates,
    // verification is exact), length window, and the q22 positional
    // bound prune the rest.
    // Every float prune carries the alpha-style 1e-9 slack: t*n that
    // lands one ULP ABOVE an exact integer boundary (e.g. 0.55*100 =
    // 55.000000000000007) would otherwise shorten the prefix by one
    // and fail the length window for a pair whose exact Jaccard
    // equals the threshold — a dropped qualifying pair that the
    // exact verification downstream can never resurrect. Slack only
    // ever ADDS candidates, and verification is exact.
    def prefixed(prep: DataFrame, id: String, n: String, toks: String): DataFrame =
      prep.select(col(id), col(n),
          posexplode(slice(col(toks), lit(1),
            (col(n) - ceil(lit(threshold) * col(n) - lit(1e-9)) + 1).cast("int"))))
        .select(col(id), col(n), col("pos"), xxhash64(col("col")).as("tok"))
    val alpha = lit(threshold / (1.0d + threshold)) * (col("cn") + col("dn")) - lit(1e-9)
    val cPre = prefixed(cPrep, "cn_id", "cn", "ctoks").as("c")
    val dPre = prefixed(dPrep, "dn_id", "dn", "dtoks").as("d")
    val candidates = cPre.join(b(dPre),
        col("c.tok") === col("d.tok") &&
        col("c.cn") >= lit(threshold) * col("d.dn") - lit(1e-9) &&
        col("d.dn") >= lit(threshold) * col("c.cn") - lit(1e-9) &&
        least(col("c.cn") - col("c.pos"), col("d.dn") - col("d.pos")) >= alpha)
      .select(col("c.cn_id"), col("d.dn_id")).distinct()
    DeltaParts(smallDelta, dPrep, cPrep, candidates)
  }

  /** Batch-fit corpus triage structures for the STREAMING delta-ingest
    * lane ([[corpusTriageScored]]) — the orientation twin of
    * [[deltaIngest]]: there the CORPUS is stationary and the delta's
    * structures broadcast against it; at ingest time the corpus is
    * the standing side, so ITS structures are fit once and every
    * arriving document probes them statelessly.
    *
    *  - `fpMin`: canonical fingerprint → min corpus id (exact tier);
    *  - `postings`: token → sorted corpus-id posting list, plus
    *    per-id distinct-token counts (exact-Jaccard near tier and
    *    containment tier — candidate generation AND verification in
    *    one probe, so recall is exactly 1 and the result is
    *    SQL-replayable, unlike a banded-LSH candidate cut).
    *
    * Driver/model state is O(corpus distinct-token mass) — the
    * posting mass a batch near-dup join would shuffle, held once as
    * the standing index instead. `maxPostingMass` is the fail-fast
    * limit probe (the model-fit convention): at 100 TB the full-text
    * posting index stops being broadcast material, and the honest
    * deployment is sharded probes or the [[deltaIngest]] batch
    * orientation run per micro-window — this model targets the
    * standing-corpus sizes where one executor-resident index is the
    * right trade (eval suites, canary sets, per-source slices, the
    * last N days of accepted docs). */
  final case class CorpusTriageModel(
      fpMin: java.util.HashMap[String, java.lang.Long],
      postings: java.util.HashMap[String, Array[Long]],
      setSize: java.util.HashMap[java.lang.Long, Integer]) extends Serializable {
    def nDocs: Int = setSize.size()
  }

  def fitCorpusTriage(corpus: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      maxPostingMass: Long = 50000000L): CorpusTriageModel = {
    import org.apache.spark.sql.Row
    val toksOf = array_sort(array_distinct(TextFunctions.tokens(col(textCol))))
    // Null id/text corpus rows are skipped up front: the oracle's
    // corpus side never matches them either (md5(NULL) and
    // unnest(NULL) produce nothing), and the collect fold below
    // pattern-matches non-null fields.
    // The null filter runs on the POST-cast id (r18, advisor fix): a
    // non-numeric string id casts to null, and filtering the raw
    // column first would let that null reach the collect fold's
    // Row(cnId: Long, ...) match as an opaque driver MatchError.
    val prep = corpus
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("cn_id"), toksOf.as("ctoks"),
        TextFunctions.canonicalFingerprint(col(textCol)).as("fp"))
      .filter(col("cn_id").isNotNull)
    val mass = prep.agg(sum(size(col("ctoks")))).collect()(0)
    require(mass.isNullAt(0) || mass.getLong(0) <= maxPostingMass,
      s"fitCorpusTriage: corpus distinct-token mass exceeds $maxPostingMass — " +
        "shard the standing index or use the deltaIngest batch orientation")
    val fpMin = new java.util.HashMap[String, java.lang.Long]()
    val lists = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Long]]()
    val setSize = new java.util.HashMap[java.lang.Long, Integer]()
    // One bounded collect (mass-guarded above); rows arrive in
    // arbitrary order, so postings sort after the fold.
    prep.collect().foreach { case Row(cnId: Long, ctoks: scala.collection.Seq[_], fp: String) =>
      val prev = fpMin.get(fp)
      if (prev == null || cnId < prev) fpMin.put(fp, cnId)
      setSize.put(cnId, ctoks.size)
      ctoks.foreach { t =>
        lists.computeIfAbsent(t.asInstanceOf[String],
          _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += cnId
      }
    }
    val postings = new java.util.HashMap[String, Array[Long]](lists.size())
    lists.forEach { (t, ids) => postings.put(t, ids.toArray.sorted) }
    CorpusTriageModel(fpMin, postings, setSize)
  }

  /** Stateless triage of documents against a batch-fit
    * [[CorpusTriageModel]] — the fit-once/score-forever member of
    * the dedup family (the [[graft.functions.AhoCorasick]]/Bloom
    * deployment shape): every row is routed in one projection with
    * the model broadcast once per executor, so the same operator
    * scores a batch frame or an unbounded STREAM with no state store
    * and no stream-side shuffle, appending at ingest rate.
    *
    * Tiers, highest wins (each exactly SQL-replayable):
    *  - `exact`: canonical fingerprint present in the corpus
    *    (match = min corpus id, score 1.0);
    *  - `near`: best corpus doc with Jaccard ≥ `threshold`
    *    (ties → smallest id), score = jaccard rounded half-up to 4dp;
    *  - `contained`: best corpus doc covering ≥ `containThreshold`
    *    of this doc's distinct tokens (`|D∩C|/|D|` — the excerpt/
    *    quote tier symmetric Jaccard misses), same rounding;
    *  - `accepted`: no tier fired (score null).
    *
    * Per-row cost is the probed posting mass (Σ posting length over
    * the doc's distinct tokens) — the inverted-index probe bound,
    * independent of corpus row count. */
  def corpusTriageScored(docs: DataFrame, model: CorpusTriageModel,
                         threshold: Double = 0.9, containThreshold: Double = 0.8,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0, "threshold must be in (0, 1)")
    require(containThreshold > 0.0 && containThreshold <= 1.0,
      "containThreshold must be in (0, 1]")
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    val triage = udf { (fp: String, toks: scala.collection.Seq[String]) =>
      val m = bc.value
      // Null text: both fp and toks arrive null — route to accepted,
      // matching the oracle (md5(NULL) joins nothing, unnest(NULL)
      // yields no overlap rows). Never throw on a data row.
      val ex = if (fp == null) null else m.fpMin.get(fp)
      if (toks == null) ("accepted", None: Option[Long], None: Option[Double])
      else if (ex != null) ("exact", Some(ex.longValue()), Some(1.0d))
      else {
        val dn = toks.size
        val ov = new java.util.HashMap[java.lang.Long, Array[Int]]()
        toks.foreach { t =>
          val ids = m.postings.get(t)
          if (ids != null) {
            var i = 0
            while (i < ids.length) {
              val cnt = ov.computeIfAbsent(ids(i), _ => new Array[Int](1))
              cnt(0) += 1
              i += 1
            }
          }
        }
        // Best-per-tier scan: jr DESC then id ASC, cont DESC then id
        // ASC — the q81 best-match ordering. Found-flags, not -1 id
        // sentinels (r18, advisor fix): a negative corpus doc_id is a
        // legal id and must be reportable, matching the oracle.
        var nearFound = false; var nearId = 0L; var nearJr = -1.0d
        var contFound = false; var contId = 0L; var contCv = -1.0d
        ov.forEach { (cid, cnt) =>
          val cn = m.setSize.get(cid).intValue()
          val o = cnt(0)
          val jr = o.toDouble / (dn + cn - o).toDouble
          if (jr >= threshold &&
              (!nearFound || jr > nearJr || (jr == nearJr && cid < nearId))) {
            nearFound = true; nearJr = jr; nearId = cid.longValue()
          }
          val cv = o.toDouble / dn.toDouble
          if (cv >= containThreshold &&
              (!contFound || cv > contCv || (cv == contCv && cid < contId))) {
            contFound = true; contCv = cv; contId = cid.longValue()
          }
        }
        def r4(x: Double): Double = math.floor(x * 10000.0d + 0.5d) / 10000.0d
        if (nearFound) ("near", Some(nearId), Some(r4(nearJr)))
        else if (contFound) ("contained", Some(contId), Some(r4(contCv)))
        else ("accepted", None: Option[Long], None: Option[Double])
      }
    }
    val toksOf = array_distinct(TextFunctions.tokens(col(textCol)))
    docs
      .select(col(idCol),
        triage(TextFunctions.canonicalFingerprint(col(textCol)), toksOf).as("__t"))
      .select(col(idCol), col("__t._1").as("status"),
        col("__t._2").as("match_id"), col("__t._3").as("score"))
  }

  /** Directed containment join: pairs `(doc_a, doc_b)` where at
    * least `threshold` of A's distinct tokens also occur in B
    * (`|A∩B| / |A| >= t`, a ≠ b) — the ASYMMETRIC dedup relation
    * that catches excerpts, quotes, and template supersets which
    * symmetric Jaccard misses outright (a half-length excerpt has
    * Jaccard ≈ 0.5 against its source but containment 1.0).
    *
    * Prefix filter, containment form: index only the
    * `n_a - ceil(t·n_a) + 1` lexicographically-smallest tokens of
    * the CONTAINED side (if none of them lands in B, the shared set
    * fits inside A's suffix of size ceil(t·n_a) - 1 — too small),
    * but ALL tokens of the containing side (no symmetric pruning
    * exists: B may be arbitrarily larger). Length bound
    * `n_b >= t·n_a` and the earliest-shared-token positional bound
    * `min(n_a - pa, n_b - pb) >= ceil(t·n_a)` prune further; every
    * float prune carries the 1e-9 slack (exact-boundary rule), and
    * candidates verify exactly via sorted-intersect. Shuffle shape:
    * 8-byte token-hash keys, ids-only candidates, token arrays
    * rejoin by id. Exact-duplicate mega-clusters make the DIRECTED
    * answer itself quadratic in the cluster — collapse with
    * [[exactByFingerprint]] first and run containment on
    * representatives when that matters. */
  def containmentJoin(docs: DataFrame, threshold: Double,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val prep = containmentPrep(docs, idCol, textCol)
    containmentCandidates(prep, threshold)
      .join(prep.select(col("id").as("a_id"), col("toks").as("atoks"), col("n").as("na")), "a_id")
      .join(prep.select(col("id").as("b_id"), col("toks").as("btoks")), "b_id")
      .withColumn("ov", GraftFunctions.sorted_intersect_count(col("atoks"), col("btoks")))
      .withColumn("cr", col("ov") / col("na"))
      .filter(col("cr") >= threshold)
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"),
        (floor(col("cr") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("containment"))
  }

  /** [[containmentJoin]]'s tokenized/materialized input frame —
    * split out (pure code motion) for CandidateLinearitySpec. */
  private[graft] def containmentPrep(docs: DataFrame,
                                     idCol: String, textCol: String): DataFrame = {
    val toksOf = array_sort(array_distinct(TextFunctions.tokens(col(textCol))))
    // The id-keyed repartition is a MATERIALIZATION POINT, not a
    // co-location trick: four consumers read prep (both explode
    // sides + both verify rejoins), and without an exchange in the
    // common subtree each re-executes the caller's tokenize/prep
    // lineage — ReuseExchange dedupes them to one computation. The
    // id partitioning additionally lines up with the verify joins.
    docs
      .select(col(idCol).as("id"), toksOf.as("toks"), size(toksOf).as("n"))
      .repartition(col("id"))
  }

  /** [[containmentJoin]]'s candidate-pair stage, pre-verification —
    * split out (pure code motion) for CandidateLinearitySpec's
    * candidate counts. */
  private[graft] def containmentCandidates(prep: DataFrame, threshold: Double): DataFrame = {
    val need = ceil(lit(threshold) * col("na") - lit(1e-9))
    val aPre = prep.select(col("id").as("a_id"), col("n").as("na"),
        posexplode(slice(col("toks"), lit(1),
          (col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1).cast("int"))))
      .select(col("a_id"), col("na"), col("pos").as("pa"), xxhash64(col("col")).as("tok"))
    val bAll = prep.select(col("id").as("b_id"), col("n").as("nb"),
        posexplode(col("toks")))
      .select(col("b_id"), col("nb"), col("pos").as("pb"), xxhash64(col("col")).as("tok"))
    aPre.join(bAll,
        aPre("tok") === bAll("tok") && col("a_id") =!= col("b_id") &&
        col("nb") >= lit(threshold) * col("na") - lit(1e-9) &&
        least(col("na") - col("pa"), col("nb") - col("pb")) >= need)
      .select("a_id", "b_id").distinct()
  }

  /** SimHash signature per document over its distinct-token 60-bit
    * hashes (one codegen'd pass, single projection). */
  def simhashSignatures(docs: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      GraftFunctions.simhash60_tokens(
        array_distinct(TextFunctions.tokens(col(textCol)))).as("simhash"))

  /** SimHash near-dup pairs: hamming distance of signatures <= maxHamming.
    *
    * Identical documents (and many near-dups) share a signature, so
    * the banding self-join runs over *distinct* signatures — the same
    * collapse that makes the Jaccard join scale: a cluster of c docs
    * with one signature costs 1 banded row per chunk instead of c,
    * turning the within-cluster c²/2 join blow-up into a single rep.
    * Pairs are generated by banding the 60-bit signature into
    * `maxHamming + 1` chunks (pigeonhole: any pair within the radius
    * shares at least one exact chunk), verified with bit_count, then
    * expanded back to member pairs (same-signature pairs at hamming 0
    * plus every member combination of a verified signature pair). */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hammingNearDupPairs(simhashSignatures(docs, idCol, textCol),
      sigBits = 60, maxHamming = maxHamming, idCol = idCol, sigCol = "simhash",
      repProbe = Some(docs))

  /** Signature-GENERIC hamming near-dup pairs: every `(doc_a, doc_b,
    * hamming)` with hamming(sig_a, sig_b) ≤ `maxHamming`, for any
    * ≤64-bit LONG signature column — text SimHash
    * ([[simhashNearDupPairs]]) and perceptual image dHash
    * ([[Multimodal.imageNearDupPairs]]) are the two deployments.
    * Null signatures (e.g. undecodable images) are excluded.
    *
    * `repProbe`: the bitmask-vs-banding strategy probe counts rows of
    * this frame instead of `sigs` when provided — callers whose
    * signature computation is expensive (an md5 per token, a PNG
    * decode per row) pass the RAW input so the probe is a plain
    * limited scan, not a bounded signature recomputation.
    *
    * `maxBitmaskReps` overrides the bitmask-path row bound —
    * production callers keep the default; the differential spec sets
    * 0 to force the banded path on a small corpus (the path that
    * otherwise only runs above the bound) and pin banded ≡ bitmask
    * ≡ brute force. */
  def hammingNearDupPairs(sigs: DataFrame, sigBits: Int, maxHamming: Int,
                          idCol: String = "doc_id", sigCol: String = "simhash",
                          repProbe: Option[DataFrame] = None,
                          maxBitmaskReps: Int = MaxBitmaskReps): DataFrame = {
    require(sigBits >= 2 && sigBits <= 64, "signature width must be 2..64 bits")
    require(maxHamming >= 0 && maxHamming < sigBits,
      "maxHamming must be in [0, sigBits)")
    val s = sigs.select(col(idCol), col(sigCol).as("simhash"))
      .filter(col("simhash").isNotNull)
    val probe = repProbe.getOrElse(s)
    // One shuffle over (id, simhash); every downstream consumer
    // derives from this aggregate, so the signature computation (an
    // md5 per token, a pixel decode) runs once — as separate branches
    // it re-ran per consumer, and at corpus scale each re-run is a
    // full scan. The scan + partial agg sit below the exchange, which
    // Spark's ReuseExchange dedupes across the three consumers.
    val sigGroups = s.groupBy(col("simhash"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
    val reps = sigGroups.select(col("simhash"))
    val a = reps.as("a")
    val b = reps.as("b")
    val hamming = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    val sigPairs =
      // maxHamming 0 means exact-signature equality — the `within`
      // expansion below IS the whole answer, and the banding math
      // (one chunk spanning a possibly-64-bit signature) degenerates.
      if (maxHamming == 0) {
        reps.select(col("simhash").as("sig_a"), col("simhash").as("sig_b"),
            lit(0).cast("int").as("hamming"))
          .limit(0)
      }
      // Probe the raw row count, not distinct signatures: rows <=
      // bound implies sigs <= bound and the probe is a plain limited
      // scan instead of a full signature+shuffle recomputation.
      else if (Bounded.fits(probe, maxBitmaskReps)) {
        // Bounded rep count: one codegen'd broadcast nested-loop pass
        // over all signature pairs — an xor+popcount per pair beats
        // the banding plan's explode + chunk shuffle + distinct until
        // nReps² stops being cheap.
        a.join(b, col("a.simhash") < col("b.simhash") && hamming <= maxHamming)
          .select(col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"),
            hamming.as("hamming"))
      } else {
        // Scale path: band the signature into maxHamming + 1 chunks;
        // any pair within the radius shares an exact chunk
        // (pigeonhole — this holds even when sigBits % nChunks leaves
        // high bits uncovered: uncovered differences only REDUCE the
        // differences landing inside chunks), so candidates come from
        // an equi-join. Chunk keys pack (chunk idx, chunk bits) into
        // one long — no string building on the shuffle key.
        val nChunks = maxHamming + 1
        val chunkBits = sigBits / nChunks
        val chunks = (0 until nChunks).map { i =>
          shiftright(col("simhash"), i * chunkBits).bitwiseAND(lit((1L << chunkBits) - 1))
            .bitwiseOR(lit(i.toLong << chunkBits))
        }
        val banded = reps.select(col("simhash"), explode(array(chunks: _*)).as("chunk"))
        val ba = banded.as("a")
        val bb = banded.as("b")
        ba.join(bb,
            col("a.chunk") === col("b.chunk") && col("a.simhash") < col("b.simhash") &&
            hamming <= maxHamming)
          .select(col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"),
            hamming.as("hamming"))
          .distinct()
      }

    // Pair expansion is generate-only (chained explodes), no joins:
    // within-cluster pairs are the c² the answer itself contains.
    val within = sigGroups
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0).cast("int").as("hamming"))
    val cross = sigPairs
      .join(sigGroups.select(col("simhash").as("sig_a"), col("ids").as("ids_a")), "sig_a")
      .join(sigGroups.select(col("simhash").as("sig_b"), col("ids").as("ids_b")), "sig_b")
      .select(explode(col("ids_a")).as("id_a"), col("ids_b"), col("hamming"))
      .select(col("id_a"), explode(col("ids_b")).as("id_b"), col("hamming"))
      .select(
        least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"),
        col("hamming"))
    within.unionByName(cross)
  }

  /** Vocabulary bound for the bitmask strategy: with at most 64
    * distinct tokens corpus-wide, every token set is one Long. */
  private val MaxBitmaskVocab = 64

  /** Rep-count bound for the bitmask strategy's all-pairs loop:
    * beyond this, nReps² pair evaluations stop being "free" even at
    * ~10⁸ codegen'd popcount-pairs/sec/core, and the prefix join's
    * candidate pruning wins again. */
  private val MaxBitmaskReps = 32768

  /** Exact set-similarity self-join at `threshold` (token-set
    * Jaccard). Adaptive, the way an engine should pick a physical
    * strategy from data statistics:
    *
    *  - **Small vocabulary** (≤64 distinct tokens corpus-wide, and a
    *    bounded number of distinct sets): prefix filtering is
    *    structurally useless — every "rare" token still appears in a
    *    large fraction of all sets, so the inverted-index join
    *    degenerates to near-all-pairs *and* pays per-pair array
    *    intersection. Instead each set is dictionary-encoded into one
    *    Long bitmask and all rep pairs are evaluated in a broadcast
    *    nested-loop join where Jaccard is two popcounts — no
    *    candidate shuffle, no verify join, no array payloads.
    *  - **Otherwise** (real corpora: large vocabularies): PPJoin-style
    *    prefix filtering — tokens ranked by global frequency (rarest
    *    first); only the first `n - ceil(t*n) + 1` tokens of each set
    *    are indexed, the inverted-index equi-join generates
    *    candidates (length + positional bounds pruned in the join
    *    condition), and survivors are verified exactly.
    *
    * Both paths are exact — no probabilistic recall loss. Both
    * strategy probes run on the RAW input, never derived lineage:
    * a `distinct().orderBy().limit(65)` vocabulary probe (partial
    * top-k per partition) and a [[Bounded.fits]] doc-count probe
    * (docs ≤ bound implies reps ≤ bound).
    */
  def jaccardSimilarityJoin(docs: DataFrame, threshold: Double,
                            idCol: String = "doc_id", textCol: String = "text",
                            maxBitmaskReps: Int = MaxBitmaskReps,
                            maxClusterIds: Int = Int.MaxValue): DataFrame = {
    // Cluster-size guard (opt-in: default Int.MaxValue probes
    // nothing). A finite bound runs one count-only aggregate over the
    // fingerprints — no arrays built — and a corpus whose largest
    // identical-document cluster exceeds the bound takes the
    // join-based expansion: collapse WITHOUT the ids array (state per
    // group stays O(doc size)) and member pairs recovered by joining
    // (fp, id) rows. See collapseIdentical's scale-bound note.
    val joinExpand = maxClusterIds != Int.MaxValue && {
      // coalesce: max over zero groups is null (empty input) — that
      // corpus trivially fits any bound.
      val maxCluster = docs
        .groupBy(TextFunctions.canonicalFingerprint(col(textCol)).as("fp"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(max(col("c")), lit(0L)).as("m"))
        .first().getLong(0)
      maxCluster > maxClusterIds
    }
    val reps =
      if (joinExpand) collapseIdenticalNoIds(docs, idCol, textCol)
      else collapseIdentical(docs, idCol, textCol)
    val (tok, freq) = tokFreqOf(reps)

    // Probe order matters at scale: the doc-count guard is a plain
    // limited scan (docs <= bound implies reps <= bound — the probe
    // never recomputes the collapse aggregate), so it runs FIRST and
    // an obviously-large corpus takes the prefix path without ever
    // paying the corpus-wide distinct shuffle of the vocabulary
    // probe. Only a bounded corpus runs the vocab probe: scan +
    // distinct + TakeOrdered(65) straight off the raw docs
    // (identical-set collapse never changes the token universe).
    // Conservative when a huge corpus collapses to few sets — that
    // case falls to the prefix path, which is still correct.
    val vocab =
      if (!Bounded.fits(docs, maxBitmaskReps)) None
      else Bounded.collect(docs
        .select(explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("tok"))
        .distinct().orderBy("tok").as[String](Encoders.STRING), MaxBitmaskVocab)
    val verified = vocab
      .map(v => bitmaskAllPairs(reps, v.sorted, threshold))
      .getOrElse(prefixFilteredPairs(reps, tok, freq, threshold))

    if (joinExpand) expandPairsViaJoin(memberRows(docs, idCol, textCol), verified)
    else expandPairs(reps, verified)
  }

  /** Small-vocabulary strategy: encode each rep's token set as a
    * 64-bit mask via a literal token→bit map, then evaluate every
    * rep pair in one codegen'd broadcast nested-loop pass.
    * `|A∩B| = popcount(a&b)`, `|A∪B| = popcount(a|b)` — identical
    * integers to the sorted-merge verify, so the rounded Jaccard is
    * bit-identical to the prefix path and the oracle. */
  private def bitmaskAllPairs(reps: DataFrame, dict: Array[String],
                              threshold: Double): DataFrame = {
    val bitOf = map(dict.zipWithIndex.flatMap {
      case (t, i) => Seq(lit(t), lit(1L << i))
    }.toSeq: _*)
    val masked = reps.select(
      col("fp"),
      aggregate(col("toks"), lit(0L),
        (acc, t) => acc.bitwiseOR(element_at(bitOf, t))).as("mask"))
    val a = masked.as("a")
    val b = masked.as("b")
    val ov = bit_count(col("a.mask").bitwiseAND(col("b.mask")))
    val un = bit_count(col("a.mask").bitwiseOR(col("b.mask")))
    a.join(b, col("a.fp") < col("b.fp"))
      .withColumn("jaccard_raw", ov.cast("double") / un.cast("double"))
      .filter(col("jaccard_raw") >= threshold && col("jaccard_raw") < 1.0d)
      .select(col("a.fp").as("fp_a"), col("b.fp").as("fp_b"),
        (floor(col("jaccard_raw") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("jaccard"))
  }

  /** Collapsed-rep token explosion + global token frequencies — the
    * two inputs the prefix filter ranks against. Exposed to
    * CandidateLinearitySpec so candidate counts are measured on the
    * operator's OWN frames, not a re-derivation that could drift. */
  private[graft] def tokFreqOf(reps: DataFrame): (DataFrame, DataFrame) = {
    val tok = reps.select(col("fp"), col("n_toks"), explode(col("toks")).as("tok"))
    // Global token order: rarest first, ties broken lexicographically.
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("freq"))
    (tok, freq)
  }

  /** Large-vocabulary strategy: PPJoin-style prefix-filtered
    * inverted-index join + exact verification. */
  private def prefixFilteredPairs(reps: DataFrame, tok: DataFrame, freq: DataFrame,
                                  threshold: Double): DataFrame =
    verifyJaccardByFp(prefixJaccardCandidates(tok, freq, threshold), reps, threshold)

  /** The prefix path's candidate-pair stage, pre-verification —
    * `(fp_a, fp_b)` distinct pairs surviving the prefix, length and
    * positional filters. Split out of [[prefixFilteredPairs]] (pure
    * code motion) so CandidateLinearitySpec can count candidates
    * with the exact production plan. */
  private[graft] def prefixJaccardCandidates(tok: DataFrame, freq: DataFrame,
                                             threshold: Double): DataFrame = {
    // Prefix = the `n - ceil(t*n) + 1` globally-rarest tokens per set.
    // Built with one hash aggregate (partial-agg combinable, no sort
    // exchange): collect (freq, tok) per fp, array_sort (struct order
    // = freq asc, tok asc — identical tie-break to the old window),
    // slice to the prefix length, re-explode with the token's 0-based
    // position in the doc's full (freq, tok)-sorted order (the slice
    // is a prefix, so slice position == global position). The previous
    // row_number().over(partitionBy(fp)) forced a full sort exchange
    // of every (doc, token) pair — the bench's single largest cost.
    // The collect_list buffers one document's distinct-token list in
    // aggregate state — bounded by the corpus' max document size;
    // corpora with pathologically huge documents should cap tokens
    // per doc upstream (the old window form spilled instead, at 5-10×
    // the wall-time).
    val ranked = tok.join(freq, "tok")
    // 1e-9 slack mirrors deltaIngest: a t*n one ULP above an exact
    // integer must not shorten the prefix past the theorem's bound.
    val prefixLen = (col("n_toks") - ceil(lit(threshold) * col("n_toks") - lit(1e-9)) + 1).cast("int")
    val prefix = ranked
      .groupBy(col("fp"))
      .agg(
        first(col("n_toks")).as("n_toks"),
        array_sort(collect_list(struct(col("freq"), col("tok")))).as("ranked_toks"))
      .select(col("fp"), col("n_toks"),
        posexplode(slice(col("ranked_toks"), lit(1), prefixLen)))
      // The join key is the token's 64-bit hash, not the token
      // string: a hash collision can only ADD a candidate pair, and
      // every candidate is exactly verified — so the inverted-index
      // shuffle moves 8-byte keys even when tokens are long shingles.
      .select(col("fp"), col("n_toks"), col("pos"),
        xxhash64(col("col").getField("tok")).as("tok"))

    // PPJoin positional filter: a qualifying pair needs overlap
    //   ov >= alpha = ceil(t/(1+t) * (n_a + n_b)),
    // and for the pair's EARLIEST shared token (positions pa, pb in
    // the shared global order) every shared token sits at >= pa / pb,
    // so ov <= min(n_a - pa, n_b - pb). Filtering each matched row by
    // that bound is safe: the earliest-shared-token row always
    // satisfies it for a truly-qualifying pair (and the prefix-filter
    // theorem guarantees that token is inside both prefixes), so the
    // pair survives the OR-over-rows that `distinct()` computes. The
    // 1e-9 slack keeps float rounding from ever over-filtering an
    // exact-boundary pair; verification downstream is exact anyway.
    val alpha = lit(threshold / (1.0d + threshold)) *
      (col("a.n_toks") + col("b.n_toks")) - lit(1e-9)
    val a = prefix.as("a")
    val b = prefix.as("b")
    val candidates = a.join(b,
        col("a.tok") === col("b.tok") &&
        col("a.fp") < col("b.fp") &&
        // Jaccard length bound: |b| >= t * |a| (and symmetrically),
        // with the same 1e-9 slack against one-ULP-high t*n.
        col("b.n_toks") >= lit(threshold) * col("a.n_toks") - lit(1e-9) &&
        col("a.n_toks") >= lit(threshold) * col("b.n_toks") - lit(1e-9) &&
        least(col("a.n_toks") - col("a.pos"), col("b.n_toks") - col("b.pos")) >= alpha)
      .select(col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .distinct()
    candidates
  }

  /** Connected components over an undirected pair list — the cluster
    * resolution step every dedup pipeline needs between "these docs
    * are near-duplicates" (pairs) and "keep one per duplicate group"
    * (components + keeper election). Returns one `(id, component_id)`
    * row per node that appears in `pairs`, where `component_id` is
    * the minimum id reachable through any chain of pairs.
    *
    * Algorithm: hash-min label propagation with pointer jumping.
    * Every node starts labelled with its own id; each round first
    * takes the minimum label over itself and its neighbours (one
    * hash-partitioned join + one min-aggregate — both map-side
    * combinable), then pointer-jumps: folds in the label OF the
    * label (`comp(comp(id))` — well-defined because a label is
    * always itself a node id). Neighbour-min alone moves a
    * component's minimum one hop per round (O(diameter) rounds); the
    * jump doubles the propagation distance per round, giving
    * O(log diameter). Near-dup components are clique-like (identical
    * and near-identical docs pair mutually), so real corpora
    * converge in 2-3 rounds either way; the jump is what keeps
    * adversarial chain-shaped graphs from turning into hundreds of
    * driver rounds. (The heavier-hammer alternative for graphs with
    * giant high-degree components is Kiveris et al.'s
    * large-star/small-star contraction; same API contract if ever
    * needed.)
    *
    * Distribution notes, because iterative algorithms are where
    * driver discipline goes to die:
    *  - The per-round work is entirely distributed; the driver sees
    *    one count per round ("how many labels moved"), never a
    *    collect of data.
    *  - Each round's result has its lineage CUT with an eager
    *    `localCheckpoint`. Without the cut the round plan references
    *    the previous labels four times (neighbour join, then both
    *    sides of the jump self-join and the fixpoint probe), so the
    *    logical plan TREE grows 4^rounds — plan stringification
    *    alone OOMs the driver around round ten. Local (not
    *    reliable) checkpoints deliberately: Spark never auto-cleans
    *    reliable checkpoint files
    *    (`spark.cleaner.referenceTracking.cleanCheckpoints` defaults
    *    to false), so a reliable-checkpoint round would leak two
    *    materialized label sets per round on the checkpoint volume
    *    for the application's lifetime. The trade is executor-loss
    *    recovery: losing an executor mid-algorithm fails the query
    *    loudly and the caller retries — the same trade GraphX's
    *    default makes, and strictly better than a silent disk leak.
    *    Local-checkpoint blocks ARE released by the ContextCleaner
    *    once each round's frame is unreferenced.
    *
    * The rounds run to the fixpoint, with no round cap, and always
    * get there: the self-edge keeps a node's own label in its
    * neighbour min and the jump takes `least`, so every round's label
    * is ≤ the previous one, and labels come from the finite node set.
    * Either route returns the converged labels on any graph.
    *
    * `reliableCheckpointDir` (r16, the one cluster-hardening caveat
    * from the r15 verdict): local checkpoints live on executors, so
    * on a real cluster losing ANY executor mid-algorithm kills the
    * job. Passing a directory opts into RELIABLE checkpoints every
    * `reliableInterval` rounds (plan-flattening local cuts still
    * happen every round in between): an executor loss then recomputes
    * at most `reliableInterval` rounds from the durable labels
    * instead of failing the query. The session's configured
    * checkpoint directory is saved and RESTORED in the finally block
    * — restored to the configured PARENT location (setCheckpointDir
    * stores `<dir>/<randomUUID>`, so re-setting allocates a fresh
    * UUID subdir under the same configured dir, exactly as the
    * user's original call did); when the session had none
    * configured, the passed directory remains set afterwards —
    * SparkContext has no public unset.
    * The documented trade is a DISK
    * LEAK — Spark never auto-cleans reliable checkpoint files while
    * the application lives (`spark.cleaner.referenceTracking
    * .cleanCheckpoints` defaults to false, and even enabled it cleans
    * only on GC of the RDD reference), so a long-lived session pays
    * two label sets per interval on the checkpoint volume until the
    * app exits. Opt-in, because on local[n] — where there is no
    * executor to lose — it is pure cost. */
  def connectedComponents(pairs: DataFrame,
                          aCol: String = "doc_a", bCol: String = "doc_b",
                          reliableCheckpointDir: Option[String] = None,
                          reliableInterval: Int = 5,
                          maxKernelEdges: Int = 4000000): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(reliableInterval >= 1, "reliableInterval must be >= 1")
    val sc = pairs.sparkSession.sparkContext
    // Redirect the session checkpoint dir only for the duration of
    // the algorithm, and restore whatever the session had configured
    // — an operator parameter must not leave a global side effect.
    // setCheckpointDir stores <dir>/<randomUUID>, so the CONFIGURED
    // location is the PARENT of what getCheckpointDir returns;
    // re-passing the UUID path verbatim would nest a fresh UUID dir
    // per call instead of restoring.
    val savedCheckpointDir: Option[String] =
      if (reliableCheckpointDir.isDefined)
        sc.getCheckpointDir.map(d =>
          new org.apache.hadoop.fs.Path(d).getParent.toString)
      else None
    reliableCheckpointDir.foreach(sc.setCheckpointDir)
    // Lineage cut: eager materialization + a flat LogicalRDD plan.
    // Local by default — see the scaladoc for the reliable-mode trade.
    def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    // Durable cut for the opted-in rounds: survives executor loss.
    def cutDurable(df: DataFrame): DataFrame = df.checkpoint(eager = true)
    // Materialize the pair list ONCE before anything else: edges,
    // nodes, and the initial labels all branch off it, and without
    // the cut each branch would re-execute the caller's (typically
    // expensive) pair-generation lineage — measured 3-4 re-runs of a
    // full MinHash pipeline on the first version of this operator.
    val half = cut(pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    // Size-routed ([[KernelRoute]]): up to `maxKernelEdges` pair rows
    // the resolution runs as ONE driver union-find over the
    // ALREADY-MATERIALIZED pair frame — the bounded collect reads the
    // checkpoint back, never re-executing the caller's pair-generation
    // lineage. Long ids only — the iterative plan is ordering-generic,
    // the kernel is not — and never in reliable-checkpoint mode (that
    // caller is asking for executor-loss durability, which a driver
    // fold cannot give). Above the bound, the O(log diameter)
    // pointer-jump rounds below run unchanged — they are the 100 TB
    // shape.
    val kernel =
      if (reliableCheckpointDir.isEmpty &&
          half.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType))
        KernelRoute.edges(half, maxKernelEdges)
      else None
    if (kernel.isDefined) return connectedComponentsKernel(pairs.sparkSession, kernel.get)
    // Both directions PLUS a self-loop per node: the self-loop is
    // what carries a node's own label through the neighbour join, so
    // each round is exactly one join + one aggregate — no per-round
    // union of the labels frame with itself (which also trips
    // Catalyst's union constraint rewrite against checkpointed
    // children).
    val nodes = half.select(col("src").as("id"))
      .unionByName(half.select(col("dst").as("id")))
      .distinct()
    val edges = half
      .unionByName(half.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(nodes.select(col("id").as("src"), col("id").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = cut(nodes.select(col("id"), col("id").as("comp")))
      var iter = 0
      var converged = labels.isEmpty // empty graph is already done
      while (!converged) {
        // Cut per round: the pointer jump reads this from both
        // sides of a self-join, and the cut is what keeps the round
        // plan flat (see scaladoc).
        val neighborMin = cut(edges
          .join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst"))
          .agg(min(col("comp")).as("comp"))
          .withColumnRenamed("dst", "id"))
        // Pointer jump: every label is a node id, so the inner
        // self-join is total and comp(comp(id)) always exists.
        // Every reliableInterval-th round's labels go to durable
        // storage when the caller opted in (see scaladoc).
        val roundCut: DataFrame => DataFrame =
          if (reliableCheckpointDir.isDefined && iter % reliableInterval == reliableInterval - 1)
            cutDurable else cut
        val next = roundCut(neighborMin.as("x")
          .join(neighborMin.as("y"), col("x.comp") === col("y.id"))
          .select(col("x.id").as("id"),
            least(col("x.comp"), col("y.comp")).as("comp")))
        // Type-agnostic fixpoint probe over the two flat frames:
        // count of nodes whose label moved.
        converged = next.as("n")
          .join(labels.as("p"), col("n.id") === col("p.id"))
          .filter(col("n.comp") =!= col("p.comp"))
          .count() == 0L
        labels = next
        iter += 1
      }
      labels
    } finally {
      edges.unpersist(blocking = false)
      savedCheckpointDir.foreach(sc.setCheckpointDir)
    }
  }

  /** Driver union-find kernel for [[connectedComponents]]: the
    * min-label fixpoint computed directly — union by MIN ROOT over
    * dense ids (dense order is id order, so the smallest dense index
    * in a set IS the component's minimum id) with path-halving finds;
    * duplicates and self-pairs are harmless no-op unions, so no dedup
    * pass is needed. O(m α(n))-ish; emit
    * via broadcast + range map, never a driver-built frame. Output
    * identical to the iterative plan's converged labels row for row
    * (spec-pinned differentially). */
  private def connectedComponentsKernel(spark: org.apache.spark.sql.SparkSession,
                                        g: DenseEdges): DataFrame = {
    import spark.implicits._
    val nodes = g.nodes
    val n = g.n
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    locally {
      var i = 0
      while (i < g.m) {
        val ra = find(g.src(i))
        val rb = find(g.dst(i))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        i += 1
      }
    }
    val comp = Array.tabulate(n)(i => nodes(find(i)))
    val bc = spark.sparkContext.broadcast((nodes, comp))
    spark.range(0, n.toLong).as[Long].map { i =>
      val (bn, bcmp) = bc.value
      (bn(i.toInt), bcmp(i.toInt))
    }.toDF("id", "comp")
  }

  /** Per-document near-duplicate component assignment: every document
    * gets the minimum doc id of its near-dup component at `threshold`
    * (its own id when it has no near-duplicates). Pairs come from
    * [[minhashNearDupPairs]] (exactly verified), components from
    * [[connectedComponents]]; a left join fans the component label
    * back over the full corpus. This is the end-to-end shape of a
    * corpus dedup: downstream, `filter(col(idCol) === col("component_id"))`
    * is the keeper set. */
  def nearDupComponents(docs: DataFrame, threshold: Double,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxBandSize: Int = DefaultMaxBandSize): DataFrame = {
    // Opts in to the hot-band star-pair guard: component collapse
    // needs connectivity, not pair completeness, and star pairs keep
    // every hot-band member attached to its representative — the
    // scale-critical path stays O(m) per band by default here.
    val comps = connectedComponents(
      minhashNearDupPairs(docs, threshold, idCol = idCol, textCol = textCol,
        maxBandSize = maxBandSize))
    docs.select(col(idCol))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("component_id"))
  }

  /** Span-overlap pair detection via winnowing-fingerprint
    * collisions — the POSITION-AWARE near-dup channel beside MinHash
    * (whole-document set similarity): two documents that share a
    * verbatim token run of ≥ w+k−1 tokens are guaranteed to collide
    * on at least one [[graft.functions.HashOps.winnowFingerprints]]
    * fingerprint, so fingerprint-bucket pairs ARE the candidate set
    * for copied-span detection (quotes, license boilerplate,
    * plagiarism) that document-level Jaccard dilutes away. Emits one
    * row per pair with `n_shared` distinct colliding fingerprints
    * (≥ `minShared`), plus the ALIGNMENT evidence: `delta` = the
    * position offset (b − a) with the most fingerprint support and
    * `n_aligned` = that support — colliding fingerprints at one
    * consistent offset are a contiguous copied span, scattered
    * offsets are phrase-level noise. Tie on support → smallest
    * delta, so the frame hash-gates.
    *
    * Scale shape: fingerprints are already ~2/(w+1)-sparse; buckets
    * ABOVE `maxBucket` are DROPPED as stop-fingerprints (ubiquitous
    * boilerplate phrases — the stopword treatment, and the same
    * hot-bucket discipline as the LSH hot-band guard, except
    * dropping is the CORRECT semantics here: a phrase in hundreds of
    * documents is not copied-span evidence), so the self-join is
    * bounded at maxBucket² pairs per bucket and the plan never goes
    * all-pairs. One fingerprint census, one bounded bucket join, two
    * bounded pair aggregates. */
  def winnowOverlapPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
                         minShared: Int = 3, maxBucket: Int = 64,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(minShared >= 1 && maxBucket >= 2, "minShared >= 1, maxBucket >= 2")
    val fp = docs.select(col(idCol).as("__id"),
        explode(GraftFunctions.winnow_fingerprints(
          split(col(textCol), " "), k, w)).as("__fp"))
      .select(col("__id"), col("__fp.pos").as("__pos"), col("__fp.hash").as("__h"))
    val keep = fp.groupBy(col("__h")).agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") <= maxBucket)
      .select(col("__h"))
    val f2 = fp.join(keep, "__h")
    val pairs = f2.select(col("__h"), col("__id").as("doc_a"), col("__pos").as("__pa"))
      .join(f2.select(col("__h"), col("__id").as("doc_b"), col("__pos").as("__pb")), "__h")
      .filter(col("doc_b") > col("doc_a"))
    val shared = pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("__h")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val aligned = pairs
      .groupBy(col("doc_a"), col("doc_b"), (col("__pb") - col("__pa")).as("delta"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("doc_a"), col("doc_b"))
      // max by (support DESC, delta ASC): struct comparison on
      // (cnt, -delta) then read the carried delta back out.
      .agg(max(struct(col("__cnt"), (-col("delta")).as("__nd"),
        col("delta"))).as("__best"))
      .select(col("doc_a"), col("doc_b"),
        col("__best.__cnt").as("n_aligned"), col("__best.delta").as("delta"))
    shared.join(aligned, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_aligned"), col("delta"))
  }
}
