package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{asDouble, dot}

/** Product quantization (PQ) — the memory-compressed ANN tier: a
  * 64-dim float vector (256 B) becomes `m` small sub-codes (here
  * 8 codes of 3 bits' worth of centroids — one byte each packed, 64×
  * compression), and query-to-corpus distance is approximated
  * asymmetrically (ADC): the query stays full-precision, each corpus
  * vector contributes only its per-subspace codebook centroids.
  * Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011 — the standard recipe behind FAISS's IVF-PQ.
  *
  * Scale shape, by construction:
  *  - TRAIN: one bounded seed collect (`ksub` rows via global
  *    orderBy+limit — per-partition partial limits, the corpus is
  *    never sorted whole), then one Lloyd round per `iters` as a
  *    single exploded aggregate over `(subspace, code)` — map-side
  *    combinable, m×ksub result rows to the driver. Same
  *    integer-quantized sufficient statistics as [[Clustering.fit]]
  *    (sums on the 2^20 grid), so the oracle replays training
  *    bit-for-bit.
  *  - ENCODE: a zero-shuffle codegen projection — `m` plan-literal
  *    argmins per row ([[Clustering.distStructs]]'s (d, cid) struct
  *    order = the replayable `ORDER BY dist, cid` tie rule).
  *  - SEARCH: broadcast the (small) query set, scan the encoded
  *    corpus once; per-pair ADC distance is an INTEGER sum of m
  *    quantized per-subspace terms (floor(term·1e6+0.5) — order-free
  *    addition, so the oracle's GROUP BY sum is exact), and top-k
  *    selection rides [[TopK.perGroup]]'s bounded partial aggregate.
  *    No corpus shuffle anywhere; compose with
  *    [[Similarity.ivfAnn]]-style routing for IVF-PQ when the scan
  *    itself must shrink.
  */
object Quantization {

  private val QuantScale = 1048576.0d // 2^20: exact multiply, exact floor
  private val AdcScale = 1000000.0d   // ADC term grid: floor(t*1e6+0.5)

  /** Fitted codebooks: `codebooks(j)(c)` is subspace j's centroid
    * c+1 (`dsub` doubles). Plain driver-side values — serializes
    * into a plan literal, so batch and stream score identically. */
  final case class PqModel(m: Int, dsub: Int, codebooks: Seq[Seq[Seq[Double]]]) {
    private[operators] def cbArrays: Array[Array[Array[Double]]] =
      codebooks.map(_.map(_.toArray).toArray).toArray
  }

  /** |c|² summed left-to-right — the engines' shared dot order. */
  private def normSq(c: Array[Double]): Double = {
    var s = 0.0d; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  /** Per-subspace argmin codes as ONE codegen'd kernel projection
    * column (`array<int>`, codes 1-based — [[graft.functions
    * .PqEncode]] with the codebook as a plan reference object; the
    * previous m x ksub literal expression tree cost ~0.5s of driver
    * planning/Janino per ACTION): for subspace j, the (d, cid)
    * struct-min over ksub literal centroids with
    * d = |sub|² - 2·sub·c + |c|² — identical metric and tie rule to
    * [[Clustering.distStructs]]. */
  private def codesExpr(v: Column, cbs: Array[Array[Array[Double]]], dsub: Int): Column = {
    val m = cbs.length
    val ksub = cbs.head.length
    val flat = new Array[Double](m * ksub * dsub)
    val cnorms = new Array[Double](m * ksub)
    for (j <- 0 until m; c <- 0 until ksub) {
      System.arraycopy(cbs(j)(c), 0, flat, (j * ksub + c) * dsub, dsub)
      cnorms(j * ksub + c) = normSq(cbs(j)(c))
    }
    graft.functions.GraftFunctions.pq_encode(v, m, dsub, ksub, flat, cnorms)
  }

  /** Train per-subspace codebooks: `ksub` shared seed vectors picked
    * by the engine-wide deterministic hash rule (h = id·2654435761
    * mod 1000000007, order (h, id) — [[Clustering.fit]]'s rule, so
    * one oracle CTE seeds every subspace), sliced per subspace, then
    * `iters` Lloyd rounds. Each round is ONE distributed job:
    * encode inline (plan-literal argmin), posexplode the code array,
    * aggregate integer-quantized subvector sums by (subspace, code).
    * Empty codes keep their previous centroid. Driver state:
    * m·ksub·dsub doubles. */
  def fitPq(embeddings: DataFrame, m: Int = 8, ksub: Int = 8, iters: Int = 1,
            idCol: String = "vec_id", vecCol: String = "embedding"): PqModel = {
    require(m >= 1 && ksub >= 1 && iters >= 0, "m, ksub >= 1; iters >= 0")
    val prep = embeddings.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val seedRows = prep
      .select(pmod(col("id") * lit(2654435761L), lit(1000000007L)).as("h"),
        col("id"), col("v"))
      .orderBy(col("h"), col("id")).limit(ksub)
      .collect()
    require(seedRows.nonEmpty, "cannot fit PQ on an empty corpus")
    val seeds = seedRows
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .sortBy { case (h, id, _) => (h, id) }
      .map(_._3)
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    var cbs: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seeds.map(_.slice(j * dsub, (j + 1) * dsub)))

    val vecSum = udaf(Clustering.vecSumAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    for (_ <- 1 to iters) {
      val sums = prep
        .select(posexplode(codesExpr(col("v"), cbs, dsub)).as(Seq("j", "cid")), col("v"))
        .select(col("j"), col("cid"),
          transform(slice(col("v"), col("j") * lit(dsub) + lit(1), lit(dsub)),
            x => floor(x * lit(QuantScale) + lit(0.5d)).cast("long")).as("qsv"))
        .groupBy(col("j"), col("cid"))
        .agg(count(lit(1)).as("n"), vecSum(col("qsv")).as("sq"))
        .collect() // bounded: m*ksub rows of (dsub+2) values — model state
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getSeq[Long](3)))
        .toMap
      cbs = Array.tabulate(m) { j =>
        Array.tabulate(cbs(j).length) { i =>
          sums.get((j, i + 1)) match {
            case Some((n, sq)) =>
              sq.map(s => s.toDouble / (n.toDouble * QuantScale)).toArray
            case None => cbs(j)(i) // emptied code keeps its centroid
          }
        }
      }
    }
    PqModel(m, dsub, cbs.map(_.map(_.toSeq).toSeq).toSeq)
  }

  /** Encode a corpus against a fitted model: `(idCol, codes)` with
    * `codes` an `array<int>` of m 1-based sub-codes — a pure
    * zero-shuffle projection (batch OR streaming). */
  def encodePq(embeddings: DataFrame, model: PqModel,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol),
      codesExpr(asDouble(col(vecCol)), model.cbArrays, model.dsub).as("codes"))

  /** ADC top-k: for every query (full-precision), the k nearest
    * encoded corpus vectors by asymmetric distance
    * `Σ_j ||q_j − cb_j[code_j]||²`, each per-subspace term quantized
    * to the 1e-6 grid so the sum is an exact integer (order-free —
    * the oracle's GROUP BY replays it exactly). Ties break by
    * candidate id. Returns `(query_id, neighbor_id, rank, adist)`
    * with `adist` the integer-backed quantized distance. */
  def adcTopK(corpus: DataFrame, queries: DataFrame, model: PqModel, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val enc = encodePq(corpus, idCol = idCol, vecCol = vecCol, model = model)
      .select(col(idCol).as("cand_id"), col("codes"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    adcTopKEncoded(enc, q, model, k)
  }

  /** Per-query ADC lookup table (`array<array<long>>`, m × ksub): the
    * quantized term for every (subspace, code) cell, computed ONCE on
    * the broadcast query side — the classic FAISS ADC-table trick.
    * Each cell is the SAME expression the per-pair form evaluated
    * (two dots + the a−b+c chain, then floor(t·1e6+0.5)), just
    * hoisted from per-(pair, subspace) to per-(query, subspace,
    * code), so every distance is bit-identical to the oracle's
    * per-pair replay while the corpus-side scan does m array lookups
    * per pair instead of m sub-vector dot products. */
  private def adcLut(qv: Column, model: PqModel): Column = {
    val dsub = model.dsub
    val cbLit = typedLit(model.codebooks)
    array((0 until model.m).map { j =>
      val qsub = slice(qv, j * dsub + 1, dsub)
      transform(element_at(cbLit, j + 1), cent => {
        val t = dot(qsub, qsub) - lit(2.0d) * dot(qsub, cent) + dot(cent, cent)
        floor(t * lit(AdcScale) + lit(0.5d)).cast("long")
      })
    }: _*)
  }

  /** ADC top-k over an ALREADY-ENCODED corpus `(cand_id, codes)` —
    * the shared search core: queries fold their ADC tables via
    * [[adcLut]], broadcast, and the encoded scan sums m table
    * lookups per pair into [[TopK.perGroup]]'s bounded aggregate. */
  private def adcTopKEncoded(enc: DataFrame, q: DataFrame,
                             model: PqModel, k: Int): DataFrame = {
    val qLut = q.select(col("query_id"), adcLut(col("qv"), model).as("lut"))
    val pairs = enc.crossJoin(broadcast(qLut))
    val dist = (0 until model.m).map(j =>
        element_at(element_at(col("lut"), j + 1), element_at(col("codes"), j + 1)))
      .reduce(_ + _)
    TopK.perGroup(
        pairs.select(col("query_id"), col("cand_id"),
          (-dist).cast("double").as("nsim")),
        "query_id", "cand_id", "nsim", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        ((-col("sim_raw")) / lit(AdcScale) + lit(0.0d)).as("adist"))
  }

  /** Compressed-domain near-dup: vectors whose PQ codes agree on ALL
    * m subspaces are candidate duplicates, verified by exact cosine
    * — SemDeDup blocking moved into the compressed domain. This is
    * the practical 100-TB embedding-dedup shape: the blocking key is
    * m bytes (not 64 floats), the only corpus-wide movement is ONE
    * shuffle on that key, and the exact refinement touches
    * within-bucket pairs only. Recall trades like any blocking
    * scheme (a near-dup pair split by one sub-code is missed —
    * q57/q79's banded tiers are the higher-recall alternatives);
    * precision is restored by the exact verify.
    *
    * Buckets are quadratic inside, so an over-collapsed codebook
    * (every vector coding identically) would silently turn the
    * verify into an all-pairs join — the probe fails fast past
    * `maxBucketSize` with a bounded `limit(1)` check, the
    * hllPairAlgebra/maxVocab fail-fast convention: the caller must
    * re-fit a wider codebook or switch to a banded tier, not wait
    * out an accidental n² job. */
  def pqCodeNearDup(corpus: DataFrame, model: PqModel, threshold: Double,
                    maxBucketSize: Int = 4096,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(maxBucketSize >= 2, "maxBucketSize must be at least 2")
    // localCheckpoint: the encode projection (m·ksub literal argmins
    // per row) is consumed three times — the guard probe and both
    // self-join sides — so cutting lineage here trades one corpus
    // materialization for two redundant full encode passes.
    val prep = corpus.select(
      col(idCol),
      asDouble(col(vecCol)).as("vec"))
      .withColumn("norm", graft.functions.VectorFunctions.l2Norm(col("vec")))
      .withColumn("codes", codesExpr(col("vec"), model.cbArrays, model.dsub))
      .localCheckpoint(true)
    val over = prep.groupBy(col("codes")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucketSize).limit(1).count()
    require(over == 0L,
      s"pqCodeNearDup: a code bucket exceeds $maxBucketSize vectors — the " +
        "codebook over-collapses this corpus; re-fit with more codes or use " +
        "the banded near-dup tiers (nearDupPairsLsh / semanticBlockedPairs)")
    // Distinct join-key aliases per side: a bare self-join on
    // `codes` relies on the analyzer's dataset-id disambiguation
    // (it repairs the reference but warns "trivially true
    // predicate"); explicit names make the equi-join unambiguous.
    val a = prep.select(col(idCol).as("vec_a"), col("vec").as("va"),
      col("norm").as("na"), col("codes").as("ca"))
    val b = prep.select(col(idCol).as("vec_b"), col("vec").as("vb"),
      col("norm").as("nb"), col("codes").as("cb"))
    a.join(b, col("ca") === col("cb") && col("vec_a") < col("vec_b"))
      .withColumn("sim_raw", graft.functions.VectorFunctions.cosinePrenormed(
        dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("sim_raw") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 6).as("sim"))
  }

  /** Two-stage retrieval: ADC shortlist → EXACT cosine re-rank — the
    * production serving shape (FAISS `IndexRefine`, every
    * retrieval-augmented pipeline's "ANN then re-score"): the
    * compressed index proposes `kShort` candidates per query from
    * codes alone, and only those kShort rows ever touch their
    * full-precision vectors again. The compressed scan prunes, the
    * exact pass decides — recall costs one small join instead of a
    * corpus-wide exact scan.
    *
    * Plan shape: ONE prepared corpus frame `(cand_id, vec, norm,
    * codes)` feeds BOTH stages; a caller whose corpus is expensive to
    * re-read materializes it first (q107 localCheckpoints the
    * embeddings its fit also reads). Stage 1 is
    * the [[adcTopKEncoded]] core (codes column scanned against the
    * broadcast query ADC tables, bounded top-kShort aggregate);
    * stage 2 joins the (queries × kShort)-row shortlist BACK onto
    * the same prepared frame with the shortlist broadcast — the
    * corpus is never shuffled, and the exact cosine (same
    * left-to-right double dot as q30's ground truth) runs on
    * shortlist rows only.
    * Output matches [[Similarity.bruteForceTopK]]'s presentation:
    * `(query_id, neighbor_id, rank, sim)` with raw-sim ranking,
    * id tiebreak, 6 dp display rounding. */
  def adcRerankTopK(corpus: DataFrame, queries: DataFrame, model: PqModel,
                    kShort: Int, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && kShort >= k, "need kShort >= k >= 1")
    val base = corpus.select(
        col(idCol).as("cand_id"),
        asDouble(col(vecCol)).as("vec"))
      .withColumn("norm", graft.functions.VectorFunctions.l2Norm(col("vec")))
      .withColumn("codes", codesExpr(col("vec"), model.cbArrays, model.dsub))
    val q = Similarity.prepared(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"))
    val short = adcTopKEncoded(
        base.select(col("cand_id"), col("codes")),
        q.select(col("query_id"), col("qvec").as("qv")), model, kShort)
      .select(col("query_id"), col("neighbor_id").as("cand_id"))
    val scored = base.select(col("cand_id"), col("vec"), col("norm"))
      .join(broadcast(short), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.VectorFunctions.cosinePrenormed(
          dot(col("vec"), col("qvec")), col("norm"), col("qnorm")).as("sim_raw"))
    TopK.perGroup(scored, "query_id", "cand_id", "sim_raw", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim_raw"), 6).as("sim"))
  }

  /** IVF-PQ — the production composition (FAISS's default index
    * family): a coarse quantizer routes vectors to inverted lists,
    * PQ encodes each vector's RESIDUAL against its list centroid
    * (residuals are tighter than raw vectors, so the same codebook
    * budget buys more precision), and a query probes only its
    * `nProbe` nearest lists. Search cost shrinks ~nProbe/nCoarse vs
    * the flat [[adcTopK]] scan while storage stays m bytes/vector.
    *
    * Shapes: coarse seeds are [[Clustering.fit]] with iters = 0 (the
    * deterministic hash-picked seed rule, one bounded collect — the
    * q33 IVF precedent); assignment + residual is one zero-shuffle
    * projection via [[Clustering.distStructs]] (the ONE copy of the
    * metric, so routing can never drift from training); the PQ model
    * fits on residuals through the same [[fitPq]] path; probing
    * explodes each query to its nProbe (d, cid)-sorted lists and the
    * candidate join is corpus-side-stationary — encoded lists join a
    * BROADCAST probe frame on `list_id`, terms are the same integer
    * grid as [[adcTopK]], top-k the same bounded aggregate. A
    * candidate lives in exactly one list, so no dedup is needed. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCoarse: Int = 16, nProbe: Int = 4,
                m: Int = 8, ksub: Int = 8, iters: Int = 1,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && nProbe >= 1 && nProbe <= nCoarse, "need 1 <= nProbe <= nCoarse")
    val coarse = Clustering.fit(corpus, nCoarse, iters = 0, idCol = idCol, vecCol = vecCol)
    val cents = coarse.toCentroids
    val centVecs = typedLit(coarse.centroids.sortBy(_._1).map(_._2))
    val dists = Clustering.distStructs(cents)

    val c = corpus.select(col(idCol).as("cand_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vv", dot(col("v"), col("v")))
    // One corpus materialization: the assigned+residual frame feeds
    // the PQ fit (two actions), the encode, and the candidate join —
    // without it every action re-runs coarse assignment + residual
    // from the source.
    val assigned = c
      .select(col("cand_id"), col("v"),
        array_min(array(dists: _*)).getField("cid").as("list_id"))
      .withColumn("rvec",
        zip_with(col("v"), element_at(centVecs, col("list_id")), (a, b) => a - b))
      .select(col("cand_id"), col("list_id"), col("rvec"))
      .localCheckpoint(true)
    val pq = fitPq(assigned.select(col("cand_id"), col("rvec")),
      m = m, ksub = ksub, iters = iters, idCol = "cand_id", vecCol = "rvec")
    val enc = assigned.select(col("cand_id"), col("list_id"),
      codesExpr(col("rvec"), pq.cbArrays, pq.dsub).as("codes"))

    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vv", dot(col("v"), col("v")))
    val probes = q
      .select(col("query_id"), col("v"),
        explode(slice(array_sort(array(dists: _*)), 1, nProbe)).as("a"))
      .select(col("query_id"), col("v"), col("a.cid").as("list_id"))
      .withColumn("rq",
        zip_with(col("v"), element_at(centVecs, col("list_id")), (a, b) => a - b))
      .select(col("query_id"), col("list_id"), col("rq"))

    // Per-(query, probed-list) ADC tables on the broadcast side (the
    // [[adcLut]] hoist — identical term arithmetic), so the encoded
    // scan sums m table lookups per candidate pair.
    val pairs = enc.join(
      broadcast(probes.select(col("query_id"), col("list_id"),
        adcLut(col("rq"), pq).as("lut"))), Seq("list_id"))
    val dist = (0 until pq.m).map(j =>
        element_at(element_at(col("lut"), j + 1), element_at(col("codes"), j + 1)))
      .reduce(_ + _)
    TopK.perGroup(
        pairs.select(col("query_id"), col("cand_id"),
          (-dist).cast("double").as("nsim")),
        "query_id", "cand_id", "nsim", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        ((-col("sim_raw")) / lit(AdcScale) + lit(0.0d)).as("adist"))
  }
}
