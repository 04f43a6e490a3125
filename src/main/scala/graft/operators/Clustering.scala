package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{asDouble, dot}

/** Deterministic Lloyd's k-means over an embedding column — the
  * "train" half of the centroid machinery [[Similarity.ivfAnn]] and
  * [[Similarity.semanticBlockedPairs]] consume (those use hash-SEEDED
  * centroids; this refines the same seeds with real Lloyd
  * iterations, the SemDeDup / IVF-training recipe).
  *
  * Determinism & cross-engine exactness (the q56/q60 integer-state
  * recipe):
  *  - Seeds are the k corpus vectors with the smallest
  *    `(id*2654435761) % 1000000007` hash, id tie-break — the same
  *    deterministic selection [[Similarity]] uses, so an oracle can
  *    replay it with ORDER BY + LIMIT.
  *  - Assignment distance is squared Euclidean in the
  *    `|v|^2 - 2*v.c + |c|^2` form: every term is a left-to-right
  *    double dot product ([[graft.functions.DotProduct]] /
  *    DuckDB `list_inner_product`), so the doubles are bit-identical
  *    across engines; ties break to the smaller centroid id (strict
  *    `<` fold here, `row_number() ORDER BY dist, cluster_id` there).
  *  - The update step's per-cluster vector sums are where
  *    floating-point would diverge (double sums are
  *    accumulation-order dependent, and a shuffle has no order), so
  *    they run on an integer quantization: `floor(x*2^20 + 0.5)`
  *    per component (multiply by a power of two is exact, floor is
  *    exact → identical BIGINTs on both engines), summed as longs by
  *    a typed Aggregator whose partial states are one `long[dim]`
  *    per cluster per partition. The new centroid component is
  *    `(double)sum / ((double)n * 2^20)` — two correctly-rounded ops,
  *    bit-identical everywhere. Clusters that lose all members keep
  *    their previous centroid.
  *
  * Scale: each iteration is one corpus scan (the assignment fold is
  * a pure projection against plan-literal centroids — no join, no
  * broadcast exchange, no window) plus one partial aggregation whose
  * shuffle moves at most k×(dim+1) longs per input partition.
  * Centroid state is O(k·dim) on the driver — the same bounded
  * strategy-state exception as [[graft.sources.Consolidate]]'s
  * max-narrators scalar (and what Spark MLlib's KMeans does). The
  * corpus is re-scanned once per iteration; at 100 TB callers either
  * accept iters+1 scans or persist the prepared projection.
  *
  * Practical k bound: centroids are embedded as plan LITERALS
  * (k·dim doubles per assignment expression — zero joins, and the
  * generated source is literal-independent so codegen caches across
  * iterations). That is the right trade up to k·dim ≈ 10⁵ (k≈1000 at
  * dim 64 — the √n rule for corpora to ~10⁶ reps); past it, plan
  * size and analysis cost grow linearly and the broadcast
  * centroid-array fold ([[Similarity.semanticBlockedPairs]]'s
  * attach) becomes the better carrier. The k in an engine this size
  * realistically stays in the tens-to-hundreds (IVF lists, SemDeDup
  * blocks), squarely inside the literal regime.
  *
  * Reference scope: the reference pipeline has no clustering; this
  * is north-star tier for corpus curation (topic balancing, SemDeDup
  * blocking, IVF index training).
  */
object Clustering {

  private[operators] case class Centroid(id: Int, vec: Array[Double]) {
    /** |c|^2 summed left-to-right — same order as the engines' dot. */
    val normSq: Double = {
      var s = 0.0d; var i = 0
      while (i < vec.length) { s += vec(i) * vec(i); i += 1 }
      s
    }
  }

  /** A fitted set of centroids — the deployable artifact of [[fit]]:
    * plain driver-side doubles, so it serializes into a closure /
    * plan literal and scores batch or stream identically (the
    * fit-batch / score-stream split [[assignWithModel]] runs). */
  final case class KMeansModel(centroids: Seq[(Int, Seq[Double])]) {
    private[operators] def toCentroids: Array[Centroid] =
      centroids.map { case (id, v) => Centroid(id, v.toArray) }.toArray
  }

  /** Elementwise long-vector sum as a typed Aggregator: the partial
    * state is a single `long[dim]` per group per partition, so the
    * update shuffle moves merged states, not rows (the TopK rule). */
  private[graft] val vecSumAgg: Aggregator[Seq[Long], Array[Long], Seq[Long]] =
    new Aggregator[Seq[Long], Array[Long], Seq[Long]] {
      override def zero: Array[Long] = Array.emptyLongArray
      override def reduce(b: Array[Long], a: Seq[Long]): Array[Long] =
        if (b.isEmpty) a.toArray
        else { var i = 0; while (i < b.length) { b(i) += a(i); i += 1 }; b }
      override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
        if (x.isEmpty) y else if (y.isEmpty) x
        else { var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x }
      override def finish(b: Array[Long]): Seq[Long] = b.toSeq
      override def bufferEncoder = ExpressionEncoder[Array[Long]]()
      override def outputEncoder = ExpressionEncoder[Seq[Long]]()
    }

  private val QuantScale = 1048576.0d // 2^20: exact multiply, exact floor

  /** `iters` Lloyd rounds from hash-picked seeds; returns the final
    * assignment `(idCol, cluster_id, dist)` against the
    * post-iteration centroids, `dist` quantized floor(x*1e6+0.5)/1e6
    * (the engine-portable rounding — see q26's doc block). */
  def kmeans(embeddings: DataFrame, k: Int, iters: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignWithModel(embeddings, fit(embeddings, k, iters, idCol, vecCol), idCol, vecCol)

  /** The training half: `iters` Lloyd rounds, returning the fitted
    * centroids as a deployable [[KMeansModel]]. */
  def fit(embeddings: DataFrame, k: Int, iters: Int,
          idCol: String = "vec_id", vecCol: String = "embedding"): KMeansModel = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 0, "iters must be >= 0")
    val v = asDouble(col(vecCol))
    val prep = embeddings.select(
      col(idCol),
      v.as("v"),
      transform(v, x => floor(x * lit(QuantScale) + lit(0.5d)).cast("long")).as("qv"),
      dot(v, v).as("vv"))

    // Seed pick: bounded k-row collect off a global top-k (per-
    // partition partial limits — the corpus is never sorted whole).
    val seedRows = prep
      .select(pmod(col(idCol) * lit(2654435761L), lit(1000000007L)).as("h"),
        col(idCol).as("id"), col("v"))
      .orderBy(col("h"), col("id")).limit(k)
      .collect()
    var cents: Array[Centroid] = seedRows
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .sortBy { case (h, id, _) => (h, id) }
      .zipWithIndex
      .map { case ((_, _, vec), i) => Centroid(i + 1, vec) }
    require(cents.nonEmpty,
      "cannot fit k-means on an empty corpus (no seed vectors)")

    val vecSum = udaf(vecSumAgg, ExpressionEncoder[Seq[Long]]())
    for (_ <- 1 to iters) {
      val sums = prep
        .select(best(cents)("cid").as("cluster_id"), col("qv"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"), vecSum(col("qv")).as("sq"))
        .collect() // bounded: k rows of (dim+1) longs — strategy state
        .map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
      cents = cents.map { c =>
        sums.get(c.id) match {
          case Some((n, sq)) =>
            Centroid(c.id, sq.map(s => s.toDouble / (n.toDouble * QuantScale)).toArray)
          case None => c // emptied cluster keeps its previous centroid
        }
      }
    }

    KMeansModel(cents.map(c => (c.id, c.vec.toSeq)).toSeq)
  }

  /** The scoring half: nearest-centroid assignment of `embeddings`
    * (batch OR streaming — the plan is a pure stateless projection)
    * against a fitted model. Same output contract as [[kmeans]]. */
  def assignWithModel(embeddings: DataFrame, model: KMeansModel,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(model.centroids.nonEmpty, "model must have at least one centroid")
    val v = asDouble(col(vecCol))
    prepAssign(embeddings.select(col(idCol), v.as("v"), dot(v, v).as("vv")),
      model.toCentroids)
      .select(col(idCol), col("a.cid").as("cluster_id"),
        (floor(col("a.d") * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d)).as("dist"))
  }

  /** One `(d, cid)` struct per centroid over a frame carrying `v`
    * (double vector) and `vv` (its self-dot): d = |v|² - 2·v.c + |c|²
    * with every term a left-to-right double op. THE single copy of
    * the exactness-critical distance expression — [[best]] takes its
    * array_min and [[Similarity.semanticBlockedPairsWithModel]] its
    * sorted top-nAssign slice. */
  private[operators] def distStructs(cs: Array[Centroid]): Seq[Column] =
    cs.toSeq.map { c =>
      struct(
        (col("vv") - lit(2.0d) * dot(col("v"), lit(c.vec)) + lit(c.normSq)).as("d"),
        lit(c.id).as("cid"))
    }

  // Assignment: array_min over k (dist, cid) structs — struct
  // ordering is lexicographic (d, then cid), exactly the replayable
  // `ORDER BY dist, cluster_id` tie rule. Linear expression tree: a
  // when-chain fold that repeats the accumulator in both branches
  // doubles the TREE per centroid (2^k nodes — at k=8
  // analysis+codegen walked ~256 copies of each dot product and cost
  // more than the data). Centroids are plan literals: a pure
  // projection, nothing joined, nothing shuffled.
  private def best(cs: Array[Centroid]): Column =
    array_min(array(distStructs(cs): _*))

  /** `(input + best-struct "a")` projection over a frame carrying
    * `v` and `vv`. */
  private def prepAssign(prepped: DataFrame, cs: Array[Centroid]): DataFrame =
    prepped.withColumn("a", best(cs))

  /** GRID-BLOCKED DBSCAN over integer 2-D coordinates — the
    * density-based complement to [[fit]]'s centroid clustering:
    * k-means forces every point into a sphere; DBSCAN finds
    * arbitrary-shape dense regions and calls the sparse remainder
    * NOISE (the outlier semantics embedding-space curation actually
    * wants: "drop what belongs to no dense region"). Exact DBSCAN
    * semantics, sklearn conventions: the eps-neighborhood count
    * INCLUDES the point itself, `core` ⇔ count ≥ minPts; border
    * points (non-core with a core within eps) attach to the MIN
    * component label among their core neighbors (deterministic where
    * sklearn is order-dependent); everything else is noise with a
    * null cluster. Cluster labels are the min core id per
    * core-connectivity component.
    *
    * Scale shape — the classic spatial-join blocking: points bucket
    * into eps-width grid cells (exact positive-mod floor division,
    * portable to SQL's `//`), each point probes its 3×3 cell
    * neighborhood via ONE equi-join on the cell key (every true
    * ≤eps pair lands in exactly one neighbor-cell combination, so
    * pairs emerge deduplicated), and candidate work is quadratic
    * only PER CELL — an in-plan `raise_error` census guard fails
    * fast past `maxCellSize` (the q146 convention) instead of
    * silently running a dense-cell n². Core-core connectivity runs
    * on the [[Dedup.connectedComponents]] hash-min/pointer-jumping
    * machinery — logarithmic rounds, nothing corpus-quadratic.
    * Coordinate magnitudes must stay under 2^26 (documented: dist²
    * and cell arithmetic then fit longs exactly — quantized unit
    * embeddings and their blob offsets are ~2^25). */
  def dbscanGrid(points: DataFrame, idCol: String, xCol: Column, yCol: Column,
                 eps: Long, minPts: Int,
                 maxCellSize: Long = 4096L): DataFrame = {
    require(eps > 0, "eps must be positive")
    require(minPts >= 1, "minPts must be positive")
    require(maxCellSize >= 1, "maxCellSize must be positive")
    // Exact floor division via the positive modulus — Spark longs
    // truncate while SQL `//` floors, and grid cells must FLOOR so
    // negative coordinates bucket left, not toward zero.
    def fdiv(c: Column): Column =
      ((c - pmod(c, lit(eps))) / lit(eps)).cast("long")
    val pts = points.select(col(idCol).as("id"),
        xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .withColumn("cx", fdiv(col("x")))
      .withColumn("cy", fdiv(col("y")))
    val guard = pts.groupBy(col("cx"), col("cy"))
      .agg(count(lit(1)).as("__cn"))
      .withColumn("__cn",
        when(col("__cn") <= maxCellSize, col("__cn"))
          .otherwise(raise_error(
            lit(s"dbscanGrid: a grid cell exceeds $maxCellSize points — raise eps granularity or pre-aggregate"))
            .cast("long")))
    // The filter keeps the guard column referenced so Catalyst
    // cannot prune the raise_error away (counts are always >= 1).
    val g = pts.join(guard, Seq("cx", "cy")).filter(col("__cn") >= 1L)
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val lhs = g.select(col("id").as("a"), col("x").as("ax"),
        col("y").as("ay"), col("cx").as("__bx"), col("cy").as("__by"))
      .withColumn("o", explode(offsets))
      .select(col("a"), col("ax"), col("ay"),
        (col("__bx") + col("o.dx")).as("cx"),
        (col("__by") + col("o.dy")).as("cy"))
    val rhs = g.select(col("id").as("b"), col("x").as("bx"),
      col("y").as("by"), col("cx"), col("cy"))
    val dx = col("ax") - col("bx")
    val dy = col("ay") - col("by")
    val pairs = lhs.join(rhs, Seq("cx", "cy"))
      .filter(col("a") =!= col("b") &&
        dx * dx + dy * dy <= lit(eps) * lit(eps))
      .select(col("a"), col("b"))
      .localCheckpoint(true)
    val ncount = pairs.groupBy(col("a")).agg(count(lit(1)).as("__nb"))
    val flagged = pts.select(col("id"))
      .join(ncount.select(col("a").as("id"), col("__nb")), Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("__nb"), lit(0L)) + 1L >= minPts).as("is_core"))
      .localCheckpoint(true)
    val coreIds = flagged.filter(col("is_core")).select(col("id"))
    val coreEdges = pairs
      .join(coreIds.select(col("id").as("a")), Seq("a"), "semi")
      .join(coreIds.select(col("id").as("b")), Seq("b"), "semi")
    val comp = Dedup.connectedComponents(coreEdges, "a", "b")
    val coreLabel = coreIds
      .join(comp.select(col("id"), col("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("cl"))
    val borderLabel = pairs
      .join(coreLabel.select(col("id").as("b"), col("cl")), Seq("b"))
      .groupBy(col("a")).agg(min(col("cl")).as("bl"))
    flagged
      .join(coreLabel.select(col("id"), col("cl")), Seq("id"), "left")
      .join(borderLabel.select(col("a").as("id"), col("bl")), Seq("id"), "left")
      .select(col("id"),
        when(col("is_core"), lit("core"))
          .when(col("bl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("is_core"), col("cl"))
          .otherwise(col("bl")).as("cluster"))
  }

  /** Label cohesion / separation audit — "are my labels (clusters,
    * classes, topic assignments) geometrically REAL?" — the
    * Davies-Bouldin-flavor diagnostic in exact integers. Per label:
    * within-label dispersion `disp_e12 = (n·Σᵢ|xq|² − Σ_d S_d²)
    * div n²` (the trace of the covariance numerator over
    * e6-quantized embedding coordinates — the textbook
    * Σ|x−μ|² = Σ|x|² − |Σx|²/n identity with the division applied
    * once at the end, so everything before it is an exact integer)
    * and the separation to the NEAREST other centroid,
    * `sep_e12 = min_b Σ_d (S_ad·n_b − S_bd·n_a)² div (n_a²·n_b²)`
    * (centroid distance cleared of its denominators BEFORE the
    * min — exact; tie → smaller label). A healthy labeling has
    * sep ≫ disp; sep ≲ disp flags labels the geometry does not
    * support.
    *
    * Scale shape: one posexplode → (label, dim) sum census (map-side
    * combined, |labels|·dims rows) + a per-label scalar census; the
    * centroid pair join runs over |labels|·dims rows only — the
    * corpus is scanned twice and never shuffled beyond the map-side
    * partial aggregates. The pair stage is quadratic in |labels| by
    * design, so a `maxLabels` limit-probe fail-fasts a
    * high-cardinality labeling before any quadratic work. */
  def labelCohesion(embeddings: DataFrame, labelCol: String = "label",
                    vecCol: String = "embedding",
                    maxLabels: Int = 1024): DataFrame = {
    require(maxLabels >= 2, "maxLabels must be >= 2")
    val xq = floor(col("x") * lit(1000000d) + lit(0.5d)).cast("long")
    val base = embeddings
      .filter(col(labelCol).isNotNull)
      .select(col(labelCol).as("__l"), posexplode(asDouble(col(vecCol))).as(Seq("__d", "x")))
      .select(col("__l"), col("__d"), xq.as("__xq"))
    // Fail-fast label-cardinality bound: the centroid pair join below
    // is quadratic in |labels| BY DESIGN (every label vs every other)
    // — fine for class/cluster labelings, a scale-killer if someone
    // feeds a high-cardinality id column. Bounded limit-probe (the
    // nearDupPairsAuto discipline): distinct-labels scan stops at
    // maxLabels + 1 rows, never a full count.
    require(Bounded.fits(embeddings.filter(col(labelCol).isNotNull)
        .select(col(labelCol)).distinct(), maxLabels),
      s"labelCohesion: more than $maxLabels labels — the centroid pair " +
        "join is quadratic in labels; bucket or sample the labeling upstream")
    val dimSums = base.groupBy(col("__l"), col("__d"))
      .agg(sum(col("__xq")).as("__sd"))
    val perLabel = base.groupBy(col("__l"))
      .agg(sum(col("__xq").cast("decimal(38,0)") * col("__xq")).as("__sq2"))
      .join(dimSums.groupBy(col("__l"))
        .agg(sum(col("__sd").cast("decimal(38,0)") * col("__sd")).as("__ssd2")), "__l")
      .join(embeddings.filter(col(labelCol).isNotNull)
        .groupBy(col(labelCol).as("__l")).agg(count(lit(1)).as("n")), "__l")
      .withColumn("disp_e12", expr(
        "CAST((n * __sq2 - __ssd2) div (CAST(n AS decimal(38,0)) * n) AS BIGINT)"))
    val a = dimSums.select(col("__l").as("__la"), col("__d"), col("__sd").as("__sa"))
    val b = dimSums.select(col("__l").as("__lb"), col("__d"), col("__sd").as("__sb"))
    val cnts = perLabel.select(col("__l"), col("n"))
    val sep = a.join(b, Seq("__d")).filter(col("__la") =!= col("__lb"))
      .join(broadcast(cnts.select(col("__l").as("__la"), col("n").as("__na"))), "__la")
      .join(broadcast(cnts.select(col("__l").as("__lb"), col("n").as("__nb"))), "__lb")
      .withColumn("__t",
        (col("__sa").cast("decimal(38,0)") * col("__nb") -
          col("__sb").cast("decimal(38,0)") * col("__na")))
      .groupBy(col("__la"), col("__lb"), col("__na"), col("__nb"))
      .agg(sum(col("__t") * col("__t")).as("__num"))
      .withColumn("__sep", expr(
        "CAST(__num div (CAST(__na AS decimal(38,0)) * __na * __nb * __nb) AS BIGINT)"))
      .groupBy(col("__la").as("__l"))
      // min by (sep ASC, label ASC): min-struct comparison.
      .agg(min(struct(col("__sep"), col("__lb"))).as("__best"))
      .select(col("__l"), col("__best.__sep").as("sep_e12"),
        col("__best.__lb").as("nearest_label"))
    perLabel.join(sep, "__l")
      .select(col("__l").as(labelCol), col("n"), col("disp_e12"),
        col("nearest_label"), col("sep_e12"))
  }
}
