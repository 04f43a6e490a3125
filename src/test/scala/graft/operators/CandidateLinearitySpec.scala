package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.queries.TextQueries

/** Pins the prefix-filter join family's LINEAR candidate growth at
  * spec scale.
  *
  * Scaling model: m disjoint replicas (tokens of copy c prefixed
  * `c{c}·`, ids offset) keep every replica's internal duplicate
  * structure while sharing no tokens, so the candidate-pair stage of
  * a correctly-pruning prefix filter must produce EXACTLY m× the
  * base count — replicas cannot interact (the token-hash join key
  * could only add a cross-replica candidate via an xxhash64
  * collision, vanishingly unlikely and deterministic if ever hit).
  * A super-linear count here means the pruning degraded (band
  * blow-up, prefix mis-ranking) — the failure mode that turns a
  * linear 100-TB dedup into a quadratic one — caught at spec scale
  * instead of in a production sweep.
  */
class CandidateLinearitySpec extends SparkSuite {

  private val M = 3

  /** m disjoint replicas of a `(doc_id, text)` corpus — tokens of
    * copy c>0 prefixed `c{c}·`, ids offset. */
  private def replicate(corpus: DataFrame, m: Int): DataFrame =
    (0 until m).map { c =>
      if (c == 0) corpus
      else corpus.select(
        (col("doc_id") + lit(c.toLong * 100000000L)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(lit(s"c${c}·"), t))).as("text"))
    }.reduce(_ unionByName _)

  private def jacCandidates(corpus: DataFrame): Long = {
    val reps = Dedup.collapseIdentical(corpus, "doc_id", "text")
    val (tok, freq) = Dedup.tokFreqOf(reps)
    Dedup.prefixJaccardCandidates(tok, freq, 0.9).count()
  }

  private def check(name: String, base: DataFrame, candCount: DataFrame => Long,
                    opCount: DataFrame => Long): Unit = {
    val c1 = candCount(base)
    val p1 = opCount(base)
    val scaled = replicate(base, M)
    val cM = candCount(scaled)
    val pM = opCount(scaled)
    assert(c1 > 0, s"$name: base workload produced no candidates — vacuous gate")
    assert(cM === M * c1, s"$name: candidates not linear (m=1: $c1, m=$M: $cM)")
    assert(pM === M * p1, s"$name: result pairs not linear (m=1: $p1, m=$M: $pM)")
  }

  test("q46-shape PPJoin candidates grow exactly m× on disjoint replicas") {
    check("q46", TextQueries.q46Corpus(spark, sfDir),
      jacCandidates,
      c => Dedup.jaccardSimilarityJoin(c, threshold = 0.9).count())
  }

  test("q43-shape shingle-join candidates grow exactly m× on disjoint replicas") {
    // Replicate the PRE-shingled corpus: shingle tokens are plain
    // space-separated tokens to the operator, and prefixing keeps
    // replicas shingle-disjoint exactly like word corpora.
    check("q43", TextQueries.q43Corpus(
        spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text"))),
      jacCandidates,
      c => Dedup.jaccardSimilarityJoin(c, threshold = 0.9).count())
  }

  test("q90-shape containment candidates grow exactly m× on disjoint replicas") {
    check("q90", TextQueries.q90Corpus(spark, sfDir),
      c => Dedup.containmentCandidates(
        Dedup.containmentPrep(c, "doc_id", "text"), 0.9).count(),
      c => Dedup.containmentJoin(c, threshold = 0.9).count())
  }

  test("q81-shape delta-ingest candidates grow exactly m× on disjoint replicas") {
    // Replica id offsets are not multiples of 17, so each replica's
    // delta/corpus split differs from the base's — the RESULT row
    // count still grows exactly m× (one row per delta doc) but the
    // candidate count only approximately; pin candidates within
    // [m·c1/2, 2·m·c1] and the delta row contract exactly.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def split(c: DataFrame) = (
      c.filter(pmod(col("doc_id"), lit(17)) =!= 0),
      c.filter(pmod(col("doc_id"), lit(17)) === 0))
    def cand(c: DataFrame): Long = {
      val (corpus, delta) = split(c)
      Dedup.deltaNearParts(corpus, delta, 0.9, "doc_id", "text", 1 << 20)
        .candidates.count()
    }
    val c1 = cand(docs)
    val scaled = replicate(docs, M)
    val cM = cand(scaled)
    assert(c1 > 0, "q81: base workload produced no candidates — vacuous gate")
    assert(cM >= M.toLong * c1 / 2 && cM <= 2L * M * c1,
      s"q81: candidates far from linear (m=1: $c1, m=$M: $cM)")
    val (corpus1, delta1) = split(docs)
    val (corpusM, deltaM) = split(scaled)
    val r1 = Dedup.deltaIngest(corpus1, delta1, threshold = 0.9).count()
    val rM = Dedup.deltaIngest(corpusM, deltaM, threshold = 0.9).count()
    assert(r1 === delta1.count(), "q81: one row per delta doc violated at m=1")
    assert(rM === deltaM.count(), s"q81: one row per delta doc violated ($rM vs ${deltaM.count()})")
  }

  test("q105-shape triangle census grows exactly m× on disjoint graph replicas") {
    // Disjoint replicas by node-id offset: replicas share no nodes,
    // so a correctly-localized wedge join must produce EXACTLY m×
    // the base triangle census, and each replica's per-node counts
    // must equal the base's modulo the offset — any cross-replica
    // triangle (impossible without a join-key bug) or count drift
    // (an orientation bug double/under-counting) fails here at spec
    // scale, not in a production graph.
    val offset = 1000000L
    val base = graft.Tables.orders(spark, sfDir).select(
        pmod(col("o_custkey"), lit(256)).as("src"),
        pmod(col("o_custkey") * 7 + col("o_orderkey") * 13, lit(256)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val scaled = (0 until M).map(c =>
        base.select((col("src") + lit(c * offset)).as("src"),
          (col("dst") + lit(c * offset)).as("dst")))
      .reduce(_ unionByName _)
    val b = Graph.triangleCount(base, "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val s = Graph.triangleCount(scaled, "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val triBase = b.values.map(_._2).sum
    assert(triBase > 0, "q105: base graph has no triangles — vacuous gate")
    assert(s.size === M * b.size, s"q105: node count not linear (${b.size} → ${s.size})")
    assert(s.values.map(_._2).sum === M * triBase,
      s"q105: triangle mass not linear ($triBase → ${s.values.map(_._2).sum})")
    for (c <- 0 until M; (node, v) <- b)
      assert(s(node + c * offset) === v,
        s"q105: replica $c node $node census drifted from base")
  }
}
