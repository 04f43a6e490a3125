package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.asDouble
import graft.operators.{Clustering, Quantization, Similarity}

/** Similarity search over the `embeddings` table (`array<float>`,
  * 64-dim): exact brute-force top-k (ground truth), exact near-dup
  * pairs, and the LSH / IVF approximate scale paths.
  *
  * Oracle float policy: the dot product is computed left-to-right in
  * double precision on both sides (Spark `aggregate`/`zip_with` HOFs
  * vs DuckDB `list_inner_product` on DOUBLE[]), and displayed
  * similarity is rounded to 6 dp with ranking done on the raw value
  * with an id tie-break — empirically bit-stable across engines.
  */
object VectorQueries {

  private val oracleProlog = """
    WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
               FROM embeddings)"""

  /** Shared q237/q240/q243 serving fixture: standing/delta split,
    * FROZEN standing-fit centroid model, merged (standing ∪ delta)
    * index — stated once so the three serving routes (index join,
    * streamed broadcast probe, sharded) provably serve the SAME
    * index. Returns (corpus, centroids, merged index). */
  private def mergedIndexSetup(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val emb = Tables.embeddings(s, d)
    val standing = emb.filter(pmod(col("vec_id"), lit(13)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(13)) === 0)
    val cents = Similarity.ivfCentroids(standing, nCentroids = 16)
    val merged = Similarity.ivfMergeDelta(
      Similarity.ivfIndex(standing, cents), delta, cents)
    (emb, cents, merged)
  }

  /** Shared q237/q240 oracle: standing-only seeds + full-corpus
    * frozen-model assignment + probe + in-list scoring (see q237's
    * comment). q240 — the STREAMING serve lane — reuses it verbatim:
    * the stream result must equal the batch serve result exactly. */
  private val ivfServeOracle = oracleProlog + """,

      standing AS (SELECT * FROM p WHERE vec_id % 13 <> 0),
      seeds AS (
        SELECT vec_id, v, nrm, (vec_id * 2654435761) % 1000000007 AS cid
        FROM standing ORDER BY cid, vec_id LIMIT 16),
      cent AS (
        SELECT CAST(row_number() OVER (ORDER BY cid, vec_id) AS INTEGER) AS centroid_id,
               v AS cv, nrm AS cnrm
        FROM seeds),
      assign AS (
        SELECT p.vec_id, p.v, p.nrm, cent.centroid_id,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY list_inner_product(p.v, cent.cv)/(p.nrm*cent.cnrm) DESC,
                                           cent.centroid_id) AS rn
        FROM p CROSS JOIN cent),
      ca AS (SELECT vec_id, v, nrm, centroid_id FROM assign WHERE rn = 1),
      qa AS (
        SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qnrm, cent.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_inner_product(q.v, cent.cv)/(q.nrm*cent.cnrm) DESC,
                                           cent.centroid_id) AS crank
        FROM p q CROSS JOIN cent WHERE q.vec_id < 10),
      probes AS (SELECT query_id, qv, qnrm, centroid_id FROM qa WHERE crank <= 4),
      scored AS (
        SELECT pr.query_id, ca.vec_id AS neighbor_id,
               list_inner_product(ca.v, pr.qv)/(ca.nrm*pr.qnrm) AS sim_raw
        FROM ca JOIN probes pr ON ca.centroid_id = pr.centroid_id AND ca.vec_id <> pr.query_id),
      ranked AS (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim_raw DESC, neighbor_id) AS BIGINT) AS rank,
               round(sim_raw, 6) AS sim
        FROM scored)
      SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank"""

  /** The q150 oracle's unrolled power-iteration rounds: each round is
    * one matmul CTE plus one integer-renormalization CTE, mirroring
    * `Features.fitPcaTop`'s driver loop verbatim. MATERIALIZED is
    * load-bearing: each round references its predecessor twice, so
    * DuckDB's default CTE inlining re-expands the whole upstream
    * pipeline 2^rounds times. */
  private def pcaOracleRounds(n: Int): String =
    (1 to n).map { k =>
      val pv = s"v${k - 1}"
      s""",
      w$k AS MATERIALIZED (SELECT c.i AS dim, CAST(SUM(c.c * $pv.v) AS BIGINT) AS w
              FROM cp c JOIN $pv ON $pv.dim = c.j GROUP BY 1),
      v$k AS MATERIALIZED (SELECT dim, CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END) *
                (ABS(w) // GREATEST(1, (SELECT MAX(ABS(w)) FROM w$k) // 1048576))
                AS BIGINT) AS v FROM w$k)"""
    }.mkString

  /** Unrolled beam-walk oracle (q217): the exact top-`m` adjacency,
    * then `hops` (expand → score → cut-to-beam) CTE layers, then the
    * final top-`k` over the last hop's candidate pool. MATERIALIZED
    * on the quadratic fit and per-hop scoring for the same CTE-
    * inlining reason as [[pcaOracleRounds]]. */
  private def graphAnnOracle(m: Int, beam: Int, hops: Int, k: Int): String = {
    val head = oracleProlog + s""",
      pm AS MATERIALIZED (SELECT vec_id, v, nrm FROM p),
      sims AS MATERIALIZED (
        SELECT a.vec_id AS i, b.vec_id AS j,
               list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS s
        FROM pm a JOIN pm b ON b.vec_id <> a.vec_id),
      adj AS MATERIALIZED (
        SELECT i, j FROM (
          SELECT i, j, row_number() OVER (PARTITION BY i ORDER BY s DESC, j) AS rn
          FROM sims) WHERE rn <= $m),
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM pm WHERE vec_id < 10),
      e AS (SELECT MIN(vec_id) AS node FROM pm),
      f0 AS (SELECT q.query_id, e.node FROM q, e)"""
    val hopSql = (1 to hops).map { h =>
      val prev = s"f${h - 1}"
      s""",
      c$h AS (SELECT DISTINCT query_id, node FROM (
          SELECT query_id, node FROM $prev
          UNION ALL
          SELECT $prev.query_id, adj.j AS node FROM $prev JOIN adj ON adj.i = $prev.node)),
      s$h AS MATERIALIZED (SELECT c$h.query_id, c$h.node,
               list_inner_product(pm.v, q.qv) / (pm.nrm * q.qn) AS s
             FROM c$h JOIN pm ON pm.vec_id = c$h.node
                      JOIN q ON q.query_id = c$h.query_id),
      f$h AS (SELECT query_id, node FROM (
          SELECT query_id, node,
                 row_number() OVER (PARTITION BY query_id ORDER BY s DESC, node) AS rn
          FROM s$h) WHERE rn <= $beam)"""
    }.mkString
    head + hopSql + s"""
      SELECT query_id, node AS neighbor_id,
             CAST(rank AS BIGINT) AS rank, round(s, 6) AS sim
      FROM (SELECT query_id, node, s,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, node) AS rank
            FROM s$hops WHERE node <> query_id)
      WHERE rank <= $k
      ORDER BY query_id, rank"""
  }

  /** Unrolled farthest-point-sampling oracle (q224): k (distance →
    * argmax) CTE rounds; round i's min-distance column is the
    * nested-LEAST chain (value-identical to the engine's flat least —
    * IEEE min over NaN-free values is selection-order independent).
    * MATERIALIZED per pcaOracleRounds' inlining note. */
  private def kCenterOracle(k: Int): String = {
    val head = """
      WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,
                     list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS naa
              FROM embeddings),
      c1 AS (SELECT vec_id, v, naa FROM p ORDER BY vec_id LIMIT 1),
      d1 AS MATERIALIZED (SELECT p.vec_id, p.v, p.naa,
              p.naa - 2 * list_inner_product(p.v, c1.v) + c1.naa AS md
            FROM p, c1)"""
    val rounds = (2 to k).map { i =>
      val excl = (1 until i).map(j => s"SELECT vec_id FROM c$j")
        .mkString(" UNION ALL ")
      val pick = s""",
      c$i AS (SELECT vec_id, v, naa, md FROM d${i - 1}
              WHERE vec_id NOT IN ($excl)
              ORDER BY md DESC, vec_id LIMIT 1)"""
      val dist = if (i == k) "" else s""",
      d$i AS MATERIALIZED (SELECT d.vec_id, d.v, d.naa,
              LEAST(d.md, d.naa - 2 * list_inner_product(d.v, c.v) + c.naa) AS md
            FROM d${i - 1} d, c$i c)"""
      pick + dist
    }.mkString
    val out = (1 to k).map { i =>
      if (i == 1)
        s"SELECT CAST(1 AS BIGINT) AS rank, vec_id, CAST(NULL AS DOUBLE) AS d2_at_pick FROM c1"
      else s"SELECT CAST($i AS BIGINT), vec_id, round(md, 6) FROM c$i"
    }.mkString("\n      UNION ALL ")
    head + rounds + s"""
      $out
      ORDER BY rank"""
  }

  val qs: Seq[Q] = Seq(

    // ---- q225: label cohesion/separation audit — "are my labels
    // geometrically REAL?" (the Davies-Bouldin flavor, exact): per
    // label the within-label dispersion trace and the distance to
    // the NEAREST other centroid, both as exact integers over
    // e6-quantized coordinates (Σ|x−μ|² = Σ|x|² − |Σx|²/n with the
    // one division applied last; centroid distances cleared of
    // denominators BEFORE the min). sep ≲ disp flags labels the
    // geometry does not support — the audit between q82's k-means
    // fit and q144's label-quality AUC.
    Q("q225_label_cohesion", Some("""
      WITH e AS (SELECT label, embedding::DOUBLE[] AS v
                 FROM embeddings WHERE label IS NOT NULL),
      x0 AS (SELECT label, v,
                    UNNEST(range(1, CAST(len(v) + 1 AS BIGINT))) AS d FROM e),
      x AS (SELECT label, d,
                   CAST(FLOOR(v[d] * 1000000 + 0.5) AS BIGINT) AS xq FROM x0),
      ds AS (SELECT label, d, CAST(SUM(xq) AS BIGINT) AS sd FROM x GROUP BY 1, 2),
      pl AS (SELECT label, SUM(CAST(xq AS HUGEINT) * xq) AS sq2 FROM x GROUP BY 1),
      ss AS (SELECT label, SUM(CAST(sd AS HUGEINT) * sd) AS ssd2 FROM ds GROUP BY 1),
      nn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
      coh AS (SELECT pl.label, nn.n,
                CAST((nn.n * pl.sq2 - ss.ssd2)
                     // (CAST(nn.n AS HUGEINT) * nn.n) AS BIGINT) AS disp_e12
              FROM pl JOIN ss USING (label) JOIN nn USING (label)),
      pr AS (SELECT a.label AS la, b.label AS lb, na.n AS na, nb.n AS nb,
               SUM((CAST(a.sd AS HUGEINT) * nb.n - CAST(b.sd AS HUGEINT) * na.n)
                 * (CAST(a.sd AS HUGEINT) * nb.n - CAST(b.sd AS HUGEINT) * na.n)) AS num
             FROM ds a JOIN ds b ON b.d = a.d AND b.label <> a.label
                  JOIN nn na ON na.label = a.label
                  JOIN nn nb ON nb.label = b.label
             GROUP BY 1, 2, 3, 4),
      sp AS (SELECT la, lb,
               CAST(num // (CAST(na AS HUGEINT) * na * nb * nb) AS BIGINT) AS sep_e12
             FROM pr),
      best AS (SELECT la, lb AS nearest_label, sep_e12,
                      row_number() OVER (PARTITION BY la
                                         ORDER BY sep_e12 ASC, lb ASC) AS rn
               FROM sp)
      SELECT coh.label, coh.n, coh.disp_e12, best.nearest_label, best.sep_e12
      FROM coh JOIN best ON best.la = coh.label AND best.rn = 1
      ORDER BY coh.label""")) { (s, d) =>
      Clustering.labelCohesion(Tables.embeddings(s, d)).orderBy("label")
    },

    // ---- q224: k-center coreset via farthest-point sampling
    // (Gonzalez's greedy 2-approximation) — the DIVERSITY selector
    // the sampling tier lacked: q50/q74/q122 sample by rate/size/
    // stride, q152/q76 by importance, this picks the k points that
    // COVER the embedding space (max-min distance), the coreset/
    // active-learning primitive. Deterministic seed (min id) + tie
    // rule → a pure function of the corpus; the oracle replays all
    // k greedy rounds verbatim. Each round is one corpus scan
    // against literal center vectors (no join, no shuffle) + a
    // top-1 cut; only 1 row/round collects.
    Q("q224_kcenter_coreset", Some(kCenterOracle(6))) { (s, d) =>
      Similarity.kCenterCoreset(Tables.embeddings(s, d), k = 6)
        .orderBy("rank")
    },

    // ---- q30: exact top-5 cosine neighbors for queries vec_id < 10.
    // Queries broadcast; corpus scanned once, top-k cut per query.
    Q("q30_knn_cosine", Some(oracleProlog + """,
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_inner_product(c.v, q.v) / (c.nrm * q.nrm) AS sim_raw
        FROM p c JOIN p q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      ranked AS (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim_raw DESC, neighbor_id) AS BIGINT) AS rank,
               round(sim_raw, 6) AS sim
        FROM scored)
      SELECT query_id, neighbor_id, rank, sim FROM ranked
      WHERE rank <= 5
      ORDER BY query_id, rank""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // ---- q31: embedding near-duplicate pairs (cosine >= 0.45),
    // size-guarded: up to 16384 vectors the exact self-join runs
    // (every test SF — the oracle below IS the exact join, so the
    // gate exercises that branch); above the bound the plan routes
    // to the LSH-bucketed candidates + exact refinement instead of
    // dying quadratically (SimilaritySpec pins the routing and the
    // routed result). The bounded limit-probe never full-counts the
    // corpus. Threshold 0.45, NOT a production 0.99: the synthetic
    // embeddings carry no true twins (max pairwise cosine ≈ 0.51 at
    // sf0.01), so a 0.99 gate hash-matched on EMPTY results — a bug
    // that also returned empty would have passed (round-7 verdict).
    // At 0.45 the gate carries 7/14/144 pairs at sf0.001/0.01/0.1;
    // the 0.99 near-dup semantics stay pinned on synthesized twins
    // in SimilaritySpec.
    Q("q31_embedding_neardup", Some(oracleProlog + """
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
      FROM p a JOIN p b ON a.vec_id < b.vec_id
      WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
      ORDER BY vec_a, vec_b""")) { (s, d) =>
      Similarity.nearDupPairsAuto(Tables.embeddings(s, d), threshold = 0.45, dim = 64)
        .orderBy("vec_a", "vec_b")
    },

    // ---- q32: LSH-bucketed ANN (16 tables × 6 hyperplanes = 64
    // buckets/table). Approximate vs exact kNN, but fully
    // DETERMINISTIC: the hyperplane sign matrix is md5-derived
    // (VectorFunctions.hyperplaneBit, pinned kernel==column in
    // VectorFunctionsSpec), so the oracle rebuilds the exact same
    // buckets in SQL — bucket membership, candidate dedup, scoring,
    // and ranking all hash-gate. Recall vs the exact q30 is
    // additionally asserted in SimilaritySpec.
    Q("q32_ann_lsh", Some(oracleProlog + """,
      planes AS (
        SELECT pl, list_transform(range(0, 64), j ->
            CASE WHEN ((('0x'||substr(md5('plane:'||pl||':'||j),1,15))::BIGINT >> (j%60)) & 1) = 1
                 THEN 1.0 ELSE -1.0 END) AS s
        FROM range(0, 96) t(pl)),
      bits AS (
        SELECT p.vec_id, pl.pl // 6 AS tbl, pl.pl % 6 AS pidx,
               CASE WHEN list_inner_product(p.v, pl.s) > 0 THEN 1 ELSE 0 END AS bit
        FROM p CROSS JOIN planes pl),
      bucks AS (
        SELECT vec_id, tbl, CAST(SUM(bit << pidx) AS BIGINT) AS bucket
        FROM bits GROUP BY vec_id, tbl),
      cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS cand_id
        FROM bucks cb JOIN bucks qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
        WHERE qb.vec_id < 10 AND cb.vec_id <> qb.vec_id),
      scored AS (
        SELECT c.query_id, c.cand_id AS neighbor_id,
               list_inner_product(pc.v, pq.v)/(pc.nrm*pq.nrm) AS sim_raw
        FROM cand c JOIN p pc ON pc.vec_id = c.cand_id JOIN p pq ON pq.vec_id = c.query_id),
      ranked AS (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim_raw DESC, neighbor_id) AS BIGINT) AS rank,
               round(sim_raw, 6) AS sim
        FROM scored)
      SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.lshAnn(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64,
        nPlanes = 6, nTables = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // ---- q33: IVF-style ANN (16 centroids, 4 probes). Approximate
    // vs exact kNN but deterministic end to end (hash-seeded centroid
    // selection, argmax assignment with centroid-id tie-break), so
    // the oracle replays the exact pipeline in SQL: seeds → centroid
    // numbering → corpus argmax assignment → query probes → bucket-
    // local scoring → top-5. Recall pins live in SimilaritySpec.
    Q("q33_ann_ivf", Some(oracleProlog + """,
      seeds AS (
        SELECT vec_id, v, nrm, (vec_id * 2654435761) % 1000000007 AS cid
        FROM p ORDER BY cid, vec_id LIMIT 16),
      cent AS (
        SELECT CAST(row_number() OVER (ORDER BY cid, vec_id) AS INTEGER) AS centroid_id,
               v AS cv, nrm AS cnrm
        FROM seeds),
      assign AS (
        SELECT p.vec_id, p.v, p.nrm, cent.centroid_id,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY list_inner_product(p.v, cent.cv)/(p.nrm*cent.cnrm) DESC,
                                           cent.centroid_id) AS rn
        FROM p CROSS JOIN cent),
      ca AS (SELECT vec_id, v, nrm, centroid_id FROM assign WHERE rn = 1),
      qa AS (
        SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qnrm, cent.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_inner_product(q.v, cent.cv)/(q.nrm*cent.cnrm) DESC,
                                           cent.centroid_id) AS crank
        FROM p q CROSS JOIN cent WHERE q.vec_id < 10),
      probes AS (SELECT query_id, qv, qnrm, centroid_id FROM qa WHERE crank <= 4),
      scored AS (
        SELECT pr.query_id, ca.vec_id AS neighbor_id,
               list_inner_product(ca.v, pr.qv)/(ca.nrm*pr.qnrm) AS sim_raw
        FROM ca JOIN probes pr ON ca.centroid_id = pr.centroid_id AND ca.vec_id <> pr.query_id),
      ranked AS (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim_raw DESC, neighbor_id) AS BIGINT) AS rank,
               round(sim_raw, 6) AS sim
        FROM scored)
      SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfAnn(emb, emb.filter(col("vec_id") < 10), k = 5,
        nCentroids = 16, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // ---- q235: incremental IVF index maintenance (r17) — the
    // vector-tier analogue of q81's delta ingest: centroids are fit
    // ONCE on the standing corpus (vec_id % 13 ≠ 0) and FROZEN; the
    // delta (vec_id % 13 = 0) is assigned under that frozen model
    // and appended to the standing index WITHOUT refit — standing
    // rows are never recomputed (checkpointed index = the persisted
    // artifact), only the delta pays a broadcast-fold assignment.
    // The oracle replays seed selection + nearest-centroid
    // assignment (the q33 CTEs) with seeds drawn from standing ONLY
    // — which is exactly what makes the no-refit contract testable:
    // a refit would move the centroids and the hash would diverge.
    Q("q235_ivf_delta_merge", Some(oracleProlog + """,
      standing AS (SELECT * FROM p WHERE vec_id % 13 <> 0),
      delta AS (SELECT * FROM p WHERE vec_id % 13 = 0),
      seeds AS (
        SELECT vec_id, v, nrm, (vec_id * 2654435761) % 1000000007 AS cid
        FROM standing ORDER BY cid, vec_id LIMIT 16),
      cent AS (
        SELECT CAST(row_number() OVER (ORDER BY cid, vec_id) AS INTEGER) AS centroid_id,
               v AS cv, nrm AS cnrm
        FROM seeds),
      allv AS (SELECT vec_id, v, nrm, 'standing' AS src FROM standing
               UNION ALL SELECT vec_id, v, nrm, 'delta' AS src FROM delta),
      assign AS (
        SELECT allv.vec_id, allv.src, cent.centroid_id,
               row_number() OVER (PARTITION BY allv.vec_id
                                  ORDER BY list_inner_product(allv.v, cent.cv)/(allv.nrm*cent.cnrm) DESC,
                                           cent.centroid_id) AS rn
        FROM allv CROSS JOIN cent)
      SELECT vec_id, centroid_id, src FROM assign WHERE rn = 1
      ORDER BY vec_id""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val standing = emb.filter(pmod(col("vec_id"), lit(13)) =!= 0)
      val delta = emb.filter(pmod(col("vec_id"), lit(13)) === 0)
      val cents = Similarity.ivfCentroids(standing, nCentroids = 16)
      // The checkpoint stands in for reading the persisted index
      // back from the store: standing assignment runs once and the
      // merge appends to a FLAT artifact, proving no recompute.
      val index = Similarity.ivfIndex(standing, cents).localCheckpoint(true)
      Similarity.ivfMergeDelta(index, delta, cents)
        .withColumn("src", when(pmod(col("vec_id"), lit(13)) === 0, lit("delta"))
          .otherwise(lit("standing")))
        .orderBy("vec_id")
    },

    // ---- q237: ANN serving over the MERGED incremental index
    // (r17) — the query half of the q235 maintenance loop and the
    // point of keeping an index at all: top-k queries probe the
    // frozen standing-corpus centroids and score only within probed
    // inverted lists of the MERGED (standing ∪ delta) index, with
    // assignment read from the index frame — never recomputed at
    // query time. Delta vectors are immediately retrievable, and
    // results equal a from-scratch q33-style build under the same
    // frozen model (assignment determinism — that equality is what
    // the hash proves). The oracle replays standing-only seeds +
    // full-corpus assignment + probe + in-list scoring.
    Q("q237_ivf_index_serve", Some(ivfServeOracle)) { (s, d) =>
      // No checkpoint on the merged index here (unlike q235): it has
      // ONE consumer — the serving join — so a materialization job
      // would be pure cost, not a multi-consumer cut.
      val (emb, cents, merged) = mergedIndexSetup(s, d)
      Similarity.ivfAnnWithIndex(emb, merged, cents,
          emb.filter(col("vec_id") < 10), k = 5, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // ---- q240: the STREAMING ANN-SERVE lane (r18) — the production
    // query half of the q235/q237 maintenance loop: an unbounded
    // stream of query vectors scores against the broadcast MERGED
    // (standing ∪ delta) index under the frozen centroid model —
    // fit-batch/score-stream, zero state, no stream-side shuffle,
    // the vector-tier sibling of q234's triage lane. The results
    // equal the batch q237 top-k bit-for-bit (same oracle SQL), so
    // the hash proves batch/stream parity, not just plausibility.
    Q("q240_stream_ann_serve", Some(ivfServeOracle)) { (s, d) =>
      val (emb, cents, merged) = mergedIndexSetup(s, d)
      val qStream = graft.streaming.StreamLane.embeddings(s, d)
        .filter(col("vec_id") < 10)
      val served = Similarity.ivfServeBroadcast(emb, merged, cents,
        qStream, k = 5, nProbe = 4)
      graft.streaming.StreamLane.drain(s, served, "append", "q240_mem",
          noDataBatch = false)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // ---- q243: SHARDED ANN serving (r18) — the fit guard's escape
    // hatch made concrete: the merged index splits into 4 disjoint
    // centroid-hash shards, each shard serves its sub-index
    // independently (probe selection against the FULL frozen model),
    // and the union of per-shard top-k re-ranks to the final answer.
    // Exact by construction (each global top-k member is its own
    // shard's top-≤k), and the hash proves it: same oracle as
    // q237/q240 — single-index, streamed, and sharded serving all
    // produce the identical result. At 1000 executors each shard is
    // broadcast-sized and the merge moves queries × k × shards rows.
    Q("q243_ivf_serve_sharded", Some(ivfServeOracle)) { (s, d) =>
      val (emb, cents, merged0) = mergedIndexSetup(s, d)
      val merged = merged0.localCheckpoint(true) // one consumer PER SHARD — cut the 4× re-assign
      Similarity.ivfServeSharded(emb, merged, cents,
          emb.filter(col("vec_id") < 10), k = 5, nProbe = 4, nShards = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // ---- q244: retrieval-quality audit (r18) — the ranking-quality
    // axis q127's recall audit doesn't see: the IVF tier's top-5
    // (q33 configuration) scored against the exact top-5 ground
    // truth with binary-relevance rank metrics as EXACT integers —
    // overlap, first-hit rank, e9 reciprocal rank, e6 DCG/ideal-DCG
    // masses under FIXED floor(1e6/log2(i+1)) weight literals (no
    // runtime logs on either engine — the q55/q231 portable-
    // exactness split). The oracle replays BOTH retrieval systems
    // (the q33 IVF CTEs + the exact window) and the same integer
    // metric arithmetic.
    Q("q244_retrieval_audit", Some(oracleProlog + """,
      seeds AS (
        SELECT vec_id, v, nrm, (vec_id * 2654435761) % 1000000007 AS cid
        FROM p ORDER BY cid, vec_id LIMIT 16),
      cent AS (
        SELECT CAST(row_number() OVER (ORDER BY cid, vec_id) AS INTEGER) AS centroid_id,
               v AS cv, nrm AS cnrm
        FROM seeds),
      assign AS (
        SELECT p.vec_id, p.v, p.nrm, cent.centroid_id,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY list_inner_product(p.v, cent.cv)/(p.nrm*cent.cnrm) DESC,
                                           cent.centroid_id) AS rn
        FROM p CROSS JOIN cent),
      ca AS (SELECT vec_id, v, nrm, centroid_id FROM assign WHERE rn = 1),
      qa AS (
        SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qnrm, cent.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_inner_product(q.v, cent.cv)/(q.nrm*cent.cnrm) DESC,
                                           cent.centroid_id) AS crank
        FROM p q CROSS JOIN cent WHERE q.vec_id < 10),
      probes AS (SELECT query_id, qv, qnrm, centroid_id FROM qa WHERE crank <= 4),
      scored AS (
        SELECT pr.query_id, ca.vec_id AS neighbor_id,
               list_inner_product(ca.v, pr.qv)/(ca.nrm*pr.qnrm) AS sim_raw
        FROM ca JOIN probes pr ON ca.centroid_id = pr.centroid_id AND ca.vec_id <> pr.query_id),
      sysr AS (
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim_raw DESC, neighbor_id) AS BIGINT) AS rank
          FROM scored) WHERE rank <= 5),
      tr AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_inner_product(c.v, q.v)/(c.nrm*q.nrm) DESC,
                            c.vec_id) AS r
          FROM p c JOIN p q ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
        WHERE r <= 5),
      j AS (
        SELECT s.query_id, s.rank, (t.neighbor_id IS NOT NULL) AS rel
        FROM sysr s LEFT JOIN tr t
          ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id),
      tc AS (SELECT query_id, COUNT(*) AS n_truth FROM tr GROUP BY 1),
      per AS (
        SELECT query_id,
               CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               MIN(CASE WHEN rel THEN rank END) AS fhr,
               CAST(SUM(CASE WHEN rel THEN
                 CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630929 WHEN 3 THEN 500000
                           WHEN 4 THEN 430676 ELSE 386852 END ELSE 0 END) AS BIGINT) AS dcg_e6
        FROM j GROUP BY 1)
      SELECT per.query_id, per.n_hits,
             CAST(per.fhr AS BIGINT) AS first_hit_rank,
             CAST(COALESCE(1000000000 // per.fhr, 0) AS BIGINT) AS mrr_e9,
             per.dcg_e6,
             CAST(CASE LEAST(tc.n_truth, 5) WHEN 1 THEN 1000000 WHEN 2 THEN 1630929
                  WHEN 3 THEN 2130929 WHEN 4 THEN 2561605 ELSE 2948457 END AS BIGINT) AS idcg_e6
      FROM per JOIN tc USING (query_id)
      ORDER BY query_id""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qset = emb.filter(col("vec_id") < 10)
      graft.operators.Evaluation.retrievalQualityAudit(
          Similarity.bruteForceTopK(emb, qset, k = 5),
          Similarity.ivfAnn(emb, qset, k = 5, nCentroids = 16, nProbe = 4),
          k = 5)
        .orderBy("query_id")
    },

    // ---- q246: index-drift refit policy (r18) — the "periodic
    // refit when drift accumulates" decision the ivfMergeDelta
    // scaladoc declares as a policy ABOVE the merge operator, made a
    // gated operator: assign the WHOLE corpus under the frozen
    // standing-fit model, split into standing/delta cohorts, and run
    // the q126 chi-square machinery over the centroid-occupancy
    // histograms — a high chi2 means the delta's distribution has
    // drifted off the frozen centroids and a refit is due. The
    // decimal-summed chi2 doubles hash-gate (q126 precedent); the
    // refit flag is one comparison of identical doubles.
    Q("q246_index_drift", Some(ivfServeOracle.split("qa AS")(0) + """
      h AS MATERIALIZED (SELECT CASE WHEN vec_id % 13 = 0 THEN 'delta' ELSE 'standing' END AS cohort,
                   CAST(centroid_id AS BIGINT) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM ca GROUP BY 1, 2),
      pl AS (SELECT bin, CAST(SUM(o) AS BIGINT) AS pb FROM h GROUP BY 1),
      gt AS (SELECT cohort, CAST(SUM(o) AS BIGINT) AS ng FROM h GROUP BY 1),
      nn AS (SELECT CAST(SUM(o) AS BIGINT) AS nn,
                    CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins FROM h),
      cells AS (SELECT gt.cohort, gt.ng, pl.bin, pl.pb, COALESCE(h.o, 0) AS o
                FROM gt CROSS JOIN pl
                LEFT JOIN h ON h.cohort = gt.cohort AND h.bin = pl.bin),
      t AS (SELECT cohort, ng,
              (CAST(o AS DOUBLE)
                 - CAST(pb AS DOUBLE) * CAST(ng AS DOUBLE)
                   / (SELECT CAST(nn AS DOUBLE) FROM nn))
              * (CAST(o AS DOUBLE)
                 - CAST(pb AS DOUBLE) * CAST(ng AS DOUBLE)
                   / (SELECT CAST(nn AS DOUBLE) FROM nn))
              / (CAST(pb AS DOUBLE) * CAST(ng AS DOUBLE)
                 / (SELECT CAST(nn AS DOUBLE) FROM nn)) AS term
            FROM cells)
      SELECT cohort, ng AS n, (SELECT n_bins FROM nn) AS n_bins,
             CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE) AS chi2,
             CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE) >= 25.0 AS refit
      FROM t GROUP BY 1, 2
      ORDER BY 1""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val standing = emb.filter(pmod(col("vec_id"), lit(13)) =!= 0)
      val cents = Similarity.ivfCentroids(standing, nCentroids = 16)
      val tagged = Similarity.ivfIndex(emb, cents)
        .withColumn("cohort", when(pmod(col("vec_id"), lit(13)) === 0, lit("delta"))
          .otherwise(lit("standing")))
      graft.operators.Stats.chiSquareDrift(tagged, "cohort",
          col("centroid_id").cast("double"), binsPerUnit = 1)
        .withColumn("refit", col("chi2") >= lit(25.0d))
        .orderBy("cohort")
    },

    // ---- q57: LSH-bucketed near-dup pairs over the corpus — the
    // scale path whose ground truth is quadratic q31. The driver's
    // embeddings are near-orthogonal (max pairwise cosine ~0.6), so
    // the query synthesizes near-dups the q46 way: every tenth
    // vector gets a twin (first coordinate scaled 1.2x → cosine
    // ≥ ~0.995) built with identical double arithmetic on both
    // engines. The oracle replays the md5 hyperplanes (q32's CTE),
    // the bucket self-join, and the refinement, so bucket membership
    // and every float hash-gate exactly; at threshold 0.99 the pairs
    // found are precisely the synthesized twins.
    Q("q57_neardup_lsh", Some(oracleProlog + """,
      corpus AS (
        SELECT vec_id, v, nrm FROM p
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, w AS v,
               sqrt(list_inner_product(w, w)) AS nrm
        FROM (SELECT vec_id, [v[1] * 1.2] || v[2:] AS w
              FROM p WHERE vec_id % 10 = 0)),
      planes AS (
        SELECT pl, list_transform(range(0, 64), j ->
            CASE WHEN ((('0x'||substr(md5('plane:'||pl||':'||j),1,15))::BIGINT >> (j%60)) & 1) = 1
                 THEN 1.0 ELSE -1.0 END) AS s
        FROM range(0, 96) t(pl)),
      bits AS (
        SELECT c.vec_id, pl.pl // 6 AS tbl, pl.pl % 6 AS pidx,
               CASE WHEN list_inner_product(c.v, pl.s) > 0 THEN 1 ELSE 0 END AS bit
        FROM corpus c CROSS JOIN planes pl),
      bucks AS (
        SELECT vec_id, tbl, CAST(SUM(bit << pidx) AS BIGINT) AS bucket
        FROM bits GROUP BY vec_id, tbl),
      cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bucks a JOIN bucks b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      refined AS (
        SELECT c.vec_a, c.vec_b,
               list_inner_product(ca.v, cb.v)/(ca.nrm*cb.nrm) AS sim_raw
        FROM cand c
        JOIN corpus ca ON ca.vec_id = c.vec_a
        JOIN corpus cb ON cb.vec_id = c.vec_b)
      SELECT vec_a, vec_b, round(sim_raw, 6) AS sim FROM refined
      WHERE sim_raw >= 0.99
      ORDER BY vec_a, vec_b""")) { (s, d) =>
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      val twins = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(
            array(element_at(col("embedding"), 1) * lit(1.2)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      Similarity.nearDupPairsLsh(base.unionByName(twins), threshold = 0.99,
          dim = 64, nPlanes = 6, nTables = 16)
        .orderBy("vec_a", "vec_b")
    },

    // ---- q79: semantic-blocked near-dup pairs — the SemDeDup-style
    // third scale path: q33's deterministic hash-seeded centroids,
    // each vector assigned to its TOP-2 centroids by a broadcast
    // map-side fold, exact cosine only within shared blocks. Same
    // synthesized-twin corpus as q57 (the driver's embeddings are
    // near-orthogonal), and the blocking finds every twin at all
    // SFs (a twin's centroid ranking almost never diverges from its
    // original's — and top-2 assignment absorbs the boundary cases).
    // The oracle replays seeds → numbering → top-2 assignment
    // (row_number over sim DESC, centroid_id — the fold's strict->
    // two-slot accumulator is exactly this ordering) → block join →
    // refinement, so block membership and every float hash-gate.
    Q("q79_neardup_semantic", Some(oracleProlog + """,
      corpus AS (
        SELECT vec_id, v, nrm FROM p
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, w AS v,
               sqrt(list_inner_product(w, w)) AS nrm
        FROM (SELECT vec_id, [v[1] * 1.2] || v[2:] AS w
              FROM p WHERE vec_id % 10 = 0)),
      seeds AS (
        SELECT vec_id, v, nrm, (vec_id * 2654435761) % 1000000007 AS cid
        FROM corpus ORDER BY cid, vec_id LIMIT 16),
      cent AS (
        SELECT CAST(row_number() OVER (ORDER BY cid, vec_id) AS INTEGER) AS centroid_id,
               v AS cv, nrm AS cnrm
        FROM seeds),
      assign AS (
        SELECT c.vec_id, cent.centroid_id,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY list_inner_product(c.v, cent.cv)/(c.nrm*cent.cnrm) DESC,
                                           cent.centroid_id) AS rn
        FROM corpus c CROSS JOIN cent),
      blocks AS (SELECT vec_id, centroid_id FROM assign WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM blocks a JOIN blocks b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
      refined AS (
        SELECT c.vec_a, c.vec_b,
               list_inner_product(ca.v, cb.v)/(ca.nrm*cb.nrm) AS sim_raw
        FROM cand c
        JOIN corpus ca ON ca.vec_id = c.vec_a
        JOIN corpus cb ON cb.vec_id = c.vec_b)
      SELECT vec_a, vec_b, round(sim_raw, 6) AS sim FROM refined
      WHERE sim_raw >= 0.99
      ORDER BY vec_a, vec_b""")) { (s, d) =>
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      val twins = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(
            array(element_at(col("embedding"), 1) * lit(1.2)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      Similarity.semanticBlockedPairs(base.unionByName(twins), threshold = 0.99,
          nCentroids = 16, nAssign = 2)
        .orderBy("vec_a", "vec_b")
    },

    // ---- q82: deterministic Lloyd's k-means (k=8, 2 iterations) —
    // the trained-centroid upgrade of q33/q79's hash seeds (IVF
    // index training / SemDeDup clustering). Distances are
    // bit-identical left-to-right double dot products; the update
    // sums — the one accumulation-order-dependent step — run on the
    // floor(x*2^20+0.5) integer quantization so the shuffled state
    // is exact BIGINTs (the q56/q60 integer-state recipe), and the
    // oracle replays both iterations as unrolled CTEs. Per Spark
    // iteration: one scan, one k×(dim+1)-long partial-agg shuffle,
    // O(k·dim) driver state.
    Q("q82_kmeans", Some("""
      WITH p AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_transform(embedding::DOUBLE[],
                 x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS qv,
               list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv
        FROM embeddings),
      seeds AS (
        SELECT vec_id, v, (vec_id * 2654435761) % 1000000007 AS h
        FROM p ORDER BY h, vec_id LIMIT 8),
      c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS cluster_id,
               v AS cv
        FROM seeds),
      a1 AS (
        SELECT vec_id, cluster_id FROM (
          SELECT p.vec_id, c.cluster_id,
                 row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY p.vv - 2.0 * list_inner_product(p.v, c.cv)
                            + list_inner_product(c.cv, c.cv),
                            c.cluster_id) AS rn
          FROM p CROSS JOIN c0 c) WHERE rn = 1),
      s1 AS (
        SELECT a1.cluster_id, g.i AS pos, SUM(p.qv[g.i]) AS sq, COUNT(*) AS n
        FROM a1 JOIN p USING (vec_id) CROSS JOIN generate_series(1, 64) AS g(i)
        GROUP BY 1, 2),
      c1 AS (
        SELECT c0.cluster_id, COALESCE(u.cv, c0.cv) AS cv
        FROM c0 LEFT JOIN (
          SELECT cluster_id,
                 list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)
                      ORDER BY pos) AS cv
          FROM s1 GROUP BY 1) u USING (cluster_id)),
      a2 AS (
        SELECT vec_id, cluster_id FROM (
          SELECT p.vec_id, c.cluster_id,
                 row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY p.vv - 2.0 * list_inner_product(p.v, c.cv)
                            + list_inner_product(c.cv, c.cv),
                            c.cluster_id) AS rn
          FROM p CROSS JOIN c1 c) WHERE rn = 1),
      s2 AS (
        SELECT a2.cluster_id, g.i AS pos, SUM(p.qv[g.i]) AS sq, COUNT(*) AS n
        FROM a2 JOIN p USING (vec_id) CROSS JOIN generate_series(1, 64) AS g(i)
        GROUP BY 1, 2),
      c2 AS (
        SELECT c1.cluster_id, COALESCE(u.cv, c1.cv) AS cv
        FROM c1 LEFT JOIN (
          SELECT cluster_id,
                 list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)
                      ORDER BY pos) AS cv
          FROM s2 GROUP BY 1) u USING (cluster_id)),
      fin AS (
        SELECT vec_id, cluster_id, d FROM (
          SELECT p.vec_id, c.cluster_id,
                 p.vv - 2.0 * list_inner_product(p.v, c.cv)
                   + list_inner_product(c.cv, c.cv) AS d,
                 row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY p.vv - 2.0 * list_inner_product(p.v, c.cv)
                            + list_inner_product(c.cv, c.cv),
                            c.cluster_id) AS rn
          FROM p CROSS JOIN c2 c) WHERE rn = 1)
      SELECT vec_id, cluster_id,
             floor(d * 1000000.0 + 0.5) / 1000000.0 AS dist
      FROM fin ORDER BY vec_id""")) { (s, d) =>
      Clustering.kmeans(Tables.embeddings(s, d), k = 8, iters = 2)
        .orderBy("vec_id")
    },

    // ---- q84: SemDeDup with TRAINED centroids — q79's blocking
    // upgraded from hash seeds to a 2-iteration Lloyd fit (q82's
    // training, replayed by the oracle in full), top-2 block
    // assignment in the model's own squared-Euclidean metric, exact
    // cosine refinement only inside blocks. The one query that
    // hash-gates the whole train→block→refine composition.
    Q("q84_semantic_trained", Some("""
      WITH p0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      corpus AS (
        SELECT vec_id, v FROM p0
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, [v[1] * 1.2] || v[2:] AS v
        FROM p0 WHERE vec_id % 10 = 0),
      p AS (SELECT vec_id, v,
              list_transform(v, x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS qv,
              list_inner_product(v, v) AS vv,
              sqrt(list_inner_product(v, v)) AS nrm
            FROM corpus),
      seeds AS (
        SELECT vec_id, v, (vec_id * 2654435761) % 1000000007 AS h
        FROM p ORDER BY h, vec_id LIMIT 8),
      c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS cluster_id,
               v AS cv
        FROM seeds),
      a1 AS (
        SELECT vec_id, cluster_id FROM (
          SELECT p.vec_id, c.cluster_id,
                 row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY p.vv - 2.0 * list_inner_product(p.v, c.cv)
                            + list_inner_product(c.cv, c.cv),
                            c.cluster_id) AS rn
          FROM p CROSS JOIN c0 c) WHERE rn = 1),
      s1 AS (
        SELECT a1.cluster_id, g.i AS pos, SUM(p.qv[g.i]) AS sq, COUNT(*) AS n
        FROM a1 JOIN p USING (vec_id) CROSS JOIN generate_series(1, 64) AS g(i)
        GROUP BY 1, 2),
      c1 AS (
        SELECT c0.cluster_id, COALESCE(u.cv, c0.cv) AS cv
        FROM c0 LEFT JOIN (
          SELECT cluster_id,
                 list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)
                      ORDER BY pos) AS cv
          FROM s1 GROUP BY 1) u USING (cluster_id)),
      a2 AS (
        SELECT vec_id, cluster_id FROM (
          SELECT p.vec_id, c.cluster_id,
                 row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY p.vv - 2.0 * list_inner_product(p.v, c.cv)
                            + list_inner_product(c.cv, c.cv),
                            c.cluster_id) AS rn
          FROM p CROSS JOIN c1 c) WHERE rn = 1),
      s2 AS (
        SELECT a2.cluster_id, g.i AS pos, SUM(p.qv[g.i]) AS sq, COUNT(*) AS n
        FROM a2 JOIN p USING (vec_id) CROSS JOIN generate_series(1, 64) AS g(i)
        GROUP BY 1, 2),
      c2 AS (
        SELECT c1.cluster_id, COALESCE(u.cv, c1.cv) AS cv
        FROM c1 LEFT JOIN (
          SELECT cluster_id,
                 list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)
                      ORDER BY pos) AS cv
          FROM s2 GROUP BY 1) u USING (cluster_id)),
      assign AS (
        SELECT p.vec_id, c.cluster_id,
               row_number() OVER (PARTITION BY p.vec_id
                 ORDER BY p.vv - 2.0 * list_inner_product(p.v, c.cv)
                          + list_inner_product(c.cv, c.cv),
                          c.cluster_id) AS rn
        FROM p CROSS JOIN c2 c),
      blocks AS (SELECT vec_id, cluster_id FROM assign WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM blocks a JOIN blocks b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id),
      refined AS (
        SELECT c.vec_a, c.vec_b,
               list_inner_product(pa.v, pb.v) / (pa.nrm * pb.nrm) AS sim_raw
        FROM cand c
        JOIN p pa ON pa.vec_id = c.vec_a
        JOIN p pb ON pb.vec_id = c.vec_b)
      SELECT vec_a, vec_b, round(sim_raw, 6) AS sim FROM refined
      WHERE sim_raw >= 0.99
      ORDER BY vec_a, vec_b""")) { (s, d) =>
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      val twins = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(
            array(element_at(col("embedding"), 1) * lit(1.2)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      // Materialize the synthesized corpus ONCE: fit's three bounded
      // collects (seed pick + 2 Lloyd rounds) and the blocked-pairs
      // frame would each re-run the union+cast+twin synthesis from
      // the scan — four replays of the same lineage (measured −26%
      // here at sf0.1). The checkpoint is the q46 convention: eager
      // materialization of a DERIVED corpus feeding a multi-job
      // consumer.
      val corpus = base.unionByName(twins).localCheckpoint(true)
      val model = Clustering.fit(corpus, k = 8, iters = 2)
      Similarity.semanticBlockedPairsWithModel(corpus, threshold = 0.99,
          model = model, nAssign = 2)
        .orderBy("vec_a", "vec_b")
    },

    // ---- q103: product-quantization ANN end-to-end — train
    // per-subspace codebooks (8 subspaces × 8 codes, one Lloyd round
    // from the engine-wide hash-picked seeds), encode every corpus
    // vector to 8 sub-codes, and answer every 97th vector's top-5 by
    // asymmetric distance. The oracle replays training (quantized
    // integer sufficient statistics), encoding ((d, cid) argmin per
    // subspace) and search (per-subspace terms on the 1e-6 integer
    // grid, so the distance sum is order-free and exact). Compression
    // story: 64 doubles → 8 codes; the search is one corpus scan
    // against broadcast queries with a bounded top-k aggregate.
    Q("q103_pq_ann", Some("""
      WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      seeds AS (
        SELECT vec_id, v, (vec_id * 2654435761) % 1000000007 AS h
        FROM p ORDER BY h, vec_id LIMIT 8),
      c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS cid, v AS cv
        FROM seeds),
      sub AS (SELECT vec_id, j, v[j*8+1 : j*8+8] AS sv
              FROM p CROSS JOIN generate_series(0, 7) g(j)),
      c0s AS (SELECT j, cid, cv[j*8+1 : j*8+8] AS cv
              FROM c0 CROSS JOIN generate_series(0, 7) g(j)),
      a0 AS (
        SELECT vec_id, j, cid FROM (
          SELECT sub.vec_id, sub.j, c.cid,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.j
                   ORDER BY list_inner_product(sub.sv, sub.sv)
                            - 2.0 * list_inner_product(sub.sv, c.cv)
                            + list_inner_product(c.cv, c.cv), c.cid) AS rn
          FROM sub JOIN c0s c USING (j)) WHERE rn = 1),
      s1 AS (
        SELECT a0.j, a0.cid, g.i AS pos,
               SUM(CAST(floor(sub.sv[g.i] * 1048576.0 + 0.5) AS BIGINT)) AS sq,
               COUNT(*) AS n
        FROM a0 JOIN sub USING (vec_id, j) CROSS JOIN generate_series(1, 8) g(i)
        GROUP BY 1, 2, 3),
      c1 AS (
        SELECT c0s.j, c0s.cid, COALESCE(u.cv, c0s.cv) AS cv
        FROM c0s LEFT JOIN (
          SELECT j, cid,
                 list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)
                      ORDER BY pos) AS cv
          FROM s1 GROUP BY 1, 2) u USING (j, cid)),
      enc AS (
        SELECT vec_id, j, cid FROM (
          SELECT sub.vec_id, sub.j, c.cid,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.j
                   ORDER BY list_inner_product(sub.sv, sub.sv)
                            - 2.0 * list_inner_product(sub.sv, c.cv)
                            + list_inner_product(c.cv, c.cv), c.cid) AS rn
          FROM sub JOIN c1 c USING (j)) WHERE rn = 1),
      qsub AS (SELECT vec_id AS query_id, j, sv AS qsv
               FROM sub WHERE vec_id % 97 = 0),
      terms AS (
        SELECT q.query_id, e.vec_id AS cand_id,
               CAST(floor((list_inner_product(q.qsv, q.qsv)
                           - 2.0 * list_inner_product(q.qsv, c.cv)
                           + list_inner_product(c.cv, c.cv)) * 1000000.0 + 0.5)
                    AS BIGINT) AS tq
        FROM qsub q
        JOIN enc e ON e.j = q.j
        JOIN c1 c ON c.j = e.j AND c.cid = e.cid),
      d AS (SELECT query_id, cand_id, SUM(tq) AS dist FROM terms GROUP BY 1, 2),
      r AS (SELECT query_id, cand_id, dist,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist, cand_id) AS rn
            FROM d)
      SELECT query_id, cand_id AS neighbor_id, CAST(rn AS INTEGER) AS rank,
             CAST(dist AS DOUBLE) / 1000000.0 AS adist
      FROM r WHERE rn <= 5
      ORDER BY query_id, rank""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val model = Quantization.fitPq(emb, m = 8, ksub = 8, iters = 1)
      Quantization.adcTopK(emb, emb.filter(pmod(col("vec_id"), lit(97)) === 0),
          model = model, k = 5)
        .orderBy("query_id", "rank")
    },

    // ---- q104: IVF-PQ composed search — the production ANN recipe
    // (FAISS's default): 16 hash-seeded coarse lists (q33's routing
    // rule), PQ codebooks fitted on RESIDUALS against the list
    // centroid, queries probe their 4 nearest lists and rank by
    // integer-grid ADC within them. The oracle replays coarse
    // routing, residuals, PQ training, encoding and the probed
    // search — the whole composed index, hash-exact.
    Q("q104_ivf_pq", Some("""
      WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cs AS (SELECT vec_id, v, (vec_id * 2654435761) % 1000000007 AS h
             FROM p ORDER BY h, vec_id LIMIT 16),
      cc AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS lid,
                    v AS cv
             FROM cs),
      asg AS (
        SELECT vec_id, lid FROM (
          SELECT p.vec_id, c.lid,
                 row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY list_inner_product(p.v, p.v)
                            - 2.0 * list_inner_product(p.v, c.cv)
                            + list_inner_product(c.cv, c.cv), c.lid) AS rn
          FROM p CROSS JOIN cc c) WHERE rn = 1),
      r AS (
        SELECT p.vec_id, asg.lid,
               [p.v[i] - c.cv[i] FOR i IN range(1, len(p.v) + 1)] AS rv
        FROM p JOIN asg USING (vec_id) JOIN cc c ON c.lid = asg.lid),
      pseeds AS (SELECT vec_id, rv, (vec_id * 2654435761) % 1000000007 AS h
                 FROM r ORDER BY h, vec_id LIMIT 8),
      pc0 AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS cid,
                     rv AS cv
              FROM pseeds),
      sub AS (SELECT vec_id, j, rv[j*8+1 : j*8+8] AS sv
              FROM r CROSS JOIN generate_series(0, 7) g(j)),
      pc0s AS (SELECT j, cid, cv[j*8+1 : j*8+8] AS cv
               FROM pc0 CROSS JOIN generate_series(0, 7) g(j)),
      a0 AS (
        SELECT vec_id, j, cid FROM (
          SELECT sub.vec_id, sub.j, c.cid,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.j
                   ORDER BY list_inner_product(sub.sv, sub.sv)
                            - 2.0 * list_inner_product(sub.sv, c.cv)
                            + list_inner_product(c.cv, c.cv), c.cid) AS rn
          FROM sub JOIN pc0s c USING (j)) WHERE rn = 1),
      s1 AS (
        SELECT a0.j, a0.cid, g.i AS pos,
               SUM(CAST(floor(sub.sv[g.i] * 1048576.0 + 0.5) AS BIGINT)) AS sq,
               COUNT(*) AS n
        FROM a0 JOIN sub USING (vec_id, j) CROSS JOIN generate_series(1, 8) g(i)
        GROUP BY 1, 2, 3),
      c1 AS (
        SELECT pc0s.j, pc0s.cid, COALESCE(u.cv, pc0s.cv) AS cv
        FROM pc0s LEFT JOIN (
          SELECT j, cid,
                 list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)
                      ORDER BY pos) AS cv
          FROM s1 GROUP BY 1, 2) u USING (j, cid)),
      enc AS (
        SELECT vec_id, j, cid FROM (
          SELECT sub.vec_id, sub.j, c.cid,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.j
                   ORDER BY list_inner_product(sub.sv, sub.sv)
                            - 2.0 * list_inner_product(sub.sv, c.cv)
                            + list_inner_product(c.cv, c.cv), c.cid) AS rn
          FROM sub JOIN c1 c USING (j)) WHERE rn = 1),
      qp AS (SELECT vec_id AS query_id, v FROM p WHERE vec_id % 97 = 0),
      probe AS (
        SELECT query_id, lid FROM (
          SELECT q.query_id, c.lid,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_inner_product(q.v, q.v)
                            - 2.0 * list_inner_product(q.v, c.cv)
                            + list_inner_product(c.cv, c.cv), c.lid) AS rn
          FROM qp q CROSS JOIN cc c) WHERE rn <= 4),
      qsub AS (
        SELECT pr.query_id, pr.lid, g.j,
               ([q.v[i] - c.cv[i] FOR i IN range(1, len(q.v) + 1)])[g.j*8+1 : g.j*8+8] AS qsv
        FROM probe pr
        JOIN qp q USING (query_id)
        JOIN cc c ON c.lid = pr.lid
        CROSS JOIN generate_series(0, 7) g(j)),
      terms AS (
        SELECT qs.query_id, e.vec_id AS cand_id,
               CAST(floor((list_inner_product(qs.qsv, qs.qsv)
                           - 2.0 * list_inner_product(qs.qsv, c.cv)
                           + list_inner_product(c.cv, c.cv)) * 1000000.0 + 0.5)
                    AS BIGINT) AS tq
        FROM qsub qs
        JOIN asg a2 ON a2.lid = qs.lid
        JOIN enc e ON e.vec_id = a2.vec_id AND e.j = qs.j
        JOIN c1 c ON c.j = e.j AND c.cid = e.cid),
      d AS (SELECT query_id, cand_id, SUM(tq) AS dist FROM terms GROUP BY 1, 2),
      rr AS (SELECT query_id, cand_id, dist,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY dist, cand_id) AS rn
             FROM d)
      SELECT query_id, cand_id AS neighbor_id, CAST(rn AS INTEGER) AS rank,
             CAST(dist AS DOUBLE) / 1000000.0 AS adist
      FROM rr WHERE rn <= 5
      ORDER BY query_id, rank""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Quantization.ivfPqTopK(emb, emb.filter(pmod(col("vec_id"), lit(97)) === 0),
          k = 5, nCoarse = 16, nProbe = 4, m = 8, ksub = 8, iters = 1)
        .orderBy("query_id", "rank")
    },

    // ---- q107: two-stage retrieval — q103's compressed ADC index
    // proposes a 25-candidate shortlist per query, then ONLY those
    // rows rejoin their full-precision vectors for an exact-cosine
    // re-rank to the top 5 (FAISS IndexRefine; the serving shape of
    // every RAG retrieval stack). The oracle replays the whole
    // composition: PQ training, encoding, integer-grid ADC
    // shortlist, and the q30-convention exact re-rank — so the gate
    // covers the stage boundary, not just each stage alone.
    Q("q107_pq_rerank", Some("""
      WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                        sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                 FROM embeddings),
      seeds AS (
        SELECT vec_id, v, (vec_id * 2654435761) % 1000000007 AS h
        FROM p ORDER BY h, vec_id LIMIT 8),
      c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS cid, v AS cv
        FROM seeds),
      sub AS (SELECT vec_id, j, v[j*8+1 : j*8+8] AS sv
              FROM p CROSS JOIN generate_series(0, 7) g(j)),
      c0s AS (SELECT j, cid, cv[j*8+1 : j*8+8] AS cv
              FROM c0 CROSS JOIN generate_series(0, 7) g(j)),
      a0 AS (
        SELECT vec_id, j, cid FROM (
          SELECT sub.vec_id, sub.j, c.cid,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.j
                   ORDER BY list_inner_product(sub.sv, sub.sv)
                            - 2.0 * list_inner_product(sub.sv, c.cv)
                            + list_inner_product(c.cv, c.cv), c.cid) AS rn
          FROM sub JOIN c0s c USING (j)) WHERE rn = 1),
      s1 AS (
        SELECT a0.j, a0.cid, g.i AS pos,
               SUM(CAST(floor(sub.sv[g.i] * 1048576.0 + 0.5) AS BIGINT)) AS sq,
               COUNT(*) AS n
        FROM a0 JOIN sub USING (vec_id, j) CROSS JOIN generate_series(1, 8) g(i)
        GROUP BY 1, 2, 3),
      c1 AS (
        SELECT c0s.j, c0s.cid, COALESCE(u.cv, c0s.cv) AS cv
        FROM c0s LEFT JOIN (
          SELECT j, cid,
                 list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)
                      ORDER BY pos) AS cv
          FROM s1 GROUP BY 1, 2) u USING (j, cid)),
      enc AS (
        SELECT vec_id, j, cid FROM (
          SELECT sub.vec_id, sub.j, c.cid,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.j
                   ORDER BY list_inner_product(sub.sv, sub.sv)
                            - 2.0 * list_inner_product(sub.sv, c.cv)
                            + list_inner_product(c.cv, c.cv), c.cid) AS rn
          FROM sub JOIN c1 c USING (j)) WHERE rn = 1),
      qsub AS (SELECT vec_id AS query_id, j, sv AS qsv
               FROM sub WHERE vec_id % 97 = 0),
      terms AS (
        SELECT q.query_id, e.vec_id AS cand_id,
               CAST(floor((list_inner_product(q.qsv, q.qsv)
                           - 2.0 * list_inner_product(q.qsv, c.cv)
                           + list_inner_product(c.cv, c.cv)) * 1000000.0 + 0.5)
                    AS BIGINT) AS tq
        FROM qsub q
        JOIN enc e ON e.j = q.j
        JOIN c1 c ON c.j = e.j AND c.cid = e.cid),
      d AS (SELECT query_id, cand_id, SUM(tq) AS dist FROM terms GROUP BY 1, 2),
      short AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dist, cand_id) AS rn
          FROM d) WHERE rn <= 25),
      ex AS (
        SELECT s.query_id, s.cand_id,
               list_inner_product(pc.v, pq.v) / (pc.nrm * pq.nrm) AS sim_raw
        FROM short s
        JOIN p pc ON pc.vec_id = s.cand_id
        JOIN p pq ON pq.vec_id = s.query_id),
      rr AS (
        SELECT query_id, cand_id,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim_raw DESC, cand_id) AS BIGINT) AS rank,
               round(sim_raw, 6) AS sim
        FROM ex)
      SELECT query_id, cand_id AS neighbor_id, rank, sim
      FROM rr WHERE rank <= 5
      ORDER BY query_id, rank""")) { (s, d) =>
      // One source materialization: fit (seeds + Lloyd), the encode,
      // and the re-rank all read the same localCheckpoint instead of
      // re-scanning parquet per action.
      val emb = Tables.embeddings(s, d).localCheckpoint(true)
      val model = Quantization.fitPq(emb, m = 8, ksub = 8, iters = 1)
      Quantization.adcRerankTopK(emb,
          emb.filter(pmod(col("vec_id"), lit(97)) === 0),
          model = model, kShort = 25, k = 5, materialize = false)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // ---- q111: compressed-domain near-dup — q57's synthesized-twin
    // corpus deduplicated by PQ-CODE equality (all 8 sub-codes
    // agree) + exact cosine verify: SemDeDup blocking moved into the
    // compressed domain, where the blocking key is 8 bytes and the
    // only corpus-wide movement is one shuffle on it. Recall is the
    // blocking trade (a twin split by one sub-code is missed — 47 of
    // 50 twins collide at sf0.001, the banded tiers q57/q79 are the
    // higher-recall alternatives); the oracle replays train → encode
    // → code-bucket join → refine, so the whole compressed pipeline
    // hash-gates.
    Q("q111_pq_code_dedup", Some("""
      WITH p0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      corpus AS (
        SELECT vec_id, v FROM p0
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, [v[1] * 1.2] || v[2:] AS v
        FROM p0 WHERE vec_id % 10 = 0),
      seeds AS (
        SELECT vec_id, v, (vec_id * 2654435761) % 1000000007 AS h
        FROM corpus ORDER BY h, vec_id LIMIT 8),
      c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS cid, v AS cv
        FROM seeds),
      sub AS (SELECT vec_id, j, v[j*8+1 : j*8+8] AS sv
              FROM corpus CROSS JOIN generate_series(0, 7) g(j)),
      c0s AS (SELECT j, cid, cv[j*8+1 : j*8+8] AS cv
              FROM c0 CROSS JOIN generate_series(0, 7) g(j)),
      a0 AS (
        SELECT vec_id, j, cid FROM (
          SELECT sub.vec_id, sub.j, c.cid,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.j
                   ORDER BY list_inner_product(sub.sv, sub.sv)
                            - 2.0 * list_inner_product(sub.sv, c.cv)
                            + list_inner_product(c.cv, c.cv), c.cid) AS rn
          FROM sub JOIN c0s c USING (j)) WHERE rn = 1),
      s1 AS (
        SELECT a0.j, a0.cid, g.i AS pos,
               SUM(CAST(floor(sub.sv[g.i] * 1048576.0 + 0.5) AS BIGINT)) AS sq,
               COUNT(*) AS n
        FROM a0 JOIN sub USING (vec_id, j) CROSS JOIN generate_series(1, 8) g(i)
        GROUP BY 1, 2, 3),
      c1 AS (
        SELECT c0s.j, c0s.cid, COALESCE(u.cv, c0s.cv) AS cv
        FROM c0s LEFT JOIN (
          SELECT j, cid,
                 list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)
                      ORDER BY pos) AS cv
          FROM s1 GROUP BY 1, 2) u USING (j, cid)),
      enc AS (
        SELECT vec_id, j, cid FROM (
          SELECT sub.vec_id, sub.j, c.cid,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.j
                   ORDER BY list_inner_product(sub.sv, sub.sv)
                            - 2.0 * list_inner_product(sub.sv, c.cv)
                            + list_inner_product(c.cv, c.cv), c.cid) AS rn
          FROM sub JOIN c1 c USING (j)) WHERE rn = 1),
      codes AS (SELECT vec_id, list(cid ORDER BY j) AS code FROM enc GROUP BY 1),
      pn AS (SELECT c.vec_id, c.v, sqrt(list_inner_product(c.v, c.v)) AS nrm, codes.code
             FROM corpus c JOIN codes USING (vec_id)),
      pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS sim_raw
        FROM pn a JOIN pn b ON a.code = b.code AND a.vec_id < b.vec_id)
      SELECT vec_a, vec_b, round(sim_raw, 6) AS sim
      FROM pairs WHERE sim_raw >= 0.99
      ORDER BY vec_a, vec_b""")) { (s, d) =>
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      val twins = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(
            array(element_at(col("embedding"), 1) * lit(1.2)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      val corpus = base.unionByName(twins)
      val model = Quantization.fitPq(corpus, m = 8, ksub = 8, iters = 1)
      Quantization.pqCodeNearDup(corpus, model, threshold = 0.99)
        .orderBy("vec_a", "vec_b")
    },

    // ---- q119: contrastive triplet mining — the training-pair
    // construction step for embedding fine-tuning: per anchor
    // (vec_id < 8), the nearest SAME-label candidate (positive) and
    // the 5 highest-cosine DIFFERENT-label candidates (hard
    // negatives — the near-misses that carry gradient). One corpus
    // scan against broadcast anchors; positives and negatives fall
    // out of a single bounded TopK aggregate via a packed
    // (anchor, role) group key, so the exchange moves
    // O(anchors × k) rows. q30's float conventions throughout
    // (rank on raw sim with id tie-break, display rounded to 6 dp).
    Q("q119_triplet_mine", Some("""
      WITH p AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                        sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                 FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_inner_product(c.v, q.v) / (c.nrm * q.nrm) AS sim_raw,
               CASE WHEN c.label = q.label THEN 'pos' ELSE 'neg' END AS role
        FROM p c JOIN p q ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
      ranked AS (
        SELECT query_id, role, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id, role
                                       ORDER BY sim_raw DESC, neighbor_id) AS BIGINT) AS rank,
               round(sim_raw, 6) AS sim
        FROM scored)
      SELECT query_id, role, rank, neighbor_id, sim FROM ranked
      WHERE (role = 'pos' AND rank = 1) OR (role = 'neg' AND rank <= 5)
      ORDER BY query_id, role, rank""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.tripletMine(emb, emb.filter(col("vec_id") < 8), kNeg = 5)
        .orderBy("query_id", "role", "rank")
    },

    // ---- q121: late-interaction MaxSim re-rank (ColBERT family) —
    // query and document as bags of 8 "token vectors" (the 8-dim
    // slices of the embedding), pair score = Σ over query tokens of
    // max over doc tokens of cosine. The oracle rebuilds the full
    // 8×8 cosine grid, the per-token `greatest`, and the SAME
    // left-to-right outer sum from first principles — max is
    // order-exact and every add/div correctly rounded, which is what
    // lets a late-interaction score hash-gate across engines (a
    // softmax-style pooling would not). Queries vec_id < 4 broadcast;
    // one corpus scan; bounded TopK cut — at 100 TB the identical
    // expression runs behind an ANN shortlist (the q107 two-stage
    // shape) instead of the full scan.
    Q("q121_maxsim_rerank", Some {
      val slices = (0 until 8).map { i =>
        s"(embedding::DOUBLE[])[${i * 8 + 1}:${i * 8 + 8}] AS v$i, " +
          s"sqrt(list_inner_product((embedding::DOUBLE[])[${i * 8 + 1}:${i * 8 + 8}], " +
          s"(embedding::DOUBLE[])[${i * 8 + 1}:${i * 8 + 8}])) AS n$i"
      }.mkString(",\n                 ")
      val score = (0 until 8).map { i =>
        "greatest(" + (0 until 8).map { j =>
          s"list_inner_product(q.v$i, c.v$j) / (q.n$i * c.n$j)"
        }.mkString(", ") + ")"
      }.mkString("\n               + ")
      s"""
      WITH p AS (SELECT vec_id,
                 $slices
                 FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               $score AS sim_raw
        FROM p c JOIN p q ON q.vec_id < 4 AND c.vec_id <> q.vec_id),
      ranked AS (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim_raw DESC, neighbor_id) AS BIGINT) AS rank,
               round(sim_raw, 6) AS sim
        FROM scored)
      SELECT query_id, neighbor_id, rank, sim FROM ranked
      WHERE rank <= 5
      ORDER BY query_id, rank"""
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.maxSimTopK(emb, emb.filter(col("vec_id") < 4), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // ---- q127: LSH recall audit — the evaluation loop a production
    // ANN deployment runs continuously: per probe query, exact
    // top-10 (brute force over the corpus — the PROBE set is small,
    // not the corpus) vs the LSH top-10, and recall@10. Both paths
    // are deterministic (md5 hyperplanes), so the quality metric
    // itself hash-gates: the oracle rebuilds the exact ranking AND
    // the full bucket machinery and intersects them, meaning a
    // recall regression in either path flips the gate. Zero-hit
    // probes emit recall 0 via the left-join completion.
    Q("q127_ann_recall_audit", Some(oracleProlog + """,
      planes AS (
        SELECT pl, list_transform(range(0, 64), j ->
            CASE WHEN ((('0x'||substr(md5('plane:'||pl||':'||j),1,15))::BIGINT >> (j%60)) & 1) = 1
                 THEN 1.0 ELSE -1.0 END) AS s
        FROM range(0, 96) t(pl)),
      bits AS (
        SELECT p.vec_id, pl.pl // 6 AS tbl, pl.pl % 6 AS pidx,
               CASE WHEN list_inner_product(p.v, pl.s) > 0 THEN 1 ELSE 0 END AS bit
        FROM p CROSS JOIN planes pl),
      bucks AS (
        SELECT vec_id, tbl, CAST(SUM(bit << pidx) AS BIGINT) AS bucket
        FROM bits GROUP BY vec_id, tbl),
      cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS cand_id
        FROM bucks cb JOIN bucks qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
        WHERE qb.vec_id < 10 AND cb.vec_id <> qb.vec_id),
      lscored AS (
        SELECT c.query_id, c.cand_id AS neighbor_id,
               list_inner_product(pc.v, pq.v)/(pc.nrm*pq.nrm) AS sim_raw
        FROM cand c JOIN p pc ON pc.vec_id = c.cand_id JOIN p pq ON pq.vec_id = c.query_id),
      lranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim_raw DESC, neighbor_id) AS rank
        FROM lscored),
      escored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_inner_product(c.v, q.v) / (c.nrm * q.nrm) AS sim_raw
        FROM p c JOIN p q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      eranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim_raw DESC, neighbor_id) AS rank
        FROM escored),
      hits AS (
        SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM eranked e JOIN lranked l
          ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
        WHERE e.rank <= 10 AND l.rank <= 10
        GROUP BY 1),
      truth AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
        FROM eranked WHERE rank <= 10 GROUP BY 1)
      SELECT q.vec_id AS query_id, COALESCE(h.n_hit, 0) AS n_hit,
             COALESCE(t.n_truth, 0) AS n_truth,
             CASE WHEN COALESCE(t.n_truth, 0) > 0
                  THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
                       / CAST(t.n_truth AS DOUBLE) END AS recall
      FROM (SELECT vec_id FROM p WHERE vec_id < 10) q
      LEFT JOIN truth t ON t.query_id = q.vec_id
      LEFT JOIN hits h ON h.query_id = q.vec_id
      ORDER BY query_id""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.lshRecallAudit(emb, emb.filter(col("vec_id") < 10), k = 10,
          dim = 64, nPlanes = 6, nTables = 16)
        .orderBy("query_id")
    },

    // ---- q125: per-dimension feature statistics — the
    // standardization fit the euclidean tier (k-means q82, PQ q103)
    // depends on: a dimension with 10× the variance silently
    // dominates unweighted distance unless the corpus is scaled
    // first. Exactness is q82's integer-quantization recipe (one
    // correctly-rounded multiply + floor per element, LONG
    // sufficient sums — order-independent) and q109's
    // correctly-rounded-only derivation, so mean/std gate
    // bit-for-bit. One posexplode scan into a census bounded by the
    // dimensionality; FeaturesSpec pins the standardized corpus to
    // mean ≈ 0 / std ≈ 1 and the projection to zero shuffles.
    Q("q125_dimension_stats", Some("""
      WITH e AS (SELECT i AS dim, embedding[i] AS x
                 FROM embeddings, generate_series(1, 64) t(i)),
      q AS (SELECT CAST(dim AS BIGINT) AS dim,
                   CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv
            FROM e),
      s AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(qv) AS BIGINT) AS sv,
                   CAST(SUM(qv * qv) AS BIGINT) AS svv
            FROM q GROUP BY 1)
      SELECT dim, n,
             (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0 AS mean,
             CASE WHEN n >= 2
                   AND (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                        - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0
                  THEN sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                             - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                       / 1000000.0
             END AS std
      FROM s ORDER BY dim""")) { (s, d) =>
      graft.operators.Features.dimensionStats(Tables.embeddings(s, d))
        .orderBy("dim")
    },

    // ---- q135: covariance matrix — the cross-dimension census next
    // to q125's marginals, needed before any whitening/PCA call. The
    // engine runs ONE scan through a typed Aggregator (count + dim
    // sums + upper-triangle pair-product sums as exact longs,
    // map-side combined — the exchange moves one O(d²) buffer per
    // partition); the oracle is the naive pair-explode self-join the
    // engine plan must never contain (d(d+1)/2 rows per vector).
    // Derivation is q125's correctly-rounded double spelling with
    // s_i·s_j formed in DOUBLE (the long product would overflow
    // first), so all 2080 entries hash-gate.
    Q("q135_covariance", Some("""
      WITH q AS (SELECT vec_id, CAST(i AS BIGINT) AS dim,
                   CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv
                 FROM embeddings, generate_series(1, 64) t(i)
                 WHERE embedding IS NOT NULL),
      p AS (SELECT a.dim AS dim_i, b.dim AS dim_j,
                   CAST(SUM(a.qv * b.qv) AS BIGINT) AS pij
            FROM q a JOIN q b ON b.vec_id = a.vec_id AND b.dim >= a.dim
            GROUP BY 1, 2),
      s AS (SELECT dim, CAST(SUM(qv) AS BIGINT) AS sv FROM q GROUP BY 1),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
             WHERE embedding IS NOT NULL)
      SELECT p.dim_i, p.dim_j, nn.n,
             CASE WHEN nn.n >= 2 THEN
               (CAST(nn.n AS DOUBLE) * CAST(p.pij AS DOUBLE)
                  - CAST(si.sv AS DOUBLE) * CAST(sj.sv AS DOUBLE))
               / (CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0))
               / 1000000000000.0 END AS cov
      FROM p CROSS JOIN nn
      JOIN s si ON si.dim = p.dim_i
      JOIN s sj ON sj.dim = p.dim_j
      ORDER BY dim_i, dim_j""")) { (s, d) =>
      graft.operators.Features.covarianceMatrix(Tables.embeddings(s, d))
        .orderBy("dim_i", "dim_j")
    },

    // ---- q137: JL signed projection — the dimensionality cut before
    // an ANN build, as Achlioptas ±1 axes with hash-derived signs.
    // Elements quantize to longs first, so every coordinate is an
    // exact signed-integer sum: the one projection family that
    // hash-gates with NO float hedge (q30's cosines need round-6).
    // Engine: model-sized literal sign matrix, one scan, no joins
    // (plan-pinned); oracle rebuilds the sign matrix from the same
    // md5 bit and replays the sum over an unnest join.
    Q("q137_jl_project", Some("""
      WITH q AS (SELECT vec_id, CAST(i AS BIGINT) AS dim,
                   CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv
                 FROM embeddings, generate_series(1, 64) t(i)
                 WHERE embedding IS NOT NULL),
      s AS (SELECT CAST(a.axis AS BIGINT) AS axis, d.dim,
              CASE WHEN ('0x' || substr(md5('jl:' || a.axis || ':' || d.dim), 1, 15))::BIGINT % 2 = 0
                   THEN 1 ELSE -1 END AS sgn
            FROM generate_series(1, 8) a(axis)
            CROSS JOIN (SELECT DISTINCT dim FROM q) d)
      SELECT q.vec_id, s.axis, CAST(SUM(q.qv * s.sgn) AS BIGINT) AS proj
      FROM q JOIN s ON s.dim = q.dim
      GROUP BY 1, 2
      ORDER BY 1, 2""")) { (s, d) =>
      graft.operators.Features.jlProject(Tables.embeddings(s, d), axes = 8)
        .orderBy("vec_id", "axis")
    },

    // ---- q150: top-principal-direction projection ("all but the
    // top" embedding hygiene) — two-pass exact centered scatter
    // census, FIXED 8-round integer power iteration on the bounded
    // driver model, then a join-free literal-array projection scan.
    // Every step is integer arithmetic both engines share exactly
    // (trunc-toward-zero means, abs-then-shift pre-scale, div-based
    // renormalization), so the oracle replays fit AND projection
    // from first principles and the frame hash-gates bit-for-bit.
    Q("q150_pca_project", Some("""
      WITH qv AS MATERIALIZED (SELECT vec_id, CAST(i AS BIGINT) AS dim,
                    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
                  FROM embeddings, generate_series(1, 64) t(i)
                  WHERE embedding IS NOT NULL),
      sums AS (SELECT dim, CAST(SUM(q) AS BIGINT) AS s, COUNT(*) AS n
               FROM qv GROUP BY 1),
      m AS (SELECT dim, CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
                             * (ABS(s) // n) AS BIGINT) AS m FROM sums),
      qc AS MATERIALIZED (SELECT vec_id, qv.dim, qv.q - m.m AS qc
             FROM qv JOIN m ON m.dim = qv.dim),
      sc AS MATERIALIZED (SELECT a.dim AS i, b.dim AS j,
               CAST(SUM(a.qc * b.qc) AS BIGINT) AS s
             FROM qc a JOIN qc b ON b.vec_id = a.vec_id GROUP BY 1, 2),
      sh AS (SELECT GREATEST(0, LENGTH(BIN(MAX(ABS(s)))) - 30) AS sh FROM sc),
      cp AS MATERIALIZED (SELECT i, j, CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
                               * (ABS(s) >> sh) AS BIGINT) AS c FROM sc, sh),
      v0 AS (SELECT DISTINCT i AS dim, CAST(1 AS BIGINT) AS v FROM sc)"""
      + pcaOracleRounds(8) + """
      SELECT qc.vec_id, CAST(SUM(qc.qc * v8.v) AS BIGINT) AS proj
      FROM qc JOIN v8 ON v8.dim = qc.dim
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val model = graft.operators.Features.fitPcaTop(emb)
      graft.operators.Features.pcaProject(emb, model).orderBy("vec_id")
    },

    // ---- q151: grid-blocked DBSCAN — density clustering with
    // arbitrary-shape clusters and NOISE semantics, eps-grid 3×3
    // spatial-join blocking (quadratic per cell only, cell census
    // guarded), core-core components on the q47 hash-min machinery.
    // The gate plants four separated blobs (id-parity offsets ≫ the
    // data range) plus every-37th-point exiles, so core, border,
    // noise and multiple cluster labels all appear; the oracle
    // replays neighborhoods brute-force and the connectivity as a
    // recursive closure. sklearn conventions: neighborhood counts
    // include the point; border ties resolve to the MIN core label.
    Q("q151_dbscan", Some("""
      WITH RECURSIVE q AS MATERIALIZED (
        SELECT vec_id AS id,
          CAST(FLOOR(CAST(embedding[1] AS DOUBLE)*1000000+0.5) AS BIGINT)
            + (vec_id % 2) * 3000000
            + CASE WHEN vec_id % 37 = 0 THEN 20000000 ELSE 0 END AS x,
          CAST(FLOOR(CAST(embedding[2] AS DOUBLE)*1000000+0.5) AS BIGINT)
            + CASE WHEN vec_id % 4 >= 2 THEN 3000000 ELSE 0 END AS y
        FROM embeddings WHERE embedding IS NOT NULL),
      pr AS MATERIALIZED (
        SELECT a.id AS a, b.id AS b FROM q a JOIN q b
        ON b.id <> a.id
         AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 10000000000),
      nc AS (SELECT q.id, COALESCE(c.cnt, 0) + 1 AS n
             FROM q LEFT JOIN (SELECT a, COUNT(*) AS cnt FROM pr GROUP BY 1) c
               ON c.a = q.id),
      core AS MATERIALIZED (SELECT id FROM nc WHERE n >= 5),
      ce AS MATERIALIZED (SELECT a, b FROM pr
            WHERE a IN (SELECT id FROM core) AND b IN (SELECT id FROM core)),
      e AS (SELECT a, b FROM ce UNION SELECT b, a FROM ce),
      reach(src, dst) AS (SELECT a, b FROM e
        UNION SELECT r.src, e2.b FROM reach r JOIN e e2 ON r.dst = e2.a),
      comp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS cl
               FROM reach GROUP BY 1),
      clab AS MATERIALIZED (SELECT core.id, COALESCE(comp.cl, core.id) AS cl
              FROM core LEFT JOIN comp ON comp.id = core.id),
      bl AS (SELECT pr.a AS id, MIN(clab.cl) AS bl
             FROM pr JOIN clab ON clab.id = pr.b
             WHERE pr.a NOT IN (SELECT id FROM core) GROUP BY 1)
      SELECT q.id AS vec_id,
        CASE WHEN clab.id IS NOT NULL THEN 'core'
             WHEN bl.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
        CASE WHEN clab.id IS NOT NULL THEN clab.cl ELSE bl.bl END AS cluster
      FROM q LEFT JOIN clab ON clab.id = q.id LEFT JOIN bl ON bl.id = q.id
      ORDER BY vec_id""")) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
      val qx = floor(element_at(col("embedding"), 1).cast("double") * 1000000d + 0.5d).cast("long") +
        pmod(col("vec_id"), lit(2L)) * lit(3000000L) +
        when(pmod(col("vec_id"), lit(37L)) === 0L, 20000000L).otherwise(0L)
      val qy = floor(element_at(col("embedding"), 2).cast("double") * 1000000d + 0.5d).cast("long") +
        when(pmod(col("vec_id"), lit(4L)) >= 2L, 3000000L).otherwise(0L)
      graft.operators.Clustering.dbscanGrid(
          emb.select(col("vec_id"), qx.as("x"), qy.as("y")),
          "vec_id", col("x"), col("y"), eps = 100000L, minPts = 5)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    },

    // ---- q142: mutual k-NN graph — reciprocal top-5 pairs over the
    // whole corpus: the hubness-robust edge set density clustering
    // and SemDeDup grouping start from. Mutuality is a pure
    // self-equi-join over the kNN edge list (n·k rows, never the
    // corpus), composable with any ANN tier; the gate feeds it the
    // exact brute-force ranking and emits integer ranks only, so no
    // float hedge is needed. Oracle replays both directions' rank
    // cut and the reciprocity join.
    Q("q142_mutual_knn", Some(oracleProlog + """,
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_inner_product(c.v, q.v) / (c.nrm * q.nrm) AS sim_raw
        FROM p c JOIN p q ON c.vec_id <> q.vec_id),
      ranked AS (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim_raw DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored),
      kk AS (SELECT * FROM ranked WHERE rank <= 5)
      SELECT a.query_id AS u, a.neighbor_id AS v,
             a.rank AS rank_uv, b.rank AS rank_vu
      FROM kk a JOIN kk b
        ON b.query_id = a.neighbor_id AND b.neighbor_id = a.query_id
      WHERE a.query_id < a.neighbor_id
      ORDER BY u, v""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // materializeInput: the n² brute-force scorer would otherwise
      // run once per self-join side (~2× measured here at sf0.1).
      graft.operators.Similarity.mutualKnn(
          graft.operators.Similarity.bruteForceTopK(emb, emb, k = 5),
          materializeInput = true)
        .orderBy("u", "v")
    },

    // ---- q177: k-NN label-consistency audit — the mislabel
    // detector (confident-learning family): per vector, how many of
    // its exact top-5 cosine neighbors share its label, exact ×10⁴
    // agreement, suspect below 0.4. Composable over any kNN frame
    // (here the exact q142 kNN; LSH/IVF at scale); the synthetic
    // labels are near-random vs geometry, so low agreement dominates
    // — semantics pinned on planted clusters in SimilaritySpec.
    Q("q177_label_consistency", Some(oracleProlog + """,
      lbl AS (SELECT vec_id, label FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_inner_product(c.v, q.v) / (c.nrm * q.nrm) AS sim_raw
        FROM p c JOIN p q ON c.vec_id <> q.vec_id),
      ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim_raw DESC, neighbor_id) AS r
        FROM scored),
      kk AS (SELECT query_id, neighbor_id FROM ranked WHERE r <= 5),
      ag AS (SELECT kk.query_id,
                    CAST(COUNT(*) AS BIGINT) AS n_neighbors,
                    CAST(SUM(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) AS BIGINT) AS n_same
             FROM kk JOIN lbl ql ON ql.vec_id = kk.query_id
                     JOIN lbl nl ON nl.vec_id = kk.neighbor_id
             GROUP BY 1)
      SELECT ag.query_id AS vec_id, ql.label AS label, ag.n_same, ag.n_neighbors,
             CAST(ag.n_same * 10000 // ag.n_neighbors AS BIGINT) AS agree_e4,
             ag.n_same * 10000 // ag.n_neighbors < 4000 AS suspect
      FROM ag JOIN lbl ql ON ql.vec_id = ag.query_id
      ORDER BY vec_id""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.labelConsistency(
          Similarity.bruteForceTopK(emb, emb, k = 5),
          emb.select("vec_id", "label"), k = 5)
        .orderBy("vec_id")
    },

    // ---- q170: matryoshka truncation audit — overlap@5 between
    // full-64-dim exact top-5 and first-16-dims-renormalized top-5
    // for probes vec_id < 32: the representation-loss axis q127's
    // LSH audit doesn't see (indexing loss vs truncation loss — the
    // combined budget is what production tunes). Deterministic both
    // sides, so the audit frame hash-gates; recall denominates by
    // ground-truth size; exact integer recall_e4.
    Q("q170_truncation_audit", Some(oracleProlog + """,
      q AS (SELECT vec_id, v, nrm FROM p WHERE vec_id < 32),
      fx AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_inner_product(c.v, q.v) / (c.nrm * q.nrm) DESC,
                               c.vec_id) AS r
             FROM p c JOIN q ON c.vec_id <> q.vec_id),
      ex AS (SELECT query_id, neighbor_id FROM fx WHERE r <= 5),
      pt AS (SELECT vec_id, v[1:16] AS v,
                    sqrt(list_inner_product(v[1:16], v[1:16])) AS nrm FROM p),
      qt AS (SELECT vec_id, v, nrm FROM pt WHERE vec_id < 32),
      tx AS (SELECT qt.vec_id AS query_id, c.vec_id AS neighbor_id,
                    row_number() OVER (PARTITION BY qt.vec_id
                      ORDER BY list_inner_product(c.v, qt.v) / (c.nrm * qt.nrm) DESC,
                               c.vec_id) AS r
             FROM pt c JOIN qt ON c.vec_id <> qt.vec_id),
      tr AS (SELECT query_id, neighbor_id FROM tx WHERE r <= 5),
      h AS (SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
            FROM ex JOIN tr ON tr.query_id = ex.query_id
                           AND tr.neighbor_id = ex.neighbor_id
            GROUP BY 1),
      t AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
            FROM ex GROUP BY 1)
      SELECT q.vec_id AS query_id,
             COALESCE(h.n_hit, 0) AS n_hit,
             COALESCE(t.n_truth, 0) AS n_truth,
             CASE WHEN COALESCE(t.n_truth, 0) > 0
                  THEN COALESCE(h.n_hit, 0) * 10000 // t.n_truth
                  ELSE 0 END AS recall_e4
      FROM q LEFT JOIN t ON t.query_id = q.vec_id
             LEFT JOIN h ON h.query_id = q.vec_id
      ORDER BY query_id""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.truncationAudit(emb, emb.filter(col("vec_id") < 32),
          k = 5, dims = 16)
        .orderBy("query_id")
    },

    // ---- q160: margin-based pair mining (Artetxe & Schwenk ratio
    // margin) — the bitext/semantic-alignment criterion: cosine
    // normalized by BOTH endpoints' own top-4 neighborhood averages,
    // best-margin partner per left vector, mined at margin ≥ 1.15.
    // Sides = vec_id parity (stand-in for two languages). The
    // neighborhood sums are FLOOR(sim·1e8) longs — floor is
    // rounding-rule-free where a decimal cast is not — so margins
    // are bit-identical across engines; top-k cuts are bounded TopK
    // aggregates, never a corpus-wide window. At 100 TB the exact
    // cross-score feeding
    // the miner is replaced by LSH/IVF candidates — the miner takes
    // any scored frame (same composability as q142's mutualKnn).
    Q("q160_margin_pairs", Some(oracleProlog + """,
      a AS (SELECT * FROM p WHERE vec_id % 2 = 0),
      b AS (SELECT * FROM p WHERE vec_id % 2 = 1),
      scored AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                        list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS sim_raw
                 FROM a CROSS JOIN b),
      fwd AS (SELECT a_id, b_id, sim_raw,
                     row_number() OVER (PARTITION BY a_id
                                        ORDER BY sim_raw DESC, b_id) AS r
              FROM scored),
      fk AS (SELECT * FROM fwd WHERE r <= 4),
      bwd AS (SELECT a_id, b_id, sim_raw,
                     row_number() OVER (PARTITION BY b_id
                                        ORDER BY sim_raw DESC, a_id) AS r
              FROM scored),
      bk AS (SELECT * FROM bwd WHERE r <= 4),
      sa AS (SELECT a_id, SUM(CAST(FLOOR(sim_raw * 1e8) AS BIGINT)) AS nbr_a FROM fk GROUP BY 1),
      sb AS (SELECT b_id, SUM(CAST(FLOOR(sim_raw * 1e8) AS BIGINT)) AS nbr_b FROM bk GROUP BY 1),
      m AS (SELECT fk.a_id, fk.b_id, fk.sim_raw,
                   8.0 * fk.sim_raw * 1e8 / CAST(sa.nbr_a + sb.nbr_b AS DOUBLE) AS margin_raw
            FROM fk JOIN sa ON sa.a_id = fk.a_id JOIN sb ON sb.b_id = fk.b_id),
      best AS (SELECT a_id, b_id, sim_raw, margin_raw,
                      row_number() OVER (PARTITION BY a_id
                                         ORDER BY margin_raw DESC, b_id) AS br
               FROM m)
      SELECT a_id, b_id, round(sim_raw, 6) AS sim, round(margin_raw, 6) AS margin
      FROM best WHERE br = 1 AND margin_raw >= 1.15
      ORDER BY a_id""")) { (s, d) =>
      val p = Similarity.prepared(Tables.embeddings(s, d))
      val a = p.filter(pmod(col("vec_id"), lit(2)) === 0)
        .select(col("vec_id").as("a_id"), col("vec").as("av"), col("norm").as("an"))
      val b = p.filter(pmod(col("vec_id"), lit(2)) === 1)
        .select(col("vec_id").as("b_id"), col("vec").as("bv"), col("norm").as("bn"))
      val scored = a.crossJoin(broadcast(b))
        .select(col("a_id"), col("b_id"),
          graft.functions.VectorFunctions.cosinePrenormed(
            graft.functions.VectorFunctions.dot(col("av"), col("bv")),
            col("an"), col("bn")).as("sim_raw"))
      Similarity.marginMine(scored, k = 4, minMargin = 1.15)
        .orderBy("a_id")
    },

    // ---- q144: exact per-class ROC-AUC — the model-eval rank
    // statistic ("does dimension 1 separate class c?") computed
    // EXACTLY at scale: Mann-Whitney U with doubled tie mid-ranks on
    // the q139 blocked-rank machinery, every intermediate an exact
    // long, one final division. The oracle's RANK() min-tie-rank +
    // per-score COUNT replays the mid-rank identity from first
    // principles over a global window the engine plan never
    // contains.
    Q("q144_class_auc", Some("""
      WITH s AS (SELECT vec_id,
                   CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS score,
                   CAST(label AS BIGINT) AS label
                 FROM embeddings),
      r AS (SELECT vec_id, score, label,
                   CAST(RANK() OVER (ORDER BY score) AS BIGINT) AS minrank,
                   CAST(COUNT(*) OVER (PARTITION BY score) AS BIGINT) AS cnt
            FROM s),
      a AS (SELECT label, CAST(SUM(2 * minrank + cnt - 1) AS BIGINT) AS sum2,
                   CAST(COUNT(*) AS BIGINT) AS n_pos
            FROM r GROUP BY 1),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s)
      SELECT a.label, a.n_pos, nn.n - a.n_pos AS n_neg,
             a.sum2 - a.n_pos * (a.n_pos + 1) AS u2,
             CASE WHEN nn.n - a.n_pos > 0 THEN
               CAST(a.sum2 - a.n_pos * (a.n_pos + 1) AS DOUBLE)
                 / (2.0 * CAST(a.n_pos AS DOUBLE)
                    * CAST(nn.n - a.n_pos AS DOUBLE)) END AS auc
      FROM a CROSS JOIN nn ORDER BY label""")) { (s, d) =>
      graft.operators.Stats.classAuc(Tables.embeddings(s, d),
          floor(element_at(col("embedding").cast("array<double>"), 1)
            * 1000000L + 0.5d),
          "label")
        .orderBy("label")
    },

    // ---- q145: exact Spearman rank correlation — "are dimensions 1
    // and 2 monotonically related?" computed exactly at scale:
    // tie-mid-ranks (doubled, so every rank is a long — the q144
    // identity) from the q139 blocked machinery for BOTH variables,
    // then q71's decimal-exact OLS sums and the q115 sign·sqrt(r²)
    // spelling. Coarse eighth-grain quantization makes ties heavy on
    // purpose — the mid-rank path is the whole point. The oracle
    // replays ranks via global RANK() windows the engine plan never
    // contains.
    Q("q145_spearman", Some("""
      WITH s AS (SELECT vec_id,
                   CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 8 + 0.5) AS BIGINT) AS x,
                   CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 8 + 0.5) AS BIGINT) AS y
                 FROM embeddings),
      rx AS (SELECT vec_id,
               CAST(2 * RANK() OVER (ORDER BY x)
                    + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx2
             FROM s),
      ry AS (SELECT vec_id,
               CAST(2 * RANK() OVER (ORDER BY y)
                    + COUNT(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry2
             FROM s),
      p AS (SELECT CAST(rx.rx2 AS DECIMAL(12,0)) AS x,
                   CAST(ry.ry2 AS DECIMAL(18,2)) AS y
            FROM rx JOIN ry USING (vec_id)),
      s2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(y * y) AS DOUBLE) AS syy
             FROM p WHERE x IS NOT NULL AND y IS NOT NULL),
      f AS (SELECT n,
              CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                   THEN (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
              CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                   THEN (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE) END AS intercept,
              CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0 AND CAST(n AS DOUBLE) * syy - sy * sy <> 0
                   THEN (CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)
                        / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) END AS r2
            FROM s2)
      SELECT n, slope, intercept, r2,
             CASE WHEN slope < 0 THEN -sqrt(r2) ELSE sqrt(r2) END AS spearman
      FROM f""")) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      graft.operators.Stats.spearman(emb,
        floor(element_at(col("e"), 1) * 8 + 0.5d),
        floor(element_at(col("e"), 2) * 8 + 0.5d))
    },

    // ---- q217: graph-ANN beam search — the navigable-small-world
    // probe shape (HNSW's layer-0 walk) completing the ANN family:
    // q30 is exact, q32/q33/q103 bucket by geometry (LSH/IVF/PQ),
    // this walks a FITTED k-NN graph from a deterministic entry with
    // a width-4 beam for 3 hops, scoring only ~beam·m candidates per
    // hop. No visited-set (documented deviation from ef-search) so
    // the walk is a pure function of (graph, entry, query) and the
    // oracle replays it verbatim as unrolled hop CTEs over the same
    // exact top-m adjacency. Approximate BY DESIGN: recall vs exact
    // q30 is pinned in SimilaritySpec; the GATE is exact because
    // both engines walk the identical deterministic trajectory.
    Q("q217_graph_ann_beam", Some(graphAnnOracle(m = 8, beam = 4, hops = 3, k = 5))) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.graphAnnBeam(emb, emb.filter(col("vec_id") < 10),
          k = 5, m = 8, beam = 4, hops = 3)
        .orderBy("query_id", "rank")
    },

    // ---- q228: cross-encoder rerank (r16) — the retrieve-then-
    // rerank serving shape the r15 verdict listed as the retrieval
    // tier's one missing seam: dense first stage (exact top-25
    // cosine per query — at scale, any ANN tier) → text join-back
    // by id → per-pair scoring through the pluggable CrossEncoder
    // trait → bounded top-5. The gate runs the deterministic
    // LexicalOverlapEncoder stand-in (distinct-unigram F1,
    // e9-truncated — the declared-mock convention of the
    // Transcriber seam), so the oracle replays short-list, tokens,
    // intersection, and rank exactly; f1_e9 recovers the exact
    // integer from the e9-floored double (round-trip error < 1e-15
    // of a ≤2e9 value). Embedding ids double as documents ids —
    // vec_id ⊂ doc_id by the driver's data contract.
    Q("q228_crossencoder_rerank", Some(oracleProlog + """,
      short AS (
        SELECT query_id, cand_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_inner_product(c.v, q.v)/(c.nrm*q.nrm) DESC,
                            c.vec_id) AS rn
          FROM p c JOIN p q ON q.vec_id % 97 = 0 AND c.vec_id <> q.vec_id)
        WHERE rn <= 25),
      toks AS MATERIALIZED (SELECT doc_id,
                      list_distinct(list_filter(string_split(text, ' '),
                        x -> x <> '')) AS w
               FROM documents),
      scored AS (
        SELECT s.query_id, s.cand_id,
               CAST(floor(2000000000.0 * len(list_intersect(qt.w, ct.w))
                          / (len(qt.w) + len(ct.w))) AS BIGINT) AS f1_e9
        FROM short s
        JOIN toks qt ON qt.doc_id = s.query_id
        JOIN toks ct ON ct.doc_id = s.cand_id),
      rr AS (SELECT query_id, cand_id AS neighbor_id,
                    CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY f1_e9 DESC, cand_id) AS BIGINT) AS rank,
                    f1_e9
             FROM scored)
      SELECT query_id, neighbor_id, rank, f1_e9 FROM rr WHERE rank <= 5
      ORDER BY query_id, rank""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val shortList = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") % 97 === 0), k = 25)
        .select(col("query_id"), col("neighbor_id").as("cand_id"))
      Similarity.crossEncoderRerank(shortList, Tables.documents(s, d),
          Similarity.LexicalOverlapEncoder, k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"),
          round(col("score") * lit(1e9)).cast("long").as("f1_e9"))
        .orderBy("query_id", "rank")
    },

    // ---- q242: cross-encoder DISTILLATION labels (r18 growth over
    // the q228 seam — Margin-MSE, Hofstätter et al. 2020): the
    // teacher cross-encoder reranks each query's dense short-list,
    // its top-1 becomes the positive and ranks 2..8 the hard
    // negatives, and each (query, positive, negative) triple carries
    // the teacher's score MARGIN — the label file a student
    // bi-encoder distills from. The e9-floored teacher scores are
    // integers in disguise, so margins round-trip the double
    // subtraction exactly; the oracle replays shortlist, teacher
    // ranking, and margins on the e9 integers.
    Q("q242_distill_labels", Some(oracleProlog + """,
      short AS (
        SELECT query_id, cand_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_inner_product(c.v, q.v)/(c.nrm*q.nrm) DESC,
                            c.vec_id) AS rn
          FROM p c JOIN p q ON q.vec_id % 97 = 0 AND c.vec_id <> q.vec_id)
        WHERE rn <= 25),
      toks AS MATERIALIZED (SELECT doc_id,
                      list_distinct(list_filter(string_split(text, ' '),
                        x -> x <> '')) AS w
               FROM documents),
      scored AS (
        SELECT s.query_id, s.cand_id,
               CAST(floor(2000000000.0 * len(list_intersect(qt.w, ct.w))
                          / (len(qt.w) + len(ct.w))) AS BIGINT) AS f1_e9
        FROM short s
        JOIN toks qt ON qt.doc_id = s.query_id
        JOIN toks ct ON ct.doc_id = s.cand_id),
      rr AS MATERIALIZED (SELECT query_id, cand_id,
                    CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY f1_e9 DESC, cand_id) AS BIGINT) AS rank,
                    f1_e9
             FROM scored),
      pos AS (SELECT query_id, cand_id AS pos_id, f1_e9 AS pos_f1
              FROM rr WHERE rank = 1),
      neg AS (SELECT query_id, cand_id AS neg_id, rank - 1 AS neg_rank,
                     f1_e9 AS neg_f1
              FROM rr WHERE rank BETWEEN 2 AND 8)
      SELECT p.query_id, p.pos_id, n.neg_id, n.neg_rank,
             p.pos_f1 - n.neg_f1 AS margin_e9
      FROM pos p JOIN neg n USING (query_id)
      ORDER BY query_id, neg_rank""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val shortList = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") % 97 === 0), k = 25)
        .select(col("query_id"), col("neighbor_id").as("cand_id"))
      Similarity.crossEncoderDistillLabels(shortList, Tables.documents(s, d),
          Similarity.LexicalOverlapEncoder, nNeg = 7)
        .select(col("query_id"), col("pos_id"), col("neg_id"), col("neg_rank"),
          round(col("margin") * lit(1e9)).cast("long").as("margin_e9"))
        .orderBy("query_id", "neg_rank")
    })
}
