package graft.operators

import graft.{PropSampling, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Randomized differential gates for the dedup family: every
  * strategy the adaptive operators can pick must agree with a
  * brute-force in-test reference on random corpora — including the
  * exact-threshold boundary pairs the epsilon guards protect.
  *
  *  - small-vocabulary corpus → jaccardSimilarityJoin's bitmask
  *    all-pairs path;
  *  - large-vocabulary corpus → the PPJoin prefix path (positional +
  *    length filters must never drop a qualifying pair);
  *  - duplicate-heavy corpus → simhashNearDupPairs' signature
  *    collapse + explode expansion.
  */
class DedupPropSpec extends SparkSuite {

  private def bruteJaccard(docs: Seq[(Long, String)], t: Double): Set[(Long, Long, Double)] = {
    val sets = docs.map { case (id, text) => id -> text.split(" ").toSet }
    (for {
      (a, sa) <- sets
      (b, sb) <- sets
      if a < b
      ov = (sa & sb).size
      j = ov.toDouble / (sa.size + sb.size - ov)
      if j >= t
    } yield (a, b, BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
  }

  private def runJaccard(docs: Seq[(Long, String)], t: Double): Set[(Long, Long, Double)] = {
    import spark.implicits._
    Dedup.jaccardSimilarityJoin(docs.toDF("doc_id", "text"), threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  /** Random corpus over a fixed vocabulary; duplicate sets arise
    * naturally when the vocabulary is small. */
  private def corpus(vocab: IndexedSeq[String], nDocs: Int, maxLen: Int): Gen[Seq[(Long, String)]] =
    Gen.sequence[Seq[String], String](
      (1 to nDocs).map(_ =>
        Gen.chooseNum(2, maxLen).flatMap(k =>
          Gen.listOfN(k, Gen.oneOf(vocab)).map(_.mkString(" ")))))
      .map(_.zipWithIndex.map { case (txt, i) => (i.toLong, txt) })

  test("bitmask path ≡ brute force on random small-vocab corpora (incl. boundary pairs)") {
    val vocab = (1 to 12).map(i => s"w$i")
    for (docs <- PropSampling.sample(corpus(vocab, nDocs = 40, maxLen = 10), n = 6)) {
      // t = 0.5 lands many pairs exactly ON the threshold (e.g. 2/4)
      for (t <- Seq(0.5, 0.9)) {
        assert(runJaccard(docs, t) === bruteJaccard(docs, t),
          s"bitmask path diverged at t=$t on: $docs")
      }
    }
  }

  test("prefix path ≡ brute force on random large-vocab corpora") {
    // >64 distinct tokens forces the PPJoin path; overlapping ranges
    // keep similar pairs common enough to exercise verification.
    val vocab = (1 to 120).map(i => s"tok$i")
    for (docs <- PropSampling.sample(corpus(vocab, nDocs = 40, maxLen = 14), n = 6)) {
      for (t <- Seq(0.5, 0.8)) {
        assert(runJaccard(docs, t) === bruteJaccard(docs, t),
          s"prefix path diverged at t=$t on: $docs")
      }
    }
  }

  test("prefix fallback stays correct when a small-vocab corpus exceeds the rep bound") {
    import spark.implicits._
    // Forcing maxBitmaskReps below the doc count sends a small-vocab
    // corpus down the PPJoin path — prefix filtering's degenerate
    // worst case (every "rare" token is common). It must still agree
    // with brute force; only the plan shape differs.
    val vocab = (1 to 12).map(i => s"w$i")
    for (docs <- PropSampling.sample(corpus(vocab, nDocs = 30, maxLen = 8), n = 3)) {
      val got = Dedup.jaccardSimilarityJoin(
          docs.toDF("doc_id", "text"), threshold = 0.6, maxBitmaskReps = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === bruteJaccard(docs, 0.6), s"prefix fallback diverged on: $docs")
    }
  }

  test("join-based expansion ≡ array expansion when a mega-cluster trips maxClusterIds") {
    import spark.implicits._
    // A synthetic mega-cluster: one document repeated far past the
    // cluster bound, plus distinct docs with near-dup structure. With
    // maxClusterIds = 10 the probe sees the 40-member cluster and
    // switches to collapseIdenticalNoIds + expandPairsViaJoin; the
    // result must be identical to the default array-expansion path.
    val mega = (0L until 40L).map(i => (i, "a b c d e f g h i j"))
    val near = Seq(
      (100L, "a b c d e f g h i j k"),  // J = 10/11 with the cluster
      (101L, "x y z q r s t u v w"),
      (102L, "x y z q r s t u v"))      // J = 9/10 with 101
    val docs = (mega ++ near).toDF("doc_id", "text")
    val defaultPath = Dedup.jaccardSimilarityJoin(docs, threshold = 0.85)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val joinPath = Dedup.jaccardSimilarityJoin(docs, threshold = 0.85, maxClusterIds = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(joinPath === defaultPath)
    // The cluster's own 40*39/2 within-pairs are present at J=1.0.
    assert(joinPath.count(_._3 == 1.0d) == 40 * 39 / 2)
    // A finite bound the corpus does NOT exceed keeps the array path.
    val underBound = Dedup.jaccardSimilarityJoin(docs, threshold = 0.85, maxClusterIds = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(underBound === defaultPath)
    // Empty input with a finite bound: the probe's max-over-zero-groups
    // is null, which must read as "fits the bound", not NPE.
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.jaccardSimilarityJoin(empty, threshold = 0.85, maxClusterIds = 10)
      .collect().isEmpty)
  }

  test("simhash collapse+expand ≡ brute force hamming pairs on duplicate-heavy corpora") {
    import spark.implicits._
    val vocab = (1 to 10).map(i => s"s$i")
    for (docs <- PropSampling.sample(corpus(vocab, nDocs = 35, maxLen = 6), n = 4)) {
      val df = docs.toDF("doc_id", "text")
      val sigs = Dedup.simhashSignatures(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = (for {
        a <- docs.map(_._1); b <- docs.map(_._1)
        if a < b
        h = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
        if h <= 5
      } yield (a, b, h)).toSet
      val got = Dedup.simhashNearDupPairs(df, maxHamming = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === expected, s"simhash diverged on: $docs")
    }
  }

  test("hamming banding path ≡ bitmask path ≡ brute force on random 64-bit signatures") {
    // The BANDED path only runs above the 32k-row bitmask bound in
    // production, so fixtures never reach it — force it with
    // maxBitmaskReps = 0 and differential-test all three
    // formulations across radii (incl. radii where sigBits %
    // (maxHamming+1) leaves high bits uncovered by chunks — the
    // pigeonhole still holds, see the operator comment).
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(20, 40)
      base <- Gen.listOfN(n / 4 + 1, Gen.choose(Long.MinValue, Long.MaxValue))
      sigs <- Gen.listOfN(n, for {
        b <- Gen.oneOf(base)
        flips <- Gen.choose(0, 6)
        bits <- Gen.listOfN(flips, Gen.choose(0, 63))
      } yield bits.foldLeft(b)((acc, i) => acc ^ (1L << i)))
    } yield sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    for (rows <- PropSampling.sample(gen, n = 4); maxHamming <- Seq(1, 3, 5)) {
      val df = rows.toDF("doc_id", "sig")
      val expected = (for {
        (a, sa) <- rows; (b, sb) <- rows
        if a < b
        h = java.lang.Long.bitCount(sa ^ sb)
        if h <= maxHamming
      } yield (a, b, h)).toSet
      val banded = Dedup.hammingNearDupPairs(df, sigBits = 64, maxHamming = maxHamming,
          sigCol = "sig", maxBitmaskReps = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val bitmask = Dedup.hammingNearDupPairs(df, sigBits = 64, maxHamming = maxHamming,
          sigCol = "sig")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded === expected, s"banded diverged at radius $maxHamming on: $rows")
      assert(bitmask === expected, s"bitmask diverged at radius $maxHamming on: $rows")
    }
  }

  /** In-test reference: union-find over the pair list. */
  private def bruteComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  test("hot-band guard: a 10k near-identical cluster yields O(m) star candidates, cool bands keep all pairs") {
    import spark.implicits._
    // 10k identical signatures: both bands collapse to one hot
    // bucket each — uncapped (the pair-level DEFAULT since the cap
    // became opt-in), the band self-join would build ~5×10⁷ pairs
    // and OOM a test heap. Opting in at DefaultMaxBandSize must emit
    // exactly the m-1 star pairs to the band-min representative
    // instead, while a small clique with its own signature keeps
    // untouched all-pairs semantics.
    val hot = (0L until 10000L).map(i => (i, Array.fill(64)(7L)))
    val cool = (20000L until 20005L).map(i => (i, Array.fill(64)(9L)))
    val sigs = (hot ++ cool).toDF("doc_id", "sig")
    val cands = Dedup.lshCandidates(sigs, bands = 2, rowsPerBand = 32,
        maxBandSize = Dedup.DefaultMaxBandSize)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val hotPairs = cands.filter(_._1 < 20000L)
    assert(hotPairs.length === 9999, s"expected star pairs, got ${hotPairs.length}")
    assert(hotPairs.forall { case (a, b) => a == 0L && b > 0L && b < 10000L },
      "every hot-band member must connect to the band-min representative")
    val coolPairs = cands.filter(_._1 >= 20000L).toSet
    val coolExpect = (for {
      a <- 20000L until 20005L; b <- (a + 1) until 20005L
    } yield (a, b)).toSet
    assert(coolPairs === coolExpect, "cool band lost its all-pairs semantics")
  }

  test("hot-band guard end-to-end: a capped near-identical cluster still collapses via star pairs") {
    import spark.implicits._
    // 60 docs sharing a 40-token base, each with one unique token:
    // pairwise Jaccard = 40/42 ≈ 0.952, so at t=0.9 every emitted
    // pair is a true near-dup. The shared base makes many docs
    // collide per band (each unique token perturbs a given band
    // with p ≈ 0.55, leaving multi-doc buckets of varying size), so
    // a tiny cap forces the star channel on the oversized buckets
    // while small buckets keep all-pairs — both channels active in
    // one corpus.
    val base = (1 to 40).map(i => s"base$i").mkString(" ")
    val docs = (0L until 60L).map(i => (i, s"$base unique$i")).toDF("doc_id", "text")
    def pairsOf(cap: Int): Set[(Long, Long)] =
      Dedup.minhashNearDupPairs(docs, threshold = 0.9, maxBandSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairsOf(8)
    val uncapped = pairsOf(Int.MaxValue)
    assert(capped.nonEmpty, "capped pipeline lost the cluster entirely")
    assert(capped.size < uncapped.size, "cap did not reduce the pair count")
    assert(capped.subsetOf(uncapped), "star channel invented a pair")
    // The load-bearing property: within a hot band the star spans
    // every member exactly like the clique does, so the CONNECTED
    // COMPONENTS over capped pairs must equal the uncapped ones —
    // component-style dedup (q47/q75) loses nothing to the cap.
    def components(pairs: Set[(Long, Long)]): Map[Int, Int] = {
      val parent = Array.tabulate(60)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until 60).map(i => i -> find(i)).toMap
    }
    assert(components(capped) === components(uncapped),
      "star-capped pairs must preserve the uncapped pipeline's components")
  }

  test("connectedComponents ≡ union-find on random pair graphs (chains, cliques, singletons)") {
    import spark.implicits._
    // Sparse random graphs over a node range produce a mix of long
    // chains (multi-round propagation), small cliques, and isolated
    // pairs — the shapes that distinguish one-round from fixpoint.
    val pairGen = for {
      n <- Gen.chooseNum(15, 60)
      m <- Gen.chooseNum(5, 50)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong)
        b <- Gen.chooseNum(0L, n.toLong) suchThat (_ != a)
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    for (pairs <- PropSampling.sample(pairGen, n = 6)) {
      val got = Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === bruteComponents(pairs), s"components diverged on: $pairs")
    }
    // Empty pair list: no nodes, no rows, no NPE.
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).collect().isEmpty)
    // A 40-node path graph — worst-case diameter for the round count.
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val chainGot = Dedup.connectedComponents(chain.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainGot === (0L until 40L).map(_ -> 0L).toMap)
  }

  test("connectedComponents kernel route ≡ declarative pointer-jump rounds, row for row") {
    // r19 size routing: maxKernelEdges = 0 forces the iterative
    // plan; the default routes small pair sets through the driver
    // union-find kernel. Same labels on chains, cliques, dups,
    // self-pairs.
    import spark.implicits._
    val pairGen = for {
      n <- Gen.chooseNum(5, 40)
      m <- Gen.chooseNum(1, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong)
        b <- Gen.chooseNum(0L, n.toLong)
      } yield (a, b))
    } yield es // dups AND self-pairs kept deliberately
    // A 48-node path, listed high end first: the longest diameter for
    // its size, so the declarative route runs its most rounds.
    val path = (0L until 48L).sliding(2).map(s => (s(1), s(0))).toSeq
    for (pairs <- PropSampling.sample(pairGen, n = 5) :+ path if pairs.nonEmpty) {
      val df = pairs.toDF("doc_a", "doc_b")
      val viaKernel = Dedup.connectedComponents(df)
        .collect().map(_.toSeq).toSet
      val viaRounds = Dedup.connectedComponents(df, maxKernelEdges = 0)
        .collect().map(_.toSeq).toSet
      assert(viaKernel === viaRounds, s"CC route divergence on $pairs")
    }
  }

  test("connectedComponents reliable-checkpoint mode: same labels, durable files written") {
    import spark.implicits._
    // The 40-node chain needs several pointer-jump rounds, so an
    // interval of 2 exercises BOTH cut paths (durable on rounds
    // 2, 4, …, local in between) on the way to the fixpoint.
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("cc-reliable").toString
    val got = Dedup.connectedComponents(chain.toDF("doc_a", "doc_b"),
        reliableCheckpointDir = Some(dir), reliableInterval = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L until 40L).map(_ -> 0L).toMap,
      "reliable mode must produce the default mode's labelling")
    def files(p: java.io.File): Seq[java.io.File] =
      if (p.isDirectory) p.listFiles().toSeq.flatMap(files) else Seq(p)
    assert(files(new java.io.File(dir)).nonEmpty,
      "opting in must actually write durable checkpoint files")
  }
}
