package graft.operators

import graft.{PropSampling, SparkSuite}
import graft.streaming.StreamParity
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Differential gates for the curation operators: each must agree
  * with an in-test sequential reference on random corpora, and the
  * distributed sharding/broadcast structure must never change the
  * answer. */
class CurationSpec extends SparkSuite with StreamParity {

  private def corpus(vocab: IndexedSeq[String], nDocs: Int, maxLen: Int): Gen[Seq[(Long, String)]] =
    Gen.sequence[Seq[String], String](
      (1 to nDocs).map(_ =>
        Gen.chooseNum(1, maxLen).flatMap(k =>
          Gen.listOfN(k, Gen.oneOf(vocab)).map(_.mkString(" ")))))
      .map(_.zipWithIndex.map { case (txt, i) => (i.toLong, txt) })

  test("flagContaminated ≡ brute-force n-gram overlap on random corpora") {
    import spark.implicits._
    val vocab = (1 to 8).map(i => s"w$i") // small vocab → real collisions
    for (docs <- PropSampling.sample(corpus(vocab, nDocs = 30, maxLen = 12), n = 4)) {
      val evalSet = docs.filter(_._1 % 5 == 0)
      def grams(t: String): Set[Seq[String]] =
        t.split(" ").toSeq.sliding(3).filter(_.size == 3).toSet
      val evalGrams = evalSet.flatMap(d => grams(d._2)).toSet
      val expected = docs.map { case (id, t) =>
        val hits = grams(t) & evalGrams
        (id, hits.size.toLong, hits.nonEmpty)
      }.toSet
      val got = Curation.flagContaminated(
          docs.toDF("doc_id", "text"), evalSet.toDF("doc_id", "text"), n = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got === expected, s"decontamination diverged on: $docs")
    }
  }

  test("packSequences ≡ sequential greedy next-fit; sequences respect the budget") {
    import spark.implicits._
    val vocab = (1 to 5).map(i => s"t$i")
    for (docs <- PropSampling.sample(corpus(vocab, nDocs = 50, maxLen = 9), n = 4)) {
      val maxTokens = 12L
      val shards = 4
      val expected = docs
        .map { case (id, t) => (id, id % shards, t.split(" ").length.toLong) }
        .groupBy(_._2).toSeq.flatMap { case (shard, ds) =>
          var seq = 0L; var cum = 0L; var first = true
          ds.sortBy(_._1).map { case (id, _, w) =>
            if (first) { cum = w; first = false }
            else if (cum + w > maxTokens) { seq += 1; cum = w }
            else cum += w
            (id, shard, seq, w)
          }
        }.toSet
      val got = Curation.packSequences(
          docs.toDF("doc_id", "text"), maxTokens = maxTokens, shards = shards)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === expected, s"packing diverged on: $docs")
      // Budget law: every multi-doc sequence fits; oversized docs sit alone.
      got.groupBy(t => (t._2, t._3)).foreach { case (k, ds) =>
        val tot = ds.toSeq.map(_._4).sum
        assert(tot <= maxTokens || ds.size == 1, s"overfull multi-doc sequence $k: $ds")
      }
    }
  }

  test("sampleStratified: deterministic, per-stratum exact selection, missing stratum drops") {
    import spark.implicits._
    val docs = (0L until 400L).map(i => (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("doc_id", "lang")
    val fr = Map("a" -> 0.3, "b" -> 1.0) // c missing → dropped
    val take1 = Curation.sampleStratified(docs, col("lang"), fr)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val take2 = Curation.sampleStratified(docs, col("lang"), fr)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(take1 === take2, "same salt must reproduce the same sample")
    assert(take1.count(_._2 == "b") === 133, "fraction 1.0 keeps the whole stratum")
    assert(take1.forall(_._2 != "c"), "missing stratum must be dropped")
    val aKept = take1.count(_._2 == "a")
    // h60 buckets are uniform; 134 candidates at 0.3 → expect ~40.
    assert(aKept > 20 && aKept < 60, s"stratum-a selection far off its fraction: $aKept")
    // A different salt draws a different (but equally reproducible) sample.
    val other = Curation.sampleStratified(docs, col("lang"), fr, salt = "other")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(other !== take1, "different salt should move the sample")
  }

  test("bottomKSample ≡ driver-side md5 ordering; KMV stability under corpus growth") {
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    // Independent reference: same salted md5, first 12 hex chars,
    // ordered ascending with id tiebreak.
    def refHash(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"boka:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(6).map(b => f"$b%02x").mkString, 16)
    }
    val expect = (0L until 300L).groupBy(i => if (i % 2 == 0) "a" else "b")
      .flatMap { case (lang, ids) =>
        ids.map(i => (lang, i, refHash(i))).sortBy(t => (t._3, t._2)).take(10)
          .zipWithIndex.map { case ((l, i, h), r) => (l, i, r + 1L, h) }
      }.toSet
    val got = Curation.bottomKSample(docs, "lang", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expect, "bottom-k diverged from the reference md5 ordering")
    // KMV property: adding rows only displaces hashes above the
    // k-th minimum — survivors of the grown corpus that existed
    // before must be exactly the old sample's smallest hashes.
    val grown = (0L until 600L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    val got2 = Curation.bottomKSample(grown, "lang", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val oldSurvivors = got.filter { case (l, i, _, _) => got2.contains((l, i)) }
      .groupBy(_._1).view.mapValues(_.map(_._3).toSeq.sorted).toMap
    oldSurvivors.foreach { case (l, ranks) =>
      assert(ranks === (1L to ranks.length.toLong),
        s"stratum $l: survivors must be a rank prefix of the old sample, got $ranks")
    }
  }

  test("crawlSchedule: politeness and capacity invariants; ≡ sequential two-level planner") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 120)
      rows <- Gen.listOfN(n, Gen.chooseNum(1, 8).map(h => s"host$h"))
    } yield rows.zipWithIndex.map { case (h, i) => (i.toLong, h) }
    for (frontier <- PropSampling.sample(gen, n = 5) if frontier.nonEmpty) {
      val (maxPerHost, cap) = (3, 7)
      val got = Curation.crawlSchedule(frontier.toDF("id", "host"),
          hostCol = "host", orderCol = "id", maxPerHost = maxPerHost, waveCapacity = cap)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      // Sequential reference: FIFO per host, then FIFO batches per round.
      val hostSeq = frontier.groupBy(_._2).flatMap { case (_, rs) =>
        rs.sortBy(_._1).zipWithIndex.map { case ((id, h), i) => id -> (h, i + 1L) }
      }
      val expect = hostSeq.map { case (id, (h, seq)) => (id, h, seq, (seq - 1) / maxPerHost) }
        .groupBy(_._4).flatMap { case (_, inRound) =>
          inRound.toSeq.sortBy(r => (r._2, r._3)).zipWithIndex
            .map { case ((id, h, seq, round), i) => (id, h, seq, round, i.toLong / cap) }
        }.toSet
      assert(got.toSet === expect, s"schedule diverged on $frontier")
      // No host exceeds maxPerHost in a round; no batch exceeds capacity.
      for ((_, n) <- got.groupBy(r => (r._2, r._4)).view.mapValues(_.length))
        assert(n <= maxPerHost)
      for ((_, n) <- got.groupBy(r => (r._4, r._5)).view.mapValues(_.length))
        assert(n <= cap)
      // Batches are dense from 0 within each round.
      for ((_, rows) <- got.groupBy(_._4)) {
        val bs = rows.map(_._5).distinct.sorted.toSeq
        assert(bs === (0L until bs.length.toLong), s"batches not dense: $bs")
      }
    }
  }

  test("redactPii scrubs every category, counts actual replacements, leaves clean text alone") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b_c9@sub.example.org and x@y.io plus 555-123-4567 at 192.168.0.1 end"),
      (2L, "no pii here at all"),
      (3L, "edge 999-999-9999 and 1.2.3.4 only"),
      (4L, "hyphen user@my-site.com and plus user+tag@x.com done")).toDF("doc_id", "text")
    val out = Curation.redactPii(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_email") === 2L)
    assert(r1.getAs[Long]("n_phone") === 1L)
    assert(r1.getAs[Long]("n_ip") === 1L)
    val t1 = r1.getAs[String]("text")
    assert(t1 === "mail <EMAIL> and <EMAIL> plus <PHONE> at <IP> end", t1)
    assert(out(2L).getAs[String]("text") === "no pii here at all")
    assert(out(2L).getAs[Long]("n_email") === 0L)
    val t3 = out(3L).getAs[String]("text")
    assert(t3 === "edge <PHONE> and <IP> only", t3)
    // Hyphenated domains and plus-addressed locals are whole-match
    // scrubbed (the r6 pattern left '-site.com' / 'user+' residue).
    val t4 = out(4L).getAs[String]("text")
    assert(t4 === "hyphen <EMAIL> and plus <EMAIL> done", t4)
    assert(out(4L).getAs[Long]("n_email") === 2L)
  }

  test("redactPii fuzz: injected PII is counted and scrubbed exactly, clean words untouched") {
    import spark.implicits._
    // Clean filler words contain no digits, dots, '@', or dashes, so
    // the only pattern matches are the injected instances.
    val word = Gen.oneOf("lorem", "ipsum", "dolor", "sit", "amet")
    val email = Gen.chooseNum(1, 999).map(i => s"user$i@mail.example.org")
    val phone = Gen.chooseNum(100, 999).map(i => s"555-$i-0199")
    val ip = Gen.chooseNum(0, 255).map(i => s"10.$i.7.9")
    val docGen = for {
      n <- Gen.chooseNum(1, 25)
      parts <- Gen.listOfN(n, Gen.frequency(
        (6, word.map(("w", _))), (1, email.map(("e", _))),
        (1, phone.map(("p", _))), (1, ip.map(("i", _)))))
    } yield parts
    for (docsParts <- PropSampling.sample(Gen.listOfN(6, docGen), n = 5)) {
      val docs = docsParts.zipWithIndex.map { case (parts, i) =>
        (i.toLong, parts.map(_._2).mkString(" "),
          parts.count(_._1 == "e").toLong, parts.count(_._1 == "p").toLong,
          parts.count(_._1 == "i").toLong)
      }
      val out = Curation.redactPii(
          docs.map(d => (d._1, d._2)).toDF("doc_id", "text"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      for ((id, _, ne, np, ni) <- docs) {
        val r = out(id)
        assert((r.getAs[Long]("n_email"), r.getAs[Long]("n_phone"), r.getAs[Long]("n_ip"))
          === ((ne, np, ni)), s"counts diverged for doc $id: ${docs.find(_._1 == id)}")
        val t = r.getAs[String]("text")
        assert(t.sliding("<EMAIL>".length).count(_ == "<EMAIL>") === ne.toInt)
        assert(t.sliding("<PHONE>".length).count(_ == "<PHONE>") === np.toInt)
        assert(t.sliding("<IP>".length).count(_ == "<IP>") === ni.toInt)
        for ((_, re, _) <- Curation.PiiPatterns)
          assert(!re.r.findFirstIn(t).isDefined, s"residual PII in: $t")
      }
    }
  }

  test("repetitionStats ≡ brute force over random multi-line docs") {
    import spark.implicits._
    val vocab = Vector("aa", "bb", "cc")
    val gen = for {
      n <- Gen.chooseNum(1, 12)
      lines <- Gen.listOfN(n, for {
        ln <- Gen.chooseNum(1, 6)
        ws <- Gen.listOfN(ln, Gen.oneOf(vocab))
      } yield ws.mkString(" "))
    } yield lines.mkString("\n")
    for (texts <- PropSampling.sample(Gen.listOfN(8, gen), n = 5)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Curation.repetitionStats(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val expected = docs.map { case (id, t) =>
        val lines = t.split(java.util.regex.Pattern.quote("\n"), -1).toSeq
        val toks = t.replace('\n', ' ').split(" ", -1).toSeq
        val grams = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
        val top = if (grams.isEmpty) 0L
          else grams.groupBy(identity).values.map(_.size).max.toLong
        id -> ((lines.size.toLong, (lines.size - lines.distinct.size).toLong,
          grams.size.toLong, top))
      }.toMap
      assert(got === expected, s"repetition stats diverged on $docs")
    }
  }

  /** Driver-side h60 twin (first 15 md5 hex chars) for mixing refs. */
  private def refH60(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15), 16)

  test("mixByTokenBudget ≡ sequential reference; budget monotone; null domains drop") {
    import spark.implicits._
    val vocab = (1 to 6).map(i => s"m$i")
    for (base <- PropSampling.sample(corpus(vocab, nDocs = 60, maxLen = 10), n = 4)) {
      val docs = base.map { case (id, t) =>
        (id, if (id % 7 == 0) null else s"dom${id % 3}", t)
      }
      val df = docs.toDF("doc_id", "lang", "text")
      val budget = 60L
      // Sequential reference: per-domain token sums -> threshold -> filter.
      val sized = docs.collect { case (id, d, t) if d != null =>
        (id, d, t.split(" ", -1).length.toLong)
      }
      val thr = sized.groupBy(_._2).map { case (d, rs) =>
        d -> math.floor(math.min(1.0, budget.toDouble / rs.map(_._3).sum.toDouble) * 1000000.0).toLong
      }
      val expected = sized.collect {
        case (id, d, w) if refH60(s"mix:$id") % 1000000L < thr(d) => (id, d, w, thr(d))
      }.toSet
      val got = Curation.mixByTokenBudget(df, "lang", tokenBudget = budget)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === expected, s"mixing diverged on: $docs")
      assert(got.forall(_._2 != null), "null domains must drop")
      // Monotonicity: a bigger budget only raises thresholds, so the
      // kept id set grows (same salt, same buckets).
      val bigger = Curation.mixByTokenBudget(df, "lang", tokenBudget = budget * 10)
        .collect().map(_.getLong(0)).toSet
      assert(got.map(_._1).subsetOf(bigger), "larger budget must keep a superset")
      // A domain wholly under the budget passes intact.
      val whole = Curation.mixByTokenBudget(df, "lang", tokenBudget = 1000000L)
        .collect().map(_.getLong(0)).toSet
      assert(whole === sized.map(_._1).toSet, "budget above every domain keeps all non-null rows")
    }
  }

  test("shuffleShard: exact permutation, dense in-shard positions, salted determinism") {
    import spark.implicits._
    val n = 500L
    val docs = (0L until n).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val out = Curation.shuffleShard(docs, shards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // Permutation: every doc appears exactly once.
    assert(out.map(_._1).sorted.toSeq === (0L until n), "must be a permutation of the input ids")
    // Shard = hash mod shards, hash = salted h60.
    out.foreach { case (id, shard, _, h) =>
      assert(h === refH60(s"shuf:$id"), s"hash mismatch for $id")
      assert(shard === h % 8, s"shard mismatch for $id")
    }
    // Positions are dense 0..n_s-1 within each shard, ordered by (hash, id).
    out.groupBy(_._2).foreach { case (shard, rows) =>
      val byPos = rows.sortBy(_._3)
      assert(byPos.map(_._3).toSeq === (0L until rows.length.toLong),
        s"shard $shard positions not dense")
      assert(byPos.map(r => (r._4, r._1)).toSeq === byPos.map(r => (r._4, r._1)).sortBy(identity).toSeq,
        s"shard $shard not ordered by (hash, id)")
    }
    // Determinism + salt sensitivity.
    val again = Curation.shuffleShard(docs, shards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === out.map(t => (t._1, t._2, t._3)).toSet, "same salt must reproduce")
    val other = Curation.shuffleShard(docs, shards = 8, salt = "other").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(other !== again, "different salt must move the permutation")
  }

  test("chunkTokens: coverage, overlap, short-tail and boundary-length docs; no shuffle") {
    import spark.implicits._
    val chunk = 5; val stride = 3
    // Lengths around every boundary: shorter than a chunk, exactly a
    // chunk, exactly a stride multiple, one past it, and a long doc.
    val docs = Seq(1, 4, 5, 6, 9, 10, 23).zipWithIndex.map { case (n, i) =>
      (i.toLong, (1 to n).map(t => s"t$t").mkString(" "))
    }
    val out = Curation.chunkTokens(docs.toDF("doc_id", "text"), chunk, stride)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    for (((n, _), id) <- Seq(1, 4, 5, 6, 9, 10, 23).zipWithIndex.map { case (n, i) => ((n, ()), i.toLong) }) {
      val toks = (1 to n).map(t => s"t$t")
      val mine = out.filter(_._1 == id).sortBy(_._2)
      val wantStarts = 0 until n by stride
      assert(mine.map(_._3).toSeq === wantStarts, s"starts for n=$n")
      assert(mine.map(_._2).toSeq === wantStarts.indices, s"ordinals for n=$n")
      for (((_, _, start, nt, text), _) <- mine.zipWithIndex) {
        val want = toks.slice(start, start + chunk)
        assert(nt === want.length && text === want.mkString(" "), s"window at $start for n=$n")
      }
      // Every token of the doc appears in at least one window.
      assert(wantStarts.flatMap(s0 => s0 until math.min(s0 + chunk, n)).toSet === (0 until n).toSet)
    }
    // Empty text = one empty token = one empty chunk (the split("")
    // convention both engines share).
    val empty = Curation.chunkTokens(Seq((9L, "")).toDF("doc_id", "text"), chunk, stride)
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getString(4)))
    assert(empty.toSeq === Seq((0, 1, "")))
    val plan = Curation.chunkTokens(docs.toDF("doc_id", "text"), chunk, stride)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n${plan.take(800)}")
  }

  test("cdcChunks: reassembly, boundary-locality under edits, short docs, no shuffle") {
    import spark.implicits._
    val base = (1 to 200).map(i => s"w${i % 23}x${i % 7}").mkString(" ")
    val df = Seq((1L, base)).toDF("doc_id", "text")
    val chunks = Curation.cdcChunks(df, k = 3, divisor = 8)
      .orderBy("chunk_idx")
      .select("chunk_idx", "n_tokens", "chunk_text", "chunk_hash")
      .as[(Int, Long, String, String)].collect().toSeq
    // chunks partition the document: reassembly is exact
    assert(chunks.map(_._3).mkString(" ") === base)
    assert(chunks.map(_._2).sum === 200L)
    assert(chunks.size > 2, "divisor 8 over 200 tokens must cut more than twice")

    // CONTENT-DEFINED locality: prepending tokens re-chunks only the
    // region before the first original cut — every cut is decided by
    // a local 3-gram, and those 3-grams recur verbatim in the edited
    // document, so the original chunk sequence AFTER its first cut
    // must reappear as an exact ordered suffix of the edited
    // chunking (a fixed-width chunker re-aligns everything instead).
    val edited = "zzz qqq " + base
    val editedChunks = Curation.cdcChunks(Seq((1L, edited)).toDF("doc_id", "text"),
        k = 3, divisor = 8)
      .orderBy("chunk_idx").select("chunk_hash").as[String].collect().toSeq
    val originalTail = chunks.drop(1).map(_._4)
    assert(editedChunks.takeRight(originalTail.size) === originalTail,
      "edit relocated chunks beyond the first boundary")

    // short and empty docs: one chunk, hash of the raw text
    val tiny = Curation.cdcChunks(Seq((2L, "a b"), (3L, "")).toDF("doc_id", "text"),
        k = 3, divisor = 8)
      .select("doc_id", "chunk_idx", "n_tokens", "chunk_text")
      .as[(Long, Int, Long, String)].collect().toSet
    assert(tiny === Set((2L, 0, 2L, "a b"), (3L, 0, 1L, "")))

    val plan = Curation.cdcChunks(df, 3, 8).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"CDC chunking must not shuffle:\n${plan.take(800)}")
  }

  test("streaming CDC chunking ≡ batch; zero streaming state") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three"), (3L, "")).toDF("doc_id", "text")
    assertStreamMatchesBatch(docs, Curation.cdcChunks(_, k = 2, divisor = 4),
      Curation.cdcChunks(docs, k = 2, divisor = 4))
  }

  test("leakageSafeSplit: duplicates never straddle splits; deterministic; ~80/10/10") {
    import spark.implicits._
    // duplicate classes: ids 0/1/2 share text A (under token-set
    // canonicalization), 3/4 share B, the rest are singletons
    val docs = (Seq((0L, "x y z"), (1L, "z y x"), (2L, "x x y z"),
      (3L, "a b"), (4L, "b a")) ++
      (5L until 400L).map(i => (i, s"doc $i unique words w$i v$i")))
      .toDF("doc_id", "text")
    val s1 = Curation.leakageSafeSplit(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byId = s1.map(t => t._1 -> (t._2, t._3)).toMap
    assert(Seq(0L, 1L, 2L).map(byId(_)).distinct.size === 1, "class A straddled splits")
    assert(byId(0L)._1 === 0L, "rep must be the min id of the class")
    assert(Seq(3L, 4L).map(byId(_)).distinct.size === 1, "class B straddled splits")
    // determinism: a re-run is identical
    val s2 = Curation.leakageSafeSplit(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(s1.sortBy(_._1).sameElements(s2.sortBy(_._1)))
    // split mass tracks 80/10/10 within hash noise
    val shares = s1.groupBy(_._3).view.mapValues(_.size.toDouble / s1.length).toMap
    assert(shares("train") > 0.7 && shares("train") < 0.9, shares.toString)
    assert(shares.getOrElse("val", 0.0) < 0.2 && shares.getOrElse("test", 0.0) < 0.2)
  }

  test("systematicSampleByTokens ≡ sequential walk; every token boundary covered once") {
    import spark.implicits._
    // ids with gaps (sparse blocks) and varied lengths; words are
    // space-joined so n_tokens is the word count exactly
    val docs = Seq(
      0L -> 7, 1L -> 120, 5L -> 1, 6L -> 400, 300L -> 90, 301L -> 250,
      777L -> 333, 1024L -> 100, 1025L -> 1, 4000L -> 600)
      .map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    def sequential(step: Long): Seq[(Long, Long, Long)] = {
      var cum = 0L
      docs.sortBy(_._1).flatMap { case (id, text) =>
        val w = text.split(" ").length.toLong
        val before = cum; cum += w
        if (cum / step > before / step) Some((id, w, cum)) else None
      }
    }
    for (step <- Seq(100L, 333L, 997L)) {
      val got = Curation.systematicSampleByTokens(df, step)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === sequential(step), s"diverged at step=$step")
    }
    // token-mass invariant: every 100-token boundary is covered by
    // exactly one picked document (a long doc may cover several)
    val total = docs.map(_._2.split(" ").length.toLong).sum
    val covered = Curation.systematicSampleByTokens(df, 100L)
      .as[(Long, Long, Long)].collect()
      .map { case (_, w, cum) => cum / 100L - (cum - w) / 100L }.sum
    assert(covered === total / 100L, "picked docs must cover every boundary once")
  }

  test("sequentialPoissonSample ≡ sequential u/w ranking; weights bias; zero weights drop") {
    import spark.implicits._
    // Independent priority replication: 48-bit md5 prefix over the
    // same salted key string, one double division.
    def priority(id: Long, w: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"spps:$id".getBytes("UTF-8"))
      val hex = d.take(6).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16).toDouble / w.toDouble
    }
    val gen = for {
      n <- Gen.chooseNum(10, 80)
      ws <- Gen.listOfN(n, Gen.chooseNum(0L, 500L))
    } yield ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
    for (rows <- PropSampling.sample(gen, n = 6)) {
      val k = 8
      val got = Curation.sequentialPoissonSample(
          rows.toDF("doc_id", "weight"), k, "weight", idCol = "doc_id")
        .as[(Long, Long, Double)].collect().toSeq
      val expected = rows.filter(_._2 > 0L)
        .map { case (id, w) => (id, w, priority(id, w)) }
        .sortBy { case (id, _, p) => (p, id) }
        .take(k)
      assert(got === expected, s"pps diverged on $rows")
    }
    // Size-proportional inclusion: with half the corpus at 100× the
    // weight, the heavy half dominates any fixed-size draw.
    val skewed = (0L until 400L).map(i => (i, if (i < 200L) 1000L else 10L))
    val picked = Curation.sequentialPoissonSample(
        skewed.toDF("doc_id", "weight"), 40, "weight")
      .as[(Long, Long, Double)].collect()
    assert(picked.count(_._1 < 200L) >= 30,
      s"heavy-weight rows under-sampled: ${picked.count(_._1 < 200L)}/40")
  }

  test("paragraphDedup keeps first (doc, idx) occurrence only and reconstructs in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b|c d|a b"), // within-doc repeat: idx 2 drops
      (2L, "c d|x y"),     // "c d" first seen in doc 1 → drops
      (3L, "a b")          // everything already seen → null text
    ).toDF("doc_id", "text")
    val out = Curation.paragraphDedup(docs, split(col("text"), "\\|"), sep = "|")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[String])].collect().toSeq
    assert(out === Seq(
      (1L, 3L, 2L, Some("a b|c d")),
      (2L, 2L, 1L, Some("x y")),
      (3L, 1L, 0L, None)))
  }

  test("paragraphDedup: null array elements are not paragraphs") {
    import spark.implicits._
    // A null element can neither win a census group nor count toward
    // n_paras, and an all-null doc drops entirely — the semantics of
    // the join-on-para formulation the key-unpack replaced.
    val docs = Seq(
      (1L, Seq[String]("a b", null, "c d")),
      (2L, Seq[String](null, null))
    ).toDF("doc_id", "paras")
    val out = Curation.paragraphDedup(docs, col("paras"), sep = "|")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[String])].collect().toSeq
    assert(out === Seq((1L, 2L, 2L, Some("a b|c d"))))
  }

  test("paragraphDedup ≡ sequential first-occurrence replay on random corpora") {
    import spark.implicits._
    val vocab = IndexedSeq("p", "q", "r")
    val gen = for {
      n <- Gen.chooseNum(3, 12)
      texts <- Gen.listOfN(n, Gen.nonEmptyListOf(
        Gen.oneOf(vocab.map(w => s"$w $w"))).map(_.take(6).mkString("|")))
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for (rows <- PropSampling.sample(gen, n = 6)) {
      val got = Curation.paragraphDedup(
          rows.toDF("doc_id", "text"), split(col("text"), "\\|"), sep = "|")
        .orderBy("doc_id")
        .as[(Long, Long, Long, Option[String])].collect().toSeq
      val seen = scala.collection.mutable.Set.empty[String]
      val expected = rows.sortBy(_._1).map { case (id, t) =>
        val paras = t.split("\\|", -1).toSeq
        val kept = paras.filter(p => seen.add(p))
        (id, paras.size.toLong, kept.size.toLong,
          if (kept.isEmpty) None else Some(kept.mkString("|")))
      }
      assert(got === expected, s"paragraphDedup diverged on $rows")
    }
  }

  test("paragraphDedup fails fast past maxParasPerDoc") {
    import spark.implicits._
    val docs = Seq((1L, "a|b|c")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Curation.paragraphDedup(docs, split(col("text"), "\\|"),
        maxParasPerDoc = 2L).collect()
    }
    assert(e.getMessage.contains("paragraphs"), e.getMessage)
  }

  test("flog2q is exact across the full positive long range (no x*16 overflow)") {
    import spark.implicits._
    // 2^59 is where the old (x*16) >> (bitlen-1) spelling wrapped;
    // the x >> (bitlen-5) form must keep tracking log2 through
    // Long.MaxValue and agree bit-for-bit with the JVM twin.
    val xs = Seq(1L, 15L, 16L, 17L, (1L << 58) - 1L, 1L << 58, 1L << 59,
      (1L << 59) + 12345L, 1L << 62, Long.MaxValue)
    val got = xs.toDF("c").selectExpr("c", Curation.flog2qSql("c") + " AS f")
      .as[(Long, Long)].collect().toMap
    for (x <- xs) {
      assert(got(x) === graft.functions.HashOps.flog2q(x),
        s"SQL/JVM divergence at $x")
      val bits = got(x) / 16.0
      val truth = math.log(x.toDouble) / math.log(2.0)
      assert(x == 1L || math.abs(bits - truth) <= 0.15,
        s"flog2q($x) = ${got(x)} vs true $truth")
    }
    // Monotone across the boundary region.
    val ys = ((1L << 59) - 3L to (1L << 59) + 3L).toSeq
    val fy = ys.map(graft.functions.HashOps.flog2q)
    assert(fy.sliding(2).forall(p => p(0) <= p(1)))
  }

  test("dsirImportance: target-like docs outscore off-target; fixed-point log2 tracks log2") {
    import spark.implicits._
    // flog2q: monotone, within 0.1 bits of true log2 across 3 octaves.
    val f = (1L to 1000L).toDF("c")
      .selectExpr("c", Curation.flog2qSql("c") + " AS f")
      .as[(Long, Long)].collect().sortBy(_._1)
    for ((c, v) <- f)
      assert(math.abs(v / 16.0 - math.log(c.toDouble) / math.log(2.0)) <= 0.15,
        s"flog2q($c) = $v")
    assert(f.map(_._2).sliding(2).forall(p => p(0) <= p(1)), "not monotone")
    // Constructed corpus: half the docs speak the target vocabulary.
    // DSIR must rank them above the off-target half per-gram.
    val docs = ((0L until 10L).map(i => (i, "alpha beta gamma alpha beta")) ++
      (10L until 20L).map(i => (i, "delta epsilon zeta delta epsilon")) ++
      Seq((20L, "solo"))).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") < 10L)
    val out = Curation.dsirImportance(docs, target, n = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val onTarget = out.filter(_._1 < 10L).map(r => r._3.toDouble / r._2)
    val offTarget = out.filter(r => r._1 >= 10L && r._1 < 20L)
      .map(r => r._3.toDouble / r._2)
    assert(onTarget.min > offTarget.max,
      s"on-target ${onTarget.min} !> off-target ${offTarget.max}")
    // A doc below n tokens has no n-grams and scores (0, 0).
    assert(out.find(_._1 == 20L).get === ((20L, 0L, 0L)))
  }

  test("tokenWindows: fixed windows, short tail, single window under size") {
    import spark.implicits._
    val got = Seq("a b c d e", "a").toDF("text")
      .select(Curation.tokenWindows(col("text"), 2).as("p"))
      .as[Seq[String]].collect().toSeq
    assert(got.head === Seq("a b", "c d", "e"))
    assert(got(1) === Seq("a"))
  }

  test("contributionCensus: exact max and p95 clip bound on a skewed hand fixture") {
    import spark.implicits._
    // 19 users contribute 1 row each, one whale contributes 100:
    // p95 position = ceil(0.95*20) = 19 → still in the c=1 band;
    // max = 100 (the whale IS the sensitivity).
    val rows = (1 to 19).map(u => ("click", u.toLong)) ++
      (1 to 100).map(_ => ("click", 99L)) ++
      Seq(("buy", 1L), ("buy", 1L), ("buy", 2L))
    val got = Curation.contributionCensus(rows.toDF("t", "u"), "t", "u")
      .orderBy("t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("buy", 2L, 2L, 2L),      // ceil(0.95*2)=2 → the c=2 user
      ("click", 20L, 100L, 1L)))
  }

  test("vocabGrowth ≡ brute-force distinct at every cut; first occurrence counted once") {
    import spark.implicits._
    val corpus = (0L until 20L).map(i =>
      (i, s"common w${i / 3} w${i % 7} extra${i}"))
    val got = Curation.vocabGrowth(corpus.toDF("doc_id", "text"), "doc_id",
        split(col("text"), " "), checkpoints = 5)
      .orderBy("band").collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6)))
    // Brute force: distinct words among docs with band(id) <= b.
    val n = 20L
    val expected = (0L until 5L).map { b =>
      val docs = corpus.filter { case (id, _) => math.min(id * 5 / n, 4L) <= b }
      val vocab = docs.flatMap(_._2.split(" ")).distinct.size.toLong
      val toks = docs.map(_._2.split(" ").length.toLong).sum
      (b, docs.size.toLong, toks, vocab)
    }
    assert(got.toSeq === expected)
  }

  test("selectionCurve: exact suffix cumulatives, empty-band zeros, two-sided clamp") {
    import spark.implicits._
    // Scores -300 (clamps into bin 0 — never silently dropped),
    // 500 (bin 0), 2500 (bin 2), 9999+10000 (both clamp/land in bin 9).
    val docs = Seq((-300L, 3L), (500L, 7L), (2500L, 20L), (9999L, 30L), (10000L, 40L))
      .toDF("s", "n")
    val got = Curation.selectionCurve(docs, col("s"), col("n"), bins = 10)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.length === 10)
    val byBin = got.map(t => t._1 -> t).toMap
    assert(byBin(9L) === ((9L, 2L, 70L, 2L, 70L, 7000L)),
      "score 10000 must clamp into the top bin")
    assert(byBin(2L) === ((2L, 1L, 20L, 3L, 90L, 9000L)))
    assert(byBin(0L) === ((0L, 2L, 10L, 5L, 100L, 10000L)),
      "bin 0 holds the negative-score doc too; survival is the whole corpus")
    assert(byBin(5L) === ((5L, 0L, 0L, 2L, 70L, 7000L)),
      "empty bands emit zeros but carry the survival suffix")
  }

  test("rendezvousShard: removing a shard moves ONLY that shard's rows") {
    import spark.implicits._
    val docs = (0L until 400L).map(Tuple1(_)).toDF("doc_id")
    val s8 = Curation.rendezvousShard(docs, 8).withColumnRenamed("shard", "s8")
    val s7 = Curation.rendezvousShard(docs, 7).withColumnRenamed("shard", "s7")
    val rows = s8.join(s7, "doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // The minimal-movement property: a row changes shard iff its
    // 8-shard winner was the removed shard 7.
    assert(rows.forall { case (a, b) => (a != b) == (a == 7L) })
    val moved = rows.count { case (a, b) => a != b }
    assert(moved > 20 && moved < 80, s"~1/8 of 400 should move, got $moved")
  }

  test("kAnonymityReport: class sizes, homogeneity attack flagged, exact risk") {
    import spark.implicits._
    // Class (1,"A"): 3 members but ONE sensitive value → k-anonymous
    // at k=3 yet NOT l-diverse (homogeneity attack). Class (2,"B"):
    // 2 members, 2 values → diverse but too small.
    val rows = Seq(
      (1L, "A", 10L), (1L, "A", 10L), (1L, "A", 10L),
      (2L, "B", 10L), (2L, "B", 20L))
    val got = Curation.kAnonymityReport(
        rows.toDF("region", "seg", "salary"), Seq("region", "seg"),
        col("salary"), k = 3L, l = 2L)
      .orderBy("region").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5), r.getLong(6)))
    assert(got.toSeq === Seq(
      (1L, "A", 3L, 1L, true, false, 3333L),
      (2L, "B", 2L, 2L, false, true, 5000L)))
  }

  test("temperatureAllocate: sums to budget exactly; sqrt upweights small strata; remainder tiebreak") {
    import spark.implicits._
    // Sizes 90000 vs 10000: proportional share would be 90/10, but
    // sqrt temperature gives 300:100 → 75/25.
    val docs = Seq(("big", 90000L), ("small", 10000L)).toDF("src", "n")
    val got = Curation.temperatureAllocate(docs, "src", col("n"), budget = 100L)
      .orderBy("src").collect().map(r => (r.getString(0), r.getLong(3)))
    assert(got.toSeq === Seq(("big", 75L), ("small", 25L)))
    // Three equal strata, budget 100 → bases 33 each, leftover 1
    // goes to the lexicographically first source (equal remainders).
    val eq = Seq(("a", 4L), ("b", 4L), ("c", 4L)).toDF("src", "n")
    val got2 = Curation.temperatureAllocate(eq, "src", col("n"), budget = 100L)
      .orderBy("src").collect().map(r => (r.getString(0), r.getLong(3)))
    assert(got2.map(_._2).sum === 100L)
    assert(got2.toSeq === Seq(("a", 34L), ("b", 33L), ("c", 33L)))
  }

  test("ipfRake ≡ BigInt replay; marginals converge; zero-line and guard cases") {
    import spark.implicits._
    // BigInt replay of the exact e6 fixed-point trajectory.
    def replay(cells: Seq[(String, String, Long)], rounds: Int): Map[(String, String), BigInt] = {
      val total = BigInt(cells.map(_._3).sum)
      val nr = cells.map(_._1).distinct.size
      val rte6 = (total * 1000000) / nr
      val cte6 = cells.groupBy(_._2).map { case (c, g) =>
        c -> BigInt(g.map(_._3).sum) * 1000000 }
      var cur = cells.map { case (r, c, n) => (r, c) -> BigInt(n) * 1000000 }.toMap
      for (_ <- 1 to rounds) {
        val rsum = cur.groupBy(_._1._1).map { case (r, g) => r -> g.values.sum }
        cur = cur.map { case ((r, c), v) =>
          (r, c) -> (if (rsum(r) > 0) (v * rte6) / rsum(r) else BigInt(0)) }
        val csum = cur.groupBy(_._1._2).map { case (c, g) => c -> g.values.sum }
        cur = cur.map { case ((r, c), v) =>
          (r, c) -> (if (csum(c) > 0) (v * cte6(c)) / csum(c) else BigInt(0)) }
      }
      cur
    }
    val cells = Seq(
      ("en", "s1", 70L), ("en", "s2", 30L),
      ("de", "s1", 10L), ("de", "s2", 40L),
      ("fr", "s1", 20L), ("fr", "s2", 30L))
    val df = cells.flatMap { case (r, c, n) => Seq.fill(n.toInt)((r, c)) }
      .toDF("lang", "source")
    val got = Curation.ipfRake(df, "lang", "source", rounds = 4)
      .collect().map(r => (r.getString(0), r.getString(1)) -> BigInt(r.getLong(3))).toMap
    assert(got === replay(cells, 4))
    // Marginal convergence on the fitted table: every lang row sum
    // within 0.1% of the uniform target (the final pass is a col
    // pass, so rows re-drift a little; this skewed fixture converges
    // to ~0.04% after 4 rounds), source col sums within 1e-3 e6
    // units of observed (the col pass restores them up to
    // truncation).
    val rte6 = BigInt(200) * 1000000 / 3
    val rs = got.toSeq.groupBy(_._1._1).map { case (_, g) => g.map(_._2).sum }
    assert(rs.forall(s => (s - rte6).abs < rte6 / 1000), rs.toString)
    val obs = Map("s1" -> BigInt(100), "s2" -> BigInt(100))
    val cs = got.toSeq.groupBy(_._1._2).map { case (c, g) => c -> g.map(_._2).sum }
    assert(cs.forall { case (c, s) => (s - obs(c) * 1000000).abs < 1000 }, cs.toString)
    // A zero line cannot arise from positive counts (scaling a
    // positive cell by positive targets keeps it nonnegative and the
    // guard division never sees a 0 marginal with these counts) —
    // pin that the when-guard path still yields a full frame.
    assert(got.values.forall(_ >= 0))
    // maxCells guard trips loud.
    val e = intercept[Exception](Curation.ipfRake(df, "lang", "source",
      rounds = 2, maxCells = 3).collect())
    assert(e.getMessage.contains("3 cells"))
  }

  test("memorizationRisk: exact overlap fractions; all three tiers bind") {
    import spark.implicits._
    // Train contains "a b c d" (3-grams: abc, bcd). Eval docs:
    //  1: "a b c d"      → 2/2 overlap  → 10000 high
    //  2: "a b c x y z"  → shingles {abc, bcx, cxy, xyz}, 1/4 → 2500 medium
    //  3: "p q r s"      → 0/2          → 0 low
    val train = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val eval_ = Seq(
      (1L, "a b c d"), (2L, "a b c x y z"), (3L, "p q r s")).toDF("doc_id", "text")
    val got = Curation.memorizationRisk(train, eval_, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.toSeq === Seq(
      (1L, 2L, 2L, 10000L, "high"),
      (2L, 4L, 1L, 2500L, "medium"),
      (3L, 2L, 0L, 0L, "low")))
  }

  test("ahoCorasick: overlapping counts, fail-link suffix hits, blocklistHits shape") {
    import graft.functions.AhoCorasick
    // The CACM-1975 canonical set: "ushers" must hit she (via the
    // trie), he and hers (via fail/output links), never his.
    val classic = new AhoCorasick(Array("he", "she", "his", "hers"))
    assert(classic.countHits("ushers").toSeq === Seq(1L, 1L, 0L, 1L))
    // Overlapping self-bordered pattern: "aa" in "aaaa" = 3 starts.
    assert(new AhoCorasick(Array("aa")).countHits("aaaa").toSeq === Seq(3L))
    // Patterns cross word boundaries (char-level contract).
    assert(new AhoCorasick(Array("a b")).countHits("a b a b").toSeq === Seq(2L))
    intercept[IllegalArgumentException] { new AhoCorasick(Array("")) }
    // Operator shape: only hit pairs survive, counts exact.
    import spark.implicits._
    val docs = Seq((1L, "she sells seashells"), (2L, "no match here??"))
      .toDF("doc_id", "text")
    val got = Curation.blocklistHits(docs, Seq("she", "sea", "zzz"))
      .orderBy("doc_id", "pattern").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, "sea", 1L), (1L, "she", 2L)))
  }

  test("ahoCorasick ≡ brute-force positional census on random small-alphabet inputs") {
    import graft.functions.AhoCorasick
    // Tiny alphabet maximizes fail-link traffic, shared prefixes,
    // and self-bordered patterns — the structures the automaton can
    // get wrong. Deterministic seed, 200 cases.
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val nPat = 1 + rnd.nextInt(6)
      val pats = Array.fill(nPat)(
        (1 to (1 + rnd.nextInt(4))).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString)
        .distinct
      val text = (1 to rnd.nextInt(60)).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
      val got = new AhoCorasick(pats).countHits(text)
      val want = pats.map { p =>
        (0 to text.length - p.length).count(i => text.regionMatches(i, p, 0, p.length)).toLong
      }
      assert(got.toSeq === want.toSeq,
        s"patterns=${pats.mkString(",")} text=$text")
    }
  }

  test("doremiMixWeights: uniform loss stays uniform; excess-loss domain gains monotonically") {
    import spark.implicits._
    // Identical text in every domain → identical loss → excess 0
    // every round → weights pinned at the uniform floor division.
    val uniform = Seq(
      (1L, "a b c", "d0"), (2L, "a b c", "d1"), (3L, "a b c", "d2"))
      .toDF("doc_id", "text", "source")
    val u = Curation.doremiMixWeights(uniform, "source", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(u.forall(_._3 == 0L), "identical domains must have zero excess")
    assert(u.forall(_._4 == 1000000000L / 3), "uniform loss must keep uniform weights")
    // One domain of rare singleton tokens (high surprisal) vs two
    // templated domains: its weight must strictly increase across
    // rounds and exceed uniform; totals stay ≤ 1e9 (floored splits).
    val skewed = Seq(
      (1L, "x1 x2 x3 x4 x5 x6 x7 x8", "rare"),
      (2L, "a a a a a a a a", "dup1"),
      (3L, "a a a a a a a a", "dup2"))
      .toDF("doc_id", "text", "source")
    val s = Curation.doremiMixWeights(skewed, "source", rounds = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val rare = s.filter(_._2 == "rare").sortBy(_._1).map(_._4)
    assert(rare.head > 1000000000L / 3, "high-loss domain must rise above uniform")
    assert(rare.sliding(2).forall(w => w(1) > w(0)),
      s"high-loss weight must grow monotonically, got ${rare.mkString(",")}")
    for (t <- 1L to 4L) {
      val tot = s.filter(_._1 == t).map(_._4).sum
      assert(tot <= 1000000000L && tot >= 1000000000L - 3,
        s"round $t weights must sum to e9 minus floored remainders, got $tot")
    }
    // Domain-cardinality guard: the model-fit limit probe binds.
    intercept[IllegalArgumentException] {
      Curation.doremiMixWeights(skewed, "source", rounds = 2, maxDomains = 2)
    }
  }
}
