package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Column-level text primitives: punctuation strip (F8), shingles,
  * quality score — hand-computed pins over literal rows. */
class TextFunctionsSpec extends SparkSuite {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): String =
    Seq("x").toDF("x").select(c.cast("string")).as[String].head()

  test("F8 punctuation strip") {
    val got = Seq("Hello, world! (it's #1)").toDF("t")
      .select(TextFunctions.stripPunct(col("t"))).as[String].head()
    assert(got == "Hello world its 1")
  }

  test("word shingles") {
    val got = Seq("a b c d").toDF("t")
      .select(TextFunctions.shingles(col("t"), 3)).as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(TextFunctions.shingles(col("t"), 3)).as[Seq[String]].head()
    assert(short == Seq.empty)
  }

  test("quality score components") {
    // "the the cat" -> 3 tokens, 2 distinct, 2 stopword hits
    // len: 0.4*min(1, 3/100)=0.012; distinct: 0.3*2/3=0.2;
    // stop: 0.3*2/3=0.2 -> 0.412
    val got = Seq("the the cat").toDF("t")
      .select(round(TextFunctions.qualityScore(col("t")), 4)).as[Double].head()
    assert(got == 0.412)
  }

  test("all_pairs_long: every unordered pair, value-ordered; dups/nulls/short arrays") {
    def pairs(xs: Seq[java.lang.Long]): Seq[(Long, Long)] =
      Seq(Tuple1(xs)).toDF("a")
        .select(GraftFunctions.all_pairs_long(col("a")).as(Seq("x", "y")))
        .as[(Long, Long)].collect().toSeq
    assert(pairs(Seq(3L, 1L, 2L)) === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    // equal values pair with the others but never with themselves
    assert(pairs(Seq(5L, 5L, 1L)) === Seq((1L, 5L), (1L, 5L)))
    assert(pairs(Seq(7L)) === Seq.empty)
    assert(pairs(Seq.empty) === Seq.empty)
    assert(pairs(Seq(2L, null, 9L)) === Seq((2L, 9L)))
  }

  test("h60/h28 kernel ≡ the md5-hex conv pipeline; nulls pass through; literals fold") {
    val terms = Seq("", "a", "token42", "✓ unicode ñ độ", "plane:3:17", "x" * 500)
    val df = terms.toDF("t")
    val legacy = df.select(
      conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long"),
      conv(substring(md5(col("t")), 1, 7), 16, 10).cast("long"))
      .as[(Long, Long)].collect()
    val kernel = df.select(
        HashFunctions.h60(col("t")), HashFunctions.h28(col("t")))
      .as[(Long, Long)].collect()
    assert(kernel.toSeq === legacy.toSeq)
    // null intolerance matches md5's
    val n = Seq[Option[String]](None).toDF("t")
      .select(HashFunctions.h60(col("t"))).collect()(0)
    assert(n.isNullAt(0))
    // a literal argument constant-folds at plan time (hyperplane
    // seeds and salts rely on this)
    val opt = spark.range(1).select(HashFunctions.h60(lit("seed:1")))
      .queryExecution.optimizedPlan
    val unfolded = opt.expressions.exists(_.exists(_.isInstanceOf[H60]))
    assert(!unfolded, s"literal h60 did not fold:\n$opt")
  }

  test("h60Memo ≡ h60 under heavy slot reuse, collisions, and long keys") {
    import org.scalacheck.Gen
    // Repeats, slot collisions (the direct-mapped cache has 2^16
    // slots keyed on a 31-multiplier hashCode — colliding keys must
    // EVICT and recompute, never return the other key's value), and
    // keys past the 48-byte memo cutoff.
    val keyGen = Gen.oneOf(
      Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)),
      Gen.oneOf("tok", "tok", "tok", "a", "b"), // hot repeats
      Gen.chooseNum(49, 120).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString)))
    for (s <- graft.PropSampling.sample(keyGen, n = 500)) {
      val b = s.getBytes("UTF-8")
      assert(HashOps.h60Memo(b) == HashOps.h60(b), s"memo diverged on '$s'")
    }
    // Deliberate hashCode collision pair: 31-multiplier collisions
    // ("Aa" vs "BB") map to the same slot; alternating lookups must
    // stay correct through evictions.
    for (_ <- 1 to 4; s <- Seq("Aa", "BB", "AaAa", "BBBB", "AaBB")) {
      val b = s.getBytes("UTF-8")
      assert(HashOps.h60Memo(b) == HashOps.h60(b), s"collision eviction broke '$s'")
    }
  }

  test("winnow_fingerprints ≡ naive all-windows argmin; guarantee + edges") {
    import spark.implicits._
    import org.scalacheck.Gen
    val K = 3; val W = 4
    def h60(s: String): Long = HashOps.h60(s.getBytes("UTF-8"))
    // Naive replay: every window picks its (hash ASC, pos DESC)
    // argmin; fingerprints = distinct selections, position-ordered.
    def naive(toks: Seq[String]): Seq[(Long, Long)] = {
      val grams = toks.sliding(K).filter(_.size == K).map(_.mkString(" ")).toVector
      val hs = grams.map(h60)
      if (hs.size < W) Seq.empty
      else (W - 1 until hs.size).map { p =>
        (p - W + 1 to p).minBy(i => (hs(i), -i))
      }.distinct.sorted.map(i => ((i + 1).toLong, hs(i)))
    }
    def run(toks: Seq[String]): Seq[(Long, Long)] =
      Seq(toks.mkString(" ")).toDF("text")
        .select(explode(GraftFunctions.winnow_fingerprints(
          split(col("text"), " "), K, W)).as("fp"))
        .select(col("fp.pos"), col("fp.hash")).as[(Long, Long)]
        .collect().toSeq
    val gen = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "ab")))
    for (toks <- graft.PropSampling.sample(gen, n = 15)) {
      assert(run(toks) === naive(toks), s"diverged on $toks")
    }
    // The winnowing guarantee: two docs sharing a token run of
    // length >= w+k-1 share at least one identical (hash) fingerprint
    // at the aligned offset.
    val shared = Seq("x1", "x2", "x3", "x4", "x5", "x6") // w+k-1 = 6
    val d1 = Seq("p", "q") ++ shared ++ Seq("r")
    val d2 = Seq("s") ++ shared ++ Seq("t", "u", "v")
    val f1 = run(d1).map(_._2).toSet
    val f2 = run(d2).map(_._2).toSet
    val sharedGramHashes = shared.sliding(K).map(_.mkString(" ")).map(h60).toSet
    assert((f1 & f2 & sharedGramHashes).nonEmpty,
      "shared >= w+k-1 token run must share a fingerprint")
    // Shorter than w grams -> empty; exactly w grams -> one window.
    assert(run(Seq("a", "b", "c")) === Seq.empty)           // 1 gram < w
    val six = Seq("a", "b", "c", "d", "e", "f")             // 4 grams = w
    assert(run(six).size >= 1)
  }

  test("longest_repeated_gram ≡ naive all-L census; pins and edges") {
    import spark.implicits._
    import org.scalacheck.Gen
    // Naive replay: for every L in [1,16] count distinct grams (the
    // U+0001-joined key contract) occurring >= 2 times.
    def naive(toks: Seq[String], maxL: Int): (Long, Long) = {
      val byL = (1 to math.min(maxL, math.max(toks.size - 1, 0))).flatMap { l =>
        val counts = toks.sliding(l).filter(_.size == l)
          .map(_.mkString("")).toSeq.groupBy(identity).values.map(_.size)
        val rep = counts.count(_ >= 2)
        if (rep > 0) Some((l, rep.toLong)) else None
      }
      if (byL.isEmpty) (0L, 0L) else {
        val (l, r) = byL.maxBy(_._1); (l.toLong, r)
      }
    }
    val gen = Gen.listOfN(30, Gen.oneOf("a", "b", "c", "ab"))
    for (toks <- graft.PropSampling.sample(gen, n = 12)) {
      val got = Seq(toks.mkString(" ")).toDF("text")
        .select(GraftFunctions.longest_repeated_gram(
          split(col("text"), " "), 16).as("g"))
        .select(element_at(col("g"), 1), element_at(col("g"), 2))
        .as[(Long, Long)].collect().head
      assert(got === naive(toks, 16), s"diverged on $toks")
    }
    // Pins: full self-repeat, boilerplate loop, all-distinct, single
    // token, and the maxL cap.
    def run(text: String, maxL: Int = 16): (Long, Long) =
      Seq(text).toDF("text")
        .select(GraftFunctions.longest_repeated_gram(
          split(col("text"), " "), maxL).as("g"))
        .select(element_at(col("g"), 1), element_at(col("g"), 2))
        .as[(Long, Long)].collect().head
    assert(run("x y x y x y") === ((4L, 1L)))   // "x y x y" repeats (positions 1 and 3)
    assert(run("a b c a b c") === ((3L, 1L)))   // "a b c" twice, no 4-gram repeat
    assert(run("a b c d") === ((0L, 0L)))       // all distinct
    assert(run("a") === ((0L, 0L)))             // single token: no pair possible
    assert(run("a a a a a a a a", maxL = 3) === ((3L, 1L))) // cap binds
  }
}
