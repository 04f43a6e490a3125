package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.streaming.StreamParity

class QualityClassifierSpec extends SparkSuite with StreamParity {
  import spark.implicits._

  // Seed class (positive) = docs 1-2; negative = docs 3-4. Vocab
  // chosen so "good" terms live in the seed class, "spam" in the
  // rest, and "the cat" bridges both.
  private val corpus = Seq(
    (1L, "the cat sat here", true),
    (2L, "the cat sat down", true),
    (3L, "spam spam buy now", false),
    (4L, "buy spam now now", false))
  private def docs = corpus.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
  private def isPos = col("doc_id") <= 2L

  test("census counts uni+bigrams per class with minCount support") {
    val census = QualityClassifier.fit(docs, isPos, minCount = 2)
      .as[(String, Long, Long)].collect()
      .map { case (t, p, n) => t -> (p, n) }.toMap
    // "the" occurs twice, both positive; "the cat" bigram likewise.
    assert(census("the") === (2L, 0L))
    assert(census("the cat") === (2L, 0L))
    assert(census("spam") === (0L, 3L))
    // "sat here" occurs once — below minCount, censored.
    assert(!census.contains("sat here"))
    // no term carries mass in both classes here except none — and
    // every census row has support >= 2.
    assert(census.values.forall { case (p, n) => p + n >= 2 })
  }

  test("scoring classifies seed-like text positive, spam-like negative") {
    val out = QualityClassifier.fitScore(docs, isPos)
      .select("doc_id", "pred_pos").as[(Long, Boolean)].collect().toMap
    assert(out(1L) && out(2L), "seed docs must classify positive")
    assert(!out(3L) && !out(4L), "non-seed docs must classify negative")
  }

  test("single-token and empty docs produce no bigrams (no descending-sequence bug)") {
    val tiny = Seq((1L, "solo"), (2L, ""), (3L, "a b")).toDF("doc_id", "text")
    val terms = tiny.select(col("doc_id"),
      QualityClassifier.terms(col("text")).as("t")).as[(Long, Seq[String])].collect().toMap
    assert(terms(1L) === Seq("solo"))
    assert(terms(2L) === Seq(""))
    assert(terms(3L) === Seq("a", "b", "a b"))
  }

  test("scoreWithModel ≡ batch score on the fit corpus; out-of-census text scores zero") {
    val model = QualityClassifier.collectModel(docs, isPos)
    val viaModel = QualityClassifier.scoreWithModel(docs, model)
      .filter(col("n_terms") > 0)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    val viaBatch = QualityClassifier.fitScore(docs, isPos)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(viaModel === viaBatch, "model scoring diverged from the batch census join")

    val alien = QualityClassifier.scoreWithModel(
      Seq((9L, "zzz qqq")).toDF("doc_id", "text"), model)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(alien === Seq((9L, 0L, 0L, 0L, false)))
  }

  test("fitScoreFast ≡ fitScore on both the codegen path and the join fallback") {
    val expect = QualityClassifier.fitScore(docs, isPos)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    val fast = QualityClassifier.fitScoreFast(docs, isPos)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(fast === expect, "codegen scoring path diverged from the join plan")
    // maxVocab = 1 forces the over-bound fallback: same results, via
    // the distributed join plan.
    val fallback = QualityClassifier.fitScoreFast(docs, isPos, maxVocab = 1)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(fallback === expect, "join fallback diverged")
  }

  test("productGt compares 128-bit products exactly where a Long multiply wraps") {
    import graft.functions.StringOps.productGt
    // s = ⌈√(2⁶³)⌉: s·s wraps negative while s·(s−1) stays positive,
    // so the naive Long compare inverts — the exact one must not.
    val s = 3037000500L
    assert(productGt(s, s, s, s - 1))
    assert(!productGt(s, s - 1, s, s))
    assert(!productGt(s, s, s, s)) // strict
    assert((s * s) < (s * (s - 1)), "premise: the naive compare wraps here")
    // Boundary sanity at small magnitudes.
    assert(productGt(3, 5, 2, 7))
    assert(!productGt(2, 7, 3, 5))
    assert(!productGt(0, Long.MaxValue, 0, Long.MaxValue))
  }

  test("streaming classification ≡ batch on a document stream; zero streaming state") {
    val model = QualityClassifier.collectModel(docs, isPos)
    val streamed = assertStreamMatchesBatch(docs, QualityClassifier.scoreWithModel(_, model),
      QualityClassifier.scoreWithModel(docs, model))
    assert(streamed.size === corpus.size)
  }
}
